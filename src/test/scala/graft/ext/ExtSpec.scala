package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Extension operators over small synthetic corpora with known
  * duplicates/neighbors.
  */
class ExtSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
      (3L, "the quick brown fox leaps over the lazy dog"),      // near dup of 1
      (4L, "completely different content about spark engines"),
      (5L, "dog lazy the over jumps fox brown quick the")       // shuffled 1
    ).toDF("doc_id", "text")
  }

  test("BPE merges: top pair by weighted count; greedy fold merges runs at even offsets") {
    import spark.implicits._
    // corpus: "aaaa" ×3, "ab" ×2 → step 1 counts: (a,a) = 3·3 = 9,
    // (a,b) = 2 → top (a,a). Greedy merge: aaaa → [aa, aa]; ab stays.
    // step 2 counts: (aa,aa) = 3, (a,b) = 2 → top (aa,aa).
    val d = (Seq.fill(3)("aaaa") ++ Seq.fill(2)("ab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val m = Pipeline.bpeMerges(d, "text", steps = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1L, "a", "a", 9L), (2L, "aa", "aa", 3L)))
  }

  test("BPE encode: learned merges apply in rank order to unseen words") {
    import spark.implicits._
    // train on "aaaa"×3 + "ab"×2 → merges: 1:(a,a), 2:(aa,aa).
    val train = (Seq.fill(3)("aaaa") ++ Seq.fill(2)("ab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Pipeline.bpeMerges(train, "text", steps = 2)
    // encode an UNSEEN corpus: aaaab → [aaaa, b]; aab → [aa, b]; b → [b]
    val enc = Seq((0L, "aaaab aab b b")).toDF("doc_id", "text")
    val hist = Pipeline.bpeEncode(enc, "text", merges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(hist == Map("b" -> 4L, "aa" -> 1L, "aaaa" -> 1L))
  }

  test("containmentPairs: subset detected one-way, identical both ways, floors applied") {
    import spark.implicits._
    // synthetic shingle relation: A(1..10) ⊂ B(1..50); D == A; C disjoint;
    // E(1..5) ⊂ everything but under the minShingles floor.
    val sh = (
      (1 to 10).map(s => (1L, s.toLong)) ++            // A
      (1 to 50).map(s => (2L, s.toLong)) ++            // B
      (100 to 109).map(s => (3L, s.toLong)) ++         // C
      (1 to 10).map(s => (4L, s.toLong)) ++            // D
      (1 to 5).map(s => (5L, s.toLong))                // E
    ).toDF("doc_id", "shingle")
    val rows = Dedup.containmentPairs(sh, dfMax = 8, minShingles = 10,
        thresholdPermille = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(rows == Set(
      (1L, 2L, 10L, 50L, 10L, 1000L),  // A fully inside B
      (1L, 4L, 10L, 10L, 10L, 1000L),  // A == D: both directions
      (4L, 1L, 10L, 10L, 10L, 1000L),
      (4L, 2L, 10L, 50L, 10L, 1000L))) // D fully inside B
    // absent: B→anything (containment 200‰), C (disjoint),
    // E→* (n_contained = 5 under the floor), *→E (500‰ under threshold)
  }

  test("exact dedup groups identical content") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("n_copies") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_copies") == 2 && g(0).getAs[Long]("keep_id") == 1)
  }

  test("n-gram Jaccard finds the near-dup pair but not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("shingle-df cap: hot shingles leave blocking, jaccard stays exact") {
    import spark.implicits._
    // "aa bb cc" appears in EVERY doc (hot, df=6 > cap 2); each near-dup
    // pair also shares rare shingles, so capping must not lose the pair
    // and must not change its jaccard (verify runs over full sets)
    val d = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "aa bb cc dd ee ff hh"),
      (3L, "aa bb cc xx yy zz ww"),
      (4L, "aa bb cc xx yy zz vv"),
      (5L, "aa bb cc mm nn oo pp"),
      (6L, "aa bb cc qq rr ss tt")
    ).toDF("doc_id", "text")
    def run(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.3, cap)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          r.getAs[Double]("jaccard")).toMap
    val uncapped = run(None)
    val capped = run(Some(2))
    assert(uncapped.keySet == Set((1L, 2L), (3L, 4L)))
    assert(capped == uncapped) // same pairs, bit-identical jaccard
  }

  test("prefix-filter Jaccard ≡ uncapped brute force (exactness, no recall trade)") {
    import spark.implicits._
    // every doc shares the hot "aa bb cc" run (it must sort LAST in the
    // global df order and stay out of every prefix); near-dup pairs
    // share rare shingles too and must ALL survive, with bit-identical
    // jaccard — the prefix filter is exact, not approximate
    val d = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "aa bb cc dd ee ff hh"),
      (3L, "aa bb cc xx yy zz ww"),
      (4L, "aa bb cc xx yy zz vv"),
      (5L, "aa bb cc mm nn oo pp"),
      (6L, "aa bb cc qq rr ss tt")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, "text", "doc_id", 3)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val brute = toMap(Dedup.ngramJaccardPairsFromShingles(sh, 0.3, None))
    val prefix = toMap(Dedup.ngramJaccardPairsPrefix(sh, 0.3))
    assert(brute.keySet == Set((1L, 2L), (3L, 4L)))
    assert(prefix == brute) // same pairs, bit-identical jaccard
  }

  test("prefix-filter Jaccard finds pairs the df cap misses (hot-only overlap)") {
    import spark.implicits._
    // docs 1,2 overlap ONLY through shingles that are hot (df > cap 2):
    // the df-capped blocking loses the pair; the prefix filter may not
    val base = "aa bb cc dd ee"
    val d = (Seq((1L, s"$base xx"), (2L, s"$base yy")) ++
      (3L to 6L).map(i => (i, s"$base zz$i"))).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, "text", "doc_id", 3)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(Dedup.ngramJaccardPairsFromShingles(sh, 0.3, None))
    val capped = keys(Dedup.ngramJaccardPairsFromShingles(sh, 0.3, Some(2)))
    val prefix = keys(Dedup.ngramJaccardPairsPrefix(sh, 0.3))
    assert(prefix == brute)      // exact under hot-only overlap
    assert(capped != brute)      // the documented df-cap recall trade
  }

  test("MinHash LSH surfaces exact dup as candidate with jaccard 1.0") {
    val nd = Dedup.minhashNearDups(docs, "text", "doc_id", 3, 16, 4, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard")))
    assert(nd.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 1.0))
  }

  test("salted second pass preserves hot-bucket candidate pairs (VERDICT r2 #8)") {
    import spark.implicits._
    // 6 identical docs → identical signatures → every band bucket holds
    // all 6 (> cap 3); 2 unrelated docs stay in small buckets
    val hot = (1L to 6L).map(i => (i, "the quick brown fox jumps over the lazy dog")) ++
      Seq((7L, "completely different content about spark engines"),
          (8L, "another unrelated document mentioning nothing shared"))
    val d = hot.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(Dedup.shingles(d, "text", "doc_id", 3), 16)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Dedup.lshCandidates(sigs, 16, 4))
    val droppedOnly = pairs(Dedup.lshCandidates(sigs, 16, 4, maxBucket = Some(3)))
    val salted = pairs(Dedup.lshCandidates(sigs, 16, 4, maxBucket = Some(3),
      saltOversized = true))
    val hotPairs = (for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)).toSet
    assert(uncapped == hotPairs)
    assert(droppedOnly.isEmpty)            // the cap alone loses every hot pair
    assert(salted == hotPairs)             // the salted pass recovers them all
  }

  test("duplicate components: transitive pairs collapse to min-id labels") {
    import spark.implicits._
    // chain 1-2-3 (2,3 never directly paired) + isolated pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.duplicateComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicate spans: cross-doc runs merge to maximal spans; self-repeats don't count") {
    import spark.implicits._
    val d = Seq(
      // docs 1/2 share the 9-token run alpha..iota at different offsets
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota u1 u2 u3"),
      (2L, "p1 p2 alpha beta gamma delta epsilon zeta eta theta iota t1"),
      // doc 3 repeats a 4-gram WITHIN itself only — not duplication
      (3L, "x y z w x y z w x y z w"),
      // docs 4/5 share two runs split by a differing middle token → two islands
      (4L, "one two three four m4 five six seven eight"),
      (5L, "one two three four m5 five six seven eight"),
      // doc 6's duplicated starts are {0, 2} (gap 2 ≤ k): overlapping
      // intervals [0,3] and [2,5] MUST merge to one span [0,5] — the
      // advisor's double-count case; doc 7's are {0, 5} (gap 5 > k):
      // disjoint, two spans
      (6L, "a b c d e f"),
      (7L, "a b c d q c d e f")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "text", "doc_id", k = 4, minDf = 2)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq(
      (1L, 0L, 8L, 9L),            // alpha..iota
      (2L, 2L, 10L, 9L),           // same run, shifted
      (4L, 0L, 3L, 4L), (4L, 5L, 8L, 4L),  // two islands
      (5L, 0L, 3L, 4L), (5L, 5L, 8L, 4L),
      (6L, 0L, 5L, 6L),                    // merged, non-overlapping
      (7L, 0L, 3L, 4L), (7L, 5L, 8L, 4L)))
    assert(!spans.exists(_._1 == 3L))
    // spans never overlap within a doc
    spans.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3)
        case _ =>
      }
    }

    // the cutting step: exact coverage, every doc present, kept = total - cut
    val cut = Dedup.spanCutStats(d, "text", "doc_id", k = 4, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(cut(1L) == ((12L, 1L, 9L, 3L)))  // 9 of 12 tokens cut
    assert(cut(3L) == ((12L, 0L, 0L, 12L))) // self-repeats cut nothing
    assert(cut(6L) == ((6L, 1L, 6L, 0L)))   // merged span covers the doc
    assert(cut(7L) == ((9L, 2L, 8L, 1L)))   // two disjoint spans, 1 kept
    assert(cut.values.forall { case (t, _, c, kept) => kept == t - c })
  }

  test("token-set fingerprint catches the shuffled copy; simhash of dup matches") {
    val fp = TextAnalysis.fingerprint(docs, "text")
      .select("doc_id", "fingerprint").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(5L) && fp(1L) == fp(2L) && fp(1L) != fp(4L))
    val sh = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L) && sh(1L) != sh(4L))
  }

  test("brute-force cosine top-k: identical vector first, orthogonal last") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, Seq(1f, 0f, 0f), 4)
      .collect().map(_.getLong(0)).toSeq
    assert(top.take(2) == Seq(0L, 1L)) // cos=1 ties broken by id
    assert(top.last == 3L)             // orthogonal
  }

  test("IVF search finds the same top result as brute force") {
    import spark.implicits._
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Similarity.vectorOf(vecs, "vec_id", 7L)
    val bf = Similarity.bruteForceTopK(vecs, q, 1).collect()(0).getLong(0)
    val ivf = Similarity.ivfSearch(vecs, q, sampleEvery = 10, nprobe = 3, k = 1)
      .collect()(0).getAs[Long]("vec_id")
    assert(bf == 7L && ivf == 7L) // the vector itself, found through its cell
  }

  test("persisted IVF index prunes partitions on probe (100 TB layout)") {
    import spark.implicits._
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfIndex(Similarity.ivfBuild(vecs, sampleEvery = 10), dir)
    val q = Similarity.vectorOf(vecs, "vec_id", 7L)
    val res = Similarity.ivfSearchPersisted(spark, dir, q, nprobe = 2, k = 3)
    // the probe is a STATIC IN-filter on the partition column — the
    // scan must read only the probed cells' directories
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell_id[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"probe should prune by partition, plan:\n$plan")
    assert(res.collect().head.getAs[Long]("vec_id") == 7L) // finds itself
    // same results as the in-memory indexed search
    val mem = Similarity.ivfSearchIndexed(
      Similarity.ivfBuild(vecs, sampleEvery = 10), q, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val per = Similarity.ivfSearchPersisted(spark, dir, q, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(mem == per)
  }

  test("LSH index: build once, search finds itself, multi-probe widens candidates") {
    import spark.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.lshBuild(vecs, planes = 4)
    val q = Similarity.vectorOf(vecs, "vec_id", 7L)
    val single = Similarity.lshSearchIndexed(idx, q, k = 5, probes = 1).collect()
    assert(single.head.getAs[Long]("vec_id") == 7L) // finds itself in its bucket
    // multi-probe is a superset search: primary + 2 flipped-bit buckets
    val buckets = Similarity.probeBuckets(idx.planes, q, probes = 3)
    assert(buckets.size == 3 && buckets.distinct.size == 3)
    assert(buckets.tail.forall(b => java.lang.Long.bitCount(b ^ buckets.head) == 1))
    val multi = Similarity.lshSearchIndexed(idx, q, k = 60, probes = 3)
    val singleAll = Similarity.lshSearchIndexed(idx, q, k = 60, probes = 1)
    assert(multi.count() >= singleAll.count())
  }

  test("persisted LSH index prunes partitions on bucket probe (100 TB layout)") {
    import spark.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    val idx = Similarity.lshBuild(vecs, planes = 4)
    Similarity.writeLshIndex(idx, dir)
    val q = Similarity.vectorOf(vecs, "vec_id", 7L)
    val res = Similarity.lshSearchPersisted(spark, dir, q, k = 5, probes = 2)
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*lsh_bucket[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"probe should prune by partition, plan:\n$plan")
    // planes survive the round-trip bit-exactly; results match in-memory
    val re = Similarity.readLshIndex(spark, dir)
    assert(re.planes == idx.planes)
    val mem = Similarity.lshSearchIndexed(idx, q, k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val per = res.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(mem == per)
  }

  test("language ID prefers the language whose stopwords dominate") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat of the house and a dog"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "xyzzy qwerty plugh")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(d, "text")
      .select("doc_id", "predicted_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("postings persist bucketed-by-term and prune on term lookup") {
    import graft.index.TextIndex
    import graft.text.Tokenize
    val toks = TextIndex.docTokens(
      graft.core.Schema.conform(
        docs.selectExpr("cast(doc_id as string) as key", "text as search_1",
          "'t' as title").selectExpr("*", "'b/t' as type")),
      Tokenize.None_)
    TextIndex.writePostingsBucketed(
      graft.query.SearchEngine.TextArtifacts.build(toks).postings, "postings_bucketed", 4)
    val t = spark.table("postings_bucketed")
    assert(t.filter(col("term") === "fox").count() == 4) // docs 1,2,3,5
    // bucketed table: scan for one term reads without exchange for
    // groupBy on the bucket column
    val plan = t.groupBy("term").count().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed groupBy should not shuffle:\n$plan")
    spark.sql("DROP TABLE postings_bucketed")
  }

  test("multimodal: real PNG payloads decode to true dimensions via ImageIO") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val payloads = Seq((1L, png(64, 48)), (2L, png(7, 131)),
        (3L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val meta = Multimodal.extractMeta(spark, payloads, "doc_id")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).width == 64 && meta(1L).height == 48 &&
      meta(1L).format == "image/png")
    assert(meta(2L).width == 7 && meta(2L).height == 131)
    assert(meta(3L).format == "stub/raw") // non-image falls back to the stub
  }

  test("winnowing: shared substrings share fingerprints, disjoint texts do not") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq(
      (1L, s"prefix aaa $shared suffix one"),
      (2L, s"totally other words then $shared and more"),
      (3L, "zzz qqq completely unrelated material with nothing in common xyz")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)  // the shared substring surfaces
    assert((fps(1L) & fps(3L)).isEmpty)   // unrelated docs stay disjoint
    // the zero-shuffle variants select the exact same fingerprints
    val asSet = fps.toSeq.flatMap { case (id, s) => s.map(id -> _) }.toSet
    val inRow = TextAnalysis.winnowFingerprintsInRow(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inRow == asSet)
    val native = TextAnalysis.winnowFingerprintsNative(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == asSet)
    // edge cases: text shorter than k, and shorter than k+window-1
    val short = Seq((10L, "tiny"), (11L, "elevenchars")).toDF("doc_id", "text")
    def setOf(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = setOf(TextAnalysis.winnowFingerprints(short, "text", "doc_id"))
    assert(a == setOf(TextAnalysis.winnowFingerprintsInRow(short, "text", "doc_id")))
    assert(a == setOf(TextAnalysis.winnowFingerprintsNative(short, "text", "doc_id")))
  }

  test("sourceOverlap: shared substrings count once per pair, disjoint pairs absent") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq(
      (1L, s"prefix aaa $shared suffix one", "s1"),
      (2L, s"totally other words then $shared and more", "s2"),
      (3L, s"dup in same source $shared again", "s2"), // same-source dup: no double count
      (4L, "zzz qqq completely unrelated material with nothing in common xyz", "s3")
    ).toDF("doc_id", "text", "source")
    val r = TextAnalysis.sourceOverlap(d, "text").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r.contains(("s1", "s2")))
    assert(!r.keySet.exists { case (a, b) => a == "s3" || b == "s3" })
    // the (s1, s2) count equals the DISTINCT shared-fp count — the
    // duplicate doc in s2 must not inflate it
    val fp = (src: String) => TextAnalysis.winnowFingerprintsNative(
        d.filter(col("source") === src), "text", "doc_id")
      .collect().map(_.getLong(1)).toSet
    assert(r(("s1", "s2")) == (fp("s1") & fp("s2")).size.toLong)
  }

  test("multimodal: real resize scales to fit, preserves aspect, drops non-images") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val payloads = Seq((1L, png(200, 100)), (2L, png(10, 20)),
        (3L, "plain text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val resized = Multimodal.resizeImages(spark, payloads, "doc_id", 64, 64)
      .collect().map(r => r.doc_id -> r).toMap
    assert(resized.keySet == Set(1L, 2L)) // non-image dropped
    assert(resized(1L).width == 64 && resized(1L).height == 32) // aspect kept
    assert(resized(2L).width == 10 && resized(2L).height == 20) // never upscale
    // the output payload is itself a decodable PNG with those dims
    val round = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized(1L).payload))
    assert(round.getWidth == 64 && round.getHeight == 32)
  }

  test("multimodal: per-partition batch meta + frame fan-out shapes") {
    val withPayload = Multimodal.withPayload(docs, "text")
    val meta = Multimodal.extractMeta(spark, withPayload, "doc_id").collect()
    assert(meta.length == 5)
    val m1 = meta.find(_.doc_id == 1L).get
    assert(m1.n_bytes == 43L && m1.format == "stub/raw")
    assert(meta.find(_.doc_id == 2L).get.content_md5 == m1.content_md5)
    val feats = Multimodal.extractFeatures(spark, withPayload, "doc_id",
      frames = 3, dim = 4).collect()
    assert(feats.length == 15 && feats.forall(_.feature.length == 4))
  }

  test("multimodal: real-codec frame features round-trip exactly") {
    // frameFeatures ENCODES each doc as a PNG and DECODES it with
    // ImageIO before summing pixels; PNG is lossless, so the decoded
    // mean must equal the codec-free arithmetic on the pixel formula.
    val w = 8; val h = 4
    val out = Multimodal.frameFeatures(spark, docs, "doc_id", "text", w, h)
      .collect().map(f => (f.doc_id, f.frame) -> f.feature_mean).toMap
    assert(out.size == 5 * h)
    val md = java.security.MessageDigest.getInstance("MD5")
    def pixel(text: String, y: Int, x: Int): Int = {
      val hex = md.digest(s"${text}_${y}_$x".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % 256).toInt
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    for ((id, text) <- texts; y <- 0 until h) {
      val expect = (0 until w).map(pixel(text, y, _)).sum / (w * 255.0)
      assert(out((id, y)) == expect, s"doc $id frame $y")
    }
  }

  test("pipeline robustOutliers: median holds under a planted whale, MAD fence counts it") {
    import spark.implicits._
    // 99 values near 100 plus one 1e6 whale: the binned median stays at
    // the cluster (edge 109 for width 10), MAD stays small, and exactly
    // the whale clears the 3·MAD fence. A mean/stddev fence would have
    // been dragged past the cluster by the whale.
    val d = ((0 until 99).map(i => ("a", 100L + (i % 10))) :+ (("a", 1000000L)))
      .toDF("g", "v")
    val r = Pipeline.robustOutliers(d, "g", "v", binWidth = 10).collect()(0)
    assert(r.getAs[Long]("n_rows") == 100L)
    assert(r.getAs[Long]("med_le") == 109L)   // the cluster's bin edge
    assert(r.getAs[Long]("mad_le") == 9L)     // deviations 0..9 → bin 0
    assert(r.getAs[Long]("n_outliers") == 1L) // the whale, nothing else
  }

  test("events timeDecaySample: halving schedule, 31-permille floor, hash determinism") {
    import spark.implicits._
    // four events in buckets 0, 1, 5, 9 (30-day units before the max)
    val day = 86400000000L
    val rows = Seq(
      (1L, 300L * day),            // bucket 0 → 1000‰
      (2L, 300L * day - 30 * day), // bucket 1 → 500‰
      (3L, 300L * day - 150 * day), // bucket 5 → 31‰ (floor)
      (4L, 300L * day - 270 * day)  // bucket 9 → still 31‰
    ).toDF("event_id", "ts_us")
    val r = Events.timeDecaySample(rows).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(0L -> 1000L, 1L -> 500L, 5L -> 31L, 9L -> 31L))
    // bucket 0 keeps everything (rate 1000 beats any hash residue)
    val kept = Events.timeDecaySample(rows).collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(kept(0L) == 1L)
  }

  test("pipeline vocabCoverage: exact cumulative shares at rank checkpoints") {
    import spark.implicits._
    // 10 tokens total: "a" ×5, "b" ×3, "c" ×2 → coverage at rank 1 =
    // 500‰, rank 2 = 800‰, rank 3 = 1000‰
    val d = Seq((1L, "a a a a a b b b c c")).toDF("doc_id", "text")
    val r = Pipeline.vocabCoverage(d, "text", maxRank = 10,
        reportRanks = Seq(1, 2, 3))
      .orderBy("vocab_rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 5L, 500L), (2L, 8L, 800L), (3L, 10L, 1000L)))
  }

  test("dedup deltaNearDups: finds only cross-side pairs, equals full-join restriction") {
    import spark.implicits._
    // three planted near-dup groups: (1,2) both corpus — must NOT
    // appear; (10,11) cross — must appear; (20,21) both delta — must
    // NOT appear. Long repeated texts so 3-shingle jaccard is high.
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val d = Seq(
      (1L, base + "alpha"), (2L, base + "alpha beta"),
      (10L, base + "gamma"), (11L, base + "gamma delta"),
      (20L, base + "epsilon"), (21L, base + "epsilon zeta"),
      (3L, "completely unrelated text about spark catalyst planning")
    ).toDF("doc_id", "text")
    val corpus = d.filter(col("doc_id") < 10 || col("doc_id") === 11)
    val delta = d.filter(col("doc_id") === 10 || col("doc_id") >= 20)
    val r = Dedup.deltaNearDups(corpus, delta, "text", "doc_id",
        shingleN = 3, k = 16, bands = 4, threshold = 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((10L, 11L)))
    assert(!r.exists { case (a, b) => Set(a, b) == Set(1L, 2L) })
    assert(!r.exists { case (a, b) => Set(a, b) == Set(20L, 21L) })
  }

  test("dedup inRowSignature: bit-equal to the batch minhashSignatures aggregate") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "pack my box with five dozen liquor jugs every single day"),
      (3L, "a b c"), // minimal: exactly one 3-shingle
      (4L, "sphinx of black quartz judge my vow now and then forever")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(d, "text", "doc_id", 3)
    val batch = Dedup.minhashSignatures(sh, 16, preHashed = true)
    val inRow = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("__sh"))
      .select(col("doc_id") +: Dedup.inRowSignature(col("__sh"), 16): _*)
    assert(batch.exceptAll(inRow).count() == 0 &&
      inRow.exceptAll(batch).count() == 0)
  }

  test("dedup bandedKeys: matches the band keys lshCandidates blocks on") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleHashes(d, "text", "doc_id", 3), 16, preHashed = true)
    val keys = Dedup.bandedKeys(sigs, 16, 4)
    // exact dups agree on every band key; 4 bands per doc
    assert(keys.count() == 8)
    assert(keys.select("band", "band_key").distinct().count() == 4)
  }

  test("pipeline histQuantiles: bin-edge semantics, exact counts, small-group floor") {
    import spark.implicits._
    // group a: values 0..99 with width 10 → p50 hits bin 4 (cum 50 at
    // value 49), edge reported = 49; p90 → bin 8 edge 89; p99 → 99.
    // group b: a single value → every quantile is its own bin edge.
    val d = ((0L until 100L).map(v => ("a", v)) :+ (("b", 7L)))
      .toDF("g", "v")
    val r = Pipeline.histQuantiles(d, "g", "v", binWidth = 10)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("n_rows") == 100L)
    assert(r("a").getAs[Long]("p500_le") == 49L)
    assert(r("a").getAs[Long]("p900_le") == 89L)
    assert(r("a").getAs[Long]("p990_le") == 99L)
    assert(r("b").getAs[Long]("n_rows") == 1L)
    assert(r("b").getAs[Long]("p500_le") == 9L) // bin 0 edge
  }

  test("multimodal: real-codec audio frames round-trip exactly") {
    // audioFrames WAV-encodes each doc's synthesized PCM and decodes
    // it with javax.sound.sampled before computing features; WAV PCM
    // is lossless, so energy/zc/peak must equal the codec-free
    // arithmetic on the sample formula.
    val blocks = 4; val frameLen = 16 // 64 samples, 4 frames
    val out = Multimodal.audioFrames(spark, docs, "doc_id", "text",
        blocks, frameLen)
      .collect().map(f => (f.doc_id, f.frame) -> f).toMap
    assert(out.size == 5 * 4)
    val md = java.security.MessageDigest.getInstance("MD5")
    def samples(text: String): Array[Int] =
      (0 until blocks).flatMap { b =>
        md.digest(s"${text}_a_$b".getBytes("UTF-8")).map(x => (x & 0xff) - 128)
      }.toArray
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    for ((id, text) <- texts; f <- 0 until 4) {
      val s = samples(text).slice(f * frameLen, (f + 1) * frameLen)
      val a = out((id, f))
      assert(a.energy == s.map(c => c.toLong * c).sum, s"doc $id frame $f energy")
      assert(a.peak == s.map(math.abs).max.toLong, s"doc $id frame $f peak")
      val zc = s.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
      assert(a.zero_crossings == zc.toLong, s"doc $id frame $f zc")
    }
  }

  test("pipeline split: deterministic, content-independent, roughly proportional") {
    import spark.implicits._
    val d = (0L until 1000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val s1 = Pipeline.split(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Pipeline.split(d.orderBy(col("doc_id").desc)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2) // row order can never change an assignment
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("test") > 50)
  }

  test("similarity centroids: e6 fixed point, truncating mean, dim order") {
    import spark.implicits._
    // label 1: (1.0, -0.5) and (0.0, -0.6) → sums (1e6, -11e5)
    //   means: 1e6/2 = 500000; -1100000/2 = -550000
    // label 2: dim-0 quantizes to -3 and -4 → odd negative sum -7 over
    //   2 vectors → -7 DIV 2 = -3 (truncation toward zero, not floor)
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f), 1),
      (2L, Seq(0.0f, -0.6f), 1),
      (3L, Seq(-0.000003f, 0.25f), 2),
      (4L, Seq(-0.000004f, 0.25f), 2)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.centroids(vecs, "label").collect()
      .map(x => x.getInt(0) -> x).toMap
    assert(r(1).getAs[Long]("n_vectors") == 2L)
    assert(r(1).getSeq[Long](r(1).fieldIndex("centroid_e6")).toSeq == Seq(500000L, -550000L))
    assert(r(2).getSeq[Long](r(2).fieldIndex("centroid_e6")).toSeq == Seq(-3L, 250000L))
  }

  test("similarity hardNegatives: same-label excluded, similar-first, k-capped") {
    import spark.implicits._
    // query = vec 0 (label 1, axis x). Same-label vec 1 is MOST similar
    // but must be excluded; negatives rank by cosine among labels ≠ 1:
    // vec 2 (cos ≈ .9863) > vec 3 (cos ≈ .7071) > vec 4 (cos = 0)
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 1),
      (1L, Seq(0.99f, 0.01f), 1),  // near-twin, same label → excluded
      (2L, Seq(0.6f, 0.1f), 2),
      (3L, Seq(0.5f, 0.5f), 2),
      (4L, Seq(0.0f, 1.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(vecs, queryEvery = 97, k = 2)
      .orderBy("qid", "neg_rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((0L, 1L, 2L), (0L, 2L, 3L))) // k=2 caps out vec 4
  }

  test("similarity mmrRerank: diversity beats redundant relevance at rank 2") {
    import spark.implicits._
    // query = x-axis; the query vector itself sits in the pool, so
    // every candidate's maxsim ≥ its rel (sim to the picked query) —
    // diversity only wins when a twin's MUTUAL similarity exceeds its
    // relevance. vec 2 is vec 1 scaled (cosine 1.0 to it, rel only
    // ~0.9): score2 = 700·0.9e6 − 300·1e6 ≈ 330e6. vec 3 is diverse
    // (orthogonal to vec 1's y-component): maxsim3 = rel3 = 0.85e6 →
    // score3 = 400·0.85e6 = 340e6 > score2, so MMR picks (0, 1, 3, 2)
    // while pure relevance says (0, 1, 2, 3).
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),          // the query itself (rel 1e6)
      (1L, Seq(0.9f, 0.436f, 0.0f)),
      (2L, Seq(0.45f, 0.218f, 0.0f)),       // scaled twin of 1
      (3L, Seq(0.85f, 0.0f, 0.5268f))       // diverse
    ).toDF("vec_id", "embedding")
    val r = Similarity.mmrRerank(vecs, Seq(1.0f, 0.0f, 0.0f), poolK = 4, k = 4)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(r.head == 0L)           // the query vector is its own best hit
    assert(r(1) == 1L)
    assert(r(2) == 3L, s"MMR kept the redundant twin ahead of diversity: $r")
    assert(r(3) == 2L)
  }

  test("similarity centroidConfusion: separable diagonal, planted mislabel off-diagonal") {
    import spark.implicits._
    // two tight clusters on opposite axes; vec 5 is labeled 1 but sits
    // in cluster 2's corner — must land in cell (1, 2)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(0.9f, 0.1f), 1),
      (3L, Seq(0.0f, 1.0f), 2), (4L, Seq(0.1f, 0.9f), 2),
      (5L, Seq(0.05f, 0.95f), 1) // mislabeled
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidConfusion(vecs, "label").collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> x.getLong(2)).toMap
    assert(r((1, 1)) == 2L) // vecs 1, 2
    assert(r((1, 2)) == 1L) // the planted mislabel
    assert(r((2, 2)) == 2L)
    assert(!r.contains((2, 1)))
  }

  test("similarity normStats: unit vs zero vs scaled vectors, integer e6") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), "a"),   // norm² = 1.0  → 1_000_000 e6
      (2L, Seq(0.0f, 0.0f), "a"),   // dead vector → 0
      (3L, Seq(2.0f, 0.0f), "b")    // scale drift → 4_000_000 e6
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.normStats(vecs, "label").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("n_vectors") == 2L)
    assert(r("a").getAs[Long]("min_norm2_e6") == 0L)      // catches dead
    assert(r("a").getAs[Long]("max_norm2_e6") == 1000000L)
    assert(r("a").getAs[Long]("mean_norm2_e6") == 500000L)
    assert(r("b").getAs[Long]("max_norm2_e6") == 4000000L) // catches drift
  }

  test("pipeline budgetSample: greedy fill stops at the budget, overshoot ≤ 1 doc") {
    import spark.implicits._
    // every doc is 10 tokens; budget 35 → kept docs start at offsets
    // 0,10,20,30 (4 docs, 40 tokens — one-doc overshoot), per group
    val d = (0L until 40L).map(i => (i, s"g${i % 2}", ("w " * 10).trim))
      .toDF("doc_id", "source", "text")
    val r = Pipeline.budgetSample(d, "text", "source", budgetTokens = 35L)
      .collect()
    val byGroup = r.groupBy(_.getString(0))
    assert(byGroup.keySet == Set("g0", "g1"))
    byGroup.values.foreach { rows =>
      assert(rows.length == 4)
      assert(rows.map(_.getAs[Long]("token_offset")).sorted.toSeq ==
        Seq(0L, 10L, 20L, 30L))
    }
    // reshuffle-proof: row order never changes the pick
    val r2 = Pipeline.budgetSample(d.orderBy(col("doc_id").desc), "text",
      "source", budgetTokens = 35L).collect()
    assert(r.map(_.getLong(1)).sorted.toSeq == r2.map(_.getLong(1)).sorted.toSeq)
  }

  test("pipeline mixSample: per-group rates, monotone increase, split-independent") {
    import spark.implicits._
    val d = (0L until 1000L).map(i => (i, s"src${i % 4}", s"text $i"))
      .toDF("doc_id", "source", "text")
    def keep(w: Map[String, Int]) =
      Pipeline.mixSample(d, "source", w).collect().map(_.getLong(1)).toSet
    val half = keep(Map("src0" -> 500, "src1" -> 500, "src2" -> 500, "src3" -> 500))
    assert(half.size > 400 && half.size < 600) // ~500 of 1000
    // monotone: raising every rate only ADDS docs
    val more = keep(Map("src0" -> 800, "src1" -> 800, "src2" -> 800, "src3" -> 800))
    assert(half.subsetOf(more))
    // zero-rate group vanishes; unlisted groups default to keep-all
    val zeroed = Pipeline.mixSample(d, "source", Map("src0" -> 0))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!zeroed.contains("src0") && zeroed("src1") == 250L)
    // the salted hash decorrelates from split: among kept docs at 50%,
    // the train fraction stays near split's 80%
    val splits = Pipeline.split(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainFrac = half.count(id => splits(id) == "train").toDouble / half.size
    assert(trainFrac > 0.7 && trainFrac < 0.9)
  }

  test("pipeline unigramLm: hand-computed 2-round hard EM") {
    import spark.implicits._
    // corpus "ab ab b": words ab×2, b×1. Seed a:2 b:3 ab:2 (total 7);
    // round 1 Viterbi: "ab"→[ab] (1.25 < 2.10), "b"→[b] → usage
    // ab:2 b:1 → +1 on chars → ab:2 b:2 a:1 (total 5); round 2 picks
    // the same segmentations, so the model fixes: costs ln(5/2),
    // ln(5/2), ln(5/1) in micro-nats.
    val d = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    def e6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val r = Pipeline.unigramLm(d, "text").orderBy("piece").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      ("a", 1L, e6(math.log(5.0))),
      ("ab", 2L, e6(math.log(2.5))),
      ("b", 2L, e6(math.log(2.5)))))
  }

  test("pipeline unigramEncode: Viterbi tie breaks to the shorter last piece") {
    import spark.implicits._
    // model: a=10, aa=20 → for "aaa" the [a,aa]/[aa,a]/[a,a,a] costs
    // tie at 30; the (cost, last-len) rule picks all-singles
    val model = Seq(("a", 1L, 10L), ("aa", 1L, 20L))
      .toDF("piece", "usage", "cost_e6")
    val d = Seq((1L, "aaa aa")).toDF("doc_id", "text")
    val r = Pipeline.unigramEncode(d, "text", model).orderBy("token")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    // "aaa" → a×3; "aa" → [aa] (20) beats [a,a] (tie 20? no: 10+10=20
    // ties 20 → min last-len wins → [a,a]) → a×2
    assert(r.toSeq == Seq(("a", 5L)))
  }

  test("pipeline temperatureWeights: hand-computed α=0.3 flattening") {
    import spark.implicits._
    // s1 has 4 of 5 tokens, s2 has 1 — α=0.3 pulls 80/20 toward even
    val d = Seq((1L, "s1", "a b c d"), (2L, "s2", "a"))
      .toDF("doc_id", "source", "text")
    def u(p: Double): Long = math.floor(math.pow(p, 0.3) * 1e9 + 0.5).toLong
    val (u1, u2) = (u(0.8), u(0.2))
    val r = Pipeline.temperatureWeights(d, "text").orderBy("source").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      ("s1", 4L, 800000L, u1 * 1000000L / (u1 + u2)),
      ("s2", 1L, 200000L, u2 * 1000000L / (u1 + u2))))
    // flattening: s2's weight share strictly exceeds its token share
    assert(r(1)._4 > 200000L && r(0)._4 < 800000L)
  }

  test("dedup softDedupWeights: 1/n weights, canonical = min id, empty-safe") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"))
      .toDF("doc_id", "text")
    val r = Dedup.softDedupWeights(d, "text", "doc_id").orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    assert(r.toSeq == Seq(
      (1L, 3L, 333L, true), (2L, 3L, 333L, false),
      (3L, 1L, 1000L, true), (4L, 3L, 333L, false)))
    // expected mass per distinct content ≈ 1000‰ (truncation ≤ n−1)
    assert(r.filter(_._2 == 3L).map(_._3).sum == 999L)
  }

  test("pipeline chunk: stride windows cover every token, tail chunks shorten") {
    import spark.implicits._
    val text = (1 to 150).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, text), (2L, "only three tokens here"), (3L, "")).toDF("doc_id", "text")
    val rows = Pipeline.chunk(d, "text", size = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx").collect()
    val c1 = rows.filter(_.getLong(0) == 1L)
    // offsets 0, 48, 96, 144 → sizes 64, 64, 54, 6
    assert(c1.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(64L, 64L, 54L, 6L))
    assert(c1(0).getAs[String]("chunk_text").startsWith("w1 w2 ") &&
      c1(3).getAs[String]("chunk_text") == "w145 w146 w147 w148 w149 w150")
    // short doc = one chunk; empty doc = none
    assert(rows.count(_.getLong(0) == 2L) == 1)
    assert(!rows.exists(_.getLong(0) == 3L))
  }

  test("pipeline vocabulary + OOV: top-k by count, ties on token; oov counted") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a b b c rare1"),
      (2L, "a b c c rare2 rare2")
    ).toDF("doc_id", "text")
    val v = Pipeline.vocabulary(d, "text", vocabSize = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toSeq == Seq(("a", 4L, 1L), ("b", 3L, 2L), ("c", 3L, 3L)))
    val oov = Pipeline.oovProfile(d, "text", vocabSize = 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(oov.toSeq == Seq((1L, 7L, 1L), (2L, 6L, 2L)))
  }

  test("pipeline contamination: planted benchmark copy flagged, disjoint doc not") {
    import spark.implicits._
    val bench = Seq((100L, "the secret benchmark passage that must not leak into training"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix text then the secret benchmark passage that must not leak into training and more"),
      (2L, "entirely unrelated words with zero shared substrings whatsoever")
    ).toDF("doc_id", "text")
    val hits = Pipeline.contamination(corpus, bench, "text", minShared = 3)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L))
  }

  test("shingle-hash kernel matches portableHash over relational string shingles") {
    import spark.implicits._
    val d = Seq(
      (1L, "The quick BROWN fox—jumps over 2 lazy dogs!"),
      (2L, "short one"),
      (3L, ""),
      (4L, "répété café naïve unicode Space   runs")
    ).toDF("doc_id", "text")
    val relational = Dedup.shingles(d, "text", "doc_id", 3)
      .select(col("doc_id"), Dedup.portableHash(col("shingle")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kernel = Dedup.shingleHashes(d, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel == relational && kernel.nonEmpty)
    // minhash over the narrow form equals minhash over the string form
    val a = Dedup.minhashSignatures(Dedup.shingles(d, "text", "doc_id", 3), 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Dedup.minhashSignatures(Dedup.shingleHashes(d, "text", "doc_id", 3),
        8, preHashed = true)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("pipeline stratified sample: per-group cap, deterministic under reordering") {
    import spark.implicits._
    val d = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val s1 = Pipeline.stratifiedSample(d, "lang", perGroup = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val s2 = Pipeline.stratifiedSample(d.orderBy(col("doc_id").desc), "lang",
        perGroup = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(s1 == s2)
    assert(s1.count(_._1 == "en") == 10 && s1.count(_._1 == "de") == 10)
    assert(s1.forall(_._3 <= 10))
  }

  test("pipeline stratified heap twin: equals window form row for row") {
    import spark.implicits._
    // skewed strata (en 150 / de 40 / fr 10) so the heap merge path and
    // the k-larger-than-stratum path both run
    val d = (0L until 200L).map { i =>
      (i, if (i < 150) "en" else if (i < 190) "de" else "fr")
    }.toDF("doc_id", "lang")
    val viaWin = Pipeline.stratifiedSample(d, "lang", perGroup = 20)
      .orderBy("lang", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaHeap = Pipeline.stratifiedSampleHeap(d, "lang", perGroup = 20)
      .orderBy("lang", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaHeap == viaWin)
    assert(viaHeap.count(_._1 == "fr") == 10) // stratum smaller than k survives whole
  }

  test("pipeline blocklist: in-row hit counts, clean docs absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "clean words only here"),
      (2L, "bad bad word inside"),
      (3L, "one bad token")
    ).toDF("doc_id", "text")
    val hits = Pipeline.blocklist(d, "text", Seq("bad", "worse")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(2L -> 2L, 3L -> 1L))
  }

  test("pipeline operators tolerate NULL and empty text") {
    import spark.implicits._
    val d = Seq((1L, null: String, "s"), (2L, "", "s"), (3L, "some ok text", "s"))
      .toDF("doc_id", "text", "source")
    assert(Pipeline.chunk(d, "text").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(Pipeline.blocklist(d, "text", Seq("bad")).count() == 0)
    assert(Pipeline.oovProfile(d, "text", vocabSize = 2).count() == 1)
    val packs = Pipeline.pack(d, "text", "source").collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 0L)) // zero-token docs pack harmlessly
    assert(Pipeline.contamination(d, d.filter(col("doc_id") === 3L), "text",
      minShared = 1).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("pipeline pack: per-shard integer cumsum; packs bounded by start offset") {
    import spark.implicits._
    val d = Seq(
      ("s1", 1L, (1 to 1000).map(_ => "t").mkString(" ")),  // starts at 0    → pack 0
      ("s1", 2L, (1 to 1500).map(_ => "t").mkString(" ")),  // starts at 1000 → pack 0
      ("s1", 3L, (1 to 10).map(_ => "t").mkString(" ")),    // starts at 2500 → pack 1
      ("s2", 9L, (1 to 5).map(_ => "t").mkString(" "))      // own shard      → pack 0
    ).toDF("source", "doc_id", "text")
    val p = Pipeline.pack(d, "text", "source", seqLen = 2048)
      .orderBy("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(p.toSeq == Seq(("s1", 1L, 0L), ("s1", 2L, 0L), ("s1", 3L, 1L), ("s2", 9L, 0L)))
  }

  test("adaptive IVF stride: equals the constant at gate scales, √N above") {
    import graft.Corpus
    // correctness-gate scales: MUST equal the interpolated oracle
    // constant or the driver compare would silently diverge
    assert(Corpus.ivfSampleEveryFor(50) == Corpus.IvfSampleEvery)   // sf0.001
    assert(Corpus.ivfSampleEveryFor(500) == Corpus.IvfSampleEvery)  // sf0.01
    assert(Corpus.ivfSampleEveryFor(1600) == Corpus.IvfSampleEvery) // boundary
    // above the boundary: stride = ⌊√N⌋ → cells ≈ √N
    assert(Corpus.ivfSampleEveryFor(20000) == 141)
    assert(Corpus.ivfSampleEveryFor(1000000) == 1000)
  }

  test("dot_product_d matches the aggregate/zip_with fold bit-for-bit") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.functions.{aggregate, zip_with, lit}
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 50).map(_ =>
      ((1 to 64).map(_ => rnd.nextDouble() * 2 - 1),
        (1 to 64).map(_ => rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_d(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (s, v) => s + v).as("hof"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("bloom contamination prescreen equals the exact operator") {
    import org.apache.spark.sql.functions.col
    // benchmark = docs 1 and 4; doc 2 (exact dup of 1) and doc 5
    // (shuffled 1, shares winnow fps) must screen identically on both
    // paths; the bloom is a CONSTANT in the plan (no join, no shuffle
    // on the prescreen side)
    val bench = docs.filter(col("doc_id").isin(1L, 4L))
    val exact = Pipeline.contamination(docs, bench, "text", minShared = 1)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val bloom = Pipeline.contaminationBloom(docs, bench, "text", minShared = 1)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(bloom == exact)
    assert(exact.nonEmpty) // the fixture must actually exercise overlap
    // empty benchmark: guard path returns zero rows, does not throw
    assert(Pipeline.contaminationBloom(docs, docs.filter(col("doc_id") < 0),
      "text", minShared = 1).count() == 0)
  }

  test("ngram contamination: shared n-token run flagged, shorter overlap not") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the full benchmark 5-token run → 1 shared 5-gram
      (1L, "intro alpha beta gamma delta epsilon outro"),
      // shares only a 4-token run → zero shared 5-grams
      (2L, "intro alpha beta gamma delta something else"),
      (3L, "no overlap at all here with anything")
    ).toDF("doc_id", "text")
    val hits = Pipeline.contaminationNgram(corpus, bench, "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L))
    // minShared above the collision count filters the hit out
    assert(Pipeline.contaminationNgram(corpus, bench, "text", n = 5,
      minShared = 2).count() == 0)
  }

  test("collocations: counts exact, lift ranks glued pair above frequent-token pair") {
    import spark.implicits._
    // "rare pair" always co-occur (perfect collocation); "the end" also
    // repeats but 'the' is everywhere, diluting its lift.
    val d = Seq(
      (1L, "rare pair the end the story the end"),
      (2L, "rare pair the middle the story goes on"),
      (3L, "rare pair the end of the long story")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.collocations(d, "text", minCount = 3, topK = 10)
      .collect()
    val byGram = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // n_pair=3, n_left(rare)=3, n_right(pair)=3; N_uni=24, N_bi=21
    assert(byGram("rare pair")._1 == 3L)
    assert(byGram("rare pair")._2 == 3L && byGram("rare pair")._3 == 3L)
    assert(math.abs(byGram("rare pair")._4 - 3.0 * 24 * 24 / (3.0 * 3 * 21)) < 1e-12)
    // "the end": n_pair=3 but n_left(the)=6 → half the lift of a 3/3 pair
    assert(byGram.contains("the end"))
    assert(byGram("rare pair")._4 > byGram("the end")._4)
    // ranked output: lift non-increasing
    val lifts = rows.map(_.getDouble(4)).toSeq
    assert(lifts == lifts.sortBy(-_))
  }

  test("keepRepresentative: longest member kept, ties to smallest id, members counted") {
    import spark.implicits._
    val comps = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // component 1: doc 2 is longest
      (7L, 7L), (8L, 7L)            // component 7: equal lengths → keep 7
    ).toDF("doc_id", "component")
    val d = Seq(
      (1L, "short text"),
      (2L, "this is the longest document of its cluster easily"),
      (3L, "medium length text here"),
      (7L, "same size text"),
      (8L, "also same size"),
      (9L, "not in any component")
    ).toDF("doc_id", "text")
    val kept = Dedup.keepRepresentative(comps, d, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(kept == Map(1L -> (2L, 9L, 3L), 7L -> (7L, 3L, 2L)))
  }

  test("CDC chunks: lossless cover, and boundaries re-synchronize after an edit") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "wanders far away to chase a very distant rabbit through fields"
    val edited = "X" + base // one char inserted at the FRONT
    val d = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val rows = Pipeline.cdcChunks(d, "text").orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))

    // chunks of each doc concatenate back to the document, in order,
    // with consistent (start, len)
    for (id <- Seq(1L, 2L)) {
      val cs = rows.filter(_._1 == id)
      val text = if (id == 1L) base else edited
      assert(cs.map(_._5).mkString == text)
      assert(cs.head._3 == 1L && cs.last._3 + cs.last._4 - 1 == text.length)
      for (Array(a, b) <- cs.sliding(2)) assert(b._3 == a._3 + a._4)
    }

    // shift-resistance: the edit is before the first boundary, so the
    // SUFFIX chunks re-synchronize — every doc-1 chunk after the first
    // boundary reappears verbatim in doc 2 (fixed windows share none)
    val c1 = rows.filter(_._1 == 1L).map(_._5)
    val c2 = rows.filter(_._1 == 2L).map(_._5).toSet
    assert(c1.length >= 2, s"corpus too short for a boundary: ${c1.toSeq}")
    assert(c1.tail.forall(c2.contains), s"tail chunks did not re-sync: ${c1.toSeq}")

    // sub-window documents come back whole; empty text emits no rows
    val tiny = Seq((9L, "short"), (10L, "")).toDF("doc_id", "text")
    val t = Pipeline.cdcChunks(tiny, "text").collect()
    assert(t.length == 1 && t.head.getString(4) == "short")
  }

  test("WordPiece: greedy longest-match-first, ## continuations, [UNK] fallback") {
    import spark.implicits._
    val vocab = Seq(
      ("un", false), ("runn", false), ("r", false),
      ("able", true), ("nable", true), ("u", true), ("n", true),
      ("able", false), ("ing", true)
    ).toDF("piece", "is_cont").withColumn("weight", lit(1L))
    val d = Seq((1L, "unnable running able zap")).toDF("doc_id", "text")
    val out = Pipeline.wordpieceEncode(d, "text", vocab, maxPieceLen = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // unnable → un + ##nable (the len-5 ## match beats ##n + ##able);
    // running → runn (longest INITIAL match beats r) + ##ing;
    // able → initial 'able'; zap → no initial piece at pos 1 → [UNK]
    assert(out == Map("un" -> 1L, "##nable" -> 1L, "runn" -> 1L,
      "##ing" -> 1L, "able" -> 1L, "[UNK]" -> 1L))
  }

  test("WordPiece vocab: single chars always kept, multi-char forms capped") {
    import spark.implicits._
    val d = Seq((1L, "aba aba cc")).toDF("doc_id", "text")
    val v = Pipeline.wordpieceVocab(d, "text", vocabSize = 4, maxPieceLen = 3)
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
    // all single-char forms survive the cap, in the positions they
    // occur: 'b' only mid-word, 'c' both initial and continuation
    assert(v.contains(("a", false)) && v.contains(("b", true)) &&
      v.contains(("c", false)) && v.contains(("c", true)))
    assert(!v.contains(("b", false)))
    // rank over ALL candidate forms (weight desc, piece, is_cont):
    // (a,f) (a,t) (ab,f) (aba,f) all at weight 2 fill ranks 1-4, so
    // the kept multi-char forms are exactly ab and aba
    assert(v.filter(_._1.length > 1) == Set(("ab", false), ("aba", false)))
  }

  test("heavyHitters: exact counts survive the MG sketch under a hostile tail") {
    import spark.implicits._
    // 2 heavy tokens + a long unique tail that forces decrement sweeps:
    // with phiInv = 5, k = 10 counters per partition, and 300 distinct
    // tail tokens, every sketch table overflows repeatedly — the
    // guarantee is that hot/warm still surface with EXACT counts.
    val words = Seq.fill(120)("hot") ++ Seq.fill(80)("warm") ++
      (1 to 300).map(i => s"u$i")
    val total = words.size // 500; threshold = 100
    val d = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      .repartition(7) // multi-partition: exercises the merge theorem
    val out = Pipeline.heavyHitters(d, "text", phiInv = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set(("hot", 120L, total.toLong)))
    // warm (80 < 100) correctly excluded by the exact threshold even
    // though the sketch certainly admitted it as a candidate
    val out2 = Pipeline.heavyHitters(d, "text", phiInv = 7) // threshold ~71.4
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out2 == Set(("hot", 120L), ("warm", 80L)))
  }

  test("bm25TopK: hand-computed Okapi scores, absent-term docs excluded") {
    import spark.implicits._
    val d = Seq((1L, "a b a"), (2L, "a c"), (3L, "d d d"))
      .toDF("doc_id", "text")
    // N=3, Σdl=8; df(a)=2, df(c)=1; doc 3 matches nothing → absent
    def c(tf: Long, dl: Long, df: Long): Long = {
      val idf = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
      val t = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * 3.0 / 8.0)))
      math.floor(idf * t * 1e6 + 0.5).toLong
    }
    val out = Quality.bm25TopK(d, "text", Seq("a", "c"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> c(2, 3, 2), 2L -> (c(1, 2, 2) + c(1, 2, 1))))
  }

  test("rrfFuse: integer reciprocal ranks, one-sided docs keep the other leg's 0") {
    import spark.implicits._
    val lex = Seq((10L, 500L), (11L, 400L), (12L, 300L)).toDF("doc_id", "s1")
    val vec = Seq((11L, 900L), (13L, 800L)).toDF("doc_id", "s2")
    val out = Similarity.rrfFuse(lex, "s1", vec, "s2", "doc_id", k = 10)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
    def rr(r: Long) = 1000000000000L / (60 + r)
    val m = out.map(t => t._1 -> t._4).toMap
    assert(m == Map(10L -> rr(1), 11L -> (rr(2) + rr(1)),
      12L -> rr(3), 13L -> rr(2)))
    // 11 fused first (both legs), and one-sided rows carry null ranks
    assert(out.head._1 == 11L)
    assert(out.find(_._1 == 13L).get._2.isEmpty)
  }

  test("cosineE6TopK: exact e6 cosine, ties break on id, zero-norm dropped") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),
      (2L, Seq(0.0f, 3.0f)), (3L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineE6TopK(vecs, Seq(1.0f, 0.0f), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1000000L), (1L, 1000000L), (2L, 0L)))
  }

  test("topPrincipalComponent: duplicated dims load equally; deterministic reruns") {
    import spark.implicits._
    // dim0 == dim1 exactly (corr 1e6) — the correlation matrix is
    // symmetric under swapping them, v₀ is too, so EVERY integer
    // round must keep their loadings identical
    val vecs = Seq(
      (0L, Seq(0.1f, 0.1f, 0.9f)), (1L, Seq(0.4f, 0.4f, 0.1f)),
      (2L, Seq(0.7f, 0.7f, 0.3f)), (3L, Seq(0.2f, 0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topPrincipalComponent(vecs, iters = 6)
      .orderBy("dim").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(out(0)._2 == out(1)._2)
    // L∞ normalization keeps magnitudes ~e6-bounded
    assert(out.map(_._2.abs).max <= 1100000L)
    val again = Similarity.topPrincipalComponent(vecs, iters = 6)
      .orderBy("dim").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == again.toSeq)
  }

  test("imageAHashes: real PNG round-trip; planted copies within hamming 8") {
    import spark.implicits._
    val d = (0L until 22L).toDF("doc_id")
    val hs = Multimodal.imageAHashes(spark, d, "doc_id")
      .collect().map(h => h.doc_id -> h.ahash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // the +4-brightened column barely moves the mean → few flipped bits
    assert(ham(hs(1L), hs(0L)) <= 8 && ham(hs(11L), hs(10L)) <= 8 &&
      ham(hs(21L), hs(20L)) <= 8)
    // unrelated md5-noise images differ in ~30 of 60 bits
    assert(ham(hs(2L), hs(3L)) > 8)
    val pairs = Dedup.hashNearDups(
        Multimodal.imageAHashes(spark, d, "doc_id").toDF(),
        "ahash", "doc_id", bits = 60, bands = 4, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1L), (10L, 11L), (20L, 21L)).subsetOf(pairs))
  }

  test("abttProfile: hand-computed projection removal, signed truncation") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(-3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val u = Seq(1000000L, 0L) // PC along dim 0
    val out = Similarity.abttProfile(vecs, u).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // v=(3e6,4e6): c=3e12, uu=1e12 → k_e6=3e6; residual (0,4e6)
    assert(out(0) == (1L, 3000000L, 25000000000000L, 16000000000000L))
    // negative side: k_e6 = floor(-3e6+0.5) = -3e6; sign-split
    // truncation gives proj -3e6 → residual (0,4e6) again
    assert(out(1) == (2L, -3000000L, 25000000000000L, 16000000000000L))
  }

  test("datasetCard: rollup emits per-pair, per-source, and total rows") {
    import spark.implicits._
    val d = Seq(("s0", "en", "a b"), ("s0", "de", "c"), ("s1", "en", "d e f"))
      .toDF("source", "lang", "text")
    val out = Quality.datasetCard(d, "text").orderBy("source", "lang")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(5)))
    assert(out.toSeq == Seq(
      ("<all>", "<all>", 3L, 6L, 2000L),
      ("s0", "<all>", 2L, 3L, 1500L),
      ("s0", "de", 1L, 1L, 1000L),
      ("s0", "en", 1L, 2L, 2000L),
      ("s1", "<all>", 1L, 3L, 3000L),
      ("s1", "en", 1L, 3L, 3000L)))
  }

  test("knBigramScore: hand-computed Kneser-Ney probabilities") {
    import spark.implicits._
    // corpus bigrams: (a b) ×2, (b a) ×1, (b c) ×1  →
    // c(a·)=2 n1p(a)=1; c(b·)=2 n1p(b)=2; ncont(a)=1 ncont(b)=1
    // ncont(c)=1; T=3
    val d = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val r = Quality.knBigramScore(d, "text").collect()(0)
    assert(r.getAs[Long]("n_bigrams") == 4L)
    def nll(c2: Long, c1: Long, n1p: Long, ncont: Long): Long = {
      val p = math.max(c2 - 0.75, 0.0) / c1 +
        ((0.75 * n1p) / c1) * (ncont.toDouble / 3.0)
      math.floor(-math.log(p) * 1e6 + 0.5).toLong
    }
    val expected = 2 * nll(2, 2, 1, 1) + // a→b twice
      nll(1, 2, 2, 1) +                  // b→a
      nll(1, 2, 2, 1)                    // b→c (same stats as b→a)
    assert(r.getAs[Long]("kn_nll_sum_e6") == expected)
    assert(r.getAs[Long]("kn_avg_nll_e6") == expected / 4)
  }

  test("mattr: hand-computed sliding windows; short doc = plain TTR; empty filtered") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a b"), // n=6, window 3 → 4 windows, each 2 distinct
      (2L, "x"),           // shorter than window → single full window
      (3L, "")             // no tokens → absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.mattr(d, "text", window = 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 6L, 4L, 666L, 333L),  // mattr = 8·1000 DIV 12; ttr = 2000 DIV 6
      (2L, 1L, 1L, 1000L, 1000L)))
  }

  test("mattr: compiled O(n) kernel == HOF fold on long docs (value parity)") {
    import spark.implicits._
    // randomized long docs (n ≫ window, small alphabet → heavy repeats
    // at every window offset) + the degenerate shapes; seeded, so the
    // case is reproducible. The fold is the independent witness: same
    // contract, O(n·window) algorithm.
    val rng = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b", "c", "d", "aa", "bb", "x9", "the")
    val docs = (1L to 40L).map { i =>
      val n = 1 + rng.nextInt(400) // up to 16× the window
      (i, Seq.fill(n)(alphabet(rng.nextInt(alphabet.length))).mkString(" "))
    } ++ Seq((98L, "solo"), (99L, ""))
    val d = docs.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val kernel = rows(TextAnalysis.mattr(d, "text", window = 25))
    val fold = rows(TextAnalysis.mattrFold(d, "text", window = 25))
    assert(kernel.nonEmpty && kernel == fold)
  }

  test("kAnonymize: group publishes at the finest level where EVERY bucket reaches k") {
    import spark.implicits._
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // k=2, fine=2, coarse=4. (A,en): lens {2,3,5} — fine buckets
    // {b2:2, b4:1} and coarse {B0:2, B4:1} both hold a singleton, so
    // the WHOLE group recodes to '*' (level 2, class size 3): per-row
    // minimal recoding would publish b2,b2,* and leave the '*' row
    // re-identifiable by exclusion. (B,fr): singleton pair →
    // suppressed. (C,de): lens {1,3} split fine buckets but share
    // coarse B0 → level 1. (D,es): lens {2,3} share fine b2 → level 0.
    val d = Seq(
      (1L, "A", "en", doc(2)), (2L, "A", "en", doc(3)),
      (3L, "A", "en", doc(5)),
      (4L, "B", "fr", doc(2)),
      (5L, "C", "de", doc(1)), (6L, "C", "de", doc(3)),
      (7L, "D", "es", doc(2)), (8L, "D", "es", doc(3))
    ).toDF("doc_id", "source", "lang", "text")
    val r = graft.ext.Pipeline
      .kAnonymize(d, "text", k = 2, fine = 2, coarse = 4)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(3), x.getLong(4), x.getLong(5),
        x.getBoolean(6)))
    assert(r.toSeq == Seq(
      (1L, "*", 2L, 3L, false),
      (2L, "*", 2L, 3L, false),
      (3L, "*", 2L, 3L, false),
      (4L, "*", 3L, 1L, true),
      (5L, "B0", 1L, 2L, false),
      (6L, "B0", 1L, 2L, false),
      (7L, "b2", 0L, 2L, false),
      (8L, "b2", 0L, 2L, false)))
    // every emitted non-suppressed published class really reaches k
    assert(r.filter(!_._5).forall(_._4 >= 2L))
  }

  test("kAnonymize: NULL QIDs are screened (coalesced), never dropped") {
    import spark.implicits._
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    val d = Seq(
      (1L, null.asInstanceOf[String], "en", doc(2)),
      (2L, null.asInstanceOf[String], "en", doc(2)),
      (3L, "A", null.asInstanceOf[String], doc(4))
    ).toDF("doc_id", "source", "lang", "text")
    val r = graft.ext.Pipeline
      .kAnonymize(d, "text", k = 2, fine = 2, coarse = 4)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getLong(4), x.getBoolean(6)))
    // all three rows survive: the NULL-source pair k-anonymizes at
    // level 0; the NULL-lang singleton is suppressed, not lost
    assert(r.toSeq == Seq(
      (1L, "", "en", 0L, false), (2L, "", "en", 0L, false),
      (3L, "A", "", 3L, true)))
  }

  test("kAnonymize: matches brute-force ladder on random QIDs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val k = 3
    val docs = (0L until 200L).map { i =>
      (i, "S" + rnd.nextInt(4), if (rnd.nextBoolean()) "en" else "fr",
        rnd.nextInt(13)) // token lengths 0..12
    }
    val d = docs.map { case (id, s, l, n) =>
      (id, s, l, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "source", "lang", "text")
    val got = graft.ext.Pipeline
      .kAnonymize(d, "text", k = k, fine = 2, coarse = 4)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(3), x.getLong(4), x.getLong(5),
        x.getBoolean(6)))
    val b0 = docs.map { case (id, s, l, n) => (id, s, l, n - n % 2) }
    val c0 = b0.groupBy(t => (t._2, t._3, t._4)).view.mapValues(_.size).toMap
    val c1 = b0.groupBy(t => (t._2, t._3, t._4 - t._4 % 4)).view
      .mapValues(_.size).toMap
    val c2 = b0.groupBy(t => (t._2, t._3)).view.mapValues(_.size).toMap
    // global recoding: the group's level is the finest at which EVERY
    // bucket of the group reaches k
    val lvl = b0.map(t => (t._2, t._3)).distinct.map { case (s, l) =>
      val min0 = c0.collect { case ((`s`, `l`, _), n) => n }.min
      val min1 = c1.collect { case ((`s`, `l`, _), n) => n }.min
      val n2 = c2((s, l))
      (s, l) -> (if (min0 >= k) 0L else if (min1 >= k) 1L
                 else if (n2 >= k) 2L else 3L)
    }.toMap
    val want = b0.map { case (id, s, l, b) =>
      lvl((s, l)) match {
        case 0L => (id, "b" + b, 0L, c0((s, l, b)).toLong, false)
        case 1L => (id, "B" + (b - b % 4), 1L,
          c1((s, l, b - b % 4)).toLong, false)
        case 2L => (id, "*", 2L, c2((s, l)).toLong, false)
        case _  => (id, "*", 3L, c2((s, l)).toLong, true)
      }
    }
    assert(got.toSeq == want)
    // THE k-anonymity guarantee, checked on the published table
    // itself: every non-suppressed published (source, lang, bucket)
    // label names >= k rows, and group_size equals that class size
    val byId = docs.map(t => t._1 -> (t._2, t._3)).toMap
    val classes = got.filter(!_._5)
      .groupBy(t => (byId(t._1), t._2)).view.mapValues(_.length).toMap
    assert(classes.values.forall(_ >= k))
    for (row <- got.filter(!_._5))
      assert(row._4 == classes((byId(row._1), row._2)).toLong)
  }

  test("weightedSample: odds track weights; fixed size; reshuffle-proof") {
    import spark.implicits._
    // 4000 docs, half weight 400 / half weight 100 — the expected draw
    // composition for rank = h DIV w bottom-k is ∝ group weight mass:
    // 400·(2000·400)/(2000·500) = 320 heavy vs 80 light. The hash is
    // fixed, so the observed counts are DETERMINISTIC; the wide bounds
    // only document how much surrogate-vs-ideal slack we accept.
    val docs = (1L to 4000L)
      .map(i => (i, if (i % 2 == 0) 400L else 100L)).toDF("doc_id", "w")
    val out = graft.ext.Pipeline.weightedSample(docs, col("w"), k = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 400)
    assert(out.map(_._3).toSeq == (1L to 400L)) // dense ranks, no gaps
    val heavy = out.count(_._2 == 400L)
    val light = out.length - heavy
    assert(heavy > 3 * light, s"heavy=$heavy light=$light — odds lost the weight")
    assert(heavy >= 280 && heavy <= 360, s"heavy=$heavy outside ∝-band")
    // reshuffle-proof: a different physical layout draws the same sample
    val re = graft.ext.Pipeline.weightedSample(
        docs.repartition(13, col("w")), col("w"), k = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.sortBy(_._3).toSeq == out.sortBy(_._3).toSeq)
    // without-replacement: ids are unique
    assert(out.map(_._1).distinct.length == 400)
  }

  test("weightedSample: selection is monotone in weight; grouped == per-group global") {
    import spark.implicits._
    // monotonicity: raising ONE doc's weight (others fixed) never
    // evicts it and never worsens its rank — rank_key = h DIV w is
    // non-increasing in w while every other key is unchanged. Checked
    // on the seeded fixture by quadrupling the weight of the LAST
    // currently-selected doc and of one unselected doc.
    val docs = (1L to 1000L).map(i => (i, 1L + (i % 7) * 50L))
    val base = graft.ext.Pipeline.weightedSample(
        docs.toDF("doc_id", "w"), col("w"), k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val lastSelected = base.maxBy(_._2)._1
    val unselected = (1L to 1000L).find(!base.contains(_)).get
    def bumped(target: Long) = graft.ext.Pipeline.weightedSample(
        docs.map { case (i, w) => (i, if (i == target) w * 4 else w) }
          .toDF("doc_id", "w"), col("w"), k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val b1 = bumped(lastSelected)
    assert(b1.contains(lastSelected) &&
      b1(lastSelected) <= base(lastSelected),
      "bumped selected doc lost ground")
    val b2 = bumped(unselected)
    assert(!b2.contains(unselected) ||
      b2.keySet.intersect(base.keySet).size >= 99,
      "bump of one doc displaced more than one selection")
    // grouped draw == the global draw run per stratum (same contract)
    val g = (1L to 1000L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      1L + (i % 7) * 50L))
    val grouped = graft.ext.Pipeline.weightedSampleByGroup(
        g.toDF("doc_id", "grp", "w"), "grp", col("w"), k = 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val perGroup = Seq("even", "odd").flatMap { grp =>
      graft.ext.Pipeline.weightedSample(
          g.filter(_._2 == grp).map(t => (t._1, t._3)).toDF("doc_id", "w"),
          col("w"), k = 30)
        .collect().map(r => (grp, r.getLong(0), r.getLong(2)))
    }.toSet
    assert(grouped == perGroup)
  }

  test("readability: hand-counted words, sentences, vowel-group syllables") {
    import spark.implicits._
    // "the table. it works! really?" → W=5, S=3 ([.][!][?]),
    // syllables: the=1 table=2(a,e) it=1 works=1(o) really=2(ea,y) → 7
    val d = Seq((1L, "the table. it works! really?"),
      (2L, ""), (3L, "zzz")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(d, "text").orderBy("doc_id").collect()
    val r = out(0)
    assert(r.getAs[Long]("n_words") == 5L)
    assert(r.getAs[Long]("n_sentences") == 3L)
    assert(r.getAs[Long]("n_syllables") == 7L)
    val wps = 5.0 / 3.0; val spw = 7.0 / 5.0
    assert(r.getAs[Long]("flesch_ease_milli") ==
      math.floor((206.835 - 1.015 * wps - 84.6 * spw) * 1000.0 + 0.5).toLong)
    assert(r.getAs[Long]("fk_grade_milli") ==
      math.floor((0.39 * wps + 11.8 * spw - 15.59) * 1000.0 + 0.5).toLong)
    // empty text: zero words, clamped sentence floor, zero scores
    assert(out(1).getAs[Long]("n_words") == 0L &&
      out(1).getAs[Long]("flesch_ease_milli") == 0L)
    // vowel-free token clamps to 1 syllable
    assert(out(2).getAs[Long]("n_syllables") == 1L)
  }

  test("packManifest: sequences fill exactly; straddles cover each doc once") {
    import spark.implicits._
    // one group, docs of 3/4/5 tokens, seqLen 4:
    // offsets d1=[0,3) d2=[3,7) d3=[7,12) → seq0: d1(3)+d2(1),
    // seq1: d2(3)+d3(1), seq2: d3(4) — full, last seq d3(... wait 12
    // tokens / 4 = 3 full seqs exactly)
    val d = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l"))
      .map { case (i, t) => (i, t, "g1") }.toDF("doc_id", "text", "source")
    val m = Pipeline.packManifest(d, "text", "source", seqLen = 4)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(m.toSeq == Seq(
      (0L, 1L, 0L, 3L), (0L, 2L, 0L, 1L),
      (1L, 2L, 1L, 3L), (1L, 3L, 0L, 1L),
      (2L, 3L, 1L, 4L)))
    // invariants: every sequence fills to exactly seqLen; every doc's
    // segments cover its tokens exactly once
    assert(m.groupBy(_._1).values.forall(_.map(_._4).sum == 4L))
    assert(m.groupBy(_._2).map { case (_, segs) => segs.map(_._4).sum } ==
      Iterable(3L, 4L, 5L))
  }

  test("kmvDistinct: small groups exact; big groups match the sorted-hash formula") {
    import spark.implicits._
    // group a: 5 distinct hashes (< k) → exact; group b: 200 distinct
    // deterministic hashes (> k) → estimate from the k-th smallest
    val rows = (1L to 5L).map(h => ("a", h * 1000001L)) ++
      (1L to 200L).map(i => ("b", (i * 2654435761L) % (1L << 60)))
    val d = rows.toDF("g", "h")
    val out = Pipeline.kmvDistinct(d, "g", "h", k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == ((5L, 0L, 5L, 0L)))
    val bHashes = rows.filter(_._1 == "b").map(_._2).distinct.sorted
    val hk = bHashes(63)
    val expected = math.floor(63.0 * 1152921504606846976.0 / hk).toLong
    val (nTrue, kthMin, est, err) = out("b")
    assert(nTrue == 200L && kthMin == hk && est == expected)
    assert(err == math.abs(est - 200L) * 1000 / 200L)
  }

  test("cmsEstimates: upper bound always; exact when width kills collisions") {
    import spark.implicits._
    val d = Seq((1L, "a a a b b c"), (2L, "a b c d d d d")).toDF("doc_id", "text")
    val narrow = Pipeline.cmsEstimates(d, "text", depth = 2, width = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // CMS never underestimates, and with w=2 over 4 tokens SOME row collides
    assert(narrow.forall { case (_, cnt, est, over) => est >= cnt && over == est - cnt })
    assert(narrow.map(_._4).sum > 0L)
    val wide = Pipeline.cmsEstimates(d, "text", depth = 2, width = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(wide.forall { case (_, cnt, est) => est == cnt })
    assert(wide.map(t => t._1 -> t._2).toMap.apply("d") == 4L)
  }

  test("binaryCode: exact bit placement including the sign bit") {
    import spark.implicits._
    val emb = (0 until 64).map(i =>
      if (i == 0 || i == 5 || i == 63) 0.5f else -0.5f).toArray
    val zeros = Array.fill(64)(0f) // ties at 0 → bit stays 0
    val out = Seq((1L, emb), (2L, zeros)).toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.binaryCode(col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == (1L | 32L | Long.MinValue))
    assert(out(2L) == 0L)
  }

  test("matryoshkaRecall: full-dim prefix is a perfect-recall identity") {
    import spark.implicits._
    // deterministic 8-dim vectors; prefixDim = 8 must give recall 1000
    val vecs = (0L until 20L).map { id =>
      (id, (0 until 8).map(j => ((id * 7 + j * 3) % 11).toFloat - 5f).toArray, 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.matryoshkaRecall(vecs, queryEvery = 7, prefixDim = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall { case (_, overlap, permille) =>
      overlap == 5L && permille == 1000L })
  }

  test("filterFunnel: first-fire charging, permille, survivor count") {
    import spark.implicits._
    // row 2 fires stages 1 AND 2 but must charge to 1 only (the
    // sequential-chain contract); 2 survivors at the end
    val rows = Seq(
      (1L, true, false, false),
      (2L, true, true, false),
      (3L, false, true, false),
      (4L, false, false, true),
      (5L, false, false, false),
      (6L, false, false, false)).toDF("id", "f1", "f2", "f3")
    val out = Pipeline.filterFunnel(rows, Seq(
        "a" -> col("f1"), "b" -> col("f2"), "c" -> col("f3")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, "a", 6L, 2L, 4L, 333L),
      (2L, "b", 4L, 1L, 3L, 250L),
      (3L, "c", 3L, 1L, 2L, 333L)))
  }

  test("htmlStrip: tags out, entities decoded once, title kept, clean no-op") {
    import spark.implicits._
    val d = Seq(
      (1L, "<html><head><title>T1</title></head><body><p>a  b</p>" +
        "<br>&amp;lt; stays &quot;q&quot; &amp; x</body></html>"),
      (2L, "plain  text   untouched"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.htmlStrip(d, "text").orderBy("doc_id").collect()
    assert(out(0).getString(1) == "T1" && out(0).getLong(2) == 11L)
    // &amp;lt; must decode to the literal "&lt;", not "<" (decode
    // order); title text survives the strip like any other text node
    assert(out(0).getString(3) == "T1 a b &lt; stays \"q\" & x")
    // non-HTML text passes through with only whitespace collapsed
    assert(out(1).getString(3) == "plain text untouched" &&
      out(1).getLong(2) == 0L && out(1).getString(1) == "")
    assert(out(2).getString(3) == "")
  }

  test("kcenterSelect: greedy trace matches brute-force mirror on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val pts = (0L until 60L).map { i =>
      (i, Seq.fill(4)((rnd.nextInt(2001) - 1000) / 1000.0f))
    }
    val got = Similarity.kcenterSelect(pts.toDF("vec_id", "embedding"), k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force mirror of the exact integer greedy
    val codes = pts.map { case (i, v) =>
      i -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
    }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, 0L))
    while (picks.size < 6) {
      val best = codes.keys.filter(id => !picks.exists(_._1 == id))
        .map(id => (picks.map(p => d2(codes(id), codes(p._1))).min, id))
        .reduce { (x, y) =>
          if (y._1 > x._1 || (y._1 == x._1 && y._2 < x._2)) y else x
        }
      picks += ((best._2, best._1))
    }
    val want = picks.zipWithIndex.map { case ((id, d), i) => (i + 1L, id, d) }
    assert(got.toSeq == want.toSeq)
    // seed is the min id at separation 0; separations never increase
    assert(got.head == ((1L, 0L, 0L)))
    assert(got.drop(1).map(_._3).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)))
  }

  test("kcenterSelect: coincident duplicates never re-picked, separations hit 0") {
    import spark.implicits._
    // three distinct locations, each duplicated: the greedy covers
    // the locations first (sep 1e12 = (1e6)² L2), then is forced onto
    // duplicates at sep 0 — ids stay unique because the exclusion is
    // explicit, not distance-based
    val pts = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)),
      (3L, Seq(1f, 0f)), (4L, Seq(1f, 0f)),
      (5L, Seq(0f, 1f)), (6L, Seq(0f, 1f)))
    val got = Similarity.kcenterSelect(pts.toDF("vec_id", "embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L),
      (2L, 3L, 1000000000000L),
      (3L, 5L, 1000000000000L),
      (4L, 2L, 0L),
      (5L, 4L, 0L)))
  }

  test("curation v2 funnel: every stage fires on a hand fixture, incl. kanon suppression") {
    import spark.implicits._
    // 10 rows, one casualty per sequential gate: r1 exact dup, r2 low
    // quality, r3 language disagreement, r4 near-dup non-rep; of the 6
    // survivors, 5 share QID group (a, en) in one fine bucket (passes
    // k = 4 at level 0) and 1 sits alone in group (rare, en) → the
    // k-anon verdict suppresses it (level 3), so the fifth stage drops
    // exactly that row — the arm the sf fixtures never exercise.
    val rows = Seq(
      (1L, "a", "en", true, 0.9, "en", 10L, false),
      (2L, "a", "en", false, 0.3, "en", 10L, false),
      (3L, "a", "en", false, 0.9, "de", 10L, false),
      (4L, "a", "en", false, 0.9, "en", 10L, true),
      (5L, "a", "en", false, 0.9, "en", 10L, false),
      (6L, "a", "en", false, 0.9, "en", 11L, false),
      (7L, "a", "en", false, 0.9, "en", 12L, false),
      (8L, "a", "en", false, 0.9, "en", 13L, false),
      (9L, "a", "en", false, 0.9, "en", 14L, false),
      (10L, "rare", "en", false, 0.9, "en", 10L, false)
    ).toDF("doc_id", "source", "lang", "is_duplicate", "quality_score",
      "predicted_lang", "__klen", "__nd")
    val survGates = rows.filter(!col("is_duplicate") &&
      col("quality_score") >= 0.5 &&
      col("predicted_lang") === col("lang") && !col("__nd"))
    val verdict = Pipeline.kAnonGroupVerdict(survGates, "text", k = 4,
      lenCol = Some(col("__klen")))
    val withSup = rows
      .withColumn("__src", coalesce(col("source").cast("string"), lit("")))
      .withColumn("__lng", coalesce(col("lang").cast("string"), lit("")))
      .join(broadcast(verdict.select(col("src").as("__src"),
        col("lng").as("__lng"), col("anon_level"))),
        Seq("__src", "__lng"), "left")
      .withColumn("__sup", coalesce(col("anon_level") === 3L, lit(false)))
    val got = Pipeline.filterFunnel(withSup, Seq(
      "exact_dup" -> col("is_duplicate"),
      "quality" -> (col("quality_score") < 0.5),
      "lang_match" -> (col("predicted_lang") =!= col("lang")),
      "near_dup" -> col("__nd"),
      "kanon_suppressed" -> col("__sup")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, "exact_dup", 10L, 1L, 9L, 100L),
      (2L, "quality", 9L, 1L, 8L, 111L),
      (3L, "lang_match", 8L, 1L, 7L, 125L),
      (4L, "near_dup", 7L, 1L, 6L, 142L),
      (5L, "kanon_suppressed", 6L, 1L, 5L, 166L)))
  }

  test("curation v2 manifest: every non-final sequence is exactly full") {
    // the packing invariant a dataloader asserts before training:
    // Σ take_len per (source, seq_id) == seqLen (256) for every
    // sequence except each source's last
    val df = graft.SparkEntry.queries("x_pipeline_curation_v2")(
      spark, "/root/testdata/sf0.001")
    val sums = df.groupBy("source", "seq_id")
      .agg(sum(col("take_len")).as("tot"))
      .withColumn("is_last", col("seq_id") ===
        max(col("seq_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))))
      .collect()
    assert(sums.nonEmpty)
    sums.filter(!_.getBoolean(3)).foreach { r =>
      assert(r.getLong(2) == 256L,
        s"non-final sequence ${r.get(0)}/${r.getLong(1)} not full: ${r.getLong(2)}")
    }
  }

  test("kcenterSelect: honors non-long id columns (string ids)") {
    import spark.implicits._
    // same three locations as the early-stop case, string-keyed: the
    // id is an opaque orderable — seed is the lexicographic min,
    // tie-breaks are string ASC, and the output column keeps the type
    val pts = Seq(
      ("b", Seq(1f, 0f)), ("a", Seq(0f, 0f)), ("c", Seq(0f, 1f)))
    val got = Similarity.kcenterSelect(pts.toDF("vec_id", "embedding"), k = 3)
    assert(got.schema("vec_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val rows = got.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      (1L, "a", 0L),
      (2L, "b", 1000000000000L),
      (3L, "c", 1000000000000L)))
  }

  test("kcenterSelect: stops early when the corpus has fewer than k points") {
    import spark.implicits._
    val pts = Seq(
      (10L, Seq(0f, 0f)), (20L, Seq(1f, 0f)), (30L, Seq(0f, 1f)))
    val got = Similarity.kcenterSelect(pts.toDF("vec_id", "embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("marginMine: hub wins raw cosine, margin demotes it") {
    import spark.implicits._
    // Side A (even): q=[1,0,0,0], a2=[0,1,0,0], a4=[0,0,1,0].
    // Side B (odd): hub=1 [0.8,0.6,0.6,0] — near EVERYTHING in A
    // (cos to q ≈ .684, to a2/a4 ≈ .513); c=3 [0.6,0,0,0.8] — near q
    // only (cos .6, 0 elsewhere). Raw cosine ranks hub first for q;
    // the margin divides by each endpoint's own k-NN mass
    // (hub ≈ .684+.513, c ≈ .6+0), which flips the order.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0f, 0f, 1f, 0f)),
      (1L, Seq(0.8f, 0.6f, 0.6f, 0f)), (3L, Seq(0.6f, 0f, 0f, 0.8f)))
    val got = Similarity.marginMine(vecs.toDF("vec_id", "embedding"),
        queryEvery = 48, k = 2, topPairs = 2)
      .orderBy("qid", "pair_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0L, 1L, 3L), (0L, 2L, 1L)))
    // the flip is real: hub's raw cosine is HIGHER, its margin LOWER
    val byCand = got.map(t => t._3 -> (t._4, t._5)).toMap
    assert(byCand(1L)._1 > byCand(3L)._1, "hub should win raw cosine")
    assert(byCand(3L)._2 > byCand(1L)._2, "margin should prefer c")
  }

  test("lDiversify: ladder levels per lang; homogeneous class recodes") {
    import spark.implicits._
    def txt(n: Int) = Seq.fill(n)("tok").mkString(" ")
    // en: fine buckets {0: sources s1,s2 | 25: s1 only} → level-0 min
    // diversity 1 < 2, but both buckets coarsen to B0 with {s1,s2} →
    // level 1. de: every fine bucket has 2 sources → level 0.
    // fr: one source everywhere → suppressed (level 3).
    val docs = Seq(
      (1L, txt(10), "en", "s1"), (2L, txt(12), "en", "s2"),
      (3L, txt(30), "en", "s1"),
      (4L, txt(10), "de", "sA"), (5L, txt(11), "de", "sB"),
      (6L, txt(10), "fr", "sX"), (7L, txt(30), "fr", "sX")
    ).toDF("doc_id", "text", "lang", "source")
    val got = Pipeline.lDiversify(docs, "text", l = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (1L, "en", "B0", 1L, 2L, false),
      (2L, "en", "B0", 1L, 2L, false),
      (3L, "en", "B0", 1L, 2L, false),
      (4L, "de", "b0", 0L, 2L, false),
      (5L, "de", "b0", 0L, 2L, false),
      (6L, "fr", "*", 3L, 1L, true),
      (7L, "fr", "*", 3L, 1L, true)))
  }

  test("tCloseness: global-mirroring class reads 0; homogeneous class reads skew") {
    import spark.implicits._
    def txt(n: Int) = Seq.fill(n)("tok").mkString(" ")
    // global: s1 ×4, s2 ×4 (half/half). Classes mirroring the global
    // distribution read 0; the two single-source classes read
    // ½(|1−½| + |0−½|) = ½ → 500000 and fail the 350000 bound.
    val docs = Seq(
      (1L, txt(10), "en", "s1"), (2L, txt(12), "en", "s2"),
      (3L, txt(30), "en", "s1"), (4L, txt(31), "de", "s2"),
      (5L, txt(10), "de", "s1"), (6L, txt(11), "de", "s2"),
      (7L, txt(12), "de", "s2"), (8L, txt(13), "de", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val got = Pipeline.tCloseness(docs, "text", tE6Max = 350000)
      .orderBy("lang", "b0").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(got.toSeq == Seq(
      ("de", 0L, 4L, 0L, true),
      ("de", 25L, 1L, 500000L, false),
      ("en", 0L, 2L, 0L, true),
      ("en", 25L, 1L, 500000L, false)))
  }

  test("lDiversify: matches brute-force ladder on random QIDs") {
    import spark.implicits._
    val r = new scala.util.Random(47)
    val rows = (1L to 300L).map { i =>
      (i, 1 + r.nextInt(120), "l" + r.nextInt(3), "s" + r.nextInt(4))
    }
    val docs = rows.map { case (i, n, lg, sr) =>
      (i, Seq.fill(n)("t").mkString(" "), lg, sr)
    }.toDF("doc_id", "text", "lang", "source")
    val l = 3
    val got = Pipeline.lDiversify(docs, "text", l)
      .orderBy("doc_id").collect()
      .map(w => (w.getLong(0), w.getString(1), w.getString(2),
        w.getLong(3), w.getLong(4), w.getBoolean(5)))
    // independent ladder mirror
    def b0(n: Int) = (n - n % 25).toLong
    def b1(n: Int) = { val b = b0(n); b - b % 50 }
    val div0 = rows.groupBy(t => (t._3, b0(t._2)))
      .view.mapValues(_.map(_._4).distinct.size.toLong).toMap
    val div1 = rows.groupBy(t => (t._3, b1(t._2)))
      .view.mapValues(_.map(_._4).distinct.size.toLong).toMap
    val div2 = rows.groupBy(_._3)
      .view.mapValues(_.map(_._4).distinct.size.toLong).toMap
    val level = rows.map(_._3).distinct.map { lg =>
      val m0 = div0.collect { case ((g, _), v) if g == lg => v }.min
      val m1 = div1.collect { case ((g, _), v) if g == lg => v }.min
      lg -> (if (m0 >= l) 0L else if (m1 >= l) 1L
        else if (div2(lg) >= l) 2L else 3L)
    }.toMap
    val want = rows.map { case (i, n, lg, sr) =>
      val lv = level(lg)
      val (bucket, cd) = lv match {
        case 0L => ("b" + b0(n), div0((lg, b0(n))))
        case 1L => ("B" + b1(n), div1((lg, b1(n))))
        case _  => ("*", div2(lg))
      }
      (i, lg, bucket, lv, cd, lv == 3L)
    }
    assert(got.toSeq == want)
  }

  test("tCloseness: matches brute-force variational distance on random QIDs") {
    import spark.implicits._
    val r = new scala.util.Random(53)
    val rows = (1L to 300L).map { i =>
      (i, 1 + r.nextInt(120), "l" + r.nextInt(3), "s" + r.nextInt(4))
    }
    val docs = rows.map { case (i, n, lg, sr) =>
      (i, Seq.fill(n)("t").mkString(" "), lg, sr)
    }.toDF("doc_id", "text", "lang", "source")
    val got = Pipeline.tCloseness(docs, "text", tE6Max = 350000)
      .orderBy("lang", "b0").collect()
      .map(w => (w.getString(0), w.getLong(1), w.getLong(2), w.getLong(3),
        w.getBoolean(4)))
    def b0(n: Int) = (n - n % 25).toLong
    val nAll = rows.size.toLong
    val gsrc = rows.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val want = rows.groupBy(t => (t._3, b0(t._2))).toSeq
      .sortBy { case ((lg, b), _) => (lg, b) }
      .map { case ((lg, b), members) =>
        val nc = members.size.toLong
        val cs = members.groupBy(_._4).view.mapValues(_.size.toLong).toMap
        val num = gsrc.map { case (sr, ns) =>
          math.abs(cs.getOrElse(sr, 0L) * nAll - ns * nc)
        }.sum
        val t6 = num * 1000000L / (2L * nc * nAll)
        (lg, b, nc, t6, t6 <= 350000L)
      }
    assert(got.toSeq == want)
  }

  test("marginMine: matches a full brute-force mirror on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val dims = 6
    val vecs = (0L until 80L).map { i =>
      (i, Seq.fill(dims)((rnd.nextInt(2001) - 1000) / 1000.0f))
    }
    val k = 3; val topPairs = 2; val every = 16L
    val got = Similarity.marginMine(vecs.toDF("vec_id", "embedding"),
        queryEvery = every, k = k, topPairs = topPairs)
      .orderBy("qid", "pair_rank").collect()
      .map(w => (w.getLong(0), w.getLong(1), w.getLong(2), w.getLong(3),
        w.getLong(4)))
    // mirror: e6 codes, clamped cos chain, top-k sums, margin DIV
    val codes = vecs.map { case (i, v) =>
      i -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
    }.toMap
    def n2(a: Array[Long]) = a.map(x => x * x).sum
    def cosP(a: Array[Long], b: Array[Long]): Long = {
      val (na, nb) = (n2(a), n2(b))
      if (na <= 0 || nb <= 0) 0L
      else math.max(0L, math.floor(
        a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
          (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)) * 1e6 + 0.5)
        .toLong)
    }
    val aIds = (0L until 80L).filter(_ % 2 == 0)
    val bIds = (0L until 80L).filter(_ % 2 == 1)
    val qIds = aIds.filter(_ % every == 0)
    def topk(scores: Seq[(Long, Long)]): Seq[(Long, Long)] = // (id, cos)
      scores.sortBy { case (id, c) => (-c, id) }.take(k)
    val fwd = qIds.map { q =>
      q -> topk(bIds.map(b => (b, cosP(codes(q), codes(b)))))
    }.toMap
    val sumQ = fwd.view.mapValues(_.map(_._2).sum).toMap
    val sumC = fwd.values.flatten.map(_._1).toSeq.distinct.map { c =>
      c -> topk(aIds.map(a => (a, cosP(codes(c), codes(a))))).map(_._2).sum
    }.toMap
    val want = qIds.sorted.flatMap { q =>
      fwd(q).map { case (c, cos) =>
        (q, c, cos, cos * (2L * k) * 1000000L /
          math.max(sumQ(q) + sumC(c), 1L))
      }.sortBy { case (_, c, _, m) => (-m, c) }.take(topPairs)
        .zipWithIndex.map { case ((qq, c, cos, m), i) =>
          (qq, i + 1L, c, cos, m)
        }
    }
    assert(got.toSeq == want)
  }

  test("semanticClusters: two cliques cluster, weak-edge singleton omitted") {
    import spark.implicits._
    // one cell; cliques {1,2} and {3,4} (cos ≈ .99), vector 5 at
    // cos ≈ .71 to vector 1 — below the 0.8 bar, so it stays a
    // singleton and is omitted (the components convention)
    val assigned = Seq(
      (0L, 1L, Seq(1f, 0f)), (0L, 2L, Seq(0.9f, 0.1f)),
      (0L, 3L, Seq(0f, 1f)), (0L, 4L, Seq(0.1f, 0.9f)),
      (0L, 5L, Seq(0.7f, -0.7f))
    ).toDF("cell_id", "vec_id", "embedding")
    val got = Similarity.semanticClusters(assigned, k = 2,
        minCosE6 = 800000)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 2L), (4L, 3L, 2L)))
  }
}
