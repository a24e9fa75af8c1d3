package graft.plans

import graft.{Corpus, SparkEntry, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression tests (VERDICT r6 item 3): the physical-plan
  * invariants that five rounds of plan audits established, asserted so
  * a future edit cannot silently re-introduce a shuffle, a window, or a
  * cartesian product that the audits removed. Each assertion mirrors a
  * PLANS_r{N} claim; the evidence dumps live in PLANS_r{N}.md and
  * `plans/`.
  *
  * Counting is string-based over the physical plan tree (stable across
  * AQE wrapping: the printed initial plan carries the same operator
  * lines).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Shuffle exchanges only — broadcast exchanges are free-ish by
    * design (small sides) and deliberately not counted.
    */
  private def shuffles(df: DataFrame): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(planOf(df)).length

  private def windowNodes(df: DataFrame): Int =
    "(?m)^[\\s:+*-]*(?:\\([0-9]+\\) )?Window(?:Exec)? ".r
      .findAllIn(planOf(df)).length

  private lazy val docs =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private lazy val events = {
    Corpus.registerSources(spark, sfDir)
    spark.table("events").withColumn("ts_us", unix_micros(col("ts")))
  }

  // ---- in-row kernels: Scan → Project, zero Exchange -----------------

  test("in-row kernels shuffle nothing (PLANS r5-r7: pure maps)") {
    val pureMaps = Seq(
      "x_quality_para_dup" ->
        graft.ext.Quality.paragraphDupStats(docs, "text"),
      "x_quality_gopher" -> graft.ext.Quality.gopherProfile(docs, "text"),
      "x_text_pii" -> graft.ext.Quality.piiScreen(docs, "text"),
      "x_text_winnow_native" ->
        graft.ext.TextAnalysis.winnowFingerprintsNative(docs, "text", "doc_id"),
      "x_pipe_split" -> graft.ext.Pipeline.split(docs),
      "x_pipe_shuffle" -> graft.ext.Pipeline.shuffleShards(docs),
      "x_pipe_chunk" -> graft.ext.Pipeline.chunk(docs, "text"),
      "x_pipe_cdc" -> graft.ext.Pipeline.cdcChunks(docs, "text"),
      "x_text_readability" ->
        graft.ext.TextAnalysis.readability(docs, "text"),
      "x_text_html" -> graft.ext.TextAnalysis.htmlStrip(docs, "text"),
      "x_text_pii_redact" -> graft.ext.Quality.redactPii(docs, "text"),
      "x_quality_entropy" -> graft.ext.Quality.tokenEntropy(docs, "text"),
      "x_sim_binary(code)" -> docs.select(
        graft.ext.Similarity.binaryCode(
          org.apache.spark.sql.functions.array_repeat(
            org.apache.spark.sql.functions.lit(0.5f), 64))))
    for ((name, df) <- pureMaps)
      assert(shuffles(df) == 0,
        s"$name grew a shuffle:\n${planOf(df)}")
  }

  // ---- temporal operators: ONE key exchange --------------------------

  test("rolling rates: ONE Window over ONE Exchange (PLANS r7 §26)") {
    val df = graft.ext.Events.rollingCounts(
      events.select("event_id", "user_id", "ts_us", "value"))
    assert(shuffles(df) == 1, s"rolling shuffle count:\n${planOf(df)}")
    assert(windowNodes(df) == 1, s"rolling window count:\n${planOf(df)}")
  }

  test("funnel: chained windows share ONE user exchange (PLANS r6 §19)") {
    val df = graft.ext.Events.funnel(
      events.select("event_id", "user_id", "ts_us", "event_type"),
      Seq("view", "click", "purchase"))
    assert(shuffles(df) == 1, s"funnel shuffle count:\n${planOf(df)}")
  }

  test("sessionization: ONE user exchange (PLANS r6)") {
    val df = graft.ext.Events.sessions(
      events.select("event_id", "user_id", "ts_us"),
      gapUs = 4L * 3600 * 1000000)
    assert(shuffles(df) == 1, s"sessions shuffle count:\n${planOf(df)}")
  }

  test("as-of join: union+window form — ONE exchange, ZERO join operators (PLANS r6 §18)") {
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_us", "value")
    val views = events.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts_us", "value")
    val df = graft.ext.Events.asofJoin(clicks, views)
    assert(shuffles(df) == 1, s"asof shuffle count:\n${planOf(df)}")
    val p = planOf(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"asof re-grew a join operator:\n$p")
  }

  test("range join: hash equi-join on buckets, never a nested-loop pair explosion") {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val sess = graft.ext.Events.sessions(
      events.select("event_id", "user_id", "ts_us"),
      gapUs = 4L * 3600 * 1000000)
      .select("user_id", "session_seq", "start_us", "end_us")
    val p = planOf(graft.ext.Events.rangeJoin(purchases, sess,
      bucketUs = 6L * 3600 * 1000000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a pair explosion:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      s"range join lost its equi-join:\n$p")
  }

  test("keyless range join: equi-join on the time bucket, never nested-loop") {
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "ts_us")
    val windows = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("anchor_id"),
        (col("ts_us") - 1800000000L).as("start_us"),
        (col("ts_us") + 1800000000L).as("end_us"))
    val p = planOf(graft.ext.Events.rangeJoinGlobal(clicks, windows,
      bucketUs = 3600L * 1000000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"keyless range join degenerated to a pair explosion:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      s"keyless range join lost its equi-join:\n$p")
  }

  // ---- late-r7 surface (PLANS r8 §8) ---------------------------------

  test("ngram contamination: semi-join against a broadcast gram set, no pair join") {
    val df = graft.ext.Pipeline.contaminationNgram(docs,
      docs.filter(col("doc_id") % 97 === 0), "text")
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"contam_ngram lost the broadcast semi-join:\n$p")
    // bench distinct + per-doc count agg — nothing else may shuffle
    assert(shuffles(df) == 2, s"contam_ngram shuffle count:\n$p")
  }

  test("containment screen: no cartesian, no window; verify join runs off the checkpointed candidates") {
    // the rare-shingle blocking must keep the pair relation a hash
    // equi-join on shingle — a CartesianProduct or BroadcastNestedLoop
    // here means the df cap stopped bounding the candidate fan-out;
    // the exact-verify stage reads the eager candidate checkpoint
    // (LocalTableScan/cached scan), never re-derives it
    val sh = graft.ext.Dedup.shingleHashes(docs, "text", "doc_id", 3)
    val df = graft.ext.Dedup.containmentPairs(sh,
      dfMax = 8, minShingles = 5, thresholdPermille = 500)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"containment grew an unblocked pair join:\n$p")
    assert(windowNodes(df) == 0, s"containment grew a window:\n$p")
  }

  test("edgesim rollup: no cartesian, no window, k-bounded TakeOrdered finish") {
    // the rollup over the closure artifact must stay hash-join shaped
    // (triangle credits keyed by (ea, eb)) and finish with a k-bounded
    // TakeOrdered — a global Sort materialization here means the top-k
    // regressed to sorting every edge
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
      ("b", "c"), ("c", "b")).toDF("src", "dst")
    val df = graft.ext.Graph.edgeStructuralSim(edges, k = 10)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"edgesim grew an unblocked pair join:\n$p")
    assert(windowNodes(df) == 0, s"edgesim grew a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"edgesim lost the k-bounded top-k finish:\n$p")
  }

  test("collocations: top-k heap, broadcast joins, persisted aggs scanned not rebuilt") {
    val df = graft.ext.TextAnalysis.collocations(docs, "text")
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"collocations lost the top-k heap:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"collocations grew a shuffle join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"collocations lost the persisted agg reuse:\n$p")
  }

  test("keep-longest representative: both windows share one component exchange") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component")
    val df = graft.ext.Dedup.keepRepresentative(comps, docs, "text")
    assert(shuffles(df) == 1, s"keepRepresentative shuffle count:\n${planOf(df)}")
    assert(windowNodes(df) == 2, s"keepRepresentative window count:\n${planOf(df)}")
  }

  test("PQ ADC search over persisted codes: zero shuffle, top-k heap only") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-plan").toString
    graft.ext.Similarity.writePqIndex(
      graft.ext.Similarity.pqBuild(vecs, m = 8, ks = 16), dir)
    val idx = graft.ext.Similarity.readPqIndex(spark, dir)
    val df = graft.ext.Similarity.pqSearchIndexed(
      idx, (0 until 64).map(_ => 0.1f), 10)
    assert(shuffles(df) == 0, s"PQ search grew a shuffle:\n${planOf(df)}")
    assert(planOf(df).contains("TakeOrderedAndProject"),
      s"PQ search lost the top-k heap:\n${planOf(df)}")
    assert(!planOf(df).contains("Join"),
      s"PQ search grew a join:\n${planOf(df)}")
  }

  test("SQ8 level-space search: zero shuffle, no join, top-k heap only") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = graft.ext.Similarity.sqBuild(vecs)
    val df = graft.ext.Similarity.sqSearchIndexed(
      idx, (0 until 64).map(_ => 0.1f), 10)
    assert(shuffles(df) == 0, s"SQ8 search grew a shuffle:\n${planOf(df)}")
    assert(planOf(df).contains("TakeOrderedAndProject"),
      s"SQ8 search lost the top-k heap:\n${planOf(df)}")
    assert(!planOf(df).contains("Join"),
      s"SQ8 search grew a join:\n${planOf(df)}")
  }

  test("snapshot diff: digest-only hash join, no text past the digest projection") {
    val df = graft.ext.Pipeline.snapshotDiff(docs,
      docs.filter(col("doc_id") % 17 =!= 0), Seq("text", "lang", "source"))
    val p = planOf(df)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"snapshot diff lost the hash equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"snapshot diff degenerated:\n$p")
    // the join's output carries only id + digests — text is consumed
    // by md5 below every exchange
    val joinLine = p.linesIterator.find(_.contains("Join FullOuter")).getOrElse("")
    assert(!joinLine.contains("text"),
      s"snapshot diff carries text through the join:\n$joinLine")
  }

  // ---- global: no cartesian product anywhere -------------------------

  test("salted agg: salt key in the first exchange, two stages, zero joins") {
    val df = graft.ext.Events.saltedAgg(
      events.select("event_id", "event_type", "value"))
    val p = planOf(df)
    assert(shuffles(df) == 2, s"salted agg shuffle count:\n$p")
    // Catalyst renames the salt alias to _groupingexpression; the
    // pmod(hash(id)) projection is the stable fingerprint
    assert(p.contains("pmod(hash("),
      s"first-stage exchange lost the salt key:\n$p")
    assert(!p.contains("Join"), s"salted agg grew a join:\n$p")
  }

  test("scd2: both windows share ONE key exchange (the funnel precedent)") {
    val df = graft.ext.Events.scd2(
      events.select("event_id", "user_id", "ts_us", "event_type"))
    val p = planOf(df)
    assert(shuffles(df) == 1, s"scd2 shuffle count:\n$p")
    assert(windowNodes(df) == 2, s"scd2 window count:\n$p")
    assert(!p.contains("Join"), s"scd2 grew a join:\n$p")
  }

  test("BPE encode: two key-agg exchanges + vocab-sized output sort, zero joins (PLANS r8 §15)") {
    // The merge table is a collected literal, so the encode plan must
    // be pure in-row fold + two aggregations: word counts, then token
    // histogram. The third exchange is the rangepartitioning for the
    // advisory ORDER BY over the vocabulary-sized result. Any join or
    // window node means the literal-array design regressed.
    import spark.implicits._
    val merges = Seq((1L, "a", "a", 9L), (2L, "aa", "aa", 3L))
      .toDF("step", "left_sym", "right_sym", "pair_count")
    val df = graft.ext.Pipeline.bpeEncode(docs, "text", merges)
    val p = planOf(df)
    assert(shuffles(df) == 3, s"bpe encode shuffle count:\n$p")
    assert(windowNodes(df) == 0, s"bpe encode grew a window:\n$p")
    assert(!p.contains("Join"), s"bpe encode grew a join:\n$p")
  }

  test("DSIR: fixed-bucket model broadcasts; no window, no cartesian") {
    // The 512-bucket model must reach the scoring join as a broadcast
    // (the fixed feature space is the paper's scale trick); a
    // SortMergeJoin against the feature relation means the broadcast
    // hint regressed and the model would shuffle with the corpus.
    val df = graft.ext.Quality.dsirWeights(docs, "text", col("lang") === "en")
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"dsir model join not broadcast:\n$p")
    assert(windowNodes(df) == 0, s"dsir grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"dsir cartesian:\n$p")
  }

  test("unigram encode: in-row Viterbi, two key aggs, zero joins") {
    // the model is a collected literal (bounded artifact), so the
    // encode plan must be scan → word agg → in-row DP fold → piece
    // agg: exactly two hash exchanges, no join, no window
    import spark.implicits._
    val model = Seq(("a", 1L, 10L), ("aa", 1L, 20L))
      .toDF("piece", "usage", "cost_e6")
    val df = graft.ext.Pipeline.unigramEncode(docs, "text", model)
    val p = planOf(df)
    assert(shuffles(df) == 2, s"unigram encode shuffle count:\n$p")
    assert(windowNodes(df) == 0, s"unigram encode grew a window:\n$p")
    assert(!p.contains("Join"), s"unigram encode grew a join:\n$p")
  }

  test("wordpiece encode: in-row greedy fold, two key aggs, zero joins") {
    // the vocab is a collected literal (bounded artifact), so the
    // encode plan must be scan → word agg → in-row greedy fold →
    // token agg — the unigram/BPE shape: two hash exchanges, no join
    import spark.implicits._
    val vocab = Seq(("a", false), ("b", true))
      .toDF("piece", "is_cont").withColumn("weight", lit(1L))
    val df = graft.ext.Pipeline.wordpieceEncode(docs, "text", vocab)
    val p = planOf(df)
    assert(shuffles(df) == 2, s"wordpiece encode shuffle count:\n$p")
    assert(windowNodes(df) == 0, s"wordpiece encode grew a window:\n$p")
    assert(!p.contains("Join"), s"wordpiece encode grew a join:\n$p")
  }

  test("KN bigram LM: vocab²-bounded model broadcasts to the scoring join") {
    // same contract as the add-one LM / DSIR: the model must reach the
    // corpus-sized scoring join as a broadcast — a SortMergeJoin there
    // means the Zipf-bounded model regressed to shuffling with the
    // corpus bigrams.
    val df = graft.ext.Quality.knBigramScore(docs, "text")
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"kn model join not broadcast:\n$p")
    assert(windowNodes(df) == 0, s"kn grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"kn cartesian:\n$p")
  }

  test("heavy hitters: candidate set broadcasts to the exact recount") {
    // the recount must be token ⋈ broadcast(candidates): a
    // SortMergeJoin means the bounded candidate relation regressed to
    // shuffling the full token stream by token — exactly the wide
    // exchange the MG sketch exists to avoid.
    val df = graft.ext.Pipeline.heavyHitters(docs, "text", phiInv = 30)
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"hh recount not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"hh token stream shuffled for the recount:\n$p")
    assert(windowNodes(df) == 0, s"hh grew a window:\n$p")
  }

  test("hybrid retrieval legs: bm25 model broadcasts; cosine leg is a zero-shuffle heap") {
    // lexical leg: the term-df (≤ |terms| rows) and corpus-stats
    // (1 row) relations must broadcast — a SortMergeJoin would shuffle
    // the tf relation for a 3-row dim
    val lex = graft.ext.Quality.bm25TopK(docs, "text", Seq("a", "b"), k = 50)
    val lp = planOf(lex)
    assert(lp.contains("BroadcastHashJoin"), s"bm25 df join not broadcast:\n$lp")
    assert(!lp.contains("CartesianProduct"), s"bm25 cartesian:\n$lp")
    // dense leg: in-row e6 kernel + TakeOrdered — the PQ/SQ8 contract
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vec = graft.ext.Similarity.cosineE6TopK(vecs,
      graft.ext.Similarity.vectorOf(vecs, "vec_id", 0L), k = 50)
    assert(shuffles(vec) == 0, s"cosine leg grew a shuffle:\n${planOf(vec)}")
    assert(planOf(vec).contains("TakeOrdered"),
      s"cosine leg lost its top-k heap:\n${planOf(vec)}")
  }

  test("pca power iteration: driver recurrence — returned plan is a d-row local relation") {
    // r14: the recurrence folds on the DRIVER over the collected
    // d²-bounded matrix (the codebook discipline), so the RETURNED
    // plan must be a bare local relation — no join/window/cartesian,
    // no scan of the corpus, no per-round re-derivation. The
    // matrix-build join shape itself is pinned by the dim-correlation
    // test (shared relation).
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.ext.Similarity.topPrincipalComponent(vecs, iters = 2)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"pca cartesian:\n$p")
    assert(windowNodes(df) == 0, s"pca grew a window:\n$p")
    assert(!p.contains("Join"), s"pca final plan re-derives rounds:\n$p")
    assert(p.contains("LocalTableScan") && !p.toLowerCase.contains("parquet"),
      s"pca result is not a driver-folded local relation:\n$p")
  }

  test("abtt is an in-row kernel; dataset card is ONE grouping-sets exchange") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val abtt = graft.ext.Similarity.abttProfile(vecs,
      Seq.fill(64)(1000000L))
    assert(shuffles(abtt) == 0, s"abtt grew a shuffle:\n${planOf(abtt)}")
    val card = graft.ext.Quality.datasetCard(docs, "text")
    val p = planOf(card)
    assert(shuffles(card) == 1, s"dataset card shuffle count:\n$p")
    assert(p.contains("Expand"), s"dataset card lost the grouping-sets expand:\n$p")
  }

  test("hits: per-round totals broadcast back; no cartesian, no window") {
    import spark.implicits._
    val edges = Seq(("a", "x"), ("a", "y"), ("b", "x")).toDF("src", "dst")
    val df = graft.ext.Graph.hits(edges, iters = 2)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"hits cartesian:\n$p")
    assert(windowNodes(df) == 0, s"hits grew a window:\n$p")
  }

  test("dim correlation: moment relation broadcasts; pairs in-row then ONE pair agg") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.ext.Similarity.dimCorrelation(vecs)
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"dim_corr moments not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim_corr shuffled for the moment join:\n$p")
    assert(windowNodes(df) == 0, s"dim_corr grew a window:\n$p")
  }

  test("bpe fertility: literal merge table — no join; lateness: ONE key exchange") {
    import spark.implicits._
    val merges = Seq((1L, "a", "a", 9L)).toDF("step", "left_sym", "right_sym", "pair_count")
    val fert = graft.ext.Pipeline.bpeFertility(docs, "text", "source", merges)
    assert(!planOf(fert).contains("Join"), s"fertility grew a join:\n${planOf(fert)}")

    val late = graft.ext.Events.latenessProfile(
      events.select("event_id", "user_id", "ts_us"))
    assert(shuffles(late) == 1, s"lateness shuffle count:\n${planOf(late)}")
    assert(windowNodes(late) == 1, s"lateness window count:\n${planOf(late)}")
  }

  test("semantic decontam: benchmark side broadcasts to the cell join") {
    // the benchmark set is tiny next to the corpus; a SortMergeJoin
    // here means the whole corpus shuffles for a broadcast-sized side
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("cell_id", col("vec_id") % 5)
    val df = graft.ext.Similarity.crossSetNearPairs(
      vecs, col("vec_id") % 97 === 0, "cell_id", 0.3)
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"decontam join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"decontam shuffled the corpus:\n$p")
  }

  test("centroid outliers: centroids broadcast to the scoring join") {
    // the (labels × dims) centroid relation must reach per-vector
    // scoring as a broadcast; a shuffle join would move the corpus
    // for a dimension-sized side
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.ext.Similarity.centroidOutliers(vecs)
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"outliers join not broadcast:\n$p")
    assert(windowNodes(df) == 0, s"outliers grew a window:\n$p")
  }

  test("ivfpq rerank: every join broadcasts — the corpus never shuffles") {
    // stage 1's probe-cell prune and stage 2's 50-row shortlist prune
    // must both reach the scans as broadcasts; a SortMergeJoin would
    // shuffle the corpus for a candidate-sized side
    Corpus.registerSources(spark, sfDir)
    val d = SparkEntry.allDefs.find(_.name == "x_sim_ivfpq_rerank").get
    val p = planOf(d.fn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"rerank join not broadcast:\n$p")
    // stage 1 keeps the compressed shortlist as a 50-row heap, and that
    // heap reaches stage 2 as a BroadcastExchange ABOVE it in the tree
    // (the one SortMergeJoin in the printed plan lives inside the
    // memoized ivfPqCells BUILD subtree — a pre-paid one-off the plan
    // printer inlines under InMemoryRelation, not the serving path)
    val shortIdx = p.indexOf("TakeOrderedAndProject(limit=50")
    val bcastIdx = p.indexOf("BroadcastExchange")
    assert(shortIdx >= 0, s"shortlist lost its heap:\n$p")
    assert(bcastIdx >= 0 && bcastIdx < shortIdx,
      s"shortlist does not broadcast into the full-precision scan:\n$p")
  }

  test("skew profile: one key agg + broadcast totals, no window, no sort") {
    val df = graft.ext.Events.keySkewProfile(events, "user_id", topK = 10)
    val p = planOf(df)
    // key-agg exchange + the 1-row totals' SinglePartition — nothing
    // else; the persisted key agg prints once per consumer, so the
    // string count sees the SAME exchange twice (2 executed, 3 printed)
    assert(shuffles(df) <= 3, s"skew profile over-shuffles:\n$p")
    assert(windowNodes(df) == 0, s"skew profile grew a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k lost the heap:\n$p")
  }

  test("tfidf heap twin: ObjectHashAggregate top-k, ZERO window nodes") {
    // the whole point of the aggregate twin: per-doc selection without
    // a Window sort — partial heaps before the exchange
    val df = graft.ext.Quality.tfidfTopTermsHeap(docs, "text", k = 5)
    val p = planOf(df)
    assert(windowNodes(df) == 0, s"heap twin grew a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"topk agg lost object agg:\n$p")
  }

  test("stratified heap twin: ObjectHashAggregate top-k, ZERO window nodes") {
    // skew-proof stratified sampling: per-stratum selection must come
    // from partial heaps, never a per-stratum window sort
    val df = graft.ext.Pipeline.stratifiedSampleHeap(docs, "lang", perGroup = 20)
    val p = planOf(df)
    assert(windowNodes(df) == 0, s"heap twin grew a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"topk agg lost object agg:\n$p")
  }

  test("hard negatives: broadcast query side, heap selection, ZERO window nodes") {
    // scoring must not shuffle the corpus (query side broadcasts) and
    // per-query selection must be the bounded aggregate, not a window
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.ext.Similarity.hardNegatives(vecs, queryEvery = 97, k = 5)
    val p = planOf(df)
    assert(p.contains("BroadcastExchange"), s"query side lost its broadcast:\n$p")
    assert(windowNodes(df) == 0, s"hard negatives grew a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"topk agg lost object agg:\n$p")
  }

  test("centroid confusion: in-row assignment — one exchange, zero joins") {
    // centroids inline as a driver literal (codebook discipline), so
    // the vector side never joins or shuffles for assignment; the only
    // exchange is the labels²-cell count
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.ext.Similarity.centroidConfusion(vecs, "label")
    val p = planOf(df)
    assert(shuffles(df) == 1, s"assignment grew an exchange:\n$p")
    assert(!p.contains("Join"), s"assignment grew a join:\n$p")
  }

  test("delta dedup: candidate join broadcasts the delta band side") {
    // the ingestion-path contract: corpus bands never shuffle for the
    // candidate join — the day's delta is the small side by design
    val df = graft.ext.Dedup.deltaNearDups(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id", shingleN = 3, k = 16, bands = 4, threshold = 0.4)
    // deltaNearDups localCheckpoints (the result is an ingest artifact),
    // so pin the plan of the candidate stage via its own builder parts:
    // re-derive the candidate join and inspect THAT plan
    val sigsC = graft.ext.Dedup.minhashSignatures(
      graft.ext.Dedup.shingles(docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", 3), 16)
    val sigsD = graft.ext.Dedup.minhashSignatures(
      graft.ext.Dedup.shingles(docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", 3), 16)
    val bandCols = (0 until 4).map(i => col(s"mh_$i"))
    val bc = sigsC.select(col("doc_id").as("corpus_id"), concat_ws("_", bandCols: _*).as("band_key"))
    val bd = sigsD.select(col("doc_id").as("delta_id"), concat_ws("_", bandCols: _*).as("band_key"))
    val cand = bc.join(broadcast(bd), Seq("band_key"))
    val p = planOf(cand)
    assert(p.contains("BroadcastHashJoin"), s"delta side lost its broadcast:\n$p")
    assert(df.columns.toSeq ==
      Seq("delta_id", "corpus_id", "shared", "n_d", "n_c", "jaccard"))
  }

  test("weighted sample: bounded-heap selection, ZERO window nodes") {
    // the global fixed-size draw must come from map-side k-heaps (one
    // partitions·k-row exchange to a single merge), never a global
    // sort or a window over the corpus
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Pipeline.weightedSample(
      spark.table("documents"), greatest(col("n_chars"), lit(1L)), k = 200)
    val p = planOf(df)
    assert(windowNodes(df) == 0, s"weighted sample grew a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"weighted sample lost its bounded-heap aggregate:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("\nSort"),
      s"weighted sample plans a sort/join it doesn't need:\n$p")
  }

  test("chi-square drift: sources side broadcast, no corpus re-shuffle") {
    // everything downstream of the one corpus pass runs on the
    // Zipf-bounded grid; the |sources|-row totals side must broadcast
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Quality.chiSquareDrift(
      spark.table("documents"), "text", "source")
    val p = planOf(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"chisq grid lost the sources broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"chisq plans a cartesian:\n$p")
  }

  test("ks drift: totals broadcast; windows only on the bounded grid") {
    // one corpus histogram, then grid completion / cumulative ECDF /
    // argmax all run on the |sources| × |distinct lengths| relation;
    // the |sources|-row totals must broadcast (BNLJ, never a
    // CartesianProduct) and no sort-merge join may touch the corpus
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Quality.ksLengthDrift(
      spark.table("documents"), "text", "source")
    val p = planOf(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"ks grid lost the totals broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"ks plans a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ks grid join lost its broadcast:\n$p")
  }

  test("zipf fit: one rank window on the vocab-bounded relation, no joins") {
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Quality.zipfFit(
      spark.table("documents"), "text", "source")
    val p = planOf(df)
    assert(windowNodes(df) == 1, s"zipf fit grew extra windows:\n$p")
    assert(!p.contains("Join"), s"zipf fit plans a join it doesn't need:\n$p")
  }

  test("k-anonymity: ONE corpus histogram, ladder joins all broadcast") {
    // levels 1-2 and the per-group verdict re-aggregate the level-0
    // histogram (no second corpus pass); the verdict + two count
    // tables broadcast back onto the scan, and the verdict's internal
    // min0⋈min1 join is itself a broadcast over the bounded histogram
    // rollups — 4 BroadcastHashJoins total, zero sort-merge
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Pipeline.kAnonymize(
      spark.table("documents"), "text", k = 4)
    val p = planOf(df)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4,
      s"expected 4 broadcast ladder joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"kanon ladder join lost its broadcast:\n$p")
    assert(windowNodes(df) == 0, s"kanon grew a window:\n$p")
  }

  test("curation v2: consumes the component ARTIFACT — no pair/shingle recompute") {
    // The composed pipeline must read the persisted near-dup component
    // relation (InMemoryTableScan), never re-run the shingle kernel /
    // minhash chain inside its own plan (VERDICT r12 item 4's
    // "artifact-consuming shape"); the k-anon verdict and the bounded
    // sample id set broadcast back onto their scans; no cartesian.
    // Since r14 the GATED survivor relation is itself persisted (the
    // verdict's eager ladder checkpoint materializes it once; the
    // survivor scan reads the cache instead of re-running quality +
    // langid + digest window + component join — ADVICE r13), so the
    // executed top plan shows ONE window (pack cumsum; the digest
    // window lives inside the cached relation) and the gated
    // InMemoryTableScan alongside the artifact's.
    Corpus.registerSources(spark, sfDir)
    val df = SparkEntry.queries("x_pipeline_curation_v2")(spark, sfDir)
    val p = planOf(df)
    assert(p.contains("InMemoryTableScan"),
      s"curation v2 lost its persisted relations:\n$p")
    assert(!p.contains("shingle_hashes_e"),
      s"curation v2 recomputes shingles instead of consuming the artifact:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"curation v2 grew a cartesian:\n$p")
    // tree-collect on the OPTIMIZED plan, not the string regex: the
    // plan STRING expands the materialized cache's AdaptiveSparkPlan
    // (final + initial plans, double-printing the digest window), and
    // the physical tree hides everything under the AQE root; the
    // logical tree stops at the InMemoryRelation leaf, which is
    // exactly the "top plan only" semantics this pin wants
    val topWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.length
    assert(topWindows == 1,
      s"curation v2 window count (want pack cumsum only; digest window is cached):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"curation v2 verdict/sample joins lost their broadcast:\n$p")
    // the cached gated plan (not expanded in the executed top plan)
    // must still carry the digest window and consume the component
    // artifact — assert on the ANALYZED plan, which expands caches
    val ap = df.queryExecution.analyzed.toString
    assert(!ap.contains("shingle_hashes_e"),
      s"curation v2's cached gated relation recomputes shingles:\n$ap")
  }

  test("l-diversity: distinct-triple rollups, ladder joins all broadcast") {
    // same ladder discipline as kanon, but every rollup derives from
    // the bounded distinct-triple relation: the corpus is scanned for
    // ONE aggregation, then verdict + two diversity tables broadcast
    // back (5 BroadcastHashJoins incl. the verdict's two internal
    // bounded joins), zero sort-merge, zero windows
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Pipeline.lDiversify(
      spark.table("documents"), "text", l = 2)
    val p = planOf(df)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 5,
      s"expected 5 broadcast ladder joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ldiv ladder join lost its broadcast:\n$p")
    assert(windowNodes(df) == 0, s"ldiv grew a window:\n$p")
  }

  test("t-closeness: one corpus histogram, bounded grid, no sort-merge") {
    // classes, the global distribution and the total all derive from
    // the checkpointed histogram; the completed grid joins are all
    // broadcast over bounded sides
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Pipeline.tCloseness(
      spark.table("documents"), "text", tE6Max = 350000)
    val p = planOf(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"tclose grid lost a broadcast:\n$p")
    assert(windowNodes(df) == 0, s"tclose grew a window:\n$p")
  }

  test("margin mining: heap selection both directions, no corpus sort-merge") {
    // both NN legs are TopKDesc bounded aggregates against broadcast
    // sides; the only window allowed is the final rank over the
    // checkpointed |Q|·k candidate relation
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Similarity.marginMine(
      spark.table("embeddings"), queryEvery = 48, k = 4, topPairs = 3,
      benchMaxId = 500)
    val p = planOf(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"margin mine corpus leg lost its broadcast:\n$p")
    assert(windowNodes(df) <= 1, s"margin mine grew corpus windows:\n$p")
  }

  test("daily autocorr: one corpus agg, bounded-relation algebra after") {
    // the day histogram is the single corpus-sized aggregation; the
    // lag self-join and totals run on the checkpointed bounded series
    // with broadcast 1-row sides — no sort-merge, no cartesian
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Events.dailyAutocorr(
      spark.table("events").withColumn("ts_us", unix_micros(col("ts"))),
      maxLag = 7)
    val p = planOf(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"autocorr lost a broadcast:\n$p")
  }

  test("cusum change-point: one corpus agg, windows on the bounded series only") {
    // the day histogram is the only corpus-sized aggregation; prefix
    // windows, peak scalars and the flag join run on the checkpointed
    // bounded relation with broadcast 1-row sides
    val df = graft.ext.Events.cusumChangePoint(events)
    val p = planOf(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"cusum lost a broadcast:\n$p")
  }

  test("poisson bootstrap: B-fold expansion collapses map-side, one shuffle") {
    // the corpus×B expansion feeds a partial aggregate — each
    // partition reduces to <= B rows before the single rep-keyed
    // exchange; no window, no sort-merge join
    Corpus.registerSources(spark, sfDir)
    val df = graft.ext.Quality.poissonBootstrap(
      spark.table("documents"), "text", b = 32)
    val p = planOf(df)
    assert(shuffles(df) == 1, s"expected exactly 1 shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && windowNodes(df) == 0,
      s"bootstrap grew a join/window:\n$p")
  }

  test("knn graph: heap selection, ZERO window nodes") {
    // the graph-curation input relation: per-vector top-k must come
    // from partial heaps (map-side ≤ k rows per partition), never a
    // per-vector window sort — a dense cell must not inflate a reducer
    Corpus.registerSources(spark, sfDir)
    val idx = Corpus.ivfIndex(spark, sfDir)
    val df = graft.ext.Similarity.knnGraph(idx.assigned, k = 3)
    val p = planOf(df)
    assert(windowNodes(df) == 0, s"knn graph grew a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"topk agg lost object agg:\n$p")
  }

  test("semantic clusters consume the persisted kNN artifact; values match the inline form") {
    // r14: x_sim_clusters reads the persisted kNN-graph artifact (the
    // dedup component-artifact contract). The component fixpoint runs
    // eagerly at construction, so the returned plan roots at the
    // label checkpoint — the pins here are (a) the artifact really is
    // persisted (consumers scan cache, not a re-derived N^1.5 cell
    // join) and (b) the artifact form is value-identical to the
    // inline semanticClusters it replaced.
    Corpus.registerSources(spark, sfDir)
    val art = graft.ExtShared.knnGraphArtifact(spark, sfDir)
    assert(art.storageLevel.useMemory, "knn artifact is not persisted")
    val viaArtifact = graft.ext.Similarity
      .semanticClustersFromKnn(art, minCosE6 = 300000)
      .orderBy("vec_id").collect().map(_.toSeq)
    val inline = graft.ext.Similarity.semanticClusters(
        Corpus.ivfIndex(spark, sfDir).assigned, k = 3, minCosE6 = 300000)
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(viaArtifact.toSeq == inline.toSeq,
      "artifact-consuming clusters diverge from the inline form")
  }

  test("percentile ensemble: histogram lookups broadcast, no corpus sort") {
    // the whole point vs percent_rank: no global sort of the corpus —
    // the only Sort allowed is inside the 64-row histogram windows
    val df = graft.ext.Quality.percentileEnsemble(docs, "text")
    val p = planOf(df)
    assert(!p.contains("SortMergeJoin"),
      s"percentile lookup lost its broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3,
      s"expected 3 broadcast bin lookups:\n$p")
  }

  test("no CartesianProduct in any declared query plan") {
    // Every crossJoin in the library is against a broadcast 1-row or
    // dimension-sized side (plans show BroadcastNestedLoopJoin);
    // a CartesianProduct node means someone lost the broadcast.
    // Streaming queries are skipped via QueryDef.streaming (VERDICT
    // r11 item 3 — the previous hand-list drifted and five twins
    // executed full streaming jobs inside this sweep): their fn runs
    // a real streaming job and returns a trivial sink scan.
    Corpus.registerSources(spark, sfDir)
    for (d <- SparkEntry.allDefs if !d.streaming) {
      val plan = planOf(d.fn(spark, sfDir))
      assert(!plan.contains("CartesianProduct"),
        s"${d.name} plans a CartesianProduct:\n$plan")
    }
  }
}
