package graft.ext

import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation — the
  * training-data-pipeline extension surface (BASELINE.json north_star;
  * SURVEY §7.5). All operators are pure DataFrame algebra: one shuffle
  * per groupBy/join, no driver-side loops, no UDF in the candidate-pair
  * hot path.
  *
  * Scale shapes:
  *  - exact: hash-groupBy on a digest → shuffle is (digest, doc_id)
  *    pairs only, never the text.
  *  - MinHash+LSH: shingle → signature (k mins) → band buckets →
  *    candidate pairs within buckets → exact-Jaccard verify. Candidate
  *    generation is the only quadratic step and is bounded per bucket;
  *    at 100 TB you additionally salt oversized buckets (a bucket with
  *    B docs yields B² pairs — cap B and spill the long tail to a
  *    second pass).
  *  - SimHash: 64-bit sketch, hamming-ball lookup via band equality.
  *  - n-gram Jaccard: blocking on shared shingles, exact verify.
  */
object Dedup {

  /** Portable 60-bit hash: int value of the first 15 hex chars of the
    * md5 — identical in Spark (`conv(substr(md5(x),1,15),16,10)`) and
    * DuckDB (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), so sketch
    * queries stay oracle-checkable. xxhash64 would be faster but is
    * engine-specific; swap in production.
    */
  def portableHash(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  val MersennePrime: Long = 2147483647L // 2^31-1: a*h+b stays < 2^62

  /** Deterministic affine MinHash parameters (a_i, b_i), i < k. */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = 1L + (math.abs(2654435761L * (i + 1)) % (MersennePrime - 1))
      val b = math.abs(40503L * (i + 7) * 2654435761L) % MersennePrime
      (a, b)
    }

  /** Exact duplicate groups by content digest. Output one row per
    * distinct content: digest, group size, kept (min) id, max id.
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keep_id"),
        max(col(idCol)).as("max_id"))

  /** Soft dedup: instead of DROPPING duplicates, down-WEIGHT them —
    * every copy of a content appearing n times gets sampling weight
    * 1/n, so each distinct content contributes one document's worth of
    * expected training mass while the corpus keeps its size and mix
    * (the NeMo-Curator / "soft dedup" recipe; hard dedup is the
    * `keep_id` filter, which this subsumes via `is_canonical`).
    *
    * Shapes: the digest agg is the [[exactGroups]] shuffle; the join
    * back is digest-keyed on both sides (no broadcast — the group
    * relation is distinct-content-sized). Weight is an integer
    * permille DIV: both operands positive, so Spark's truncation and
    * DuckDB's floor agree.
    */
  def softDedupWeights(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol).cast("binary")).as("content_md5"))
      .join(exactGroups(docs, textCol, idCol)
          .select("content_md5", "n_copies", "keep_id"),
        "content_md5")
      .select(col(idCol), col("n_copies"),
        expr("1000 DIV n_copies").as("weight_permille"),
        (col(idCol) === col("keep_id")).as("is_canonical"))

  /** Distinct token shingles (n-grams of tokens, space-joined). */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = Tokenizer.tokensCol(col(textCol))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array())
    docs.select(col(idCol).as("doc_id"), explode(grams).as("shingle")).distinct()
  }

  /** The shingle artifact in its NARROW form: (doc_id, shingle BIGINT)
    * where the value is the raw portable hash of the space-joined
    * token n-gram, computed by the compiled `shingle_hashes_e` kernel
    * (one codegen'd call per doc, distinct in-row — no interpreted
    * shingle-string lambda, no corpus-wide string DISTINCT). Drop-in
    * replacement for [[shingles]] everywhere downstream: the column
    * keeps the name `shingle`, and every consumer only ever joins,
    * groups, or permutes it — with 8-byte keys instead of strings
    * through the blocking self-join (the dedup family's dominant
    * shuffle at scale). Pass `preHashed = true` to
    * [[minhashSignatures]] over this form.
    */
  def shingleHashes(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    graft.functions.ShingleFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.ShingleFunctions.shingle_hashes_e(
        lower(col(textCol)), n)).as("shingle"))
  }

  /** MinHash signatures: k affine permutations over portable shingle
    * hashes; one groupBy(doc) computes all k mins in a single pass.
    * `preHashed = true` means `sh.shingle` already IS the portable
    * hash ([[shingleHashes]]) — skip the md5.
    */
  def minhashSignatures(sh: DataFrame, k: Int,
      preHashed: Boolean = false): DataFrame = {
    val raw = if (preHashed) col("shingle") else portableHash(col("shingle"))
    val h = pmod(raw, lit(MersennePrime)).as("h")
    val withH = sh.select(col("doc_id"), h)
    val mins = minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(MersennePrime))).as(s"mh_$i")
    }
    withH.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: signatures split into `bands` bands of
    * `k/bands` rows; docs sharing any full band become a candidate pair.
    *
    * `maxBucket` guards the quadratic blowup of hot buckets at scale
    * (a bucket of B docs emits B² pairs). Buckets above the cap are:
    *
    *  - with `saltOversized = true` (the scale path): RE-KEYED on the
    *    band key extended by one extra signature row (the first row of
    *    the NEXT band, wrapping) — the promised salted second pass.
    *    Hot-bucket docs whose salt row agrees (near-identical docs —
    *    exactly the docs that make buckets hot) stay candidates inside
    *    smaller refined buckets; pairs differing on the salt row are
    *    the documented trade for bounding the quadratic step.
    *  - with `saltOversized = false`: EXCLUDED, never silently — the
    *    count of skipped buckets is logged.
    *
    * Default: uncapped.
    */
  def lshCandidates(sigs: DataFrame, k: Int, bands: Int,
      maxBucket: Option[Int] = None, saltOversized: Boolean = false): DataFrame = {
    val rowsPerBand = k / bands
    val bandDfs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      val saltIdx = ((b + 1) * rowsPerBand) % k
      sigs.select(col("doc_id"), lit(b).as("band"),
        concat_ws("_", cols: _*).as("band_key"),
        col(s"mh_$saltIdx").cast("string").as("__salt"))
    }
    // the banded relation feeds the self-join twice (and, when capped,
    // the bucket-size aggregation + both size branches) — persist it so
    // the shingle→signature pipeline runs once, not 2-4×. Both persists
    // are RELEASED before returning (ADVICE r3): the candidate-pair
    // output is eagerly localCheckpoint'ed (tiny — pairs only), so the
    // banded blocks aren't needed afterwards and repeated calls don't
    // accumulate cached corpus-sized relations.
    val banded0 = bandDfs.reduce(_ unionByName _).persist()
    val banded = (maxBucket match {
      case None => banded0.drop("__salt")
      case Some(cap) =>
        val sizes = banded0.groupBy("band", "band_key")
          .agg(count(lit(1)).as("__bucket_n"))
        val withN = banded0.join(sizes, Seq("band", "band_key"))
        val small = withN.filter(col("__bucket_n") <= cap)
        if (saltOversized) {
          // salted second pass: numeric band keys never contain 's', so
          // the refined keyspace cannot collide with intact buckets
          val hot = withN.filter(col("__bucket_n") > cap)
            .withColumn("band_key",
              concat_ws("_", col("band_key"), lit("s"), col("__salt")))
          small.unionByName(hot).drop("__bucket_n", "__salt")
        } else {
          val dropped = sizes.filter(col("__bucket_n") > cap).count()
          if (dropped > 0)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"lshCandidates: excluding $dropped oversized buckets (> $cap docs); " +
                "pass saltOversized=true to refine them instead")
          small.drop("__bucket_n", "__salt")
        }
    }).persist()
    try {
      val a = banded.as("a")
      val b2 = banded.as("b")
      a.join(b2,
          col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .localCheckpoint(true)
    } finally {
      banded.unpersist()
      banded0.unpersist()
    }
  }

  /** Near-duplicate pairs by n-gram Jaccard with shared-shingle blocking
    * (no LSH; exact verify — the brute-force baseline). Blocking keeps
    * it off the full cross product: only pairs sharing ≥1 shingle are
    * scored.
    *
    * `maxShingleDf` caps the quadratic step: a shingle appearing in F
    * docs emits F² candidate rows in the blocking self-join, so one
    * stop-shingle ("of the and") makes the operator quadratic on a
    * skewed corpus. With the cap, shingles with document frequency
    * above it are excluded from BLOCKING ONLY (the skipped count is
    * logged, the `lshCandidates` pattern) — shared counts stay EXACT:
    * cold-shingle matches are counted inside the blocking join itself
    * and hot-shingle matches are re-added from just the hot rows (a
    * small relation by construction), so reported jaccard values are
    * identical to the uncapped operator's for every surviving pair
    * without ever re-joining full shingle sets. The documented trade: a pair
    * sharing exclusively hot shingles is missed — at threshold-grade
    * similarity such pairs share many shingles, nearly all rare, so the
    * cap costs ~no recall while bounding the join at df²·cap.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Int] = None): DataFrame =
    // consumed 3-4× (pair join ×2 sides + sizes [+ df]): persist the explode
    ngramJaccardPairsFromShingles(
      shingles(docs, textCol, idCol, n).persist(), threshold, maxShingleDf)

  /** [[ngramJaccardPairs]] over a PREBUILT (persisted) shingle relation —
    * the artifact form: one shingle explode can feed this, the minhash
    * pipeline, and doc-size stats (lifecycle owned by the caller).
    */
  def ngramJaccardPairsFromShingles(sh: DataFrame, threshold: Double,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = maxShingleDf match {
      case None =>
        // uncapped: count shared shingles directly in the blocking join
        sh.as("x").join(sh.as("y"),
            col("x.shingle") === col("y.shingle") &&
            col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
      case Some(cap) =>
        val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("__df")).persist()
        val hot = dfs.filter(col("__df") > cap).count()
        if (hot > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"ngramJaccardPairs: excluding $hot shingles with df > $cap from " +
              "blocking (hot contributions re-added exactly from the hot rows only)")
        val blockSh = sh.join(dfs.filter(col("__df") <= cap), "shingle")
          .select("doc_id", "shingle")
        // shared COLD shingles counted directly in the blocking join —
        // no distinct + no full-set re-join (that re-join was 2.5× the
        // whole operator at sf0.1)
        val sharedCold = blockSh.as("x").join(blockSh.as("y"),
            col("x.shingle") === col("y.shingle") &&
            col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .agg(count(lit(1)).as("__cold"))
        // hot contributions: candidates already share a cold shingle,
        // so matches over JUST the hot rows (df > cap) keep `shared`
        // exact. Counted IN-ROW: each doc's hot shingles collapse to
        // one sorted array (≤ doc-size entries — bounded), the pair
        // relation joins those 1-row-per-doc arrays, and the compiled
        // two-pointer merge (SortedIntersect — the triangle-counting
        // kernel) counts the overlap. The r8 row-expansion form
        // (pairs ⋈ hot-rows ⋈ hot-rows) exploded to pairs×hot-per-doc
        // intermediate rows the moment the corpus had ANY hot
        // shingles — on the r9 fixture at sf1 that was 2 extra ~90M-row
        // shuffles and a 21× scale slope; this form is two joins
        // against a docs-sized relation and no expansion at all.
        val hotArr = sh.join(dfs.filter(col("__df") > cap), "shingle")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("shingle"))).as("__hs"))
        try
          sharedCold
            .join(hotArr.select(col("doc_id").as("id_a"), col("__hs").as("__ha")),
              Seq("id_a"), "left")
            .join(hotArr.select(col("doc_id").as("id_b"), col("__hs").as("__hb")),
              Seq("id_b"), "left")
            .withColumn("shared", col("__cold") +
              when(col("__ha").isNull || col("__hb").isNull, lit(0L))
                .otherwise(size(graft.functions.IntersectFunctions
                  .sorted_intersect(col("__ha"), col("__hb"))).cast("long")))
            .select("id_a", "id_b", "shared")
            .localCheckpoint(true) // bounded: candidate pairs only
        finally dfs.unpersist()
    }
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri/Ganti/
    * Kaushik SSJoin, ICDE 2006; Bayardo/Ma/Srikant "Scaling Up All
    * Pairs", WWW 2007): order every doc's shingles by a GLOBAL total
    * order (ascending document frequency, shingle hash as tiebreak) and
    * take each doc's first `n - ceil(t*n) + 1` shingles as its prefix.
    * Any pair with Jaccard >= t must share |x∩y| >= ceil(t*|x|)
    * shingles, so the order-smallest shared shingle provably lands in
    * BOTH prefixes — joining prefix-on-prefix generates every
    * qualifying pair (exact, unlike a df cap's hot-only-pair recall
    * trade) while corpus-hot shingles sort LAST and never block: the
    * stop-shingle df² term that makes shared-shingle blocking go
    * quadratic on a grown corpus (r7: 15.4× time for 10× data) never
    * enters the join. Verification counts shared shingles over the
    * FULL sets, candidates only.
    *
    * 100 TB shape: dfs + sizes are one shuffle each over the shingle
    * relation; the prefix window is one shuffle by doc; the candidate
    * join is bounded by Σ prefix-df² over RARE shingles. CAVEAT,
    * measured (PLANS_r9.md §3): this bound is near-linear only while
    * the shingle UNIVERSE grows with the corpus (natural vocabulary).
    * On a saturated universe (template-generated corpora: distinct
    * 3-shingles 27k→36k for 10× docs, so every df inflates ∝N and even
    * each doc's rarest shingles go corpus-hot) the join is Θ(N²) —
    * there the df-capped form (ngramJaccardPairsFromShingles with
    * maxShingleDf) is the scale path, trading away hot-only-overlap
    * pairs, and this exact form is the wrong tool.
    */
  def ngramJaccardPairsPrefix(sh: DataFrame, threshold: Double): DataFrame = {
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // ceil(t*n - 1e-9): the epsilon keeps exact-integer t*n from float-
    // rounding UP a boundary (a too-short prefix would lose pairs; a
    // too-long one only costs candidates) and matches the oracle's IEEE
    // arithmetic exactly
    val w = Window.partitionBy("doc_id").orderBy(col("__df"), col("shingle"))
    val prefix = sh.join(dfs, "shingle")
      .withColumn("__rn", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("__rn") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select("doc_id", "shingle")
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val shared = cands
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash+LSH near-dup pipeline: candidates from band collisions,
    * then exact-Jaccard verification of candidates only.
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    // consumed 4× (signatures, verify join ×2 sides, sizes)
    val sh = shingles(docs, textCol, idCol, shingleN).persist()
    minhashNearDupsFromArtifacts(sh, minhashSignatures(sh, k), k, bands, threshold)
  }

  /** [[minhashNearDups]] over PREBUILT shingle + signature artifacts
    * (both persisted by the caller): candidates from the signatures,
    * exact-Jaccard verify from the shingles — neither pipeline reruns.
    */
  def minhashNearDupsFromArtifacts(sh: DataFrame, sigs: DataFrame,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    val cands = lshCandidates(sigs, k, bands)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shared = cands
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
  }

  /** [[minhashNearDupsFromArtifacts]] over the PER-DOC ARRAY form of
    * the shingle artifact — (doc_id, __arr sorted array<bigint>, n_sh)
    * — instead of the exploded relation (r15, VERDICT item 4; the
    * [[containmentPairs]] r14 verify shape). The exploded verify
    * re-joined candidates against the full (doc, shingle) relation
    * twice: Σ n_sh(a) rows expanded per candidate pair through two
    * exchanges, then an (id_a, id_b)-keyed count plus a separate
    * doc-size aggregation over the whole exploded relation. Here the
    * pair join touches only candidate docs' SINGLE array rows, `shared`
    * is the compiled two-pointer merge count (`sorted_intersect`), and
    * sizes ride the same rows — at sf1 this was ~14.6 s of the 20 s
    * pair-artifact build (r15; VERDICT.md's r15 table). Inputs are per-doc
    * duplicate-free by the shingle producers' contract, so the merge
    * count equals the join count exactly; the explicit `shared > 0`
    * filter reproduces the exploded form's inner-join row set for ANY
    * threshold (with threshold > 0 it is already implied).
    */
  def minhashNearDupsFromDocArrs(arrs: DataFrame, sigs: DataFrame,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    val cands = lshCandidates(sigs, k, bands)
    cands
      .join(arrs.select(col("doc_id").as("id_a"), col("__arr").as("__aa"),
        col("n_sh").as("n_a")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("__arr").as("__ab"),
        col("n_sh").as("n_b")), "id_b")
      .withColumn("shared",
        size(graft.functions.IntersectFunctions
          .sorted_intersect(col("__aa"), col("__ab"))).cast("long"))
      .filter(col("shared") > 0)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
  }

  /** Incremental delta-vs-corpus near-dup screen — the production
    * ingestion path: dedup a NEWLY ARRIVED batch against the existing
    * corpus without ever comparing corpus×corpus. Both sides get the
    * same shingle→signature→band treatment (a doc's signature doesn't
    * depend on which side it's on, so results equal the full self-join
    * restricted to cross pairs — which is what the oracle checks); the
    * candidate join is delta-bands ⋈ corpus-bands on (band, band_key),
    * with the delta side BROADCAST — at 100 TB the corpus's banded
    * relation is a pre-built artifact read in place and the corpus
    * never shuffles, while the day's delta is millions of rows, not
    * billions. Exact-Jaccard verification then touches only candidate
    * pairs' shingles.
    */
  def deltaNearDups(corpus: DataFrame, delta: DataFrame, textCol: String,
      idCol: String, shingleN: Int, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val shC = shingles(corpus, textCol, idCol, shingleN).persist()
    val shD = shingles(delta, textCol, idCol, shingleN).persist()
    try {
      deltaNearDupsFromArtifacts(shC, minhashSignatures(shC, k),
        shD, minhashSignatures(shD, k), k, bands, threshold)
    } finally {
      shC.unpersist()
      shD.unpersist()
    }
  }

  /** The LSH banded-key relation of a signature table: (doc_id, band,
    * band_key) — the join key the candidate passes block on. Factored
    * so the batch delta screen and its streaming twin share one
    * band-key derivation (same concat of the same mh columns), which
    * is what makes a streamed row land in exactly the band buckets the
    * persisted corpus index was built with.
    */
  def bandedKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh_$i"))
      sigs.select(col("doc_id"), lit(b).as("band"),
        concat_ws("_", cols: _*).as("band_key"))
    }.reduce(_ unionByName _)
  }

  /** In-row MinHash signature columns over a doc's (already-distinct)
    * shingle-hash ARRAY — the STREAMING form of [[minhashSignatures]]:
    * a signature depends only on its own doc's shingles, so a streamed
    * row computes it as a pure projection (no stateful aggregation).
    * The per-element expression tree is IDENTICAL to the batch
    * aggregate's (pmod(a·pmod(h, P) + b, P), same literals), so a
    * streamed signature equals the persisted artifact's bit-for-bit.
    */
  def inRowSignature(shArr: Column, k: Int): Seq[Column] =
    minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(shArr,
        x => pmod(lit(a) * pmod(x, lit(MersennePrime)) + lit(b),
          lit(MersennePrime)))).as(s"mh_$i")
    }

  /** [[deltaNearDups]] over PREBUILT shingle + signature artifacts,
    * pre-split by side (lifecycles owned by the caller) — the
    * production form: at ingestion the corpus's shingles, signatures
    * and banded relation are a PERSISTED INDEX read in place, and only
    * the delta's (small) pipeline runs fresh.
    */
  def deltaNearDupsFromArtifacts(shC: DataFrame, sigC: DataFrame,
      shD: DataFrame, sigD: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    def banded(sigs: DataFrame, side: String): DataFrame =
      bandedKeys(sigs, k, bands).select(col("doc_id").as(side),
        col("band"), col("band_key"))
    val cands = banded(sigC, "corpus_id")
      .join(broadcast(banded(sigD, "delta_id")), Seq("band", "band_key"))
      .select("delta_id", "corpus_id").distinct()
      .localCheckpoint(true)
    val sizesC = shC.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val sizesD = shD.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    cands
      .join(shD.select(col("doc_id").as("delta_id"), col("shingle")), "delta_id")
      .join(shC.select(col("doc_id").as("corpus_id"), col("shingle")),
        Seq("corpus_id", "shingle"))
      .groupBy("delta_id", "corpus_id").agg(count(lit(1)).as("shared"))
      .join(sizesD.select(col("doc_id").as("delta_id"), col("n_sh").as("n_d")),
        "delta_id")
      .join(sizesC.select(col("doc_id").as("corpus_id"), col("n_sh").as("n_c")),
        "corpus_id")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_d") + col("n_c") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("delta_id", "corpus_id", "shared", "n_d", "n_c", "jaccard")
      // eager + tiny (pairs only): callers can release their shingle
      // caches immediately without a recompute-on-read
      .localCheckpoint(true)
  }

  /** [[deltaNearDupsFromArtifacts]] over the PER-DOC ARRAY form of the
    * shingle artifact, split by side — the same r15 verify reshape as
    * [[minhashNearDupsFromDocArrs]] (two 1:1 array joins + compiled
    * two-pointer merge instead of expanding every candidate pair
    * through the exploded relation twice plus two doc-size
    * aggregations). A doc's array row depends only on its own
    * shingles, so the per-side FILTER of the all-docs array artifact
    * IS the per-side build (the x_dedup_delta convention). The
    * `shared > 0` filter reproduces the exploded form's inner-join
    * row set for ANY threshold.
    */
  def deltaNearDupsFromDocArrs(arrsC: DataFrame, sigC: DataFrame,
      arrsD: DataFrame, sigD: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    def banded(sigs: DataFrame, side: String): DataFrame =
      bandedKeys(sigs, k, bands).select(col("doc_id").as(side),
        col("band"), col("band_key"))
    val cands = banded(sigC, "corpus_id")
      .join(broadcast(banded(sigD, "delta_id")), Seq("band", "band_key"))
      .select("delta_id", "corpus_id").distinct()
      .localCheckpoint(true)
    cands
      .join(arrsD.select(col("doc_id").as("delta_id"), col("__arr").as("__da"),
        col("n_sh").as("n_d")), "delta_id")
      .join(arrsC.select(col("doc_id").as("corpus_id"), col("__arr").as("__ca"),
        col("n_sh").as("n_c")), "corpus_id")
      .withColumn("shared",
        size(graft.functions.IntersectFunctions
          .sorted_intersect(col("__da"), col("__ca"))).cast("long"))
      .filter(col("shared") > 0)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_d") + col("n_c") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("delta_id", "corpus_id", "shared", "n_d", "n_c", "jaccard")
      .localCheckpoint(true)
  }

  /** Asymmetric CONTAINMENT screen — superset/quote detection, the
    * measure Jaccard near-dup misses by construction: when a short
    * document A sits verbatim inside a much larger B (a quoted post, a
    * boilerplate-wrapped article, a concatenation shard),
    * J(A,B) = |A∩B|/|A∪B| ≈ |A|/|B| stays far below any dedup
    * threshold while C(A→B) = |S_A ∩ S_B|/|S_A| is ~1. Emits one row
    * per DIRECTED pair with containment ≥ `thresholdPermille`:
    * (contained_id, container_id, n_contained, n_container, shared,
    * containment_permille) — permille in exact integer arithmetic
    * (`shared·1000 DIV n_contained`), so both engines agree
    * bit-for-bit; mutual containment (near-identical docs) emits both
    * directions.
    *
    * Candidate generation: pairs sharing a RARE shingle — corpus
    * document frequency in [2, dfMax]. A contained doc's shingles all
    * appear in its container, so the pair is missed only if EVERY
    * shared shingle is corpus-common (boilerplate-only containment —
    * out of scope by design; the boilerplate miner covers that). The
    * df cap bounds the self-join's fan-out at Σ_rare C(df,2) ≤
    * dfMax·|rare postings| — linear in the shingle relation, never
    * pair-quadratic in the corpus. Verification is the exact shared
    * count via the shingle equi-join restricted to the (checkpointed,
    * tiny) candidate relation — [[deltaNearDupsFromArtifacts]]'s
    * shape. `minShingles` floors the contained side so trivially
    * short docs can't flood the report.
    *
    * At 100 TB: the shingle relation is the persisted dedup index;
    * the df table is one map-side-combined agg over it; candidates
    * shuffle only rare postings (df-capped); the verify join hashes
    * by (doc, shingle) with the candidate side broadcast-small.
    */
  def containmentPairs(shingles: DataFrame, dfMax: Int = 8,
      minShingles: Int = 10, thresholdPermille: Int = 800): DataFrame = {
    val sh = shingles.select(col("doc_id"), col("shingle"))
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= dfMax)
      .select("shingle")
    val rarePost = sh.join(rare, "shingle")
    val cands = rarePost.select(col("doc_id").as("id_a"), col("shingle"))
      .join(rarePost.select(col("doc_id").as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .localCheckpoint(true)
    // r14 OPTIMIZATION (guide §2.3 — shuffle fewer bytes): the verify
    // stage used to re-join the candidate pairs against the FULL
    // (doc, shingle) relation twice (per-pair row expansion of
    // Σ n_sh(a) rows through two exchanges, then an (id, shingle)-keyed
    // count agg). The shingle relation collapses ONCE to per-doc sorted
    // arrays (doc-sized rows; sizes ride the same agg), the pair join
    // touches only candidate docs' single rows, and `shared` is the
    // compiled two-pointer merge count (SortedIntersect — the n-gram
    // hot-shingle / triangle-closure kernel). Inputs are per-doc
    // duplicate-free by the shingle producers' contract
    // ([[shingles]] is `.distinct()`, [[shingleHashes]] distinct
    // in-row), so the merge count equals the join count exactly.
    val arrs = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("__arr"),
        count(lit(1)).as("n_sh"))
    val shared = cands
      .join(arrs.select(col("doc_id").as("id_a"), col("__arr").as("__aa"),
        col("n_sh").as("n_a")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("__arr").as("__ab"),
        col("n_sh").as("n_b")), "id_b")
      .withColumn("shared",
        size(graft.functions.IntersectFunctions
          .sorted_intersect(col("__aa"), col("__ab"))).cast("long"))
      .select("id_a", "id_b", "shared", "n_a", "n_b")
    val dirA = shared.select(col("id_a").as("contained_id"),
      col("id_b").as("container_id"), col("n_a").as("n_contained"),
      col("n_b").as("n_container"), col("shared"))
    val dirB = shared.select(col("id_b").as("contained_id"),
      col("id_a").as("container_id"), col("n_b").as("n_contained"),
      col("n_a").as("n_container"), col("shared"))
    dirA.unionByName(dirB)
      .withColumn("containment_permille",
        expr("shared * 1000 DIV n_contained"))
      .filter(col("n_contained") >= minShingles &&
        col("containment_permille") >= thresholdPermille)
  }

  /** 60-bit SimHash from portable token hashes: per-bit majority vote
    * of token-hash bits, computed by the compiled in-row kernel
    * `simhash_e` — one projection over the doc row, no explode and no
    * exchanges (r15, guide §1.2/§2.4; value parity with
    * [[simhashAgg]], the former two-aggregation relational form, is
    * pinned by SimhashKernelSpec and by the x_dedup_simhash DuckDB
    * oracle, which still computes the relational SQL). Docs with no
    * tokens emit no row in either form.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String,
      bits: Int = 60): DataFrame = {
    graft.functions.SimhashFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
        graft.functions.SimhashFunctions.simhash_e(
          lower(col(textCol)), bits).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** The RELATIONAL SimHash build — [[simhash]]'s former
    * implementation (token explode → groupBy(doc, token) weights →
    * groupBy(doc) with `bits` conditional sums), kept as the parity
    * reference the kernel is tested against (SimhashKernelSpec); the
    * production path is the kernel.
    */
  private[graft] def simhashAgg(docs: DataFrame, textCol: String,
      idCol: String, bits: Int = 60): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(Tokenizer.tokensCol(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("w"))
      .withColumn("h", portableHash(col("token")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("w"))
        .otherwise(-col("w"))).as(s"b_$j")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-duplicate pairs: band the 60-bit sketch into
    * `bands` contiguous slices; docs sharing any slice value become
    * candidates (a doc pair within hamming distance d is guaranteed to
    * collide on some band when d < bands); verify with
    * `bit_count(xor) <= maxHamming`. Fully relational + portable-hash
    * based, so oracle-checkable end to end.
    */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      bits: Int = 60, bands: Int = 4, maxHamming: Int = 3): DataFrame =
    hashNearDups(simhash(docs, textCol, idCol, bits), "simhash", "doc_id",
      bits, bands, maxHamming)

  /** Banded near-dup pairs over ANY precomputed ≤63-bit signature
    * column (the [[simhashNearDups]] candidate machinery, factored out
    * so other fingerprints — e.g. image perceptual hashes — reuse it):
    * signatures band into `bands` contiguous bit slices, candidates
    * share a slice, survivors have XOR popcount ≤ `maxHamming`.
    */
  def hashNearDups(sigs0: DataFrame, hashCol: String, idCol: String,
      bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    val sigs = sigs0
      .select(col(idCol).as("doc_id"), col(hashCol).as("simhash")).persist()
    val sliceBits = bits / bands
    val banded = (0 until bands).map { b =>
      sigs.select(col("doc_id"), col("simhash"), lit(b).as("band"),
        shiftright(col("simhash"), b * sliceBits)
          .bitwiseAND((1L << sliceBits) - 1).as("band_key"))
    }.reduce(_ unionByName _)
    val a = banded.as("a")
    val b2 = banded.as("b")
    a.join(b2,
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Keep-one winner per duplicate group (smallest id), as a filterable
    * flag — the REPLACE-style dedup used by the indexer generalized to
    * content identity.
    */
  def dedupKeepFirst(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .withColumn("is_duplicate", col("__rn") > 1)
      .drop("__rn")
  }

  /** Exact duplicated-substring spans — the span-granular member of the
    * dedup family (the idea behind suffix-array substring dedup in Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): a token k-gram occurring in
    * ≥ `minDf` DISTINCT documents marks its start position as
    * duplicated; duplicated start positions whose k-token intervals
    * overlap or touch (successive starts ≤ k apart) merge into maximal
    * NON-OVERLAPPING spans covering tokens `[span_start, span_end]`
    * (0-based, inclusive) — so `span_tokens` sums to exactly the
    * duplicated-token coverage, never double-counting (the r5 advisor
    * case: starts {0, 2} at k=8 are ONE span [0, 9], not overlapping
    * [0,7] + [2,9]). Doc-level dedup keeps or drops whole documents;
    * this finds the shared boilerplate REGIONS inside otherwise-distinct
    * documents, the input to span-level cutting.
    *
    * Scale shape: corpus-sized work is (1) one positional k-gram
    * explode (8-byte portable hashes — gram strings never leave the
    * row), (2) a gram-keyed distinct-doc count, (3) a shuffle join back
    * on the 8-byte key, (4) a per-doc window bounded by document
    * length. No pair join anywhere — cost is linear in corpus token
    * count regardless of how many documents share a gram (contrast the
    * pair-explosion of candidate-based near-dup, bounded only by
    * salting). Within-doc repeats alone do NOT mark a span (`minDf`
    * counts distinct docs) — self-repetition is [[graft.ext.Quality]]'s
    * `ngramRepetition` signal, not duplication.
    */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minDf: Int = 2): DataFrame = {
    // positional gram hashes from the compiled kernel (same token +
    // portable-hash contract as shingle_hashes_e, value-pinned by the
    // oracle): element i IS the gram at start position i, so posexplode
    // yields (pos, gh) with no interpreted transform/concat_ws/md5
    // expression chain per gram — the same kernel-vs-relational win as
    // winnow/ngram_rep, on the dedup family's heaviest entry
    graft.functions.ShingleFunctions.register(docs.sparkSession)
    val pos = docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.ShingleFunctions.shingle_pos_hashes_e(
        lower(coalesce(col(textCol), lit(""))), k)).as(Seq("pos", "gh")))
    val dup = pos.join(
      pos.select("doc_id", "gh").distinct()
        .groupBy("gh").agg(count(lit(1)).as("gram_df"))
        .filter(col("gram_df") >= minDf),
      Seq("gh"))
    // Island break = start-position gap > k (intervals disjoint AND not
    // adjacent); a plain pos - row_number() group would split only on
    // gap > 1 and emit overlapping spans for gaps in 2..k. The lag and
    // the running sum share one (doc_id, pos) sort.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup.select(col("doc_id"), col("pos"))
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("__grp", sum("__brk").over(wRun))
      .groupBy("doc_id", "__grp")
      .agg(min("pos").as("span_start"), (max("pos") + lit(k) - 1).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_tokens"))
  }

  /** The CUTTING step over [[duplicateSpans]] (Lee et al. 2021 cut
    * duplicated substrings rather than dropping documents): per-doc
    * totals of tokens covered by cross-corpus duplicated spans vs
    * tokens kept. Because spans are maximal and NON-overlapping (the
    * island merge breaks only on start-gap > k), `cut_tokens` is the
    * exact covered-token count — summing spans cannot double-count.
    * Every doc appears, zero-span docs with cut_tokens = 0: the output
    * is the per-document budget table a span-cutting rewrite pass (or
    * a keep/drop policy on dup fraction) consumes.
    *
    * Scale shape: [[duplicateSpans]]'s linear pipeline + one span
    * rollup already keyed by doc + a doc-keyed LEFT join against the
    * in-row token counts — no new corpus-sized term beyond the span
    * detection itself; text never crosses an exchange.
    */
  def spanCutStats(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minDf: Int = 2): DataFrame =
    spanCutStatsFromSpans(duplicateSpans(docs, textCol, idCol, k, minDf),
      docs, textCol, idCol)

  /** [[spanCutStats]] over PRECOMPUTED spans — the artifact form: span
    * detection is the corpus-sized term, so a pipeline computes
    * [[duplicateSpans]] once (persisted) and derives both the span list
    * and the per-doc cut budgets from it.
    */
  def spanCutStatsFromSpans(spans: DataFrame, docs: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val cover = spans
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("cut_tokens"))
    docs
      .select(col(idCol).as("doc_id"),
        size(Tokenizer.tokensCol(col(textCol))).cast("long").as("total_tokens"))
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tokens"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("cut_tokens"), lit(0L)).cast("long").as("cut_tokens"),
        (col("total_tokens") -
          coalesce(col("cut_tokens"), lit(0L))).cast("long").as("kept_tokens"))
  }

  /** Connected components over near-duplicate pairs — the canonical-doc
    * step of a dedup pipeline: docs linked (directly or transitively)
    * by any pair share a component labeled by the component's MINIMUM
    * doc id; keep one doc per label, drop the rest.
    *
    * Algorithm: hash-min label propagation WITH pointer doubling — each
    * round every node takes the min of its own label, its neighbors'
    * labels, and its label's label (the shortcut step, which doubles
    * the propagation distance), so convergence is O(log diameter)
    * rounds instead of O(diameter) — long dup CHAINS would otherwise
    * need one round per hop. Each round is two joins + a groupBy; no
    * driver-side graph, the only driver state is the per-round
    * convergence count.
    *
    * @param pairs near-dup pairs with `id_a < id_b` (from
    *              [[minhashNearDups]], [[simhashNearDups]], ...)
    * @return one row per doc appearing in any pair:
    *         (doc_id, component) with component = min doc id reachable
    */
  def duplicateComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    duplicateComponentsChecked(pairs, maxIters)._1

  /** Dedup IMPACT audit — what each method would actually cost the
    * corpus: per method (exact-hash keep-first; MinHash component
    * keep-min), the docs and TOKENS removed. Token loss is the number
    * a training-data owner signs off on (docs are not equal-sized;
    * near-dup families skew long), and method-vs-method deltas flag
    * mis-set thresholds before anything is deleted. Consumes the
    * verified pair artifact; one doc-keyed join against per-doc token
    * counts, then a 2-row rollup — no pairwise work beyond the
    * artifact it audits.
    */
  def dedupImpact(docs: DataFrame, pairs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      components: Option[DataFrame] = None): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      size(graft.text.Tokenizer.tokensCol(col(textCol))).cast("long").as("__nt"))
    val dig = docs.select(col(idCol).as("doc_id"),
      md5(coalesce(col(textCol), lit("")).cast("binary")).as("__d"))
    val exKeep = dig
      .join(dig.groupBy("__d").agg(min(col("doc_id")).as("__k")), "__d")
      .select(col("doc_id"), (col("doc_id") === col("__k")).as("keep"),
        lit("exact").as("method"))
    // r14 OPTIMIZATION: callers holding the PREBUILT component artifact
    // (ExtShared.dupComponentsArtifact, warmed in dedup_build — the
    // pointer-doubled fixpoint over the same pair artifact) pass it in
    // instead of re-running label propagation here; content-identical
    // by construction, so the impact accounting is unchanged (the
    // split_leakproof / curation-v2 artifact-consumption precedent).
    val comp = components.getOrElse(duplicateComponents(pairs))
    val mhKeep = docs.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("component").isNull || col("component") === col("doc_id")).as("keep"),
        lit("minhash").as("method"))
    exKeep.unionByName(mhKeep).join(tok, "doc_id")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        sum(col("__nt")).as("tokens_total"),
        sum(when(!col("keep"), col("__nt")).otherwise(lit(0L))).as("tokens_dropped"))
      .withColumn("drop_permille",
        expr("(n_docs - n_kept) * 1000 DIV n_docs"))
  }

  /** [[duplicateComponents]] plus the convergence flag (ADVICE r3):
    * `false` means maxIters was exhausted before the fixpoint and the
    * labels may still be mid-propagation — callers doing canonical-doc
    * selection should treat that as an error. Non-convergence also
    * logs a WARN.
    */
  def duplicateComponentsChecked(pairs: DataFrame,
      maxIters: Int = 50): (DataFrame, Boolean) = {
    // LINEAGE DISCIPLINE: every iteration's frame is localCheckpoint'ed
    // (eager). Iterative self-referencing DataFrames otherwise grow
    // their LOGICAL plan geometrically (persist truncates execution,
    // not analysis), and planning time explodes after a few rounds.
    // The checkpoint also bounds executor lineage for fault recovery.
    // Each round RELEASES the previous round's checkpoint blocks once
    // the new frame is materialized (ADVICE r3) — long runs hold at
    // most two rounds' label frames, not the whole history.
    // r14 OPTIMIZATION (guide §2.4 / scale-adaptive partitioning): the
    // symmetrized edge list materializes in ONE pass (in-row explode
    // instead of persist + two-branch union — the old p0 cache froze
    // its compile-time partition count, so every round scanned 2×32
    // KB-sized partitions) through an AQE-sized repartition, giving
    // data-sized tasks locally and advisory-sized partitions at scale.
    // r15 (ADVICE r14 #2): the repartition keys on `dst`, NOT `src` —
    // each round's join keys on dst (edges ⋈ labels-as-dst), and a
    // localCheckpoint PRESERVES the captured hash layout, so the
    // per-round join reuses the edges' partitioning and only the
    // (node-sized) labels relation shuffles each round; the r14 `src`
    // layout satisfied neither the join (keyed dst) nor the
    // post-join groupBy (which re-shuffles the joined rows anyway) —
    // its measured benefit was only the data-sizing.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .repartition(col("dst"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("component", col("doc_id")).localCheckpoint(true)
    // convergence check: labels only ever DECREASE, so the label sum is
    // strictly monotone until fixpoint — one scalar aggregate per round
    // instead of a compare-join against the previous labels. The sum is
    // fused into the round's own checkpoint materialization via
    // observe() (the kcore r11 recipe): the per-round driver sync reads
    // an accumulator, it does not launch a second job.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component")).cast("decimal(38,0)")).collect()(0)
        .getDecimal(0)
    var obsRound = 0
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      obsRound += 1
      val name = s"cc_round_$obsRound"
      val obs = df.observe(name,
        sum(col("component")).cast("decimal(38,0)").as("lsum"))
      val st = obs.localCheckpoint(true)
      val s = obs.queryExecution.observedMetrics.get(name) match {
        case Some(row) => row.getDecimal(0)
        case None => labelSum(st) // fallback: cached-scan agg
      }
      (st, s)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    while (!converged && iter < maxIters) {
      val tRound = System.nanoTime()
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("component").as("nl")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("nl").as("nmin"))
      val stepped = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
      // pointer doubling: follow the label's own label (components point
      // at doc ids that are themselves labeled rows) — O(log diameter)
      val (updated, s) = checkpointWithSum(stepped
        .join(stepped.select(col("doc_id").as("__lid"), col("component").as("__lcomp")),
          col("component") === col("__lid"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("__lcomp"), col("component")))
            .as("component"))) // checkpoint truncates: next round plans from a leaf
      releaseCheckpoint(labels) // previous round's blocks: no longer referenced
      labels = updated
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
      log.info(f"duplicateComponents: round $iter labelSum=$s " +
        f"converged=$converged (${(System.nanoTime() - tRound) / 1e9}%.2f s)")
    }
    releaseCheckpoint(edges)
    if (!converged)
      log.warn(s"duplicateComponents: NOT converged after $maxIters rounds — " +
        "labels may be mid-propagation; use duplicateComponentsChecked and " +
        "treat converged=false as an error for canonical-doc selection")
    (labels, converged)
  }

  /** Canonical-representative selection over duplicate components —
    * the step after clustering in every published dedup pipeline
    * ("keep one document per cluster", Lee et al. 2021): for each
    * component, keep the member with the MOST tokens (keep-longest —
    * the policy that preserves the superset document when near-dups
    * are truncations of each other), ties broken on smallest doc_id.
    * Token counts use the index tokenizer, so "longest" is
    * content-length, not byte-length.
    *
    * Scale shape: the components relation is pair-derived (already
    * far smaller than the corpus); the token-length side is a narrow
    * (doc_id, n_tokens) projection joined on doc_id, and the argmax
    * is ONE component-partitioned window (row_number + count share
    * the same Exchange). Nothing corpus-sized crosses a shuffle:
    * text is reduced to its token COUNT in-row before the join.
    *
    * @param components (doc_id, component) from [[duplicateComponents]]
    * @return one row per component:
    *         (component, kept_doc_id, kept_n_tokens, n_members)
    */
  def keepRepresentative(components: DataFrame, docs: DataFrame,
      textCol: String, idCol: String = "doc_id"): DataFrame = {
    val sized = docs.select(col(idCol).as("doc_id"),
      size(Tokenizer.tokensCol(col(textCol))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("component"))
    components
      .join(sized, "doc_id")
      .withColumn("__rk", row_number().over(
        w.orderBy(col("n_tokens").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("__rk") === 1)
      .select(col("component"), col("doc_id").as("kept_doc_id"),
        col("n_tokens").as("kept_n_tokens"), col("n_members"))
  }

  /** Best-effort release of an eager localCheckpoint's blocks: the
    * checkpointed frame wraps a LogicalRDD whose RDD holds the blocks.
    * Only call on frames nothing references anymore (a localCheckpoint
    * cannot be recomputed once its blocks are gone). Shared across the
    * iterative operators (components, PageRank family, kcore/BFS,
    * BPE, k-means, power iteration) — r14 OPTIMIZATION: every round
    * loop releases its superseded round so checkpoint residency is
    * bounded to two state copies instead of O(rounds) (guide §5;
    * the ADVICE r13 kcenter finding applied engine-wide).
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
}
