package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond per-document analysis
  * (SURVEY §7.5 extension surface): corpus splitting, context-window
  * chunking, vocabulary/OOV profiling, benchmark-contamination
  * screening, and sequence packing. Every operator is a declared,
  * DuckDB-oracle-checked query; every shape is map-side or
  * key-partitioned — nothing global, nothing driver-side.
  */
object Pipeline {

  /** Deterministic train/val/test assignment by content-independent
    * key hash: pmod(portableHash(doc_id-as-string), 1000) bucketed at
    * permille thresholds. Hash-based splitting is the standard
    * reshuffle-proof recipe (the split survives re-ingestion, appends,
    * and repartitioning, unlike rand()); the md5-based portable hash
    * makes it engine-reproducible. Pure map — zero shuffle at any
    * scale.
    */
  def split(docs: DataFrame, idCol: String = "doc_id",
      trainPermille: Int = 800, valPermille: Int = 900): DataFrame = {
    val bucket = pmod(Dedup.portableHash(col(idCol).cast("string")), lit(1000))
    docs.select(col(idCol),
      when(bucket < trainPermille, "train")
        .when(bucket < valPermille, "val")
        .otherwise("test").as("split"))
  }

  /** Deterministic global shuffle + shard assignment — the permutation
    * step between curation and training (dataloaders read shards
    * sequentially, so corpus order IS training order; a biased order —
    * by crawl date, by source — measurably hurts the model). The
    * permutation key is the salted portable hash of the doc id:
    * content-independent, seed-reproducible, and reshuffle-proof (the
    * same (id, seed) always lands at the same place, so a re-run after
    * appends moves nothing that was already placed). `shard` is the
    * key's modulus, `shuffle_key` the within-shard order.
    *
    * Scale shape: the assignment itself is a pure map (zero shuffle);
    * materializing training order is ONE range exchange —
    * [[writeShuffled]] repartitions by range on (shard, shuffle_key)
    * and sorts within partitions, i.e. Spark's distributed sort, the
    * same machinery as any 100 TB ORDER BY. No window, no global
    * sequence numbers: positions are implicit in (shard, shuffle_key)
    * file order, which is what the dataloader consumes.
    */
  def shuffleShards(docs: DataFrame, idCol: String = "doc_id",
      seed: String = "42", shards: Int = 8): DataFrame = {
    val key = Dedup.portableHash(
      concat(col(idCol).cast("string"), lit(":shuffle:"), lit(seed)))
    docs.select(col(idCol), key.as("shuffle_key"),
      pmod(key, lit(shards.toLong)).as("shard"))
  }

  /** Materialize [[shuffleShards]] training order: one range exchange
    * + in-partition sort, written as one directory per shard.
    */
  def writeShuffled(docs: DataFrame, path: String, idCol: String = "doc_id",
      seed: String = "42", shards: Int = 8): Unit =
    docs.join(shuffleShards(docs, idCol, seed, shards), idCol)
      .repartitionByRange(shards, col("shard"), col("shuffle_key"))
      .sortWithinPartitions("shard", "shuffle_key")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Deterministic domain-mixing sampler: per-`byCol` keep-rates in
    * permille (e.g. web 300‰, code 1000‰, forums 100‰ — the data-mix
    * dial every pretraining pipeline has). A doc is kept iff its salted
    * permille hash falls under its group's rate, so the sample is
    * content-independent, reshuffle-proof, and any rate INCREASE is a
    * superset of the previous sample (monotone — re-mixing never churns
    * already-selected docs). The ":mix" salt makes the decision
    * independent of [[split]]'s (an unsalted reuse would correlate the
    * two: every dropped doc would also be a test doc). Pure map — zero
    * shuffle at any scale.
    */
  def mixSample(docs: DataFrame, byCol: String, permille: Map[String, Int],
      defaultPermille: Int = 1000, idCol: String = "doc_id"): DataFrame = {
    val bucket = pmod(Dedup.portableHash(
      concat(col(idCol).cast("string"), lit(":mix"))), lit(1000))
    val rate = permille.toSeq.sortBy(_._1).foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(byCol) === k, lit(v)).otherwise(acc)
    }
    docs.select(col(byCol), col(idCol), bucket.as("mix_bucket"), rate.as("keep_permille"))
      .filter(col("mix_bucket") < col("keep_permille"))
      .select(col(byCol), col(idCol), col("mix_bucket"))
  }

  /** Temperature-based mixture reweighting (the mT5/XLM-R multilingual
    * recipe, used identically for domain mixing): sampling weight per
    * group ∝ p_g^α where p_g is the group's token share and α ∈ (0,1]
    * flattens the mix (α = 1 keeps natural proportions, α → 0
    * approaches uniform — low-resource groups are up-sampled). This is
    * the dial that sets how much Wikipedia vs crawl a run sees; its
    * output (weights per source) feeds [[mixSample]]'s permille knob.
    *
    * Shapes: ONE token-count agg over the corpus (in-row token sizes,
    * then a group-keyed sum) and two group-bounded scalar aggs — the
    * relation never exceeds the number of sources. Parity: p_ppm is an
    * integer DIV of exact counts; p_g^α quantizes ONCE per group to
    * integer e9 (the fixed-point recipe), and the final normalization
    * is pure positive-integer arithmetic (u·10⁶ DIV Σu — truncation
    * and floor agree on positives, and u ≤ 10⁹ keeps the product
    * < 2⁶³).
    */
  def temperatureWeights(docs: DataFrame, textCol: String,
      byCol: String = "source", alpha: Double = 0.3): DataFrame = {
    val nToks = size_long(filter(split_part_tokens(col(textCol)), t => t =!= ""))
    val perSrc = docs.groupBy(col(byCol).as("source"))
      .agg(sum(nToks).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("total"))
    val withU = perSrc.crossJoin(broadcast(tot))
      .withColumn("p_ppm", expr("n_tokens * 1000000 DIV total"))
      .withColumn("u_e9",
        floor(pow(col("n_tokens").cast("double") / col("total").cast("double"),
          lit(alpha)) * lit(1e9) + lit(0.5)).cast("long"))
    val sumU = withU.agg(sum(col("u_e9")).as("su"))
    withU.crossJoin(broadcast(sumU))
      .select(col("source"), col("n_tokens"), col("p_ppm"),
        expr("u_e9 * 1000000 DIV su").as("weight_ppm"))
  }

  /** Overlapping token-window chunking (context-window preparation for
    * LLM training): whitespace-tokenize, then emit one chunk per
    * stride offset — tokens[o, o+size) for o = 0, stride, 2·stride, …
    * < n_tokens. The final chunks may be shorter than `size` (they
    * carry the document tail). One explode per chunk, no shuffle —
    * embarrassingly parallel at any corpus size.
    */
  def chunk(docs: DataFrame, textCol: String, idCol: String = "doc_id",
      size: Int = 64, stride: Int = 48): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val withToks = docs.select(col(idCol), toks.as("__toks"),
      size_long(toks).as("__n"))
    val offsets =
      sequence(lit(0L), greatest(col("__n") - 1, lit(0L)), lit(stride.toLong))
    withToks
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        posexplode(offsets).as(Seq("chunk_idx", "__o")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("__toks"), (col("__o") + 1).cast("int"), lit(size)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size_long(col("__chunk")).as("n_chunk_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Filter-funnel audit — the observability table every large
    * curation run reports beside its output: for an ORDERED list of
    * (stage name, drop predicate), how many rows entered each stage,
    * how many that stage dropped (a row charges to the FIRST stage
    * whose predicate fires — later predicates never see it, exactly
    * like the sequential filter chain), and the per-stage drop rate
    * in permille. The answer to "which filter ate my corpus"
    * BEFORE the 100 TB rerun.
    *
    * Shape: ONE scan — the first-drop stage index is a single in-row
    * CASE chain — one 1-row global agg, then the per-stage rows
    * unfold from that 1-row relation in-row (explode of a literal
    * struct array). No joins, no window; all-BIGINT counts and
    * truncating permille DIV, so any engine reproduces it.
    */
  def filterFunnel(rows: DataFrame,
      stages: Seq[(String, Column)]): DataFrame = {
    val firstDrop = stages.zipWithIndex.foldRight(lit(-1L): Column) {
      case (((_, pred), i), rest) => when(pred, lit(i.toLong)).otherwise(rest)
    }
    val agg = rows.select(firstDrop.as("__fd"))
      .agg(count(lit(1)).as("n0"),
        stages.indices.map(i =>
          sum(when(col("__fd") === i.toLong, 1L).otherwise(0L)).as(s"__d$i")): _*)
    val stageStructs = stages.indices.map { i =>
      val nIn = (0 until i).foldLeft(col("n0"))((c, j) => c - col(s"__d$j"))
      struct(lit((i + 1).toLong).as("stage_idx"),
        lit(stages(i)._1).as("stage"),
        nIn.as("n_in"), col(s"__d$i").as("n_dropped"))
    }
    agg.select(explode(array(stageStructs: _*)).as("__s"))
      .select(col("__s.stage_idx"), col("__s.stage"),
        col("__s.n_in"), col("__s.n_dropped"))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .withColumn("drop_permille",
        expr("n_dropped * 1000 DIV greatest(n_in, CAST(1 AS BIGINT))"))
      .orderBy("stage_idx")
  }

  private def split_part_tokens(c: Column): Column =
    org.apache.spark.sql.functions.split(coalesce(c, lit("")), "\\s+")

  private def size_long(c: Column): Column = size(c).cast("long")

  /** Corpus vocabulary: the top `vocabSize` tokens by total occurrence
    * count (ties broken on the token string — deterministic across
    * engines). Two aggregations; the result is tiny by construction
    * (vocabSize rows) — THE broadcast side of any downstream join.
    */
  def vocabulary(docs: DataFrame, textCol: String,
      vocabSize: Int = 100): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    vocabularyFromTokens(docs.select(explode(toks).as("token")), vocabSize)
  }

  /** Top-k selection as orderBy + limit — Catalyst compiles this to
    * TakeOrderedAndProject (per-partition heap top-k, then a merge of
    * k·partitions rows), NOT a global sort: no partition of the
    * distinct-token relation is ever exchanged whole. Ranking then
    * runs over the ≤ vocabSize-row result, whose SinglePartition,
    * already-sorted output satisfies the window's requirements without
    * a new Exchange — the window that used to pull EVERY distinct
    * corpus token through one partition now touches vocabSize rows.
    */
  private[ext] def vocabularyFromTokens(tokens: DataFrame,
      vocabSize: Int): DataFrame =
    tokens
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(vocabSize)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("token"))))
      .select(col("token"), col("n_occurrences"), col("rank").cast("long").as("rank"))

  /** Vocabulary coverage curve — the measurement that SIZES a
    * tokenizer vocab: cumulative share of all token occurrences
    * covered by the top-r vocabulary, reported at fixed rank
    * checkpoints. The curve's knee answers "does 32k cover 99%?"
    * before anyone trains a tokenizer. Integer permille
    * (`cum·1000 DIV total`) — exact cross-engine.
    *
    * Scale shape: one map-side-combined token count collapses the
    * corpus to the distinct-token relation (Zipf-bounded); top-maxRank
    * selection is TakeOrderedAndProject (per-partition heaps — the
    * [[vocabularyFromTokens]] argument); the rank/cumsum window then
    * touches ≤ maxRank rows, and the total is a 1-row broadcast.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, maxRank: Int = 2000,
      reportRanks: Seq[Int] = Seq(100, 250, 500, 1000, 2000)): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val counts = docs.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      // feeds the top-k AND the total (collocations discipline);
      // localCheckpoint not persist — the result outlives this call,
      // so cache release must ride GC, not an unreachable unpersist
      .localCheckpoint(true)
    val w = Window.orderBy(col("n").desc, col("token"))
    val top = counts
      .orderBy(col("n").desc, col("token")).limit(maxRank)
      .withColumn("vocab_rank", row_number().over(w).cast("long"))
      .withColumn("cum_occurrences",
        sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = counts.agg(sum("n").as("__total"))
    top.filter(col("vocab_rank").isin(reportRanks.map(_.toLong): _*))
      .crossJoin(broadcast(tot))
      .select(col("vocab_rank"), col("cum_occurrences"),
        expr("cum_occurrences * 1000 DIV __total").as("coverage_permille"))
  }

  /** Per-document out-of-vocabulary profile against [[vocabulary]]:
    * token occurrences found in / missing from the top-`vocabSize`
    * vocab. The vocab side is `vocabSize` rows — broadcast — so this
    * is one explode + one map-side join + one re-aggregation however
    * large the corpus. Both branches derive from ONE token-exploded
    * relation (the vocab branch projects `token` out of it), and the
    * vocab top-k is TakeOrderedAndProject — nothing corpus-sized
    * crosses a single partition anywhere in the operator.
    */
  def oovProfile(docs: DataFrame, textCol: String, idCol: String = "doc_id",
      vocabSize: Int = 100): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val exploded = docs.select(col(idCol), explode(toks).as("token"))
    val vocab = vocabularyFromTokens(exploded.select("token"), vocabSize)
      .select("token")
    exploded
      .join(broadcast(vocab.withColumn("__in_vocab", lit(1L))), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNotNull, 0L).otherwise(1L)).as("n_oov"))
  }

  /** Benchmark-contamination screen: flag corpus documents sharing at
    * least `minShared` winnowing fingerprints with any benchmark
    * document (substring-level overlap — shared runs of
    * ≥ k+window-1 chars — not token-set similarity, so paraphrase-
    * resistant within winnowing's guarantee). The benchmark
    * fingerprint set is distinct-fp-small and BROADCAST; the corpus
    * side is one fingerprint scan — no pair join, no quadratic term,
    * which is what makes this runnable against 100 TB of training
    * data with a benchmark suite on the other side.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String = "doc_id", minShared: Int = 5): DataFrame = {
    val corpusFps = TextAnalysis.winnowFingerprintsNative(docs, textCol, idCol)
    val benchFps = TextAnalysis.winnowFingerprintsNative(benchmark, textCol, idCol)
      .select(col("fp")).distinct()
    corpusFps
      .join(broadcast(benchFps), Seq("fp"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Token n-gram benchmark-contamination screen — the published
    * GPT-3/PaLM decontamination rule: flag corpus documents sharing at
    * least `minShared` distinct token `n`-grams (default 13, the
    * GPT-3 constant) with any benchmark document. Complementary to
    * [[contamination]]: winnowing samples substrings probabilistically
    * (one fingerprint per window), while the n-gram rule is the
    * exhaustive published criterion — every 13-gram collision counts.
    * Same 100 TB shape: n-grams travel as 8-byte portable hashes
    * ([[Dedup.shingleHashes]]'s compiled kernel — the strings never
    * leave the row), the benchmark's distinct-gram set is BROADCAST,
    * and the corpus side is one scan + map-side semi-join — no pair
    * join, no quadratic term.
    */
  def contaminationNgram(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String = "doc_id", n: Int = 13,
      minShared: Int = 1): DataFrame =
    contaminationNgramAgainst(docs,
      Dedup.shingleHashes(benchmark, textCol, idCol, n)
        .select(col("shingle")).distinct(),
      textCol, idCol, n, minShared)

  /** [[contaminationNgram]] against a PREBUILT distinct benchmark
    * gram-hash relation — the deployment shape: the benchmark set is
    * fixed (built once, persisted), the corpus is what arrives. Also
    * the streaming entry point: the screen is per-document-stateless
    * (a doc's grams never leave its row before the broadcast
    * semi-join), so it runs unchanged per micro-batch with NO state
    * store — every per-document screen in this family streams this
    * way for free.
    */
  def contaminationNgramAgainst(docs: DataFrame, benchGrams: DataFrame,
      textCol: String, idCol: String = "doc_id", n: Int = 13,
      minShared: Int = 1): DataFrame =
    Dedup.shingleHashes(docs, textCol, idCol, n)
      .join(broadcast(benchGrams), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .filter(col("n_shared_ngrams") >= minShared)

  /** [[contamination]] with a Bloom-filter prescreen — the 100 TB shape
    * when the benchmark fingerprint set is too large to broadcast as a
    * hash relation but fits as a sketch: build ONE bloom over the
    * benchmark fps (an aggregate; the only driver state is the sketch's
    * `numBits/8` bytes), fold it into the corpus-side scan as a
    * CONSTANT predicate (`might_contain` — codegen'd, no join, no
    * shuffle), then confirm the tiny survivor set against the real
    * benchmark fps. Blooms have no false negatives and the confirm join
    * removes false positives, so the result is IDENTICAL to
    * [[contamination]] — the declared query shares its oracle.
    */
  def contaminationBloom(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String = "doc_id", minShared: Int = 5,
      numBits: Long = 1L << 22): DataFrame = {
    val corpusFps = TextAnalysis.winnowFingerprintsNative(docs, textCol, idCol)
    val benchFps = TextAnalysis.winnowFingerprintsNative(benchmark, textCol, idCol)
      .select(col("fp")).distinct()
    val bloom = benchFps
      .agg(call_function("bloom_filter_agg", col("fp"),
        lit(1000000L), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val survivors =
      if (bloom == null) corpusFps.filter(lit(false)) // empty benchmark
      else corpusFps.filter(call_function("might_contain", lit(bloom), col("fp")))
    survivors
      .join(benchFps, Seq("fp"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Deterministic stratified sample: the `perGroup` docs per `byCol`
    * group that sort first by (portable id hash, id) — an unbiased,
    * content-independent, reshuffle-proof per-stratum pick (the
    * grouped analogue of [[split]]). One hash-partitioned window per
    * group; groups are independent, so parallelism = stratum count
    * and no stratum ever sees another's rows.
    */
  def stratifiedSample(docs: DataFrame, byCol: String,
      idCol: String = "doc_id", perGroup: Int = 20): DataFrame = {
    val h = pmod(Dedup.portableHash(col(idCol).cast("string")), lit(1000000))
    docs
      .select(col(byCol), col(idCol), h.as("__h"))
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col(byCol)).orderBy(col("__h"), col(idCol))))
      .filter(col("sample_rank") <= perGroup)
      .select(col(byCol), col(idCol), col("sample_rank").cast("long").as("sample_rank"))
  }

  /** The heap twin of [[stratifiedSample]] — identical output, but
    * per-stratum selection by the [[graft.functions.TopKDesc]] bounded
    * aggregate instead of a window. The window form is the 100 TB
    * hazard here, not a nicety: it sorts EVERY stratum in full and its
    * parallelism is the stratum count (one giant `lang='en'` stratum
    * lands on one task). The aggregate's map-side heaps cut each
    * (stratum, partition) to ≤ perGroup rows before the exchange, the
    * reducer merges k-item heaps, and skew in stratum size stops
    * mattering — the reduce work per stratum is O(partitions · k), not
    * O(stratum).
    *
    * Ordering contract is [[stratifiedSample]]'s (hash ASC, id ASC),
    * carried as (score = −hash — exact in a double, the hash lives on
    * [0, 1e6) — tie = [[graft.functions.TopKFunctions.tieKey]], the
    * type-aware order-preserving encoding: raw string for string ids,
    * non-truncating 20-digit zero-pad for integral ids, plan-time
    * error otherwise); both twins share one oracle.
    */
  def stratifiedSampleHeap(docs: DataFrame, byCol: String,
      idCol: String = "doc_id", perGroup: Int = 20): DataFrame = {
    graft.functions.TopKFunctions.register(docs.sparkSession)
    val h = pmod(Dedup.portableHash(col(idCol).cast("string")), lit(1000000))
    docs
      .select(col(byCol), col(idCol), h.as("__h"))
      .groupBy(col(byCol))
      .agg(graft.functions.TopKFunctions.topk_desc(
        -col("__h").cast("double"),
        graft.functions.TopKFunctions.tieKey(col(idCol), docs.schema(idCol).dataType),
        struct(col(idCol)), perGroup).as("__top"))
      .select(col(byCol), posexplode(col("__top")).as(Seq("__r", "__s")))
      .select(col(byCol), col(s"__s.$idCol").as(idCol),
        (col("__r") + 1).cast("long").as("sample_rank"))
  }

  /** Blocklist screen: per-document count of tokens in a (small) bad-
    * term set, computed entirely in-row — `filter(tokens, contains)`
    * against an inlined literal array — so the operator is a pure map
    * with zero shuffle and no join at any corpus size. Emits only
    * documents with at least one hit (the review/drop candidates).
    */
  def blocklist(docs: DataFrame, textCol: String, terms: Seq[String],
      idCol: String = "doc_id"): DataFrame = {
    val bad = array(terms.map(lit): _*)
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    docs
      .select(col(idCol),
        size_long(filter(toks, t => array_contains(bad, t))).as("n_blocked"))
      .filter(col("n_blocked") > 0)
  }

  /** Token-budget sampler: within each `byCol` group, take documents in
    * deterministic salted-hash order until the group's token budget is
    * reached. A document is kept iff its STARTING cumulative offset is
    * under the budget, so overshoot is bounded by one document — the
    * standard greedy-fill contract. The ":budget" salt decorrelates the
    * pick order from [[split]]/[[mixSample]]; the order is
    * content-independent and reshuffle-proof. One hash-partitioned
    * window per group — groups are independent, parallelism = group
    * count, and the window state is one running BIGINT.
    */
  def budgetSample(docs: DataFrame, textCol: String, byCol: String,
      idCol: String = "doc_id", budgetTokens: Long = 4000L): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val h = pmod(Dedup.portableHash(
      concat(col(idCol).cast("string"), lit(":budget"))), lit(1000000))
    val w = Window.partitionBy(col(byCol)).orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(byCol), col(idCol), size_long(toks).as("n_tokens"), h.as("__h"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .filter(col("__cum") - col("n_tokens") < budgetTokens)
      .select(col(byCol), col(idCol), col("n_tokens"),
        (col("__cum") - col("n_tokens")).as("token_offset"))
  }

  /** Weighted sampling WITHOUT replacement (fixed size k, per-doc
    * weights) — how quality-score-weighted corpus selection actually
    * ships: "draw 10M docs, a doc's chance ∝ its quality weight". The
    * A-ES / exponential-keys family (Efraimidis–Spirakis 2006: key =
    * u^(1/w), top-k): this is its deterministic log-free integer
    * surrogate — key = h DIV w with h a portable uniform hash of the
    * id on [0, 2^40) — bottom-k by key is the weighted draw (selection
    * odds scale with w; heavier docs hash to proportionally smaller
    * keys), exactly the rank formula the oracle re-runs in SQL.
    * Content-independent and reshuffle-proof: the draw depends only on
    * (id, weight), never on partitioning or arrival order.
    *
    * Scale shape: one in-row map (hash, DIV) + ONE global
    * [[graft.functions.TopKDesc]] bounded aggregate — map-side k-heaps
    * cut every partition to ≤ k rows before the single exchange, so
    * the reducer merges partitions·k heap entries, not the corpus
    * (the classic distributed top-k; no window, no global sort).
    * 2^40 hash resolution keeps every rank exact in the aggregate's
    * double score (< 2^53) while leaving ~10^8 distinct ranks per
    * unit weight.
    *
    * Weights must be ≥ 1 (clamped); ties (equal rank) break id ASC
    * via the type-aware order-preserving tie key.
    */
  def weightedSample(docs: DataFrame, weightCol: Column,
      idCol: String = "doc_id", k: Int = 200): DataFrame =
    weightedDraw(docs, Nil, weightCol, idCol, k)

  /** The one weighted-draw implementation behind [[weightedSample]]
    * (no grouping keys) and [[weightedSampleByGroup]] (one key) — the
    * "identical rank contract" between the global and per-stratum
    * forms is structural, not a convention to keep in sync.
    */
  private def weightedDraw(docs: DataFrame, groupCols: Seq[Column],
      weightCol: Column, idCol: String, k: Int): DataFrame = {
    graft.functions.TopKFunctions.register(docs.sparkSession)
    val h = pmod(Dedup.portableHash(col(idCol).cast("string")),
      lit(1099511627776L)) // 2^40 — rank stays exact in a double score
    docs
      .select(groupCols ++ Seq(col(idCol),
        greatest(weightCol.cast("long"), lit(1L)).as("weight"),
        h.as("__h")): _*)
      .withColumn("__rnk", expr("__h DIV weight"))
      .groupBy(groupCols: _*)
      .agg(graft.functions.TopKFunctions.topk_desc(
        -col("__rnk").cast("double"),
        graft.functions.TopKFunctions.tieKey(col(idCol),
          docs.schema(idCol).dataType),
        struct(col(idCol), col("weight")), k).as("__top"))
      .select(groupCols :+ posexplode(col("__top")).as(Seq("__r", "__s")): _*)
      .select(groupCols ++ Seq(col(s"__s.$idCol").as(idCol),
        col("__s.weight").as("weight"),
        (col("__r") + 1).cast("long").as("sample_rank")): _*)
  }

  /** Per-group [[weightedSample]] — the form multilingual corpus
    * selection actually ships ("per language, draw k docs with odds ∝
    * quality weight"): identical rank contract (portable-hash DIV
    * weight, bottom-k by (rank, id)), selection per `byCol` stratum.
    * Same scale shape as [[stratifiedSampleHeap]]: the bounded
    * aggregate's map-side heaps cut each (stratum, partition) to ≤ k
    * rows before the exchange, so a giant stratum costs
    * O(partitions·k) reduce work, never a stratum sort — and the
    * draw stays reshuffle-proof.
    */
  def weightedSampleByGroup(docs: DataFrame, byCol: String,
      weightCol: Column, idCol: String = "doc_id", k: Int = 20): DataFrame =
    weightedDraw(docs, Seq(col(byCol)), weightCol, idCol, k)

  /** BPE merge learning (Sennrich et al.) — tokenizer training as
    * relational algebra. The key scale property: BPE trains on the
    * WORD-FREQUENCY table, not the corpus — the corpus is touched
    * exactly once (one token-count aggregation), and every merge
    * iteration runs over the DISTINCT-word relation, which Zipf keeps
    * vocabulary-sized however large the corpus. Per step: adjacent
    * symbol pairs explode in-row (positions weighted by word count),
    * one pair-keyed aggregation, a 1-row top-pair limit
    * (TakeOrderedAndProject), and an in-row `aggregate` fold that
    * applies the merge greedily left-to-right (the fold's "last
    * element still equals the raw left symbol" test reproduces
    * non-overlapping greedy semantics exactly — a merged element no
    * longer equals the left symbol, so runs like `aaa` merge at even
    * offsets only, matching the reference implementation). No driver
    * state beyond the loop counter; the per-step plan truncates with
    * localCheckpoint (the k-means / PageRank lesson).
    *
    * Returns the learned merge table (step, left_sym, right_sym,
    * pair_count) — `steps` rows, the artifact a tokenizer ships.
    * Ties break lexicographically on (left, right); pair counts
    * include overlapping positions (the reference counts them too).
    * `steps` must not exceed the corpus' mergeable depth (an empty
    * pair table would end training early; callers learn real
    * vocabularies with steps ≪ total symbol pairs).
    */
  def bpeMerges(docs: DataFrame, textCol: String, steps: Int): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val words = docs.select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var syms = words.select(col("word"), col("cnt"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (step <- 1 to steps) {
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(element_at(syms, i + 1) AS l, element_at(syms, i + 2) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1)
        .withColumn("step", lit(step.toLong))
        .localCheckpoint(true) // 1 row; reused by the merge AND the output
      merges += top.select("step", "left_sym", "right_sym", "pair_count")
      val prevSyms = syms
      syms = syms
        .crossJoin(broadcast(top.select(col("left_sym").as("__a"),
          col("right_sym").as("__b"))))
        .withColumn("syms", expr(
          """aggregate(syms, CAST(array() AS ARRAY<STRING>),
            |  (acc, x) -> CASE
            |    WHEN size(acc) > 0 AND element_at(acc, -1) = __a AND x = __b
            |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(__a, x)))
            |    ELSE concat(acc, array(x)) END)""".stripMargin))
        .select("word", "cnt", "syms")
        .localCheckpoint(true)
      // superseded symbol state: the new checkpoint is materialized
      // and the output references only the per-step `top` frames
      // (guide §5 — bounded checkpoint residency)
      Dedup.releaseCheckpoint(prevSyms)
    }
    // the FINAL syms state has no consumer either (output = the tops)
    if (steps >= 1) Dedup.releaseCheckpoint(syms)
    merges.reduce(_.unionByName(_)).orderBy("step")
  }

  /** One hard-EM E-step of the unigram LM: Viterbi-segment every
    * DISTINCT word under the given piece costs (integer micro-nats)
    * and return the weighted piece-usage table. The whole step is
    * IN-ROW over the Zipf-bounded word relation through the compiled
    * [[graft.functions.UnigramImpl]] kernel (min by (cost, len) —
    * the deterministic tie rule the oracle reproduces as
    * lexicographic order on (cost, reversed length list)); one key
    * agg for the usage counts. Pieces outside the cost map price at
    * +∞ (they can never win — single chars are always in the vocab,
    * so every word stays segmentable). The kernel replaced an
    * equivalent SQL `aggregate` fold whose per-candidate
    * `try_element_at` lookup linear-scanned the map literal (r8
    * verdict item 2: O(|vocab|) per candidate, 193 s at sf1).
    */
  private def viterbiUsage(words: DataFrame, costs: Map[String, Long],
      maxPieceLen: Int): DataFrame = {
    graft.functions.UnigramFunctions.register(words.sparkSession)
    words
      .withColumn("__ps", graft.functions.UnigramFunctions.unigram_segment(
        col("word"), costs, maxPieceLen))
      .select(col("cnt"), explode(col("__ps")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("c"))
  }

  private def wordTable(docs: DataFrame, textCol: String): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    docs.select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
  }

  /** Integer micro-nat costs −ln(c/total) from a (piece, c) table —
    * collected driver-side (bounded by the seed cap: the model a
    * tokenizer ships, same contract as the BPE merge table).
    */
  private def pieceCosts(tab: DataFrame): Map[String, Long] = {
    val rows = tab.select("piece", "c").collect() // bounded: ≤ seed cap + chars
    val total = rows.map(_.getLong(1)).sum.toDouble
    rows.map(r => r.getString(0) ->
      math.floor(math.log(total / r.getLong(1).toDouble) * 1e6 + 0.5).toLong).toMap
  }

  /** Unigram-LM (SentencePiece) tokenizer training via hard EM — the
    * second tokenizer-training family member beside [[bpeMerges]],
    * again as pure relational algebra. Kudo (2018): seed a piece
    * vocabulary from frequent substrings, then iterate E (Viterbi
    * segmentation of the corpus under current piece probabilities) and
    * M (re-estimate probabilities from segmentation counts). This is
    * the hard-EM form: counts come from the 1-best segmentation, EM
    * naturally prunes pieces that stop being used, and single chars
    * are always retained (add-one on chars) so every word stays
    * segmentable — SentencePiece's own invariant.
    *
    * Scale: the corpus is scanned ONCE (word counts); everything else
    * runs over the Zipf-bounded DISTINCT-word relation. The seed is
    * capped to the `seedSize` most frequent substrings (+ all chars) —
    * exactly SentencePiece's seeding — so the cost map that drives
    * each in-row Viterbi fold is bounded by construction and the
    * collected model is the bounded artifact a tokenizer ships.
    * Per round: one in-row DP + backtrace + ONE piece-keyed agg.
    *
    * Parity: costs quantize once per piece to integer micro-nats; DP
    * sums are integer; the DP tie rule (min cost, then min last-piece
    * length) equals the oracle's global (cost, reversed-length-list)
    * lexicographic minimum by induction on the backtrace — same-word
    * paths can't be prefix-ambiguous since lengths sum to the word
    * length.
    *
    * Returns the trained model: (piece, usage, cost_e6).
    */
  def unigramLm(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      seedSize: Int = 1000, rounds: Int = 2): DataFrame = {
    val words = wordTable(docs, textCol).localCheckpoint(true)
    val sub = words.select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  s -> transform(sequence(1, least($maxPieceLen, length(word) - s + 1)),
           |       l -> substring(word, s, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("c"))
    // the rank window runs over the substring universe of the DISTINCT
    // word relation — bounded by vocab × maxPieceLen, never corpus size
    val seed = sub
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("c").desc, col("piece"))))
      .filter(length(col("piece")) === 1 || col("__rk") <= seedSize)
      .select("piece", "c")
      .localCheckpoint(true)
    val chars = seed.filter(length(col("piece")) === 1).select("piece")
      .localCheckpoint(true)
    var vocab = seed
    for (round <- 1 to rounds) {
      val usage = viterbiUsage(words, pieceCosts(vocab), maxPieceLen)
      val prev = vocab
      vocab = usage
        .join(chars.withColumn("__ch", lit(1L)), Seq("piece"), "full_outer")
        .select(col("piece"),
          (coalesce(col("c"), lit(0L)) + coalesce(col("__ch"), lit(0L))).as("c"))
        .localCheckpoint(true)
      // superseded round (guide §5); round 1's prev is `seed`, which
      // the chars relation was checkpointed FROM — still safe to keep
      if (round > 1) Dedup.releaseCheckpoint(prev)
    }
    val tot = vocab.agg(sum(col("c")).as("__tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("c").as("usage"),
        floor(log(col("__tot").cast("double") / col("c").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long").as("cost_e6"))
  }

  /** Unigram-LM encoding — the serving half of [[unigramLm]]: Viterbi-
    * segment the corpus under a trained model's costs and return the
    * piece histogram (token, n_tokens). Same in-row DP as training's
    * E-step; the model is the bounded shipped artifact.
    */
  def unigramEncode(docs: DataFrame, textCol: String, model: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val costs = model.select("piece", "cost_e6").collect() // bounded artifact
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    viterbiUsage(wordTable(docs, textCol), costs, maxPieceLen)
      .select(col("piece").as("token"), col("c").as("n_tokens"))
  }

  /** BPE encoding — the serving half of `bpeMerges`: apply a learned
    * merge table to a corpus and return the BPE-token histogram
    * (token, n_occurrences). Merges apply in rank (step) order, each
    * greedily left-to-right — exactly the cumulative state the
    * training loop maintains, so encoding the training corpus
    * reproduces training's final symbol state (ranks respect symbol
    * creation order: both operands of a merge exist before its rank,
    * and a later merge cannot create an operand of an earlier one).
    *
    * Scale shape: the merge table is bounded by construction (one row
    * per learned merge — the artifact a tokenizer ships), so it
    * collects to a literal array and the whole encode is IN-ROW: a
    * nested fold of cost O(|merges| · word_len) per DISTINCT word
    * (the Zipf-bounded relation again), with the corpus itself
    * touched once for the word counts. Two key-agg shuffles total
    * (words, then tokens); no join.
    */
  def bpeEncode(docs: DataFrame, textCol: String,
      merges: DataFrame): DataFrame =
    bpeSegmented(wordTable(docs, textCol), merges)
      .select(explode(col("__enc")).as("token"), col("cnt"))
      .groupBy("token").agg(sum("cnt").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))

  /** Append `__enc` — the word's BPE symbol list under `merges`
    * applied in rank order, each greedily left-to-right — to any table
    * with a `word` column: the shared in-row kernel behind
    * [[bpeEncode]] and [[bpeFertility]]. The merge table collects to a
    * literal array (bounded: one row per learned merge — the shipped
    * artifact) that the compiled [[graft.functions.BpeImpl]] kernel
    * applies as O(len)-per-merge compaction passes (it replaced an
    * equivalent nested SQL fold whose per-symbol accumulator rebuild
    * made each merge O(len²) interpreted — r8 verdict item 4).
    */
  private def bpeSegmented(words: DataFrame, merges: DataFrame): DataFrame = {
    graft.functions.BpeFunctions.register(words.sparkSession)
    val ms = merges.orderBy("step").select("left_sym", "right_sym")
      .collect() // bounded: one row per learned merge
      .map(r => struct(lit(r.getString(0)).as("l"), lit(r.getString(1)).as("r")))
    val mergeArr =
      if (ms.isEmpty) expr("CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>)")
      else array(ms.toIndexedSeq: _*)
    words.withColumn("__enc",
      graft.functions.BpeFunctions.bpe_segment(col("word"), mergeArr))
  }

  /** Tokenizer fertility by group — pieces-per-word under a learned
    * BPE merge table, per `byCol` (the tokenizer-QA number model cards
    * report per language/source: high fertility = the vocabulary
    * under-serves that slice, inflating its effective sequence
    * lengths). Segmentation is word-local, so it runs ONCE per
    * DISTINCT (group, word) — the Zipf-bounded relation times the
    * group count — through the same in-row fold as [[bpeEncode]];
    * `fertility_milli` is a truncating positive-integer division
    * (cross-engine exact).
    */
  def bpeFertility(docs: DataFrame, textCol: String, byCol: String,
      merges: DataFrame): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val words = docs.select(col(byCol), explode(toks).as("word"))
      .groupBy(col(byCol), col("word")).agg(count(lit(1)).as("cnt"))
    bpeSegmented(words, merges)
      .groupBy(col(byCol))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * size(col("__enc")).cast("long")).as("n_pieces"))
      .select(col(byCol), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000 DIV n_words").as("fertility_milli"))
  }

  /** Corpus snapshot diff — the CDC step of incremental re-curation:
    * classify every document as added / removed / changed between two
    * corpus versions, so downstream stages (dedup, quality, indexing,
    * embedding) re-process ONLY the delta instead of re-reading 100 TB
    * per refresh. Each side reduces to (id, md5-of-content) BEFORE the
    * join, so the one full-outer hash join exchanges 40-byte rows —
    * never text — and unchanged documents (the overwhelming majority
    * of a refresh) are filtered out of the result. Content identity is
    * the concatenation of `contentCols` with a field separator (the
    * multi-column digest recipe of the upsert sink).
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame,
      contentCols: Seq[String], idCol: String = "doc_id"): DataFrame = {
    def digested(df: DataFrame, name: String): DataFrame =
      df.select(col(idCol),
        md5(concat_ws("\u0001",
          contentCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
          .as(name))
    digested(v1, "__d1").join(digested(v2, "__d2"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__d1").isNull, "added")
          .when(col("__d2").isNull, "removed")
          .when(col("__d1") =!= col("__d2"), "changed")
          .otherwise("unchanged").as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** Greedy-by-position sequence packing: within each `byCol` shard
    * (documents pack within their shard — the cluster-friendly
    * contract; a global order would serialize the corpus), documents
    * are taken in `idCol` order and assigned to the pack their
    * STARTING token offset falls in: pack_id = floor(cumulative-start
    * / seqLen). Pure integer window arithmetic — deterministic in any
    * engine — and each shard's window is independent, so the operator
    * scales with the shard count.
    */
  def pack(docs: DataFrame, textCol: String, byCol: String,
      idCol: String = "doc_id", seqLen: Int = 2048): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val w = Window.partitionBy(col(byCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(byCol), col(idCol), size_long(toks).as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col(byCol), col(idCol), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / seqLen).as("pack_id"))
  }

  /** The pack MANIFEST — [[pack]] inverted into the dataloader's
    * actual read plan: one row per (sequence, document-segment) saying
    * which token span of which document fills which training sequence
    * (GPT-style packing concatenates the corpus and cuts every
    * `seqLen` tokens, so a document can straddle sequences; the
    * manifest makes the straddle explicit via `from_tok`/`take_len`).
    * Σ take_len per sequence = seqLen exactly (except each group's
    * last), which is the invariant a loader asserts before training.
    *
    * Same single per-group window as [[pack]] (the two-pass
    * distributed prefix sum at scale), then an in-row explode of the
    * spanned-sequence range — a document adds ⌈n/seqLen⌉ + 1 rows at
    * most, so the manifest is O(total_tokens/seqLen + docs).
    */
  def packManifest(docs: DataFrame, textCol: String, byCol: String,
      idCol: String = "doc_id", seqLen: Int = 2048): DataFrame = {
    val toks = filter(split_part_tokens(col(textCol)), t => t =!= "")
    val w = Window.partitionBy(col(byCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val L = lit(seqLen.toLong)
    docs
      .select(col(byCol), col(idCol), size_long(toks).as("n"))
      .withColumn("__cum", sum(col("n")).over(w))
      .filter(col("n") > 0)
      .select(col(byCol), col(idCol),
        (col("__cum") - col("n")).as("s"), col("__cum").as("e"))
      .withColumn("seq_id",
        explode(sequence(expr(s"s DIV $seqLen"), expr(s"(e - 1) DIV $seqLen"))))
      .select(col(byCol), col("seq_id"), col(idCol),
        greatest(col("seq_id") * L - col("s"), lit(0L)).as("from_tok"),
        (least(col("e"), (col("seq_id") + 1) * L) -
          greatest(col("s"), col("seq_id") * L)).as("take_len"))
  }

  /** Content-defined chunking (CDC) — shift-resistant chunk boundaries
    * for dedup. [[chunk]]'s fixed windows move when a single character
    * is inserted upstream, so an edited document shares NO chunks with
    * its original; CDC cuts where a rolling hash of the trailing
    * `window` characters hits `0 mod modulus` (the FastCDC/LBFS
    * recipe), so boundaries re-synchronize right after any edit and
    * the untouched tail chunks keep their digests — which is what
    * makes chunk-level exact dedup catch partially-edited duplicates.
    *
    * Expected chunk length is `modulus` characters. The hash here is
    * the engine's portable md5 hash of each trailing window (exactly
    * [[Dedup.portableHash]]) so every boundary is engine-reproducible
    * and the oracle replays it; production swaps a Gear table for the
    * md5 (the same portable-vs-xxhash64 trade as portableHash — same
    * boundaries contract, cheaper constant).
    *
    * Scale shape: boundary detection is IN-ROW through the compiled
    * [[graft.functions.CdcImpl]] kernel (zero shuffle, linear in
    * corpus characters, like the winnowing kernel — it replaced an
    * equivalent interpreted per-character `filter` lambda, r8 verdict
    * item 3); the only wide op is the consumer's digest agg.
    */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String = "doc_id",
      window: Int = 8, modulus: Int = 64): DataFrame = {
    graft.functions.CdcFunctions.register(docs.sparkSession)
    // cut AFTER char i (1-based) for i in [window, len-1]: the trailing
    // window substring's portable hash lands on 0 mod modulus
    val bounds =
      graft.functions.CdcFunctions.cdc_bounds(col(textCol), window, modulus)
    docs
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol), bounds.as("__b"))
      .select(col(idCol), col(textCol), col("__b"),
        posexplode(sequence(lit(1), size(col("__b")) - 1)).as(Seq("chunk_idx", "__k")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (element_at(col("__b"), col("__k")) + 1).as("chunk_start"),
        (element_at(col("__b"), col("__k") + 1) -
          element_at(col("__b"), col("__k"))).as("chunk_len"),
        expr(s"""substring($textCol,
             |  CAST(element_at(__b, __k) + 1 AS INT),
             |  CAST(element_at(__b, __k + 1) - element_at(__b, __k) AS INT))"""
          .stripMargin).as("chunk_text"))
  }

  /** WordPiece vocabulary — the third tokenizer family member beside
    * [[bpeMerges]] and [[unigramLm]] (Wu et al. 2016; the BERT
    * tokenizer). The vocabulary distinguishes word-INITIAL pieces from
    * continuation pieces (rendered `##piece`): every single-character
    * form is always kept (so any word over the corpus charset stays
    * encodable — BERT's own invariant) plus the `vocabSize` most
    * frequent multi-char forms by occurrence-weighted count,
    * deterministic ties on (piece, is_cont).
    *
    * Scale: candidates enumerate substrings of the DISTINCT-word
    * relation (Zipf-bounded, the BPE/unigram precedent); the rank
    * window runs over that substring universe, never the corpus.
    * Returns (piece, is_cont, weight) — the bounded shipped artifact.
    */
  def wordpieceVocab(docs: DataFrame, textCol: String,
      vocabSize: Int = 200, maxPieceLen: Int = 4): DataFrame = {
    val words = wordTable(docs, textCol)
    val cands = words.select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  s -> transform(sequence(1, least($maxPieceLen, length(word) - s + 1)),
           |       l -> struct(substring(word, s, l) AS piece,
           |                   s > 1 AS is_cont))))""".stripMargin)).as("sp"))
      .select(col("sp.piece").as("piece"), col("sp.is_cont").as("is_cont"), col("cnt"))
      .groupBy("piece", "is_cont").agg(sum(col("cnt")).as("weight"))
    cands
      .withColumn("__rk", row_number().over(Window
        .orderBy(col("weight").desc, col("piece"), col("is_cont"))))
      .filter(length(col("piece")) === 1 || col("__rk") <= vocabSize)
      .select("piece", "is_cont", "weight")
  }

  /** WordPiece encoding: greedy longest-match-first segmentation of
    * every word under a [[wordpieceVocab]] model — word-initial
    * positions match initial pieces, later positions match `##`
    * continuation pieces; a word with an unmatchable position encodes
    * to `[UNK]` whole (the BERT contract; unreachable when the model
    * keeps all single chars of the corpus charset). Returns the token
    * histogram (token, n_occurrences), continuations `##`-prefixed.
    *
    * The model collects to two piece sets (bounded artifact — the
    * BPE-merge-table contract) carried by the compiled
    * [[graft.functions.WordpieceSegment]] kernel as opaque state: the
    * previous in-row `aggregate` fold inlined the vocab as ~2×|vocab|
    * map-literal children and the DRIVER spent ~3 s per call
    * re-walking the literal tree through analyzer/optimizer passes —
    * for a 31-row distinct-word relation (r10 bench outlier). One word
    * agg + one token agg; zero joins; the greedy walk is one codegen'd
    * JVM call per distinct word.
    */
  def wordpieceEncode(docs: DataFrame, textCol: String, vocab: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val rows = vocab.select("piece", "is_cont").collect() // bounded artifact
    val init = rows.filter(!_.getBoolean(1)).map(_.getString(0)).toSeq
    val cont = rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
    graft.functions.WordpieceFunctions.register(docs.sparkSession)
    wordTable(docs, textCol)
      .withColumn("__enc", graft.functions.WordpieceFunctions
        .wordpiece_segment(col("word"), init, cont, maxPieceLen))
      .select(col("cnt"), explode(col("__enc")).as("token"))
      .groupBy("token").agg(sum(col("cnt")).as("n_occurrences"))
  }

  /** Exact frequent-token mining with a BOUNDED exchange — the
    * stopword / boilerplate-list builder: every token whose corpus
    * count is ≥ total/phiInv, with its EXACT count.
    *
    * Scale shape: a plain token groupBy exchanges one partial row per
    * DISTINCT token per partition, and on web-scale text the
    * heavy-tailed vocabulary (URLs, ids, typos) makes the map-side
    * hash agg spill and the exchange wide. Here each partition first
    * reduces to a Misra-Gries summary of k = 2·phiInv counters — by
    * the merge bound, a token missed by EVERY partition summary has
    * global count ≤ N/(k+1) < N/phiInv, so no qualifying token is
    * ever dropped — and only the ≤ k surviving candidate tokens per
    * partition are exchanged. The exact recount then runs restricted
    * to the broadcast candidate set, so the final output is EXACT and
    * independent of sketch internals (over-admitted candidates die at
    * the threshold filter). mapPartitions is the genuine tool here
    * (the Multimodal rule): the decrement-sweep sketch is sequential
    * per-partition state, and expressing it as column algebra would
    * give up exactly the bounded-exchange property that is the
    * operator's point.
    */
  /** Fixed-bin histogram quantiles per group — the deterministic,
    * oracle-checkable cousin of `approx_percentile` (whose GK-sketch
    * internals are not engine-portable): values land in width-`binWidth`
    * bins, and the q-permille quantile reports the UPPER EDGE of the
    * first bin whose cumulative count reaches ⌈q·n/1000⌉. Resolution
    * is the bin width; arithmetic is BIGINT end to end (`cum·1000 ≥
    * q·total` — no division), so both engines agree exactly.
    *
    * Scale shape: ONE map-side-combined groupBy collapses 100 TB of
    * rows to (groups × bins) cells before any exchange; the cumsum
    * window then runs over that tiny cell relation (≤ bins rows per
    * group), and the final per-group agg is free. Nothing downstream
    * of the first aggregate ever sees data-sized cardinality.
    */
  def histQuantiles(rows: DataFrame, byCol: String, valCol: String,
      binWidth: Long, qsPermille: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    val bins = rows
      .select(col(byCol),
        expr(s"CAST($valCol AS BIGINT) DIV $binWidth").as("__bin"))
      .groupBy(col(byCol), col("__bin"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(byCol).orderBy("__bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(byCol)
    val cum = bins
      .withColumn("__cum", sum("__n").over(w))
      .withColumn("__total", sum("__n").over(wt))
    val qCols = qsPermille.map { q =>
      min(when(col("__cum") * 1000 >= col("__total") * q,
        (col("__bin") + 1) * binWidth - 1)).as(s"p${q}_le")
    }
    cum.groupBy(col(byCol))
      .agg(max(col("__total")).as("n_rows"), qCols: _*)
  }

  /** Robust per-group outlier audit composed from TWO passes of the
    * [[histQuantiles]] binning sketch: pass 1 takes the binned median
    * (p500 upper edge), pass 2 bins the absolute deviations from that
    * median and takes THEIR p500 edge (the MAD), and rows beyond
    * `k·MAD` count as outliers. Median/MAD is the screen that
    * length-z-scores should have been: a single 100 GB document moves
    * a mean+stddev fence arbitrarily, but breaks down the median only
    * past 50% contamination.
    *
    * Scale shape: each pass is the histQuantiles collapse (corpus →
    * (groups × bins) cells before any exchange); the median relation
    * (one row per group) broadcasts into pass 2 and the final flag
    * count. Bin-edge arithmetic is BIGINT end to end, so both engines
    * agree exactly; resolution is the bin width (an outlier within
    * one bin of the fence may land either side — same bin, same side,
    * both engines).
    */
  def robustOutliers(rows: DataFrame, byCol: String, valCol: String,
      binWidth: Long, kMad: Long = 3L): DataFrame = {
    val med = histQuantiles(rows, byCol, valCol, binWidth, Seq(500))
      .select(col(byCol), col("n_rows"), col("p500_le").as("med_le"))
    val joined = rows
      .select(col(byCol), col(valCol).cast("long").as("__v"))
      .join(broadcast(med), byCol)
    val dev = joined.select(col(byCol), col("n_rows"), col("med_le"),
      abs(col("__v") - col("med_le")).as("__dev"))
    val mad = histQuantiles(dev, byCol, "__dev", binWidth, Seq(500))
      .select(col(byCol), col("p500_le").as("mad_le"))
    dev.join(broadcast(mad), byCol)
      .groupBy(col(byCol))
      .agg(max(col("n_rows")).as("n_rows"),
        max(col("med_le")).as("med_le"),
        max(col("mad_le")).as("mad_le"),
        sum(when(col("__dev") > lit(kMad) * col("mad_le"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group (Bar-Yossef
    * et al. 2002) — the third mergeable sketch beside Misra–Gries and
    * CMS, and the oracle-CHECKABLE approximate-distinct (the HLL entry
    * is rows-only because HLL register layout isn't portable; KMV over
    * the portable hash is bit-reproducible in any engine). Estimator:
    * with `h_k` the k-th smallest distinct hash on [0, 2^60),
    * `est = ⌊(k−1)·2^60 / h_k⌋`; groups with fewer than k distinct
    * values report exactly. Both factors of the numerator are exactly
    * representable doubles, so the estimate is one correctly-rounded
    * IEEE divide + floor — deterministic cross-engine.
    *
    * Scale shape (the heavyHitters discipline): per-partition state is
    * one k-sized TreeSet PER GROUP KEY present in the partition —
    * O(groups-in-partition × k), NOT O(k): bounded because the sketch
    * is meant for bounded-cardinality group keys (source, language,
    * shard — the fixture has ~20). For a high-cardinality `byCol`,
    * `repartition(col(byCol))` first so each partition holds only its
    * own groups' state, or use the exact windowed top-k instead. After
    * the partial pass, ONE ranking over ≤ k·partitions candidate rows
    * per group.
    * The exact `n_true` beside the estimate is the audit column (at
    * 100 TB you ship the sketch and drop the truth; here truth is what
    * the oracle checks the estimator against).
    */
  def kmvDistinct(items: DataFrame, byCol: String, hashCol: String,
      k: Int = 64): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val d = items.select(col(byCol).cast("string").as("g"),
      col(hashCol).cast("long").as("h")).distinct()
    val kk = k
    val partials = d.as[(String, Long)].mapPartitions { it =>
      val state = scala.collection.mutable.HashMap
        .empty[String, java.util.TreeSet[java.lang.Long]]
      it.foreach { case (g, h) =>
        val s = state.getOrElseUpdate(g, new java.util.TreeSet[java.lang.Long]())
        s.add(h)
        if (s.size > kk) s.remove(s.last)
      }
      state.iterator.flatMap { case (g, s) =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator)
          .asScala.map(h => (g, h.longValue))
      }
    }.toDF("g", "h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("h")
    val kth = partials.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k).select(col("g"), col("h").as("h_k"))
    val numer = lit((k - 1).toDouble) * lit(1152921504606846976.0) // (k−1)·2^60
    d.groupBy("g").agg(count(lit(1)).as("n_true"))
      .join(kth, Seq("g"), "left")
      .select(col("g"), col("n_true"),
        coalesce(col("h_k"), lit(0L)).as("kth_min"),
        when(col("h_k").isNull, col("n_true"))
          .otherwise(floor(numer / col("h_k")).cast("long")).as("est_distinct"))
      .withColumn("err_permille",
        expr("abs(est_distinct - n_true) * 1000 DIV n_true"))
  }

  /** Streaming-composable CMS cell updates: one (row, bucket) pair per
    * token OCCURRENCE per sketch row — the un-aggregated update
    * stream. A single `groupBy(rw, bucket).count` over this relation
    * IS the sketch, batch or streaming: in a streaming complete-mode
    * aggregation the state store holds exactly the d·w counter cells
    * (bounded state by construction — the sketch's whole point), and
    * cellwise addition across micro-batches is the KMV/CMS
    * mergeability property executing as an ordinary streaming agg.
    * (The batch [[cmsEstimates]] pre-aggs per token first — same
    * arithmetic, vocab-bounded explode; a stream can't, because
    * complete mode allows one aggregation.)
    */
  def cmsCellUpdates(docs: DataFrame, textCol: String,
      depth: Int = 2, width: Int = 16): DataFrame = {
    val toks = docs.select(explode(
      filter(split_part_tokens(col(textCol)), t => t =!= "")).as("token"))
    val rows = (0 until depth).map { i =>
      struct(lit(i.toLong).as("rw"),
        pmod(Dedup.portableHash(
          concat(lit(i.toString), lit(":"), col("token"))), lit(width.toLong))
          .as("bucket"))
    }
    toks.select(explode(array(rows: _*)).as("rb"))
      .select(col("rb.rw").as("rw"), col("rb.bucket").as("bucket"))
  }

  /** Count–min sketch frequency estimates (Cormode & Muthukrishnan
    * 2005) with the portable md5 hash, so the sketch — not just its
    * consumers — is bit-reproducible in any engine. The sketch is the
    * canonical MERGEABLE bounded-memory frequency summary: the
    * counter table is `depth·width` cells NO MATTER the corpus size,
    * partial sketches add cellwise (a plain (row, bucket) sum — Spark
    * map-side-combines it), and the estimate for a key is the min of
    * its `depth` cells, an upper bound that overshoots by hash
    * collisions only. Returns per-token truth vs estimate — the
    * overcount column IS the sketch-error audit; `width` defaults low
    * enough (16) that the synthetic 31-token vocabulary actually
    * collides, so the audit shows real error, not zeros.
    *
    * Build discipline: occurrences are pre-aggregated per token (the
    * vocab-bounded relation) BEFORE the sketch explode, so the d-fold
    * blowup runs on distinct tokens, not corpus tokens — identical
    * arithmetic, corpus-independent cost.
    */
  def cmsEstimates(docs: DataFrame, textCol: String,
      depth: Int = 2, width: Int = 16): DataFrame = {
    val toks = docs.select(explode(
      filter(split_part_tokens(col(textCol)), t => t =!= "")).as("token"))
    val cnts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val rows = (0 until depth).map { i =>
      struct(lit(i.toLong).as("rw"),
        pmod(Dedup.portableHash(
          concat(lit(i.toString), lit(":"), col("token"))), lit(width.toLong))
          .as("bucket"))
    }
    val cells = cnts
      .select(col("token"), col("cnt"), explode(array(rows: _*)).as("rb"))
      .select(col("token"), col("cnt"),
        col("rb.rw").as("rw"), col("rb.bucket").as("bucket"))
    val sketch = cells.groupBy("rw", "bucket").agg(sum(col("cnt")).as("cell"))
    cells.join(sketch, Seq("rw", "bucket"))
      .groupBy("token", "cnt").agg(min(col("cell")).as("est"))
      .select(col("token"), col("cnt"), col("est"),
        (col("est") - col("cnt")).as("overcount"))
  }

  def heavyHitters(docs: DataFrame, textCol: String,
      phiInv: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val k = 2 * phiInv
    val toks = docs.select(explode(
      filter(split_part_tokens(col(textCol)), t => t =!= "")).as("token"))
    val cands = toks.select(col("token")).as[String].mapPartitions { it =>
      val counters = new scala.collection.mutable.HashMap[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < k => counters.update(t, 1L)
          case None =>
            // full table: decrement every counter, free zeroed slots
            // (iterate a snapshot — removal during iteration is UB)
            counters.toList.foreach { case (w, c) =>
              if (c == 1L) counters.remove(w) else counters.update(w, c - 1)
            }
        }
      }
      counters.keysIterator
    }.toDF("token").distinct()
    val total = toks.agg(count(lit(1)).as("n_total_tokens"))
    toks.join(broadcast(cands), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * phiInv >= col("n_total_tokens"))
      .select(col("token"), col("cnt"), col("n_total_tokens"))
  }

  /** k-anonymity suppression with a generalization ladder over the
    * quasi-identifier triple (source, lang, token-length bucket) — the
    * release screen a corpus passes before per-document metadata ships
    * with it: any QID combination observed fewer than k times lets a
    * row be re-identified by joining public side tables.
    *
    * Recoding is GLOBAL per (source, lang) group (Samarati-style): the
    * whole group publishes at the finest ladder level at which EVERY
    * bucket of the group reaches k — level 0 = fine bucket (len DIV
    * fine · fine), level 1 = coarse bucket (coarse must be a multiple
    * of fine so level-1 counts derive from level-0 counts WITHOUT a
    * second corpus pass), level 2 = bucket dropped (`*`), level 3 =
    * suppressed (the (source, lang) pair itself is < k). Global — not
    * per-row-minimal — recoding is what makes the guarantee real: with
    * mixed granularity inside a group, a row generalized to `*` beside
    * rows publishing fine labels is re-identifiable by EXCLUSION (its
    * published class is smaller than the count that justified it).
    * Under global recoding every published (source, lang, bucket)
    * label names ≥ k rows. NULL source/lang coalesce to '' and are
    * screened like any value (never silently dropped). Each row
    * reports its group's level and its published class size — exact
    * integers.
    *
    * Shapes: the length is an in-row map; ONE map-side-combinable
    * corpus aggregation builds the level-0 histogram (checkpointed —
    * its level-1/2 rollups and the per-group level verdict all derive
    * from it); the group-verdict and count tables broadcast back onto
    * the corpus scan (QID cardinality ≤ |sources|·|langs|·buckets,
    * never corpus-sized), so the whole screen is scan → agg → three
    * broadcast hash joins at any corpus size.
    */
  /** The QID/sensitive column triple shared by the three privacy
    * rungs ([[kAnonymize]], [[lDiversify]], [[tCloseness]]): NULL-
    * coalesced lang and source strings plus the fine token-length
    * bucket. ONE definition so the ladder buckets every document
    * identically across all three screens — a split or bucket change
    * here moves the whole triad together.
    */
  private def qidCols(textCol: String, srcCol: String, langCol: String,
      fine: Int): (Column, Column, Column) = {
    val len = wsTokenLen(col(textCol))
    (coalesce(col(langCol).cast("string"), lit("")),
      coalesce(col(srcCol).cast("string"), lit("")),
      len - pmod(len, lit(fine.toLong)))
  }

  /** The privacy ladder's token-length convention (whitespace tokens
    * of the NULL-coalesced text), exposed so a composed pipeline can
    * precompute it in-row at the scan and never carry text across an
    * exchange (the curation-v2 composition).
    */
  private[graft] def wsTokenLen(textCol: Column): Column =
    size_long(filter(split_part_tokens(textCol), t => t =!= ""))

  /** The k-anon ladder's internal relations — level-0 histogram (c0,
    * checkpointed), level-1 rollup (c1), and the per-(src, lng) group
    * verdict (g: c2 total + anon_level) — factored out so the verdict
    * alone can feed a composed pipeline's suppression gate without
    * materializing per-row labels (see [[kAnonGroupVerdict]]).
    */
  private def kAnonLadder(docs: DataFrame, textCol: String, k: Int,
      srcCol: String, langCol: String, fine: Int, coarse: Int,
      lenCol: Option[Column]): (DataFrame, DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(fine >= 1 && coarse >= fine && coarse % fine == 0,
      s"coarse ($coarse) must be a positive multiple of fine ($fine)")
    val len = lenCol.getOrElse(wsTokenLen(col(textCol)))
    val b0c = len - pmod(len, lit(fine.toLong))
    val srcQ = coalesce(col(srcCol).cast("string"), lit(""))
    val lngQ = coalesce(col(langCol).cast("string"), lit(""))
    val toB1 = (b: Column) => b - pmod(b, lit(coarse.toLong))
    val c0 = docs
      .select(srcQ.as("src"), lngQ.as("lng"), b0c.as("b0"))
      .groupBy("src", "lng", "b0").agg(count(lit(1)).as("c0"))
      .localCheckpoint(true)
    val c1 = c0
      .withColumn("b1", toB1(col("b0")))
      .groupBy("src", "lng", "b1").agg(sum(col("c0")).as("c1"))
    val g = c0.groupBy("src", "lng")
      .agg(min(col("c0")).as("min0"), sum(col("c0")).as("c2"))
      .join(c1.groupBy("src", "lng").agg(min(col("c1")).as("min1")),
        Seq("src", "lng"))
      .select(col("src"), col("lng"), col("c2"),
        when(col("min0") >= k, lit(0L))
          .when(col("min1") >= k, lit(1L))
          .when(col("c2") >= k, lit(2L))
          .otherwise(lit(3L)).as("anon_level"))
    (c0, c1, g)
  }

  /** Just the bounded per-(src, lng) verdict of the k-anon ladder —
    * (src, lng, c2, anon_level), QID-bounded rows — for pipelines that
    * gate on "is this group suppressed" and don't need per-row labels:
    * broadcast it back onto the survivor scan (one BHJ) instead of the
    * full three-join labeling pass. `lenCol` (when given) replaces the
    * text-derived token length so the caller can precompute it in-row
    * and drop text before any exchange.
    */
  def kAnonGroupVerdict(docs: DataFrame, textCol: String, k: Int,
      srcCol: String = "source", langCol: String = "lang",
      fine: Int = 25, coarse: Int = 50,
      lenCol: Option[Column] = None): DataFrame =
    kAnonLadder(docs, textCol, k, srcCol, langCol, fine, coarse, lenCol)._3

  def kAnonymize(docs: DataFrame, textCol: String, k: Int,
      idCol: String = "doc_id", srcCol: String = "source",
      langCol: String = "lang", fine: Int = 25,
      coarse: Int = 50): DataFrame = {
    val (c0, c1, g) =
      kAnonLadder(docs, textCol, k, srcCol, langCol, fine, coarse, None)
    val (lngQ, srcQ, b0e) = qidCols(textCol, srcCol, langCol, fine)
    val b0 = b0e.as("b0")
    val toB1 = (b: Column) => b - pmod(b, lit(coarse.toLong))
    docs
      .select(col(idCol), srcQ.as("src"), lngQ.as("lng"), b0)
      .withColumn("b1", toB1(col("b0")))
      .join(broadcast(g), Seq("src", "lng"))
      .join(broadcast(c0), Seq("src", "lng", "b0"))
      .join(broadcast(c1), Seq("src", "lng", "b1"))
      .select(col(idCol), col("src").as(srcCol), col("lng").as(langCol),
        when(col("anon_level") === 0L, concat(lit("b"), col("b0")))
          .when(col("anon_level") === 1L, concat(lit("B"), col("b1")))
          .otherwise(lit("*")).as("qid_bucket"),
        col("anon_level"),
        when(col("anon_level") === 0L, col("c0"))
          .when(col("anon_level") === 1L, col("c1"))
          .otherwise(col("c2")).as("group_size"),
        (col("anon_level") === 3L).as("suppressed"))
  }

  /** Distinct l-diversity screen (Machanavajjhala et al. 2007) — the
    * attribute-disclosure companion to [[kAnonymize]]: k-anonymity
    * only bounds CLASS SIZE, so a class of 50 rows that all share one
    * sensitive value still leaks it to anyone who can place a row in
    * the class. This screen requires every published equivalence
    * class to contain at least `l` DISTINCT sensitive values. QID here
    * is (lang, token-length bucket); the sensitive attribute is
    * `source` (which scraper/feed a document came from — exactly the
    * kind of provenance a released corpus must not let an adversary
    * pin to a row).
    *
    * Recoding is GLOBAL per lang group on the same Samarati ladder as
    * kAnonymize (level 0 fine bucket / 1 coarse / 2 bucket dropped /
    * 3 suppressed), for the same exclusion-leak reason. The one
    * structural difference from the k-anon ladder: DISTINCT COUNTS DO
    * NOT SUM, so level-1/2 diversities cannot roll up from level-0
    * counts — they roll up from the level-0 DISTINCT-TRIPLE relation
    * (lang, bucket, source), which is bounded by |langs|·buckets·
    * |sources| no matter the corpus size. NULL lang/source coalesce
    * to '' and are screened like any value.
    *
    * Shapes: ONE map-side-combinable corpus aggregation builds the
    * distinct-triple histogram (checkpointed — all three ladder
    * levels and the group verdict derive from it); verdict + per-level
    * diversity tables broadcast back onto the corpus scan. Scan →
    * agg → three broadcast hash joins at any corpus size.
    */
  def lDiversify(docs: DataFrame, textCol: String, l: Int,
      idCol: String = "doc_id", sensCol: String = "source",
      langCol: String = "lang", fine: Int = 25,
      coarse: Int = 50): DataFrame = {
    require(l >= 1, s"l must be >= 1, got $l")
    require(fine >= 1 && coarse >= fine && coarse % fine == 0,
      s"coarse ($coarse) must be a positive multiple of fine ($fine)")
    val (lngQ, srcQ, b0e) = qidCols(textCol, sensCol, langCol, fine)
    val b0 = b0e.as("b0")
    val toB1 = (b: Column) => b - pmod(b, lit(coarse.toLong))
    val h0 = docs.select(lngQ.as("lng"), srcQ.as("src"), b0)
      .groupBy("lng", "b0", "src").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // rows of h0 are distinct (lng, b0, src), so per-group row counts
    // ARE the distinct-source diversities
    val div0 = h0.groupBy("lng", "b0").agg(count(lit(1)).as("div0"))
    val div1 = h0.withColumn("b1", toB1(col("b0")))
      .select("lng", "b1", "src").distinct()
      .groupBy("lng", "b1").agg(count(lit(1)).as("div1"))
    val div2 = h0.select("lng", "src").distinct()
      .groupBy("lng").agg(count(lit(1)).as("div2"))
    val g = div0.groupBy("lng").agg(min(col("div0")).as("min0"))
      .join(div1.groupBy("lng").agg(min(col("div1")).as("min1")),
        Seq("lng"))
      .join(div2, Seq("lng"))
      .select(col("lng"),
        when(col("min0") >= l, lit(0L))
          .when(col("min1") >= l, lit(1L))
          .when(col("div2") >= l, lit(2L))
          .otherwise(lit(3L)).as("ldiv_level"),
        col("div2"))
    docs.select(col(idCol), lngQ.as("lng"), b0)
      .withColumn("b1", toB1(col("b0")))
      .join(broadcast(g), Seq("lng"))
      .join(broadcast(div0), Seq("lng", "b0"))
      .join(broadcast(div1), Seq("lng", "b1"))
      .select(col(idCol), col("lng").as(langCol),
        when(col("ldiv_level") === 0L, concat(lit("b"), col("b0")))
          .when(col("ldiv_level") === 1L, concat(lit("B"), col("b1")))
          .otherwise(lit("*")).as("qid_bucket"),
        col("ldiv_level"),
        when(col("ldiv_level") === 0L, col("div0"))
          .when(col("ldiv_level") === 1L, col("div1"))
          .otherwise(col("div2")).as("class_distinct"),
        (col("ldiv_level") === 3L).as("suppressed"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the privacy-release ladder after [[kAnonymize]] (class
    * size) and [[lDiversify]] (distinct sensitive values): a class can
    * be large AND diverse yet still leak by SKEW — 49 rows of source A
    * and 1 of B tells an adversary the sensitive value with 98%
    * confidence. This audit bounds, per equivalence class, the
    * variational distance (the categorical t-closeness metric: ½ Σ
    * |p_class − p_global|) between the class's sensitive-attribute
    * distribution and the corpus-wide one. QID = (lang, fine length
    * bucket); sensitive = source; a class passes iff t ≤ `tE6Max`.
    *
    * Integer contract: distances cross-multiply to integers
    * (|c·N − n_src·n_class| summed over the COMPLETED class × source
    * grid — absent cells charge their full global mass, the χ²-grid
    * convention), products run in DECIMAL(38,0) so the audit is exact
    * past 10⁹ docs, and t_e6 is one positive DECIMAL DIV.
    *
    * Shapes: ONE corpus aggregation to the (lang, bucket, source)
    * histogram (checkpointed — classes, the global distribution and
    * the total all derive from it); the completed grid is class-list
    * × source-list with both sides bounded and the histogram joined
    * back broadcast. Nothing after the first agg touches corpus-sized
    * data.
    */
  def tCloseness(docs: DataFrame, textCol: String, tE6Max: Long = 350000,
      sensCol: String = "source", langCol: String = "lang",
      fine: Int = 25): DataFrame = {
    require(fine >= 1, s"fine must be >= 1, got $fine")
    require(tE6Max >= 0, s"tE6Max must be >= 0, got $tE6Max")
    val (lngQ, srcQ, b0e) = qidCols(textCol, sensCol, langCol, fine)
    val b0 = b0e.as("b0")
    val h0 = docs.select(lngQ.as("lng"), srcQ.as("src"), b0)
      .groupBy("lng", "b0", "src").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val gsrc = h0.groupBy("src").agg(sum(col("c")).as("n_src"))
    val tot = h0.agg(sum(col("c")).as("n_all"))
    val classes = h0.groupBy("lng", "b0").agg(sum(col("c")).as("n_class"))
    classes.crossJoin(broadcast(gsrc))
      .join(broadcast(h0), Seq("lng", "b0", "src"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lng"), col("b0"), col("n_class"), col("n_all"),
        (abs(coalesce(col("c"), lit(0L)).cast("decimal(38,0)") * col("n_all")
          - col("n_src").cast("decimal(38,0)") * col("n_class")))
          .as("term"))
      .groupBy("lng", "b0", "n_class", "n_all")
      .agg(sum(col("term")).as("num"))
      .select(col("lng").as(langCol), col("b0"), col("n_class"),
        expr("""CAST(CAST(num AS DECIMAL(38, 0)) * 1000000
               |DIV CAST(2 * n_class * n_all AS DECIMAL(38, 0))
               |AS BIGINT)""".stripMargin).as("t_e6"))
      .withColumn("pass", col("t_e6") <= tE6Max)
  }
}
