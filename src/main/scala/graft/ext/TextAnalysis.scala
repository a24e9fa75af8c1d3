package graft.ext

import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation (SURVEY §7.5): language
  * ID, quality scoring, token counting, document fingerprinting. All
  * pure column algebra — single narrow scan per operator, codegen'd, no
  * UDFs — so they compose into one pass when selected together.
  */
object TextAnalysis {

  /** Tiny per-language stopword signatures for the n-gram-free heuristic
    * language detector: predicted language = argmax of signature-token
    * hits (ties break alphabetically). Real pipelines plug in fastText;
    * the operator shape (token join + argmax) is what scales.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you")
  )

  /** Language prediction per document. Output keeps the per-language hit
    * counts so downstream filters can threshold on confidence.
    */
  def languageId(docs: DataFrame, textCol: String): DataFrame = {
    // r15 OPTIMIZATION (guide §1.2 per-task work / expressions+codegen):
    // all token-derived gate statistics come from ONE compiled pass
    // (text_gate_e) instead of a tokenize + 5 interpreted HOF filters —
    // hit counts are element_at picks over the kernel's hits array;
    // values are bit-identical (the kernel reproduces tokensCol's
    // maximal-[a-z0-9]-run tokens; pinned by the unchanged oracles).
    val langs = stopwords.keys.toSeq.sorted
    graft.functions.TextGateFunctions.register(
      docs.sparkSession, langs.map(stopwords))
    val withG = docs.withColumn("__g",
      graft.functions.TextGateFunctions.text_gate_e(
        coalesce(col(textCol), lit(""))))
    val withHits = langs.zipWithIndex.foldLeft(withG) { case (df, (l, i)) =>
      df.withColumn(s"hits_$l", element_at(col("__g").getField("hits"), i + 1))
    }
    // argmax with alphabetical tie-break: fold over (hits, lang) pairs
    val best = langs.map(l => struct(col(s"hits_$l").as("h"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("h") > a.getField("h"), b).otherwise(a))
    withHits
      .withColumn("predicted_lang",
        when(greatest(langs.map(l => col(s"hits_$l")): _*) === 0, lit("und"))
          .otherwise(best.getField("l")))
      .drop("__g")
  }

  /** Quality metrics + composite score: length, alpha ratio, stopword
    * ratio, mean token length, repetition (distinct/total tokens).
    * Score weights are arbitrary but fixed; the operator contract is the
    * metric set, all computed in one scan.
    */
  def qualityScore(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // r15 OPTIMIZATION (guide §1.2 per-task work / expressions+codegen):
    // the four token-derived metrics previously re-inlined the tokenize
    // expression (regex split + HOF filter) and ran interpreted HOFs
    // (filter / aggregate) per metric — ~4 regex tokenizations + 4
    // array traversals per row, none of it codegen'd. One compiled
    // text_gate_e pass now produces the integer counts; the metric
    // columns derive from them with the SAME casts and IEEE divisions
    // in the same order, so values are bit-identical (unchanged
    // oracles pin this). n_chars / alpha_ratio never touched tokens
    // and keep their original codegen expressions.
    val langs = stopwords.keys.toSeq.sorted
    graft.functions.TextGateFunctions.register(
      docs.sparkSession, langs.map(stopwords))
    val enIdx = langs.indexOf("en") + 1
    val g = col("__g")
    val nChars = length(t).cast("double")
    val nToks = g.getField("n_tokens").cast("double")
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    val nStop = element_at(g.getField("hits"), enIdx).cast("double")
    val nDistinct = g.getField("n_distinct").cast("double")
    val tokCharSum = g.getField("tok_char_sum").cast("double")
    // Parity note: every metric is a single IEEE division/multiply-add of
    // per-row integers — deterministic and bit-identical across engines,
    // so NO rounding (round() would introduce decimal half-boundary
    // disagreements, e.g. ratios with denominator 2^k·5^m).
    docs
      .withColumn("__g", graft.functions.TextGateFunctions.text_gate_e(
        coalesce(t, lit(""))))
      .withColumn("n_chars", nChars)
      .withColumn("n_tokens", nToks)
      .withColumn("alpha_ratio", nAlpha / greatest(nChars, lit(1.0)))
      .withColumn("stopword_ratio", nStop / greatest(nToks, lit(1.0)))
      .withColumn("mean_token_len", tokCharSum / greatest(nToks, lit(1.0)))
      .withColumn("distinct_ratio", nDistinct / greatest(nToks, lit(1.0)))
      .withColumn("quality_score",
        least(nToks / 100.0, lit(1.0)) * 0.25
          + col("alpha_ratio") * 0.25
          + least(col("stopword_ratio") * 5.0, lit(1.0)) * 0.25
          + col("distinct_ratio") * 0.25)
      .drop("__g")
  }

  /** One-pass fusion of [[languageId]] + [[qualityScore]] for gate
    * consumers that read ONLY `predicted_lang` + `quality_score` (the
    * curation screens): one compiled text_gate_e pass feeds both — the
    * two-operator composition pays the kernel twice because each
    * operator drops its own `__g`. Every output column is the SAME
    * expression the two operators produce (the score inlines the ratio
    * arithmetic in the identical order — column materialization does
    * not change IEEE values), so `f.filter(quality_score >= 0.5 &&
    * predicted_lang === lang)` is verbatim-equivalent; pinned by the
    * unchanged curation oracles.
    */
  def curationGate(docs: DataFrame, textCol: String): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    graft.functions.TextGateFunctions.register(
      docs.sparkSession, langs.map(stopwords))
    val t = col(textCol)
    val g = col("__g")
    def hits(l: String): Column =
      element_at(g.getField("hits"), langs.indexOf(l) + 1)
    val best = langs.map(l => struct(hits(l).as("h"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("h") > a.getField("h"), b).otherwise(a))
    val nChars = length(t).cast("double")
    val nToks = g.getField("n_tokens").cast("double")
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    val nStop = element_at(g.getField("hits"),
      langs.indexOf("en") + 1).cast("double")
    val nDistinct = g.getField("n_distinct").cast("double")
    docs
      .withColumn("__g", graft.functions.TextGateFunctions.text_gate_e(
        coalesce(t, lit(""))))
      .withColumn("predicted_lang",
        when(greatest(langs.map(hits): _*) === 0, lit("und"))
          .otherwise(best.getField("l")))
      .withColumn("quality_score",
        least(nToks / 100.0, lit(1.0)) * 0.25
          + (nAlpha / greatest(nChars, lit(1.0))) * 0.25
          + least((nStop / greatest(nToks, lit(1.0))) * 5.0, lit(1.0)) * 0.25
          + (nDistinct / greatest(nToks, lit(1.0))) * 0.25)
      .drop("__g")
  }

  /** Token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs | digit runs | single punctuation).
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_ws_tokens",
        size(filter(split(t, "\\s+"), x => x =!= "")))
      .withColumn("n_re_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))))
      .withColumn("n_chars_col", length(t))
  }

  /** Bigram collocation mining — the corpus-analysis staple: the topK
    * adjacent token pairs occurring at least `minCount` times, ranked
    * by pointwise-mutual-information LIFT, i.e. observed pair rate
    * over the independence expectation:
    * `p(l,r)/(p(l)·p(r)) = n_pair·N_uni² / (n_left·n_right·N_bi)`
    * (exp of PMI — same ranking, no transcendental: `ln` is not
    * bit-reproducible across engines, while this single pinned chain
    * of IEEE multiplies/divides over exact integer inputs is).
    * Shapes for 100 TB: bigrams are built IN-ROW (zip_with of the
    * token array with its own tail — no positional explode join),
    * counted with map-side partial aggregation; the `minCount`
    * filter shrinks the pair relation BEFORE the unigram joins and
    * that filtered side is broadcast, so the vocab-sized unigram
    * relation never shuffles; topK is orderBy+limit →
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Int = 5,
      topK: Int = 50): DataFrame = {
    val toks = docs.select(Tokenizer.tokensCol(col(textCol)).as("__ts"))
    // adjacent pairs: zip tokens with their own tail; the final zip
    // partner is null (zip_with pads) and drops in the filter
    val pairs = filter(
      zip_with(col("__ts"),
        slice(col("__ts"), lit(2), greatest(size(col("__ts")) - 1, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r"))),
      p => p.getField("r").isNotNull)
    // both are vocab-sized (distinct tokens / distinct adjacent pairs)
    // and each feeds TWO consumers (count joins + totals) — persist so
    // the corpus-sized explode+aggregate runs once per relation, not
    // once per consumer (Spark does no cross-branch subtree reuse)
    val uni = toks.select(explode(col("__ts")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_uni")).persist()
    val biAll = toks.select(explode(pairs).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("n_pair")).persist()
    val totUni = uni.agg(sum(col("n_uni")).as("total_uni"))
    val totBi = biAll.agg(sum(col("n_pair")).as("total_bi"))
    val frequent = biAll.filter(col("n_pair") >= minCount)
    broadcast(broadcast(frequent)
        .join(uni.select(col("token").as("l"), col("n_uni").as("n_left")), "l"))
      .join(uni.select(col("token").as("r"), col("n_uni").as("n_right")), "r")
      .crossJoin(broadcast(totUni))
      .crossJoin(broadcast(totBi))
      .select(
        concat(col("l"), lit(" "), col("r")).as("bigram"),
        col("n_pair"), col("n_left"), col("n_right"),
        // pinned association order — mirrored verbatim in the oracle
        (col("n_pair").cast("double") * col("total_uni") * col("total_uni")
          / (col("n_left").cast("double") * col("n_right") * col("total_bi")))
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(topK)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, §3.1) at
    * corpus level — domain terminology mining: candidate tokens vote
    * for each other through window-2 adjacency edges and PageRank's
    * centrality ranks them. The paper's POS syntactic filter is
    * stood in by a minimum token length (`minLen`), applied BEFORE
    * pairing so adjacency is over the candidate sequence; edges are
    * unweighted and undirected exactly as the paper's keyword task
    * uses them.
    *
    * Scale shape: the corpus-sized work is one in-row pair zip + one
    * explode + a distinct — everything after (the graph and `iters`
    * PageRank rounds via [[Graph.pageRank]], e9 integer fixed point)
    * runs on vocab-bounded relations (distinct adjacent candidate
    * pairs — Zipf-bounded, never corpus-shaped).
    */
  def textRankKeywords(docs: DataFrame, textCol: String, minLen: Int = 4,
      iters: Int = 2, topK: Int = 50): DataFrame = {
    val toks = docs.select(
      filter(Tokenizer.tokensCol(col(textCol)),
        t => length(t) >= minLen).as("__ts"))
    // adjacent candidate pairs: zip tokens with their own tail (the
    // collocations recipe); the zip_with pad partner is null and
    // drops in the filter, as do same-word repeats (self-loops)
    val pairs = filter(
      zip_with(col("__ts"),
        slice(col("__ts"), lit(2), greatest(size(col("__ts")) - 1, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r"))),
      p => p.getField("r").isNotNull &&
        p.getField("l") =!= p.getField("r"))
    val adj = toks.select(explode(pairs).as("p"))
      .select(col("p.l").as("src"), col("p.r").as("dst"))
    val edges = adj
      .unionByName(adj.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    Graph.pageRank(edges, iters)
      .withColumnRenamed("node", "keyword")
      .withColumnRenamed("pr", "pr_e9")
      .orderBy(col("pr_e9").desc, col("keyword"))
      .limit(topK)
  }

  /** Character-trigram language classifier — the "n-gram heuristic"
    * variant: train per-language trigram profiles FROM the labeled
    * corpus itself (top `profileSize` trigrams by document frequency),
    * then classify each document by profile-hit count. Train + apply is
    * one relational pipeline (two aggregations + one join), fully
    * deterministic, oracle-checkable, and embarrassingly parallel: at
    * 100 TB the profiles are a tiny broadcast table and classification
    * is a map-side join over the exploded trigrams.
    */
  def charTrigramLangId(docs: DataFrame, textCol: String, langCol: String,
      profileSize: Int = 40): DataFrame = {
    val spark = docs.sparkSession
    docs.createOrReplaceTempView("__lang_docs")
    // The distinct-trigram relation is needed by BOTH the profile-
    // training and classification branches. r3 measured caching it
    // SLOWER — but that cache held the WIDE (doc_id, lang, tg-string)
    // rows. Two changes fix that (r4 verdict #5; measurements in
    // PLANS_r5.md): (1) each trigram is a collision-FREE BIGINT
    // (codepoint1·2^42 + codepoint2·2^21 + codepoint3 — `ascii()`
    // returns identical full codepoints in Spark and DuckDB, so the
    // pipeline stays oracle-checkable with no hash at all; an md5
    // variant MEASURED slower, the per-occurrence digest eats the
    // narrow-row win); (2) the compiled `char_trigrams_e` kernel emits
    // each doc's DISTINCT encoded trigrams in one codegen'd call — no
    // interpreted transform/substr lambda, and the corpus-wide
    // DISTINCT shuffle disappears (dedup happens in-row). Profile ties
    // break on the encoding, mirrored in the oracle. localCheckpoint
    // truncates lineage; blocks release when the frame is GC'd.
    graft.functions.TrigramFunctions.register(spark)
    // Two consumers (profile training + classification) but NO
    // materialization between them: the r9 form localCheckpoint'ed
    // the 13M-row trigram relation EVERY run (an eager corpus-sized
    // write into the storage pool — the dominant cost once the scan
    // itself went wide), when the compiled kernel is cheap enough to
    // just run twice. The classification branch also re-DISTINCTed
    // rows `char_trigrams_e` already emits per-doc-distinct — a
    // redundant corpus-sized exchange, dropped. Remaining exchanges:
    // the (lang,h) profile agg (charset³-bounded after partial agg)
    // and the (doc,lang) hit count — both key-shaped, both necessary.
    val tri = spark.sql(
      s"""SELECT doc_id, $langCol AS lang,
         |       explode(char_trigrams_e(lower($textCol))) AS h
         |FROM __lang_docs""".stripMargin)
    // Profile training: top-`profileSize` trigrams per lang. The r9
    // form ranked with a row_number window PARTITIONED BY LANG — at
    // any scale that is n_langs reducer tasks each sorting its whole
    // language's distinct-trigram cells (2M rows per task at sf1, one
    // whale per language at 100 TB). The bounded-heap aggregate
    // reduces every (lang, partition) to ≤ profileSize rows BEFORE
    // the exchange; tie contract (count DESC, h ASC) is identical.
    graft.functions.TopKFunctions.register(spark)
    val counts = tri.groupBy(col("lang"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val profile = counts.groupBy(col("lang"))
      // score must be DOUBLE for the aggregate; counts are exact in
      // double up to 2^53, far above any per-lang trigram count
      .agg(graft.functions.TopKFunctions.topk_desc(col("cnt").cast("double"),
        graft.functions.TopKFunctions.tieKey(col("h"),
          org.apache.spark.sql.types.LongType),
        struct(col("h")), profileSize).as("__top"))
      .select(col("lang").as("p_lang"), explode(col("__top")).as("__s"))
      .select(col("p_lang"), col("__s.h").as("h"))
    // Classification: the profile side is profileSize·n_langs rows —
    // broadcast, so the corpus-sized trigram relation never shuffles
    // for the join; the per-doc argmax is a map-side-combining
    // min(struct(−hits, lang)) instead of a second window.
    val hits = tri.join(broadcast(profile), "h")
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(count(lit(1)).as("n_hits"))
    val best = hits.groupBy(col("doc_id"))
      .agg(min(struct((-col("n_hits")).as("negh"),
        col("p_lang").as("l"))).as("__b"))
      .select(col("doc_id"), col("__b.l").as("p_lang"),
        (-col("__b.negh")).as("n_hits"))
    docs.select(col("doc_id"), col(langCol).as("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("p_lang"), lit("und")).as("predicted_lang"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set —
    * word-order-insensitive (catches shuffled near-copies that exact
    * hashing misses, cheaper than Jaccard).
    */
  def fingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fingerprint",
      md5(concat_ws(" ",
        array_sort(array_distinct(Tokenizer.tokensCol(col(textCol))))).cast("binary")))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS rolling-hash sketch): hash every character k-gram, slide
    * a window of `window` consecutive hashes, keep each window's
    * minimum (ties → rightmost position, the paper's robust-winnowing
    * rule), emit the distinct selected hashes. Guarantees any shared
    * substring of length ≥ k + window - 1 contributes a shared
    * fingerprint — substring-level (not token-set) copy detection.
    *
    * One explode (k-gram positions) + one analytic window + distinct.
    * The rightmost-min rule runs as ONE scalar window min:
    * key = h·2^31 + (2^31 - pos) — min key = min hash with ties to the
    * largest position; h < 2^31 recovers as `key >> 31`. (A fully
    * in-row array-algebra variant was MEASURED 3× slower — per-window
    * slice/array_min allocation beats the shuffle only on paper.) The
    * hash is the portable md5-based one so the whole sketch is
    * oracle-checkable in DuckDB.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, window: Int = 4): DataFrame = {
    val s = lower(col(textCol))
    val grams = when(length(s) >= k,
      transform(sequence(lit(1), length(s) - (k - 1)),
        i => struct(i.as("pos"), s.substr(i, lit(k)).as("g"))))
      .otherwise(array())
    val hashed = docs
      .select(col(idCol).as("doc_id"), explode(grams).as("pg"))
      .select(col("doc_id"), col("pg.pos").cast("long").as("pos"),
        pmod(Dedup.portableHash(col("pg.g")), lit(Dedup.MersennePrime)).as("h"))
    val Two31 = 2147483648L
    val key = col("h") * lit(Two31) + (lit(Two31) - col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(1 - window, 0)
    hashed
      .withColumn("selkey", min(key).over(w))
      .filter(col("pos") >= window) // only full windows select
      .select(col("doc_id"), shiftright(col("selkey"), 31).as("fp"))
      .distinct()
  }

  /** Shuffle-free winnowing: the same sketch (identical values — same
    * portable hash, same rightmost-min rule) computed as array algebra
    * INSIDE each row: hash the k-grams into one array, take each
    * sliding window's min as a scalar key, `array_distinct`, and emit
    * one map-side explode of the already-doc-unique selections. A pure
    * map stage — zero exchange.
    *
    * Crossover (MEASURED, PLANS_r4.md: sf0.1 replicated ×1/×4/×10 ≈
    * sf1, local[32]): explode+window wins ~2× at every local scale
    * (6.8 vs 12.9 s, 24.9 vs 51.7 s, 61.2 vs 129.0 s) — the ratio is
    * flat, so there is NO local crossover. Root cause: lambda bodies in
    * `transform`/`zip_with` evaluate INTERPRETED (outside whole-stage
    * codegen), so the per-k-gram md5 here runs ~2-3× slower than the
    * explode plan's codegen'd hash — a 32-thread in-memory shuffle is
    * cheaper than that interpretation tax. The tradeoff only flips on
    * a real cluster where the explode variant shuffles ~corpus-chars
    * rows across the NETWORK while this variant ships nothing; prefer
    * this one there, and [[winnowFingerprints]] on single-node/local
    * data.
    */
  def winnowFingerprintsInRow(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, window: Int = 4): DataFrame = {
    val s = lower(col(textCol))
    val Two31 = 2147483648L
    val grams = when(length(s) >= k,
      transform(sequence(lit(1), length(s) - (k - 1)),
        i => s.substr(i, lit(k))))
      .otherwise(array())
    val keys = zip_with(grams,
      sequence(lit(1L), greatest(size(grams).cast("long"), lit(1L))),
      (g, pos) =>
        pmod(Dedup.portableHash(g), lit(Dedup.MersennePrime)) * Two31
          + (lit(Two31) - pos))
    val withKeys = docs.select(col(idCol).as("doc_id"),
      size(grams).as("__n"), keys.as("__keys"))
    // window-min as least() over `window` O(1) element_at lookups
    // rather than slice+array_min (one less allocation per window;
    // MEASURED equivalent — the variant's real cost is that lambda
    // bodies in transform/zip_with evaluate INTERPRETED, outside
    // whole-stage codegen, so the per-k-gram md5 runs ~3× slower than
    // the explode plan's codegen'd hash; the explode plan pays a
    // shuffle instead. Local: explode wins. Network-bound: this wins.
    def winMin(i: Column): Column =
      (0 until window).map(j => element_at(col("__keys"), (i - j).cast("int")))
        .reduce(least(_, _))
    val sel = when(col("__n") >= window,
      array_distinct(transform(
        sequence(lit(window), col("__n")),
        i => shiftright(winMin(i), 31))))
      .otherwise(array())
    withKeys.select(col("doc_id"), explode(sel).as("fp"))
  }

  /** The compiled winnowing kernel ([[graft.functions.WinnowImpl]]):
    * zero shuffle AND codegen'd hashing — one static JVM call per row
    * computes the doc's whole distinct-fingerprint set. Identical
    * values to both relational variants (same portable hash, same
    * rightmost-min rule; `lower` is applied HERE with Spark's own
    * function so case folding cannot diverge). Preferred everywhere;
    * the relational forms remain as the oracle-shaped reference
    * implementations.
    */
  def winnowFingerprintsNative(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, window: Int = 4): DataFrame = {
    graft.functions.WinnowFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.WinnowFunctions.winnow_fps(
        lower(col(textCol)), k, window)).as("fp"))
  }

  /** Source-overlap matrix — which corpus slices duplicate each other:
    * for every source pair, the number of winnow fingerprints present
    * in BOTH (substring-level overlap, the corpus-procurement dedup
    * signal). Shape: fingerprints come from the compiled kernel with
    * the group column carried in the SAME projection (no corpus join
    * to reattach it), collapse to DISTINCT (group, fp) — map-side
    * combined, the corpus-sized step — then the fp-keyed self-join's
    * fanout is bounded by groups² PER FINGERPRINT, never by docs: a
    * ubiquitous fingerprint contributes one count to each of ≤ g²/2
    * pairs regardless of how many billion docs contain it.
    */
  def sourceOverlap(docs: DataFrame, textCol: String,
      byCol: String = "source", k: Int = 8, window: Int = 4): DataFrame = {
    graft.functions.WinnowFunctions.register(docs.sparkSession)
    val gfp = docs.select(col(byCol).as("grp"),
        explode(graft.functions.WinnowFunctions.winnow_fps(
          lower(col(textCol)), k, window)).as("fp"))
      .distinct()
    val a = gfp.select(col("grp").as("source_a"), col("fp"))
    val b = gfp.select(col("grp").as("source_b"), col("fp"))
    a.join(b, "fp")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
  }

  /** Per-document novelty: what fraction of a doc's distinct shingles
    * appears in NO other document (corpus df = 1) — the inverse of the
    * duplication screens: high-novelty docs are the unique long tail a
    * curation pass wants to protect; near-zero novelty without a
    * near-dup pair flags template/boilerplate families too diffuse for
    * pairwise dedup. Input is the shared shingle artifact (8-byte
    * hashes, per-doc distinct), so the operator itself is two key-
    * shaped aggregations: df per shingle (map-side combined), then a
    * doc rollup of the df==1 indicator — both partial-aggregate before
    * their exchange, no joins against the corpus text. Fixed-point
    * output (permille via BIGINT DIV) keeps the oracle comparison
    * exact.
    */
  def shingleNovelty(sh: DataFrame): DataFrame = {
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    sh.join(dfs, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("__df") === 1L, lit(1L)).otherwise(lit(0L))).as("n_novel"))
      .withColumn("novelty_permille",
        expr("n_novel * 1000 DIV greatest(n_sh, CAST(1 AS BIGINT))"))
      .select("doc_id", "n_sh", "n_novel", "novelty_permille")
  }

  /** Flesch readability profile — the classic quality-filter signal
    * (reading ease + Flesch-Kincaid grade) from three exact integer
    * counts per document, all computed IN-ROW (scan → project, zero
    * Exchange — the gopherProfile shape):
    *
    *  - words: whitespace tokens;
    *  - sentences: runs of `[.!?]+`, clamped to ≥ 1;
    *  - syllables: per word, the count of `[aeiouy]+` vowel groups in
    *    the lowercased token, clamped to ≥ 1 per word — the standard
    *    dictionary-free heuristic (greedy left-to-right non-overlapping
    *    regex matching is engine-identical on ASCII).
    *
    * The scores are ONE fixed IEEE op tree over the three exact
    * integers, quantized once to milli-points:
    *   ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    *   grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    * so the emitted BIGINTs are bit-identical in any engine.
    */
  def readability(docs: DataFrame, textCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val toks = filter(split(coalesce(col(textCol), lit("")), "\\s+"),
      t => t =!= "")
    val sylOf = (t: Column) =>
      greatest(size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))),
        lit(1)).cast("long")
    val base = docs.select(col(idCol),
      size(toks).cast("long").as("n_words"),
      greatest(size(regexp_extract_all(coalesce(col(textCol), lit("")),
        lit("[.!?]+"), lit(0))), lit(1)).cast("long").as("n_sentences"),
      aggregate(transform(toks, sylOf), lit(0L), (acc, x) => acc + x)
        .as("n_syllables"))
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    base.select(col(idCol), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      when(col("n_words") > 0,
        floor((lit(206.835) - lit(1.015) * wps - lit(84.6) * spw) * lit(1000.0)
          + lit(0.5)).cast("long")).otherwise(lit(0L)).as("flesch_ease_milli"),
      when(col("n_words") > 0,
        floor((lit(0.39) * wps + lit(11.8) * spw - lit(15.59)) * lit(1000.0)
          + lit(0.5)).cast("long")).otherwise(lit(0L)).as("fk_grade_milli"))
  }

  /** HTML markup removal — the text-extraction step between a raw web
    * crawl and every downstream screen in this module: strip tags,
    * decode the common character entities, collapse whitespace, and
    * pull the `<title>` out before it goes. Regex-level extraction
    * (the portable core of what trafilatura/jusText do before their
    * DOM heuristics); entity decode order is pinned — named entities
    * first, `&amp;` LAST, so `&amp;lt;` decodes to the literal `&lt;`
    * and not `<` (the classic double-decode bug).
    *
    * All in-row codegen'd string kernels: zero Exchange at any scale.
    * Returns (id, title, n_tags, clean); non-HTML text passes through
    * unchanged (tag regex matches nothing).
    */
  def htmlStrip(docs: DataFrame, textCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val untagged = regexp_replace(t, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (c, (e, r)) => regexp_replace(c, e, r) }
    docs.select(col(idCol),
      regexp_extract(t, "<title>([^<]*)</title>", 1).as("title"),
      size(regexp_extract_all(t, lit("<[^>]*>"), lit(0))).cast("long")
        .as("n_tags"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("clean"))
  }

  /** Moving-average type–token ratio (MATTR, Covington–McFall 2010) —
    * the length-independent lexical-diversity score: plain TTR
    * (distinct/total) collapses as documents grow (Zipf guarantees
    * repeats), so corpus-quality screens that threshold raw TTR
    * systematically punish LONG documents. MATTR slides a fixed
    * `window` over the token sequence (stride 1) and averages the
    * per-window TTR; a doc shorter than the window scores its single
    * full-length window (= its plain TTR).
    *
    * Exact integer contract: `mattr_permille =
    * (Σ_i distinct(window_i)) · 1000 DIV (n_windows · window_len)` —
    * the mean numerator/denominator kept as exact BIGINTs and divided
    * once, so both engines agree bit-for-bit. Tokens are the
    * index-tokenizer relation ([[graft.text.Tokenizer.tokensCol]] ↔
    * the shared `ducktokens` oracle form).
    *
    * Scale shape: pure IN-ROW kernel, zero Exchange before the final
    * ORDER BY; the corpus text never shuffles. The window sum runs in
    * the compiled O(n) last-seen-index kernel
    * ([[graft.functions.MattrStats]] — VERDICT r11 item 4: the HOF
    * fold re-ran `array_distinct(slice(...))` per window position,
    * O(n·window) per doc); [[mattrFold]] retains the fold form as the
    * parity witness (ExtSpec pins value-equality on long docs).
    */
  def mattr(docs: DataFrame, textCol: String, idCol: String = "doc_id",
      window: Int = 25): DataFrame = {
    graft.functions.MattrFunctions.register(docs.sparkSession)
    val ts = graft.text.Tokenizer.tokensCol(col(textCol))
    docs
      .select(col(idCol),
        graft.functions.MattrFunctions.mattr_stats_e(ts, window).as("__s"))
      .filter(col("__s.n_tokens") > 0)
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.n_windows").as("n_windows"),
        expr("__s.dsum * 1000 DIV (__s.n_windows * " +
          "least(CAST(" + window + " AS BIGINT), __s.n_tokens))")
          .as("mattr_permille"),
        expr("__s.n_distinct * 1000 DIV __s.n_tokens").as("ttr_permille"))
  }

  /** The original HOF-fold MATTR (O(n·window) per document) — kept as
    * the independent parity witness for the compiled kernel: same
    * relation, same exact-BIGINT contract, different algorithm.
    */
  private[graft] def mattrFold(docs: DataFrame, textCol: String,
      idCol: String = "doc_id", window: Int = 25): DataFrame = {
    val ts = graft.text.Tokenizer.tokensCol(col(textCol))
    docs
      .select(col(idCol), ts.as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
      .filter(col("__n") > 0)
      .withColumn("__wl", least(lit(window.toLong), col("__n")))
      .withColumn("__nw", col("__n") - col("__wl") + 1L)
      .withColumn("__dsum", expr(
        s"""aggregate(sequence(1L, __nw), CAST(0 AS BIGINT),
           |  (acc, i) -> acc + size(array_distinct(
           |    slice(__ts, CAST(i AS INT), CAST(__wl AS INT)))),
           |  acc -> acc)""".stripMargin))
      .select(col(idCol), col("__n").as("n_tokens"),
        col("__nw").as("n_windows"),
        expr("__dsum * 1000 DIV (__nw * __wl)").as("mattr_permille"),
        expr("CAST(size(array_distinct(__ts)) AS BIGINT) * 1000 DIV __n")
          .as("ttr_permille"))
  }
}
