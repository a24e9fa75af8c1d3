package graft.index

import graft.text.{Tokenize, Tokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text index artifacts, rebuilt from the document table as a batch
  * job — exactly the reference's contract, where the FTS index is a
  * rebuild artifact of `search_index` (`rebuild` + `optimize` after
  * every indexing run; reference dogsheep_beta/utils.py:57-65).
  * Indexed fields: `title` and `search_1` ONLY (utils.py:90; `search_2`
  * / `search_3` are declared but never indexed — SURVEY §1.2).
  *
  * Artifacts, built in one pass over the doc table by
  * [[graft.query.SearchEngine.TextArtifacts.build]] (token arrays →
  * [[positions]] → [[postingsFromPositions]]):
  *
  *  - '''docTokens''' (type, key, timestamp, tokens_title, tokens_s1,
  *    dl_title, dl_s1): per-document token arrays — the source of the
  *    other artifacts and of BM25's doc lengths.
  *  - '''positions''' (term, type, key, field, poss): positional
  *    postings — phrase, `^` and NEAR resolve on them.
  *  - '''postings''' (term, type, key, tf_title, tf_s1): the inverted
  *    index. At 100 TB this is written bucketed/partitioned BY TERM so a
  *    query's handful of terms prunes to a few buckets instead of
  *    scanning the corpus; the tiny query-term list is broadcast.
  *  - '''stats''' (n_docs, avgdl — the combined-row |D| mean): BM25
  *    constants (a 1-row DataFrame; df per term is a window over the
  *    query's term-pruned postings rows, SearchEngine.bm25Scores).
  */
object TextIndex {

  /** Tokenized view of the doc table. One narrow projection + two
    * codegen'd token splits; the Porter variant adds a UDF map.
    */
  def docTokens(index: DataFrame, mode: Tokenize.Value): DataFrame =
    index.select(
      col("type"), col("key"), col("timestamp"),
      Tokenizer.tokens(col("title"), mode).as("tokens_title"),
      Tokenizer.tokens(col("search_1"), mode).as("tokens_s1"))
      .withColumn("dl_title", size(col("tokens_title")))
      .withColumn("dl_s1", size(col("tokens_s1")))

  /** Positional postings (term, type, key, field, poss) — the FTS5-style
    * position lists that make PHRASE queries fully indexed: ONE row per
    * (term, doc, field) carrying the SORTED array of 0-based token
    * positions (r15 layout; before r15 this was one row per token
    * OCCURRENCE, which made every phrase/NEAR leg shuffle occurrence
    * rows — the p4_fts_near trio's dominant cost at sf1). A phrase is
    * now a doc-level join of its terms' rows with an in-row intersect
    * of shifted position lists (SearchEngine.phraseOccurrences), no
    * token-array scan. At 100 TB this is written bucketed by term
    * exactly like the tf postings.
    *
    * The output is CLUSTERED BY TERM: the one occurrence-level shuffle
    * (the explode) repartitions on `term`, and the per-(term, doc,
    * field) rollup rides that clustering (HashPartitioning(term)
    * satisfies the grouping's clustered distribution) — same
    * single-exchange build as the pre-r15 layout, and consumers get the
    * term-pruned persist/scan layout for free.
    */
  def positions(docTokens: DataFrame): DataFrame = {
    def field(fieldCol: String, tag: Int) =
      docTokens.select(col("type"), col("key"),
          posexplode(col(fieldCol)).as(Seq("pos", "term")))
        .withColumn("field", lit(tag))
    field("tokens_title", 0).unionByName(field("tokens_s1", 1))
      .repartition(col("term"))
      .groupBy("term", "type", "key", "field")
      // sort_array: arrival order within the group is partition-order,
      // not token order — the sorted list is the canonical form the
      // in-row adjacency intersect relies on
      .agg(sort_array(collect_list(col("pos"))).as("poss"))
  }

  /** Tf postings DERIVED from the positional postings — the single-pass
    * build: positions already enumerate every token occurrence, so the
    * tf relation is a (term, type, key) rollup of them. When the
    * positions input is clustered by term (the Corpus persist layout /
    * the on-disk term-partitioned layout), the rollup needs NO new
    * exchange — HashPartitioning(term) satisfies the grouping's
    * clustered distribution — so building both artifacts costs ONE
    * tokenize + explode + term shuffle instead of two (r7: halves
    * text_index_build). Output schema (term, type, key, tf_title,
    * tf_s1): one row per (term, doc), per-field term frequencies.
    */
  def postingsFromPositions(positions: DataFrame): DataFrame =
    positions
      .groupBy(col("term"), col("type"), col("key"))
      .agg(
        sum(when(col("field") === 0, size(col("poss"))).otherwise(0))
          .cast("double").as("tf_title"),
        sum(when(col("field") === 1, size(col("poss"))).otherwise(0))
          .cast("double").as("tf_s1"))

  /** True if any indexed field contains a non-ASCII codepoint — the
    * gate for [[stemTokens]]/[[stemPositions]]: one scan, partial-max
    * combine, no shuffle (a 1-row aggregate; at warehouse scale this
    * flag persists as corpus metadata next to the index artifacts).
    */
  def hasNonAscii(index: DataFrame): Boolean = {
    val r = index.agg(
      max(coalesce(col("title"), lit("")).rlike("[^\\x00-\\x7F]") ||
        coalesce(col("search_1"), lit("")).rlike("[^\\x00-\\x7F]"))).head()
    !r.isNullAt(0) && r.getBoolean(0)
  }

  private def stem(c: org.apache.spark.sql.Column) = call_function("porter_stem", c)

  /** Porter docTokens DERIVED from the default-tokenizer docTokens —
    * valid ONLY when [[hasNonAscii]] is false: on pure-ASCII text the
    * ASCII and unicode61 splits emit the identical token stream and
    * diacritic folding is the identity, so the porter arrays are
    * exactly `porter_stem(token)` element-wise (doc lengths unchanged —
    * stemming never drops a token). Skips the expensive half of a
    * second index build: the source re-scan and regex re-split.
    */
  def stemTokens(docTokens: DataFrame): DataFrame = {
    docTokens
      .withColumn("tokens_title", transform(col("tokens_title"), stem(_)))
      .withColumn("tokens_s1", transform(col("tokens_s1"), stem(_)))
  }

  /** Positional postings stem-mapped term-by-term (same ASCII-only
    * contract as [[stemTokens]]). Stemming is many-to-one, so two
    * source terms in the SAME doc/field can collide on one stem
    * ("running"/"runs" → "run"); colliding rows MERGE their position
    * lists into one sorted array, keeping the one-row-per-(term, doc,
    * field) invariant. The merge rollup rides the re-cluster by
    * (stemmed) term — one exchange, and the output comes back
    * term-clustered like [[positions]].
    */
  def stemPositions(positions: DataFrame): DataFrame =
    positions.withColumn("term", stem(col("term")))
      .repartition(col("term"))
      .groupBy("term", "type", "key", "field")
      .agg(sort_array(flatten(collect_list(col("poss")))).as("poss"))

  /** 1-row corpus stats for BM25. */
  def stats(docTokens: DataFrame): DataFrame =
    docTokens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      // combined row length — SQLite FTS5's |D| (bm25 saturates once
      // over the weighted SUM of column lengths, not per column)
      avg(col("dl_title") + col("dl_s1")).as("avgdl"))

  /** Persist postings bucketed + sorted BY TERM — the 100 TB layout: a
    * query's handful of terms prunes to a few buckets (no full-index
    * scan), and bucket-to-bucket joins against another term-bucketed
    * table (e.g. a term dictionary) need no shuffle. The plain
    * parquet-path variant used in tests/bench keeps everything
    * file-based; production would target a metastore table or a
    * clustering table format.
    */
  def writePostingsBucketed(postings: DataFrame, table: String,
      buckets: Int = 64): Unit =
    postings.write.mode("overwrite")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(table)

  /** Bucket count of the term-partitioned on-disk layout
    * ([[writeTermPartitioned]]). A layout constant: the writer derives
    * the partition value and the query side derives the prune filter
    * from the same number.
    */
  val TermBuckets = 64

  /** Term→bucket as a Column (write side). md5-derived (the portable-
    * hash formula), so the driver-side mirror [[termBucket]] computes
    * identical values without a Spark job.
    */
  def termBucketCol(term: org.apache.spark.sql.Column,
      n: Int = TermBuckets): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(term.cast("binary")), 1, 15), 16, 10)
      .cast("long"), lit(n))

  /** Term→bucket on the driver (query side): first 15 hex chars of the
    * md5 (60 bits, always positive) mod n — bit-identical to
    * [[termBucketCol]].
    */
  def termBucket(term: String, n: Int = TermBuckets): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % n
  }

  /** Write a term-keyed artifact (tf postings or positional postings)
    * PARTITIONED BY term bucket and sorted by term within files — the
    * cross-session 100 TB layout: a query's terms map to bucket ids on
    * the driver ([[termBucket]]) and push down as a static partition
    * `IN` filter, so the scan reads only those buckets' files; the
    * in-file term sort tightens parquet row-group stats for the
    * residual term predicate. (The metastore-bucketed variant above
    * needs a catalog; this one is plain parquet — any session that can
    * list the directory gets the pruning.)
    */
  def writeTermPartitioned(df: DataFrame, dir: String,
      n: Int = TermBuckets): Unit =
    df.withColumn("tb", termBucketCol(col("term"), n))
      .repartition(col("tb"))
      .sortWithinPartitions("term")
      .write.mode("overwrite")
      .partitionBy("tb")
      .parquet(dir)
}
