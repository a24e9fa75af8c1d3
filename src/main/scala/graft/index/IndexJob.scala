package graft.index

import graft.core.{IndexRule, Schema}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The indexing ETL: run each rule's extraction SQL against the
  * registered source views, tag the rule's type, conform to the wide
  * schema, and merge into the search index with REPLACE semantics.
  *
  * Reference pipeline: dogsheep_beta/utils.py:30-65 (`run_indexer`) —
  * per-rule `REPLACE INTO search_index (cols) SELECT '{db}/{type}' as
  * type, <user sql>`. Spark-first differences:
  *
  *  - No ATTACH / cross-database connections: one SparkSession sees every
  *    registered source view (utils.py:36-40 collapses away).
  *  - No string surgery on the SQL (utils.py:44-47 splits on "select" to
  *    inject the type tag); we run the user SQL as-is and add the tag as
  *    a literal column — same result, no fragile rewrite.
  *  - Schema probe (utils.py:68-70 `LIMIT 0` trick) is analysis-only:
  *    `spark.sql(sql).schema` runs no job.
  *  - `REPLACE INTO` upsert (utils.py:50-54) becomes a dedup + anti-join
  *    merge (SURVEY §1.4): last writer wins per (type, key), rows absent
  *    from the new batch are kept forever — never deleted.
  *
  * Scale notes (100 TB): the merge shuffles both sides on (type, key)
  * once; when the index is stored partitioned by `type` (low
  * cardinality), [[replaceInto]] uses dynamic partition overwrite so a
  * re-index of one source type rewrites only that type's partitions and
  * reads nothing else (partition pruning on the existing side). The
  * within-batch dedup and the merge are one window over the union of
  * both sides on (type, key): one shuffle, one `row_number`.
  */
object IndexJob {

  /** Analysis-only schema probe: which of the wide columns does this
    * rule's SQL produce? (reference utils.py:68-70). No Spark job runs.
    */
  def deriveColumns(spark: SparkSession, sql: String): Seq[String] =
    spark.sql(sql).schema.fieldNames.toSeq

  /** Run one rule: user SQL (full Spark SQL surface — joins, CASE, ||,
    * window functions all allowed; reference README.md:30-48) + type tag
    * + conform to the wide schema.
    */
  def extract(spark: SparkSession, rule: IndexRule): DataFrame =
    Schema.conform(
      spark.sql(rule.sql).withColumn("type", lit(rule.typeTag)))

  /** Extract all rules and union them (unionByName semantics: every rule
    * projects a subset of the wide schema — SURVEY §1.3). `batchOrd`
    * records rule order so that last-writer-wins is deterministic when
    * two rules emit the same (type, key).
    */
  def extractAll(spark: SparkSession, rules: Seq[IndexRule],
      databases: Option[Set[String]] = None): DataFrame = {
    val selected = rules.filter(r => databases.forall(_.contains(r.db)))
    require(selected.nonEmpty, "no rules selected")
    selected.zipWithIndex
      .map { case (r, i) =>
        extract(spark, r).withColumn("batch_ord", lit(i))
      }
      .reduce(_.unionByName(_))
  }

  /** Within-batch last-writer-wins dedup on the composite PK
    * (type, key) — reproduces SQLite `REPLACE` where a later insert
    * deletes the earlier row (reference utils.py:50-54, SURVEY §1.4).
    * Deterministic tie-break: highest batch_ord, then column values.
    */
  def dedupe(batch: DataFrame): DataFrame =
    batch
      .withColumn("__rn", row_number().over(lastWriterFirst(batch)))
      .filter(col("__rn") === 1)
      .drop("__rn", "batch_ord")

  /** The (type, key) window ordered so the surviving row comes first. */
  private def lastWriterFirst(df: DataFrame, before: Column*) = {
    val ord =
      if (df.columns.contains("batch_ord")) col("batch_ord").desc
      else lit(0).asc
    Window.partitionBy(col("type"), col("key"))
      .orderBy(before ++ Seq(ord, col("timestamp").desc_nulls_last,
        col("title").asc_nulls_last, col("search_1").asc_nulls_last): _*)
  }

  /** REPLACE-merge: incoming rows win on (type, key), last writer first
    * as in [[dedupe]]; existing rows with no incoming match survive (the
    * reference never deletes — SURVEY §1.4). Both inputs must be
    * conformed; `incoming` need not be deduped. One window over the
    * union of both sides does the dedupe and the match: incoming rows
    * sort first in each (type, key), so the first row tells whether the
    * key has an incoming row.
    */
  def merge(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val both = incoming.withColumn("__inc", lit(1))
      .unionByName(existing.withColumn("__inc", lit(0)), allowMissingColumns = true)
    val w = lastWriterFirst(both, col("__inc").desc)
    both
      .withColumn("__rn", row_number().over(w))
      .withColumn("__key_inc", first(col("__inc")).over(w))
      .filter((col("__inc") === 1 && col("__rn") === 1) || col("__key_inc") === 0)
      .drop("__rn", "__key_inc", "__inc", "batch_ord")
  }

  /** Full batch build: extract + dedup. The common entry for tests and
    * queries (no pre-existing index).
    */
  def buildIndex(spark: SparkSession, rules: Seq[IndexRule],
      databases: Option[Set[String]] = None): DataFrame =
    dedupe(extractAll(spark, rules, databases))

  /** Scale path: persist the index partitioned by `type` and upsert via
    * dynamic partition overwrite — only partitions present in `incoming`
    * are rewritten; untouched types are not even read. This is the
    * 100 TB equivalent of `REPLACE INTO`: cost proportional to the data
    * being re-indexed, not to the index size. `incoming` is the raw
    * [[extractAll]] batch: its one dedupe runs here (in [[merge]] on a
    * refresh).
    */
  def replaceInto(spark: SparkSession, indexPath: String,
      incoming: DataFrame): Unit = {
    val merged: DataFrame =
      if (pathExists(spark, indexPath)) {
        val types = incoming.select("type").distinct() // small: one row per rule
          .collect().map(_.getString(0)).toSeq
        val existing = spark.read.parquet(indexPath)
          .filter(col("type").isin(types: _*)) // partition-pruned scan
        // The merge reads the same partitions the write below replaces —
        // materialize it first or the overwrite truncates its own input.
        // (Production: write to a staging dir + atomic swap, or a table
        // format with snapshot isolation; localCheckpoint is the local
        // equivalent.)
        merge(existing, incoming).localCheckpoint(true)
      } else dedupe(incoming)
    merged
      .repartition(col("type"))
      .sortWithinPartitions(col("timestamp").desc_nulls_last)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic") // this write only, not the session
      .partitionBy("type")
      .parquet(indexPath)
  }

  /** Whether `p` exists on its Hadoop filesystem (a local path or a
    * URI such as `file:/…` or `hdfs://…`).
    */
  private[graft] def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }
}
