package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on: the CLIs
  * ([[IndexCli]], [[SearchCli]], [[ServeCli]]), [[Bench]], [[Verify]],
  * [[Smoke]], [[PlanDump]] and the test suites. Answers are checked,
  * timed and planned under the same configuration. Settings equal to
  * Spark's defaults (adaptive execution among them) are not restated.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Every setting [[apply]] applies before its overrides. */
  val settings: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the engine's SQL functions (the tokenizer's `token_pipe_e`) and
    // the `fts_match` rewrite
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // Scan splits follow the input's size. Spark sizes a split as
    // min(maxPartitionBytes = 128 MB, max(openCost, input bytes /
    // cores)); the 4 MB default open cost floors that at 4 MB, so a
    // fixture file or an index directory of small part files packed
    // into ONE task and every scan-rooted CPU kernel (winnow, langid,
    // quality screens) ran single-core while the other cores idled.
    // At 64k an input of a few MB spreads over every core, and a large
    // table still gets 128 MB splits.
    "spark.sql.files.openCostInBytes" -> "65536")

  /** The session, with `overrides` applied after [[settings]]. */
  def apply(appName: String, overrides: (String, String)*): SparkSession = {
    val spark = (settings ++ overrides)
      .foldLeft(SparkSession.builder().appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
