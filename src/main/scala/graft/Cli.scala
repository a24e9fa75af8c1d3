package graft

import graft.query.SearchEngine.TextArtifacts
import org.apache.spark.sql.SparkSession

/** What the command-line mains ([[IndexCli]], [[SearchCli]],
  * [[ServeCli]]) share: one session and one way to open an index
  * directory's text artifacts.
  */
object Cli {

  /** The local session every CLI runs on: `SPARK_GRAFT_CPUS` cores
    * (default 4) and the engine's SQL functions installed, which the
    * tokenizer needs (`token_pipe_e`).
    */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The text artifacts an [[IndexCli]] run writes under `indexDir`.
    * Positions are optional (older index dirs): phrases fall back to
    * the candidate-verify path when they are absent.
    */
  def textArtifacts(spark: SparkSession, indexDir: String): TextArtifacts = {
    val positions = s"$indexDir/positions"
    TextArtifacts(
      spark.read.parquet(s"$indexDir/doc_tokens"),
      spark.read.parquet(s"$indexDir/postings"),
      Option.when(new java.io.File(positions).exists())(spark.read.parquet(positions)))
  }
}
