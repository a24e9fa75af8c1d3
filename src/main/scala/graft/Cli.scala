package graft

import graft.index.IndexJob
import graft.query.SearchEngine.TextArtifacts
import org.apache.spark.sql.SparkSession

/** What the command-line mains ([[IndexCli]], [[SearchCli]],
  * [[ServeCli]]) share beyond their [[GraftSession]]: one way to open an
  * index directory's text artifacts.
  */
object Cli {

  /** The text artifacts an [[IndexCli]] run writes under `indexDir`
    * (a local path or a Hadoop filesystem URI).
    * Positions are optional (index dirs written before they existed):
    * when absent, phrase, `^` and NEAR derive them from `doc_tokens`.
    */
  def textArtifacts(spark: SparkSession, indexDir: String): TextArtifacts = {
    val positions = s"$indexDir/positions"
    TextArtifacts(
      spark.read.parquet(s"$indexDir/doc_tokens"),
      spark.read.parquet(s"$indexDir/postings"),
      Option.when(IndexJob.pathExists(spark, positions))(spark.read.parquet(positions)))
  }
}
