package graft

import graft.core.Config
import graft.index.{IndexJob, TextIndex}
import graft.text.Tokenize
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** CLI entry point mirroring the reference's
  * `dogsheep-beta index beta.db config.yml [--tokenize none] [-d db]`
  * (reference dogsheep_beta/cli.py:9-41): build/refresh the search
  * index plus its text-index artifacts from a rules config.
  *
  * Usage:
  * {{{
  * runMain graft.IndexCli <indexDir> <configPath> \
  *   --source <view>=<parquetPath> ... [--tokenize porter|none] [-d db]...
  * }}}
  * `<indexDir>` receives `search_index/` (parquet, partitioned by type,
  * REPLACE-merged into any existing index), `doc_tokens/` and
  * `postings/` — the reference's beta.db + FTS tables as a directory.
  */
object IndexCli {

  def main(args: Array[String]): Unit = {
    val (indexDir, configPath, sources, tokenize, databases) = parseArgs(args)
    val spark = Cli.session("graft-index")
    try run(spark, indexDir, configPath, sources, tokenize, databases)
    finally spark.stop()
  }

  def run(spark: SparkSession, indexDir: String, configPath: String,
      sources: Map[String, String], tokenize: Tokenize.Value,
      databases: Option[Set[String]]): Unit = {
    sources.foreach { case (view, path) =>
      spark.read.parquet(path).createOrReplaceTempView(view)
    }
    val rules = Config.parseMetadata(
      Files.readString(Paths.get(configPath)))
    val batch = IndexJob.extractAll(spark, rules, databases)
    IndexJob.replaceInto(spark, s"$indexDir/search_index", IndexJob.dedupe(batch))
    // FTS artifacts are full-rebuild outputs of the doc table
    // (reference utils.py:57-65: rebuild + optimize after every run)
    val index = spark.read.parquet(s"$indexDir/search_index")
    val toks = TextIndex.docTokens(index, tokenize)
    toks.write.mode("overwrite").parquet(s"$indexDir/doc_tokens")
    val persistedToks = spark.read.parquet(s"$indexDir/doc_tokens")
    // both term-keyed artifacts land in the term-bucket-PARTITIONED
    // layout: a query's terms become a static partition IN-filter
    // (SearchEngine.termPrune), so searches read only their buckets
    TextIndex.writeTermPartitioned(
      TextIndex.postings(persistedToks), s"$indexDir/postings")
    // positional postings: makes phrase queries fully indexed
    TextIndex.writeTermPartitioned(
      TextIndex.positions(persistedToks), s"$indexDir/positions")
    println(s"indexed ${index.count()} documents into $indexDir " +
      s"(tokenize=$tokenize${databases.fold("")(d => s", databases=${d.mkString(",")}")})")
  }

  private def parseArgs(args: Array[String]):
      (String, String, Map[String, String], Tokenize.Value, Option[Set[String]]) = {
    require(args.length >= 2,
      "usage: IndexCli <indexDir> <configPath> --source v=path ... [--tokenize porter|none] [-d db]...")
    val indexDir = args(0)
    val configPath = args(1)
    var sources = Map.empty[String, String]
    var tokenize: Tokenize.Value = Tokenize.Porter // reference default (cli.py:22-26)
    var dbs = Set.empty[String]
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--source" =>
          val Array(v, p) = args(i + 1).split("=", 2)
          sources += v -> p
          i += 2
        case "--tokenize" =>
          // any FTS5 tokenizer spec, like the reference (cli.py:22-26):
          // porter | none | unicode61 [args...] | porter unicode61 ...
          tokenize = Tokenize.parse(args(i + 1))
          i += 2
        case "-d" | "--database" =>
          dbs += args(i + 1)
          i += 2
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    (indexDir, configPath, sources, tokenize, if (dbs.isEmpty) None else Some(dbs))
  }
}
