package graft

import graft.core.Config
import graft.serve.BetaServer
import graft.text.Tokenize
import java.nio.file.{Files, Paths}

/** Serve the `/-/beta` page over an [[IndexCli]]-built index directory —
  * the third leg of the reference's workflow (index → query → serve;
  * reference `register_routes`, dogsheep_beta/__init__.py:261-263).
  *
  * Usage:
  * {{{
  * runMain graft.ServeCli <indexDir> <configPath>
  *   [--source <view>=<parquetPath> ...] [--port 8001]
  *   [--tokenize porter|none] [--template-debug]
  * }}}
  * `<configPath>` is the same rules config given to IndexCli (needed
  * for display templates + `display_sql` enrichment); `--source` views
  * back any `display_sql` that reads source tables.
  */
object ServeCli {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ServeCli <indexDir> <configPath> [--source v=path ...] [--port n] [--tokenize porter|none] [--template-debug]")
    val indexDir = args(0)
    val configPath = args(1)
    var sources = Map.empty[String, String]
    var port = 8001
    var tokenize: Tokenize.Value = Tokenize.Porter
    var templateDebug = false
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--source" =>
          val Array(v, p) = args(i + 1).split("=", 2)
          sources += v -> p; i += 2
        case "--port"           => port = args(i + 1).toInt; i += 2
        case "--tokenize"       => tokenize = Tokenize.parse(args(i + 1)); i += 2
        case "--template-debug" => templateDebug = true; i += 1
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    val spark = Cli.session("graft-serve")
    sources.foreach { case (view, path) =>
      spark.read.parquet(path).createOrReplaceTempView(view)
    }
    val rules = Config.parseMetadata(Files.readString(Paths.get(configPath)))
    val index = spark.read.parquet(s"$indexDir/search_index").cache()
    index.count() // materialize the cache before the first request
    val arts = Cli.textArtifacts(spark, indexDir)
    val server = BetaServer.start(spark, index, rules, Some(arts), port,
      tokenize, templateDebug)
    println(s"serving http://localhost:${server.getAddress.getPort}/-/beta")
    Thread.currentThread().join() // serve until killed
  }
}
