package graft

import graft.query.SearchEngine
import graft.query.SearchEngine.Request
import graft.serve.SearchPage
import graft.text.Tokenize

/** Query CLI over an [[IndexCli]]-built index directory — together they
  * replace the reference's index-CLI + `/-/beta` endpoint pair for a
  * library user: index once, query many times, no code.
  *
  * Usage:
  * {{{
  * runMain graft.SearchCli <indexDir> <query> [--sort newest|oldest]
  *   [--tokenize porter|none] [--type t] [--is-public 0|1] [--limit n]
  * }}}
  * Prints one JSON object per result row plus a final count line.
  */
object SearchCli {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SearchCli <indexDir> <query> [flags]")
    val indexDir = args(0)
    val q = args(1)
    var sort: Option[String] = None
    var typeFilter: Option[String] = None
    var isPublic: Option[String] = None
    var tokenize: Tokenize.Value = Tokenize.Porter
    var limit = 100
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--sort"      => sort = Some(args(i + 1)); i += 2
        case "--type"      => typeFilter = Some(args(i + 1)); i += 2
        case "--is-public" => isPublic = Some(args(i + 1)); i += 2
        case "--limit"     => limit = args(i + 1).toInt; i += 2
        case "--tokenize" =>
          tokenize = Tokenize.parse(args(i + 1))
          i += 2
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    val spark = GraftSession("graft-search")
    try {
      val index = spark.read.parquet(s"$indexDir/search_index")
      val out = SearchEngine.search(spark, index,
        Request(q = Some(q), sort = sort, typeFilter = typeFilter,
          isPublic = isPublic, tokenize = tokenize),
        Some(Cli.textArtifacts(spark, indexDir)), limitSearch = limit)
      val rows = out.collect()
      rows.foreach { r =>
        val m = out.columns.map(c =>
          c -> Option(r.getAs[Any](c)).map(_.toString).orNull).toMap
        println(SearchPage.rowJson(m))
      }
      println(s"count: ${SearchPage.intcomma(rows.length.toLong)}")
    } finally spark.stop()
  }
}
