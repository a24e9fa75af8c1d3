package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.IndexRule
import graft.query.SearchEngine.{Request, TextArtifacts}
import graft.text.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

/** The `/-/beta` HTTP route (reference dogsheep_beta/__init__.py:261-263
  * `register_routes`) on the JDK's built-in [[HttpServer]] — no
  * framework, no extra dependency: parse the query string into a
  * [[Request]], assemble the page with [[SearchPage]], render with
  * [[BetaHtml]].
  *
  * The reference delegates serving to Datasette and registers one
  * route; this server IS that one route. Heavy lifting stays in Spark
  * jobs (one top-k job, one GROUPING SETS facet job, one enrichment
  * join per result type — see [[SearchPage.assemble]]); the handler
  * thread only launches them, so a 1000-executor cluster serves the
  * same page the local session does.
  *
  * A request leaves the session as it found it: page assembly
  * registers no temp view, enrichment runs over the page's own rows,
  * and `q` reaches `display_sql` only as a bound `:q` parameter. The
  * JDK server still handles one request at a time.
  */
object BetaServer {

  /** Parse an RFC-3986 query string with `urllib.parse_qsl` + `dict()`
    * semantics (reference __init__.py:249: last value wins, blank
    * values kept, `+` decodes to space).
    */
  private[serve] def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split("&").iterator.filter(_.nonEmpty).map { pair =>
      val i = pair.indexOf('=')
      val (k, v) = if (i < 0) (pair, "") else (pair.take(i), pair.drop(i + 1))
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap // toMap keeps the LAST occurrence of a duplicate key

  /** Build the engine [[Request]] from query params — the same param
    * names the reference reads (`q`, `sort`, and FILTER_COLS
    * `type`/`category`/`is_public` plus `timestamp__date`,
    * __init__.py:55-66), plus a `_searchmode=raw` EXTENSION in the
    * Datasette-table-view style — the reference beta route itself
    * never reads `_searchmode` (its internal facet-count helper at
    * __init__.py:200-211 tries raw then silently falls back). Raw
    * mode here parses the query strictly and SKIPS the escape
    * fallback, so a malformed query surfaces as the error page
    * instead of degrading to literal phrases; the default path is
    * the reference's unchanged.
    */
  private[serve] def toRequest(params: Map[String, String],
      tokenize: Tokenize.Value): Request = Request(
    q = params.get("q"),
    typeFilter = params.get("type"),
    category = params.get("category"),
    isPublic = params.get("is_public"),
    timestampDate = params.get("timestamp__date"),
    sort = params.get("sort"),
    tokenize = tokenize,
    rawMode = params.get("_searchmode").contains("raw"))

  /** Start serving `/-/beta` over a built index. `port = 0` binds an
    * ephemeral port (tests); read it back from
    * `server.getAddress.getPort`. Caller owns shutdown via
    * `server.stop(0)`.
    */
  def start(spark: SparkSession, index: DataFrame, rules: Seq[IndexRule],
      arts: Option[TextArtifacts] = None, port: Int = 8001,
      tokenize: Tokenize.Value = Tokenize.Porter,
      templateDebug: Boolean = false): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/-/beta", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          val params = parseQuery(ex.getRequestURI.getRawQuery)
          val page = SearchPage.assemble(spark, index, rules,
            toRequest(params, tokenize), arts, templateDebug = templateDebug)
          respond(ex, 200, BetaHtml.render(page))
        } catch {
          case e: Exception =>
            respond(ex, 500, "<h1>500</h1><pre>" +
              DisplayTemplate.escapeHtml(String.valueOf(e.getMessage)) + "</pre>")
        } finally ex.close()
    })
    server.start()
    server
  }

  private def respond(ex: HttpExchange, code: Int, html: String): Unit = {
    val bytes = html.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}
