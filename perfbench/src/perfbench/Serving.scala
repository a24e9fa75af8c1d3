package perfbench

import com.sun.net.httpserver.HttpServer
import graft.core.IndexRule
import graft.query.SearchEngine.TextArtifacts
import graft.serve.BetaServer
import graft.text.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** An index directory opened for serving the way `graft.ServeCli` opens it:
  * `search_index` cached and counted, the text artifacts read, and
  * `BetaServer` started on an ephemeral port.
  */
final class Serving(val index: DataFrame, val arts: TextArtifacts, server: HttpServer) {

  def port: Int = server.getAddress.getPort

  /** Stop the server and drop the cache, as stopping `ServeCli` does. */
  def close(): Unit = {
    server.stop(0)
    index.unpersist(true)
  }
}

object Serving {

  def open(spark: SparkSession, dir: String, rules: Seq[IndexRule]): Serving = {
    val index = spark.read.parquet(s"$dir/search_index").cache()
    index.count()
    val positions =
      if (new java.io.File(s"$dir/positions").exists()) Some(spark.read.parquet(s"$dir/positions"))
      else None
    val arts = TextArtifacts(spark.read.parquet(s"$dir/doc_tokens"),
      spark.read.parquet(s"$dir/postings"), positions)
    new Serving(index, arts, BetaServer.start(spark, index, rules, Some(arts), 0, Tokenize.Porter))
  }
}

/** One page fetched over HTTP. */
final case class Page(req: Req, status: Int, body: String, seconds: Double)

object Http {

  /** Each request on a connection of its own. On kept-alive connections
    * the single-threaded `BetaServer` leaves one client's request waiting
    * while it serves the others', for up to a whole window, and which
    * client that is changes from run to run, so the mean page latency of
    * `search_concurrent` jumped by a fifth between runs of one seed. With a
    * connection per request the server takes requests in arrival order.
    */
  def get(port: Int, req: Req): Page = {
    val t0 = System.nanoTime()
    val c = URI.create(s"http://127.0.0.1:$port/-/beta?${req.query}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setReadTimeout(150000)
    c.setRequestProperty("Connection", "close")
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
      Page(req, status, body, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: java.io.IOException =>
        Page(req, -1, String.valueOf(e), (System.nanoTime() - t0) / 1e9)
    }
  }
}
