package graft.serve

import graft.{RefFixtures, TestSpark}
import graft.index.IndexJob
import graft.query.SearchEngine.Request
import graft.text.Tokenize
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.net.{HttpURLConnection, URI}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.io.Source
import scala.jdk.CollectionConverters._

/** The `/-/beta` serving shell: HTML rendering of the assembled page
  * (reference templates/beta.html:38-92) and a live HTTP round-trip on
  * an ephemeral port (reference register_routes, __init__.py:261-263).
  */
class BetaServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val index = {
    RefFixtures.registerPlugin(spark)
    IndexJob.buildIndex(spark, RefFixtures.pluginRules).cache()
  }

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, body)
  }

  /** The eight request shapes of the 8-GET test, reused by the 64-GET one. */
  private val shapes = Seq(
    Map("q" -> "things"),
    Map("q" -> "things", "is_public" -> "0"),
    Map("q" -> "\"email about things\""),
    Map("q" -> "email", "sort" -> "oldest"),
    Map("type" -> "github.db/commits"),
    Map("q" -> "things NOT email", "category" -> "1"),
    Map("q" -> "thing*", "timestamp__date" -> "2020-08-02"),
    Map("q" -> "another OR tests", "sort" -> "newest"))

  private def query(p: Map[String, String]) = p.map { case (k, v) =>
    s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")

  test("render: count line, form state, facets, and |safe result output") {
    val page = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = Some("things"), tokenize = Tokenize.Porter))
    val html = BetaHtml.render(page)
    assert(html.contains("<title>Dogsheep Beta: things</title>"))
    assert(html.contains("Got 3 results, sorted by"))
    assert(html.contains("<strong>relevance</strong>"))
    // other-sort links " / "-joined with no trailing separator
    assert(html.contains("""<a href="?q=things&amp;sort=newest">newest</a> / <a href="?q=things&amp;sort=oldest">oldest</a>"""))
    // relevance is the default: no hidden sort field
    assert(!html.contains("name=\"sort\""))
    // facet block with a toggle link and an intcomma'd count
    assert(html.contains("<h2>type</h2>"))
    assert(html.contains("""<a href="?type=emails.db%2Femails&amp;q=things" class="label">emails.db/emails</a> - <span class="count">2</span>"""))
    // result divs keyed type:key, carrying the pre-rendered |safe output
    assert(html.contains("""data-table-key="github.db/commits:"""))
    assert(html.contains("<p>Commit to dogsheep/dogsheep-beta on 2020-08-01T00:05:02"))
  }

  test("render: selected facet deselects with ✖; hidden filter fields carried") {
    val page = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = Some("things"), isPublic = Some("1"), tokenize = Tokenize.Porter))
    val html = BetaHtml.render(page)
    assert(html.contains("""<li class="selected"><span class="label">1</span> <a href="?q=things" class="x">✖</a>"""))
    assert(html.contains("""<input type="hidden" name="is_public" value="1">"""))
    assert(html.contains("Got 1 result,")) // singular, no 's'
  }

  test("render: timeline page carries the sort as a hidden form field") {
    val page = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = None, tokenize = Tokenize.Porter))
    val html = BetaHtml.render(page)
    assert(page.sortedBy == "newest")
    assert(html.contains("""<input type="hidden" name="sort" value="newest">"""))
    assert(html.contains("<title>Dogsheep Beta</title>")) // no ': q' suffix
  }

  test("query-string parsing: parse_qsl+dict semantics") {
    assert(BetaServer.parseQuery("q=hey+there&type=a%2Fb&q=last") ==
      Map("q" -> "last", "type" -> "a/b"))
    assert(BetaServer.parseQuery(null) == Map.empty)
    assert(BetaServer.parseQuery("q=") == Map("q" -> ""))
    val req = BetaServer.toRequest(
      Map("q" -> "x", "is_public" -> "1", "timestamp__date" -> "2020-08-01",
        "sort" -> "oldest"), Tokenize.Porter)
    assert(req == Request(q = Some("x"), isPublic = Some("1"),
      timestampDate = Some("2020-08-01"), sort = Some("oldest"),
      tokenize = Tokenize.Porter))
  }

  test("GET ?q=100% gets 400 from the server before the handler runs") {
    // parseQuery's URLDecoder would throw on `100%` (a 500); the JDK
    // server's own URI check refuses the request first. The request line
    // goes out verbatim: java.net.URI cannot hold `100%`.
    val server = BetaServer.start(spark, index, RefFixtures.pluginRules,
      port = 0, tokenize = Tokenize.Porter)
    try {
      val sock = new java.net.Socket("localhost", server.getAddress.getPort)
      try {
        sock.getOutputStream.write(("GET /-/beta?q=100% HTTP/1.1\r\n" +
          "Host: localhost\r\nConnection: close\r\n\r\n").getBytes("US-ASCII"))
        val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(resp.startsWith("HTTP/1.1 400 "), resp)
      } finally sock.close()
    } finally server.stop(0)
  }

  test("8 concurrent GETs each equal the rendered page; catalog untouched") {
    // no prebuilt artifacts: every page builds them from the index
    val server = BetaServer.start(spark, index, RefFixtures.pluginRules,
      port = 0, tokenize = Tokenize.Porter)
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/-/beta"
      val params = Seq(
        Map("q" -> "things"),
        Map("q" -> "things", "is_public" -> "0"),
        Map("q" -> "\"email about things\""),
        Map("q" -> "email", "sort" -> "oldest"),
        Map("type" -> "github.db/commits"),
        Map("q" -> "things NOT email", "category" -> "1"),
        Map("q" -> "thing*", "timestamp__date" -> "2020-08-02"),
        Map("q" -> "another OR tests", "sort" -> "newest"))
      def url(p: Map[String, String]) = base + "?" + p.map { case (k, v) =>
        s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
      def catalog = spark.catalog.listTables().collect()
        .map(t => (t.name, t.isTemporary)).sorted.toSeq
      val before = catalog
      val pool = java.util.concurrent.Executors.newFixedThreadPool(params.size)
      val bodies =
        try params.map(p => pool.submit(() => get(url(p)))).map(_.get())
        finally pool.shutdown()
      params.zip(bodies).foreach { case (p, (code, body)) =>
        assert(code == 200, s"$p: ${body.take(1500)}")
        val expected = BetaHtml.render(SearchPage.assemble(spark, index,
          RefFixtures.pluginRules, BetaServer.toRequest(p, Tokenize.Porter)))
        assert(body == expected, p.toString)
      }
      assert(bodies(2)._2.contains("Got 2 results"), "three-token phrase")
      assert(catalog == before)
    } finally server.stop(0)
  }

  test("live HTTP round-trip on an ephemeral port") {
    val server = BetaServer.start(spark, index, RefFixtures.pluginRules,
      port = 0, tokenize = Tokenize.Porter)
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/-/beta"
      val (code, body) = get(s"$base?q=things")
      assert(code == 200, s"body: ${body.take(2000)}")
      // the served bytes ARE the renderer's output for the same request
      val expected = BetaHtml.render(SearchPage.assemble(spark, index,
        RefFixtures.pluginRules, Request(q = Some("things"), tokenize = Tokenize.Porter)))
      assert(body == expected)

      // filtered request: the filter narrows results AND facet counts
      val (c2, b2) = get(s"$base?q=things&is_public=1")
      assert(c2 == 200 && b2.contains("Got 1 result,"), s"c2=$c2 body: ${b2.take(1500)}")

      // malformed filter value filters to empty, never 500s (the
      // try_cast contract — SQLite's loose parameter binding)
      val (c3, b3) = get(s"$base?q=things&category=banana")
      assert(c3 == 200 && b3.contains("Got 0 results"), s"c3=$c3 body: ${b3.take(1500)}")

      // _searchmode=raw: a well-formed query behaves exactly as default
      val (c4, b4) = get(s"$base?q=things&_searchmode=raw")
      assert(c4 == 200 && b4 == body, s"c4=$c4")
      // ...but a query that only the escape fallback could serve now
      // surfaces its parse error instead of degrading (reference
      // __init__.py:200-211: raw skips escape_fts)
      val (c5, _) = get(s"$base?q=%23hashtag")
      assert(c5 == 200, "default mode escapes #hashtag")
      val (c6, b6) = get(s"$base?q=%23hashtag&_searchmode=raw")
      assert(c6 == 500 && b6.contains("500"), s"c6=$c6 body: ${b6.take(500)}")

      // the Leaflet map shortcut ships on every page (beta.html:92-145)
      assert(body.contains("data-map-latitude") &&
        body.contains("unpkg.com/leaflet@1.5.1"))
    } finally server.stop(0)
  }

  test("64 GETs from 8 clients overlap their Spark jobs, one job group per request") {
    // job id -> (start ms, job group) and job id -> end ms, from the
    // scheduler's own event times
    val starts = new ConcurrentHashMap[Int, (Long, String)]
    val ends = new ConcurrentHashMap[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (e.time, Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    }
    def tables = spark.catalog.listTables().collect()
      .map(t => (t.name, t.isTemporary)).sorted.toSeq
    def functions = spark.catalog.listFunctions().collect()
      .map(f => (f.name, f.className, f.isTemporary)).sorted.toSeq
    val before = (tables, spark.conf.getAll, functions)
    val server = BetaServer.start(spark, index, RefFixtures.pluginRules,
      port = 0, tokenize = Tokenize.Porter)
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val base = s"http://localhost:${server.getAddress.getPort}/-/beta?"
      val requests = Seq.tabulate(64)(i => shapes(i % shapes.size))
      val clients = Executors.newFixedThreadPool(8)
      try requests.map(p => clients.submit(() => p -> get(base + query(p)))).map(_.get())
      finally clients.shutdown()
    } finally server.stop(0)
    // the listener bus delivers in order: once this job's end is seen,
    // every event of the burst has been delivered
    spark.sparkContext.setJobGroup("burst-marker", "", interruptOnCancel = false)
    try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
    def delivered = starts.asScala.exists { case (id, (_, g)) =>
      g == "burst-marker" && ends.containsKey(id) }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!delivered && System.nanoTime() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    assert(delivered, "listener bus did not drain")

    val expected = shapes.map(p => p -> BetaHtml.render(SearchPage.assemble(spark, index,
      RefFixtures.pluginRules, BetaServer.toRequest(p, Tokenize.Porter)))).toMap
    got.foreach { case (p, (code, body)) =>
      assert(code == 200, s"$p: ${body.take(1500)}")
      assert(body == expected(p), p.toString)
    }

    val jobs = starts.asScala.toSeq.collect { case (id, (t0, g)) if g != "burst-marker" =>
      (id, t0, ends.asScala.getOrElse(id, Long.MaxValue), g) }
    assert(jobs.nonEmpty && jobs.forall(_._3 < Long.MaxValue), "a job never ended")
    val untagged = jobs.filterNot(j => j._4 != null && j._4.startsWith("beta-"))
    assert(untagged.isEmpty,
      s"${untagged.size} of ${jobs.size} jobs outside a request's group, e.g. ${untagged.take(3)}")
    assert(jobs.map(_._4).distinct.size == 64)
    // at some instant two requests' jobs run at once
    val overlap = jobs.exists { a => jobs.exists { b =>
      a._4 != b._4 && a._2 < b._3 && b._2 < a._3 } }
    assert(overlap, "no two requests had a Spark job running at the same time")
    assert((tables, spark.conf.getAll, functions) == before)
  }

  test("the request pool's threads are daemons once the server stops") {
    val server = BetaServer.start(spark, index, RefFixtures.pluginRules,
      port = 0, tokenize = Tokenize.Porter)
    try {
      val (code, _) = get(s"http://localhost:${server.getAddress.getPort}/-/beta?q=things")
      assert(code == 200)
    } finally server.stop(0)
    val pool = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("beta-serve-"))
    assert(pool.nonEmpty, "the request ran on no beta-serve thread")
    assert(pool.forall(_.isDaemon), pool.filterNot(_.isDaemon).map(_.getName))
  }

  test("a 200 response carries Server-Timing for assembly and rendering") {
    val server = BetaServer.start(spark, index, RefFixtures.pluginRules,
      port = 0, tokenize = Tokenize.Porter)
    try {
      val conn = URI.create(s"http://localhost:${server.getAddress.getPort}/-/beta?q=things")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      try {
        assert(conn.getResponseCode == 200)
        val timing = conn.getHeaderField("Server-Timing")
        val Timing = """assemble;dur=([0-9.]+), render;dur=([0-9.]+)""".r
        timing match {
          case Timing(assemble, render) =>
            assert(assemble.toDouble >= 0 && render.toDouble >= 0, timing)
          case other => fail(s"Server-Timing: $other")
        }
      } finally conn.disconnect()
    } finally server.stop(0)
  }
}
