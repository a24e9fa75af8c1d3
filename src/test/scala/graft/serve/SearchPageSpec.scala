package graft.serve

import graft.{RefFixtures, TestSpark}
import graft.index.IndexJob
import graft.query.Enrich
import graft.query.SearchEngine.Request
import graft.text.Tokenize
import org.scalatest.funsuite.AnyFunSuite

/** Full-page assembly parity with the reference's `/-/beta?q=things`
  * expectations (reference tests/test_plugin.py:11-108): count, facet
  * names/counts/labels/toggle-URLs, enriched display values.
  */
class SearchPageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val page: SearchPage.Page = {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules).cache()
    SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = Some("things"), tokenize = Tokenize.Porter))
  }

  test("'Got 3 results' (test_plugin.py:19)") {
    assert(page.count == 3L && page.results.size == 3)
  }

  test("facet JSON parity: names, counts, labels, toggle URLs (test_plugin.py:45-108)") {
    val byName = page.facets.map(f => f.name -> f).toMap
    assert(byName.keySet == Set("type", "category", "is_public", "timestamp"))

    val t = byName("type").values
    assert(t.map(v => (v.label, v.count, v.toggleUrl)) == Seq(
      ("emails.db/emails", 2L, "?type=emails.db%2Femails&q=things"),
      ("github.db/commits", 1L, "?type=github.db%2Fcommits&q=things")))

    val c = byName("category").values
    assert(c.map(v => (v.label, v.count, v.toggleUrl)) == Seq(
      ("created", 1L, "?category=1&q=things"))) // NULL categories excluded

    val p = byName("is_public").values
    assert(p.map(v => (v.label, v.count, v.toggleUrl)) == Seq(
      ("0", 2L, "?is_public=0&q=things"),
      ("1", 1L, "?is_public=1&q=things")))

    val d = byName("timestamp").values
    assert(d.map(v => (v.label, v.count, v.toggleUrl)) == Seq(
      ("2020-08-01", 2L, "?timestamp__date=2020-08-01&q=things"),
      ("2020-08-02", 1L, "?timestamp__date=2020-08-02&q=things")))

    assert(page.facets.forall(_.values.forall(!_.selected)))
  }

  test("results carry batched display_sql enrichment (:q echo, test_plugin.py:22-25)") {
    val commit = page.results.find(_("type") == "github.db/commits").get
    assert(commit("display_their_query") == "things")
    assert(commit("display_repo_name") == "dogsheep/dogsheep-beta")
    val email = page.results.find(r => r("type") == "emails.db/emails" && r("key") == "1").get
    assert(email("display_from_") == "blah@example.com")
    assert(email("display_subject") == "Hey there #dogfest")
  }

  test("intcomma + default JSON rendering (reference __init__.py:186-189, 266-268)") {
    assert(SearchPage.intcomma(1234567L) == "1,234,567")
    assert(SearchPage.rowJson(Map("b" -> "x\"y", "a" -> null)) ==
      """{"a": null, "b": "x\"y"}""")
  }

  test("rendered display templates per result (test_plugin.py:19-26)") {
    val outputs = page.results.map(_("output"))
    assert(outputs.exists(_.contains(
      "<p>Email from blah@example.com, subject Hey there #dogfest")))
    assert(outputs.exists(_.contains(
      "<p>Email from blah@example.com, subject What&#39;s going on")))
    assert(outputs.exists(_.contains(
      "<p>Commit to dogsheep/dogsheep-beta on 2020-08-01T00:05:02")))
    assert(outputs.exists(_.contains("""<p>User searched for: "things"</p>""")))
  }

  test("selected facet value gets a DESELECT toggle URL; filters are preserved") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val p2 = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = Some("things"), isPublic = Some("1"), tokenize = Tokenize.Porter))
    assert(p2.count == 1)
    val pub = p2.facets.find(_.name == "is_public").get.values
    // toggling the SELECTED value removes it (deselect contract)
    assert(pub == Seq(SearchPage.FacetValue("1", "1", 1L, "?q=things", true)))
    // toggling another facet keeps the active is_public filter
    val types = p2.facets.find(_.name == "type").get.values
    assert(types.map(_.toggleUrl) ==
      Seq("?is_public=1&type=github.db%2Fcommits&q=things"))
    // hiddens carry the active FILTER_COLS (reference __init__.py:89-93)
    assert(p2.hiddens == Seq(SearchPage.Hidden("is_public", "1")))
  }

  test("timeline toggle URLs still re-inject the (empty) q param (ADVICE r3)") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val p4 = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = None, tokenize = Tokenize.Porter))
    // the reference sets qs_bits["q"] = q unconditionally
    // (__init__.py:256): '?type=x&q=', never '?type=x'
    val types = p4.facets.find(_.name == "type").get.values
    assert(types.nonEmpty && types.forall(_.toggleUrl.endsWith("&q=")))
  }

  test("facet_size caps values per facet inside the job") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val p3 = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = Some("things"), tokenize = Tokenize.Porter), facetSize = 1)
    assert(p3.count == 3) // count is unaffected by the cap
    assert(p3.facets.forall(_.values.size <= 1))
    // the kept value is the top one (count desc, value asc)
    assert(p3.facets.find(_.name == "type").get.values.head.value == "emails.db/emails")
    assert(p3.facets.find(_.name == "timestamp").get.values.head.value == "2020-08-01")
  }

  test("sort state: relevance default with q, newest without; links (test_plugin.py:155-230)") {
    assert(page.sortedBy == "relevance")
    assert(page.otherSortOrders == Seq(
      SearchPage.SortLink("newest", "?q=things&sort=newest"),
      SearchPage.SortLink("oldest", "?q=things&sort=oldest")))

    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    // timeline: no relevance link (reference __init__.py:69-71)
    val timeline = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = None, tokenize = Tokenize.Porter))
    assert(timeline.sortedBy == "newest")
    assert(timeline.otherSortOrders == Seq(SearchPage.SortLink("oldest", "?sort=oldest")))
    // explicit sort with q: relevance link REMOVES the sort param
    val oldest = SearchPage.assemble(spark, index, RefFixtures.pluginRules,
      Request(q = Some("email"), sort = Some("oldest"), tokenize = Tokenize.Porter))
    assert(oldest.sortedBy == "oldest")
    assert(oldest.otherSortOrders == Seq(
      SearchPage.SortLink("relevance", "?q=email"),
      SearchPage.SortLink("newest", "?q=email&sort=newest")))
  }

  test("assembly and enrichment leave the session catalog as they found it") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules).cache()
    // a compound WHERE sends the emails rule down the LATERAL path
    val rules = RefFixtures.pluginRules.map { r =>
      if (r.db != "emails.db") r
      else r.copy(displaySql = Some("select * from emails where 1 = 1 and id = :key"))
    }
    val lateralRule = rules.find(_.db == "emails.db").get
    def catalog = spark.catalog.listTables().collect()
      .map(t => (t.name, t.isTemporary)).sorted.toSeq
    val before = catalog
    for (i <- 1 to 10) {
      val p = SearchPage.assemble(spark, index, rules,
        Request(q = Some("things"), isPublic = Some((i % 2).toString), tokenize = Tokenize.Porter))
      assert(p.results.forall(r => r("type") != "emails.db/emails" || r("display_subject") != null))
      Enrich.enrichType(spark, lateralRule, index, s"q$i").collect()
    }
    assert(catalog == before)
  }

  test("concurrent assembles each equal the same request run serially") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules).cache()
    val reqs = Seq(
      Request(q = Some("things")),
      Request(q = Some("things"), isPublic = Some("0")),
      Request(q = Some("things"), isPublic = Some("1")),
      Request(q = Some("things"), typeFilter = Some("emails.db/emails")),
      Request(q = Some("things"), typeFilter = Some("github.db/commits")),
      Request(q = Some("email"), sort = Some("oldest")),
      Request(category = Some("1")),
      Request(timestampDate = Some("2020-08-01")))
    def page(r: Request) = SearchPage.assemble(spark, index, RefFixtures.pluginRules, r)
    val serial = reqs.map(page)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(reqs.size)
    val concurrent =
      try reqs.map(r => pool.submit(() => page(r))).map(_.get())
      finally pool.shutdown()
    assert(serial.map(_.count).distinct.size > 1) // the filters select different rows
    reqs.indices.foreach(i => assert(concurrent(i) == serial(i), s"request ${reqs(i)}"))
  }
}
