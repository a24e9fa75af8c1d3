package graft.query

import graft.{RefFixtures, TestSpark}
import graft.index.{IndexJob, TextIndex}
import graft.query.SearchEngine.Request
import graft.text.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Query-engine parity with the reference plugin e2e tests
  * (reference tests/test_plugin.py): FTS cases, timeline order, sort
  * overrides, facet counts — over the exact emails/commits fixture.
  *
  * Divergence (documented, SURVEY §2.5): the reference breaks ties in
  * SQLite scan order (effectively rowid); we break ties with the
  * deterministic (type, key). The 2020-08-01T00:05:02 tie between
  * emails:1 and commits:a5b39c therefore orders emails first here,
  * commits first in the reference.
  */
class SearchEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val index: DataFrame = {
    RefFixtures.registerPlugin(spark)
    IndexJob.buildIndex(spark, RefFixtures.pluginRules).cache()
  }

  private def ids(df: DataFrame): Seq[String] =
    df.select(concat(col("type"), lit(":"), col("key")))
      .collect().map(_.getString(0)).toSeq

  private def search(q: String, sort: Option[String] = None): DataFrame =
    SearchEngine.search(spark, index,
      Request(q = Some(q), sort = sort, tokenize = Tokenize.Porter))

  private val emails1 = "emails.db/emails:1"
  private val emails2 = "emails.db/emails:2"
  private val commitA = "github.db/commits:a5b39c5049b28997528bb0eca52730ab6febabeaba54cfcba0ab5d70e7207523"
  private val commitB = "github.db/commits:5becbf70d64951e2910314ef5227d19b11c25b0c9586934941366da8997e57cb"

  test("'' and ' ' → timeline of all 4 docs, newest first (test_plugin.py:119-124)") {
    val expected = Seq(commitB, emails2, emails1, commitA) // tie-break note above
    assert(ids(search("")) == expected)
    assert(ids(search(" ")) == expected)
  }

  test("q=things → 3 results (test_plugin.py facet fixture)") {
    assert(ids(search("things")).toSet == Set(emails1, emails2, commitA))
  }

  test("things NOT email → only the commit (test_plugin.py:125-131)") {
    assert(ids(search("things NOT email")) == Seq(commitA))
  }

  test("#dogfest → escape fallback hits emails:1 (test_plugin.py:132-135)") {
    assert(ids(search("#dogfest")) == Seq(emails1))
  }

  test("github-to-sqlite → escaped phrase misses → [] (test_plugin.py:136-139)") {
    assert(ids(search("github-to-sqlite")).isEmpty)
  }

  test("sort overrides with q=email (test_plugin.py:155-230)") {
    assert(ids(search("email", sort = Some("newest"))) == Seq(emails2, emails1))
    assert(ids(search("email", sort = Some("oldest"))) == Seq(emails1, emails2))
  }

  test("timeline oldest reverses (test_plugin.py timeline sort)") {
    assert(ids(SearchEngine.search(spark, index,
      Request(q = None, sort = Some("oldest")))) ==
      Seq(emails1, commitA, emails2, commitB)) // (type,key) tie-break again
  }

  test("term-partitioned postings/positions prune partitions end-to-end") {
    // driver-side bucket mirror must equal the write-side Column hash
    val terms = Seq("things", "email", "dogfest", "café", "x")
    val colBuckets = {
      import spark.implicits._
      terms.toDF("term")
        .select(col("term"), TextIndex.termBucketCol(col("term")).as("tb"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    terms.foreach(t => assert(TextIndex.termBucket(t) == colBuckets(t),
      s"driver/Column bucket mismatch for '$t'"))

    val toks = TextIndex.docTokens(index, Tokenize.Porter)
    val dir = java.nio.file.Files.createTempDirectory("graft-postings").toString
    val memArts = SearchEngine.TextArtifacts.build(toks)
    TextIndex.writeTermPartitioned(memArts.postings, s"$dir/postings")
    TextIndex.writeTermPartitioned(memArts.positions.get, s"$dir/positions")
    val arts = SearchEngine.TextArtifacts(toks,
      spark.read.parquet(s"$dir/postings"),
      Some(spark.read.parquet(s"$dir/positions")))

    // term + boolean + phrase paths: same results as in-memory postings,
    // and the scan carries a static tb partition filter
    for (q <- Seq("things", "things NOT email", "\"about things\"")) {
      val node = graft.text.FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      val onDisk = SearchEngine.matchSet(arts, node)
      val plan = onDisk.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*tb[^\\]]*\\]".r.findFirstIn(plan).isDefined,
        s"'$q' should prune postings partitions, plan:\n$plan")
      assert(ids(onDisk.orderBy("type", "key")) ==
        ids(SearchEngine.matchSet(memArts, node).orderBy("type", "key")))
    }
    // BM25 over the partitioned layout matches the in-memory scores
    val scored = SearchEngine.bm25Scores(spark, arts.postings, toks, Seq("things"))
      .orderBy("type", "key").collect().map(r => (r.getString(0), r.getString(1),
        math.round(r.getDouble(2) * 1e4))).toSeq
    val memScored = SearchEngine.bm25Scores(spark, memArts.postings, toks, Seq("things"))
      .orderBy("type", "key").collect().map(r => (r.getString(0), r.getString(1),
        math.round(r.getDouble(2) * 1e4))).toSeq
    assert(scored == memScored)
  }

  test("facet counts over q=things (test_plugin.py:45-108)") {
    val toks = TextIndex.docTokens(index, Tokenize.Porter)
    val node = graft.text.FtsQuery.parseOrEscape("things", Tokenize.Porter).get
    val matched = SearchEngine.matchSet(SearchEngine.TextArtifacts.build(toks), node)
      .join(index, Seq("type", "key"))
    // type facet: emails 2, commits 1
    val typeFacet = matched.groupBy("type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(typeFacet == Map("emails.db/emails" -> 2L, "github.db/commits" -> 1L))
    // is_public facet: 2 private, 1 public
    val pubFacet = matched.groupBy("is_public").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pubFacet == Map(0 -> 2L, 1 -> 1L))
    // date facet: 2020-08-01 ×2, 2020-08-02 ×1
    val dateFacet = matched
      .groupBy(substring(col("timestamp"), 1, 10).as("d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dateFacet == Map("2020-08-01" -> 2L, "2020-08-02" -> 1L))
  }

  test("filters compose with search (string-typed, loose: __init__.py:132-135)") {
    val r = SearchEngine.search(spark, index,
      Request(q = Some("things"), isPublic = Some("1"), tokenize = Tokenize.Porter))
    assert(ids(r) == Seq(commitA))
  }

  test("malformed filter values filter to empty, never raise (querystring contract)") {
    // the reference binds filters as SQLite parameters: 'banana' = 1 is
    // simply false, never an error — try_cast gives the same totality
    for (bad <- Seq("banana", "", "1.5.2")) {
      val r = SearchEngine.search(spark, index,
        Request(q = Some("things"), isPublic = Some(bad), tokenize = Tokenize.Porter))
      assert(r.count() == 0, s"is_public=$bad")
      val c = SearchEngine.search(spark, index,
        Request(q = None, category = Some(bad), tokenize = Tokenize.Porter))
      assert(c.count() == 0, s"category=$bad")
    }
  }

  test("search_2/search_3 are declared but never FTS-indexed (utils.py:89-90)") {
    import spark.implicits._
    val extra = graft.core.Schema.conform(
      Seq(("x/t", "9", "title here", "2020-08-03T00:00:00", "only_in_s2", "only_in_s3"))
        .toDF("type", "key", "title", "timestamp", "search_2", "search_3"))
    val idx2 = index.unionByName(extra)
    def hits(q: String) = ids(SearchEngine.search(spark, idx2,
      SearchEngine.Request(q = Some(q), tokenize = Tokenize.Porter)))
    assert(hits("only_in_s2").isEmpty && hits("only_in_s3").isEmpty)
    assert(hits("title here") == Seq("x/t:9")) // title IS indexed
  }

  test("-d database allowlist restricts the indexer (cli.py:27-32)") {
    RefFixtures.registerPlugin(spark)
    val only = graft.index.IndexJob.buildIndex(spark, RefFixtures.pluginRules,
      databases = Some(Set("emails.db")))
    assert(only.select("type").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("emails.db/emails"))
  }

  test("prefix and pure-OR queries resolve in the postings index — no token-array scan") {
    import graft.text.FtsQuery
    val toks = TextIndex.docTokens(index, Tokenize.Porter)
    val arts = SearchEngine.TextArtifacts.build(toks)
    def planOf(q: String): String = {
      val node = FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      SearchEngine.matchSet(arts, node).queryExecution.optimizedPlan.toString
    }
    for (q <- Seq("thing*", "things OR email", "thing* OR email",
        "things NOT email", "title:thing*")) {
      val plan = planOf(q)
      assert(!plan.contains("array_contains") && !plan.contains("exists("),
        s"query `$q` still scans token arrays:\n$plan")
    }
    // results unchanged vs the exact array-scan predicate
    def setOf(q: String): Set[String] = {
      val node = FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      SearchEngine.matchSet(arts, node)
        .collect().map(r => r.getString(0) + ":" + r.getString(1)).toSet
    }
    assert(setOf("thing*") == Set(emails1, emails2, commitA))
    assert(setOf("things OR tests") == Set(emails1, emails2, commitA, commitB))
    assert(setOf("things NOT email") == Set(commitA))
    assert(setOf("title:thing*").isEmpty) // 'things' only in bodies
  }

  test("phrases resolve via positional-postings adjacency joins when positions exist") {
    import graft.text.FtsQuery
    val toks = TextIndex.docTokens(index, Tokenize.Porter)
    val arts = SearchEngine.TextArtifacts.build(toks)
    def setOf(q: String): Set[String] = {
      val node = FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      SearchEngine.matchSet(arts, node)
        .collect().map(r => r.getString(0) + ":" + r.getString(1)).toSet
    }
    assert(setOf("\"email about things\"") == Set(emails1, emails2))
    assert(setOf("\"about things\" NOT another") == Set(emails1))
    assert(setOf("\"things about\"").isEmpty) // order matters
    assert(setOf("title:\"hey there\"") == Set(emails1)) // field-restricted phrase
    assert(setOf("search_1:\"hey there\"").isEmpty)
    // the plan is pure postings algebra: no token-array predicate
    val node = FtsQuery.parseOrEscape("\"email about things\"", Tokenize.Porter).get
    val plan = SearchEngine.matchSet(arts, node).queryExecution.optimizedPlan.toString
    assert(!plan.contains("instr") && !plan.contains("array_contains"),
      s"positional phrase still scans token arrays:\n$plan")
  }

  test("match sets with and without positions equal FtsQuery.matches") {
    import graft.text.FtsQuery
    val toks = TextIndex.docTokens(index, Tokenize.Porter)
    val posArts = SearchEngine.TextArtifacts.build(toks)
    // an index directory written before positions existed
    val noPos = posArts.copy(positions = None)
    def setOf(arts: SearchEngine.TextArtifacts, q: String): Set[String] = {
      val node = FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      SearchEngine.matchSet(arts, node)
        .collect().map(r => r.getString(0) + ":" + r.getString(1)).toSet
    }
    // the reference evaluator over the collected token arrays
    val docs = toks.collect().map { r =>
      (r.getAs[String]("type") + ":" + r.getAs[String]("key"),
        r.getAs[Seq[String]]("tokens_title").toIndexedSeq,
        r.getAs[Seq[String]]("tokens_s1").toIndexedSeq)
    }
    def expected(q: String): Set[String] = {
      val node = FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      docs.collect { case (id, t, s1) if FtsQuery.matches(node, t, s1) => id }.toSet
    }
    val queries = Seq(
      "(things OR dogfest) NOT another",
      "(email OR commit) things",
      "NEAR(email things, 3)",
      "NEAR(\"about things\" email, 2)",
      "^hey",
      "title:(hey OR another)",
      "\"email about th\"*",
      "\"email about things\"")
    for (q <- queries) {
      val want = expected(q)
      assert(want.nonEmpty, q)
      assert(setOf(posArts, q) == want, s"positions = Some disagrees for: $q")
      assert(setOf(noPos, q) == want, s"positions = None disagrees for: $q")
    }
    // pinned: ^hey anchors to emails:1's 'hey there...' title only
    assert(setOf(posArts, "^hey") == Set(emails1))
  }

  /** SQLite FTS5's bm25() for `term` (k1 = 1.2, b = 0.75, weights 1.0)
    * in every doc of `toks` holding it, under `toks`'s own
    * [[TextIndex.stats]], keyed "type:key".
    */
  private def fts5Scores(toks: DataFrame, term: String): Map[String, Double] = {
    val s = TextIndex.stats(toks).collect()(0)
    val (n, avgdl) = (s.getAs[Double]("n_docs"), s.getAs[Double]("avgdl"))
    val docs = toks.collect().map { r =>
      val tokens = r.getAs[scala.collection.Seq[String]]("tokens_title") ++
        r.getAs[scala.collection.Seq[String]]("tokens_s1")
      (r.getAs[String]("type") + ":" + r.getAs[String]("key"), tokens.count(_ == term).toDouble,
        (r.getAs[Int]("dl_title") + r.getAs[Int]("dl_s1")).toDouble)
    }
    val df = docs.count(_._2 > 0)
    val idf = math.max(math.log((n - df + 0.5) / (df + 0.5)), 1e-6)
    docs.collect { case (id, f, dl) if f > 0 =>
      id -> idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl / avgdl))
    }.toMap
  }

  /** `n` notes; every tenth (and the first) mentions apples. */
  private def notes(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i, s"note $i", f"2020-01-01T00:00:$i%02d",
      if (i % 10 == 1) "apple pie and apple tart" else s"pear number $i"))
      .toDF("id", "title", "created", "body")
  }

  private def scoresOf(index: DataFrame, arts: SearchEngine.TextArtifacts): Map[String, Double] =
    SearchEngine.search(spark, index, Request(q = Some("apple"), tokenize = Tokenize.Porter),
      Some(arts)).collect()
      .map(r => r.getAs[String]("type") + ":" + r.getAs[String]("key") -> r.getAs[Double]("score"))
      .toMap

  private def assertFts5(got: Map[String, Double], want: Map[String, Double]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) => assert(math.abs(got(id) - w) < 1e-4, s"$id: ${got(id)} vs $w") }
  }

  test("BM25 statistics belong to the artifact set: corpora of one schema do not share them") {
    def corpus(n: Int) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bm25-corpus").toString
      graft.core.Schema.conform(notes(n).select(lit("t/notes").as("type"),
        col("id").as("key"), col("title"), col("created").as("timestamp"),
        col("body").as("search_1"))).write.parquet(s"$dir/index")
      val index = spark.read.parquet(s"$dir/index")
      (index, SearchEngine.TextArtifacts.build(TextIndex.docTokens(index, Tokenize.Porter)))
    }
    for (n <- Seq(2, 40)) {
      val (index, arts) = corpus(n)
      assertFts5(scoresOf(index, arts), fts5Scores(arts.docTokens, "appl"))
    }
  }

  test("a re-indexed directory, reopened, scores with its new statistics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-reindex").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/notes.yml"),
      """notes.db:
        |    notes:
        |        sql: |-
        |            select id as key, title, created as timestamp, body as search_1
        |            from bm25_notes
        |""".stripMargin)
    for (n <- Seq(2, 40)) {
      notes(n).write.parquet(s"$dir/notes_$n.parquet")
      graft.IndexCli.run(spark, s"$dir/idx", s"$dir/notes.yml",
        Map("bm25_notes" -> s"$dir/notes_$n.parquet"), Tokenize.Porter, None)
      val arts = graft.Cli.textArtifacts(spark, s"$dir/idx")
      assertFts5(scoresOf(spark.read.parquet(s"$dir/idx/search_index"), arts),
        fts5Scores(arts.docTokens, "appl"))
    }
  }

  test("BM25 ranks rarer term higher (relevance order)") {
    // 'dogfest' appears once; docs sort by score desc
    val scored = search("things").select("score").collect().map(_.getDouble(0))
    assert(scored.sameElements(scored.sorted(Ordering[Double].reverse)))
  }
}
