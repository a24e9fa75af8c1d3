package graft.index

import graft.{RefFixtures, TestSpark}
import graft.core.Schema
import graft.query.SearchEngine
import graft.query.SearchEngine.Request
import graft.text.Tokenize
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Indexer parity with the reference CLI e2e test
  * (reference tests/test_cli.py:17-123): exact `search_index` contents,
  * key coerced to TEXT, categories seed, porter-vs-none search.
  */
class IndexJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dogsIndex = {
    RefFixtures.registerDogs(spark)
    IndexJob.buildIndex(spark, RefFixtures.dogsRules)
  }

  test("exact search_index rows (tests/test_cli.py:77-100)") {
    val rows = dogsIndex
      .select("type", "key", "title", "timestamp", "category", "is_public",
        "search_1", "search_2", "search_3")
      .orderBy("key").collect()
    assert(rows.toSeq == Seq(
      Row("dogs.db/dogs", "1", "Cleo", "2020-08-22 04:41:33", 1, 0, "running", null, null),
      Row("dogs.db/dogs", "2", "Pancakes", "2020-08-17 11:35:42", 2, 0, "chasing", null, null)
    ))
  }

  test("integer source keys are coerced to text (tests/test_cli.py:80,93)") {
    assert(dogsIndex.schema("key").dataType.typeName == "string")
  }

  test("categories seed (reference utils.py:23-27)") {
    assert(Schema.categories(spark).orderBy("id").collect().toSeq ==
      Seq(Row(1, "created"), Row(2, "saved"), Row(3, "received")))
  }

  test("query `run` matches `running` doc iff porter (tests/test_cli.py:104-122)") {
    val idx = dogsIndex
    def hits(mode: Tokenize.Value) =
      SearchEngine.search(spark, idx, Request(q = Some("run"), tokenize = mode))
        .select("key").collect().map(_.getString(0)).toSeq
    assert(hits(Tokenize.Porter) == Seq("1")) // Cleo likes running
    assert(hits(Tokenize.None_) == Seq.empty)
  }

  test("REPLACE merge: last writer wins, missing keys survive (SURVEY §1.4)") {
    import spark.implicits._
    def conformed(rows: Seq[(String, String)], tag: String) =
      Schema.conform(rows.toDF("key", "title").withColumn("type", lit(tag)))
    val v1 = conformed(Seq("1" -> "old-1", "2" -> "old-2"), "t/x")
    val v2 = conformed(Seq("2" -> "new-2", "3" -> "new-3"), "t/x")
    val merged = IndexJob.merge(v1, v2)
      .select("key", "title").orderBy("key").collect().toSeq
    assert(merged == Seq(Row("1", "old-1"), Row("2", "new-2"), Row("3", "new-3")))
  }

  test("merge is idempotent (re-delivery safe)") {
    import spark.implicits._
    def conformed(rows: Seq[(String, String)], tag: String) =
      Schema.conform(rows.toDF("key", "title").withColumn("type", lit(tag)))
    val base = conformed(Seq("1" -> "a", "2" -> "b"), "t/x")
    val once = IndexJob.merge(base, base)
    val twice = IndexJob.merge(once, base)
    assert(twice.orderBy("key").collect().toSeq ==
      base.orderBy("key").collect().toSeq)
  }

  test("upsert dedupes once: one row_number window on build and refresh") {
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import java.nio.file.{Files, Paths}
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    RefFixtures.registerDogs(spark)
    val dir = Files.createTempDirectory("graft-upsert").toString
    spark.table("dogs").write.parquet(s"$dir/dogs.parquet")
    Files.writeString(Paths.get(s"$dir/dogs.yml"), RefFixtures.dogsYaml)
    val seen = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.put(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the row_number windows in the plans one IndexCli.run executes:
    // listener events arrive in order, so those between a marker query
    // and the run's closing count are the run's
    def rowNumberWindows(): Int = {
      spark.range(1).toDF("graft_upsert_marker").collect()
      graft.IndexCli.run(spark, s"$dir/idx", s"$dir/dogs.yml",
        Map("dogs" -> s"$dir/dogs.parquet"), Tokenize.Porter, None)
      def next() = Option(seen.poll(60, TimeUnit.SECONDS)).getOrElse(fail("no listener event"))
      while (!next()._2.analyzed.output.exists(_.name == "graft_upsert_marker")) {}
      val run = Iterator.continually(next()).span(_._1 != "count")._1.toList
      run.map(_._2.optimizedPlan.collect {
        case w: WindowNode if w.windowExpressions.exists(_.find(_.isInstanceOf[RowNumber]).isDefined) => w
      }.size).sum
    }
    spark.listenerManager.register(listener)
    try {
      assert(rowNumberWindows() == 1, "first build")
      assert(rowNumberWindows() == 1, "refresh")
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(s"$dir/idx/search_index").count() == 2)
  }

  test("an index directory given as a file: URI opens with its positions") {
    import java.nio.file.{Files, Paths}
    RefFixtures.registerDogs(spark)
    val dir = Files.createTempDirectory("graft-uri").toString
    spark.table("dogs").write.parquet(s"$dir/dogs.parquet")
    Files.writeString(Paths.get(s"$dir/dogs.yml"), RefFixtures.dogsYaml)
    graft.IndexCli.run(spark, s"$dir/idx", s"$dir/dogs.yml",
      Map("dogs" -> s"$dir/dogs.parquet"), Tokenize.Porter, None)
    assert(graft.Cli.textArtifacts(spark, s"file:$dir/idx").positions.isDefined)
  }

  test("a -d re-index keeps other dbs' types and leaves the session's overwrite mode alone") {
    import java.nio.file.{Files, Paths}
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    RefFixtures.registerPlugin(spark)
    val dir = Files.createTempDirectory("graft-replace").toString
    for (v <- Seq("commits", "emails")) spark.table(v).write.parquet(s"$dir/$v.parquet")
    spark.read.parquet(s"$dir/emails.parquet")
      .withColumn("subject", concat(col("subject"), lit(" (edited)")))
      .write.parquet(s"$dir/emails_edited.parquet")
    Files.writeString(Paths.get(s"$dir/plugin.yml"), RefFixtures.pluginYaml)
    def run(emails: String, dbs: Option[Set[String]]): Unit =
      graft.IndexCli.run(spark, s"$dir/idx", s"$dir/plugin.yml",
        Map("commits" -> s"$dir/commits.parquet", "emails" -> emails), Tokenize.Porter, dbs)
    // a session in static mode: the upsert's own write must still
    // replace only the partitions it writes
    spark.conf.set(key, "static")
    try {
      run(s"$dir/emails.parquet", None)
      run(s"$dir/emails_edited.parquet", Some(Set("emails.db")))
      assert(spark.conf.get(key) == "static")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val index = spark.read.parquet(s"$dir/idx/search_index")
    assert(index.filter(col("type") === "github.db/commits").count() == 2)
    assert(index.filter(col("type") === "emails.db/emails")
      .select("title").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("Hey there #dogfest (edited)", "What's going on (edited)"))
  }

  test("schema probe is analysis-only and lists produced columns (utils.py:68-70)") {
    RefFixtures.registerDogs(spark)
    val cols = IndexJob.deriveColumns(spark,
      RefFixtures.dogsRules.head.sql)
    assert(cols == Seq("key", "title", "timestamp", "category", "search_1"))
  }

  test("postings equal driver-counted term frequencies; no second exchange") {
    import graft.text.Tokenize
    val toks = TextIndex.docTokens(dogsIndex, Tokenize.Porter)
    // term frequencies counted on the driver from the token arrays
    val direct = toks.collect().toSeq.flatMap { r =>
      val title = r.getAs[scala.collection.Seq[String]]("tokens_title")
      val s1 = r.getAs[scala.collection.Seq[String]]("tokens_s1")
      (title ++ s1).distinct.map(t => (t, r.getAs[String]("type"), r.getAs[String]("key"),
        title.count(_ == t).toDouble, s1.count(_ == t).toDouble))
    }.sortBy(t => (t._1, t._2, t._3))
    // r15 layout: positions() repartitions on term INTERNALLY and rolls
    // occurrences up to per-(term, doc, field) sorted arrays riding that
    // clustering; postingsFromPositions rides the same clustering — the
    // WHOLE two-artifact build must contain exactly ONE exchange (the
    // term repartition)
    val derived = graft.query.SearchEngine.TextArtifacts.build(toks).postings
    val rows = derived.select("term", "type", "key", "tf_title", "tf_s1")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(rows == direct)
    assert(direct.nonEmpty)
    // count exchanges from the plan top down to (and including) the
    // term repartition: exactly one — the input-building subtree below
    // it (the index window) has its own exchange, which isn't ours
    val plan = derived.queryExecution.executedPlan.toString
    val aboveRepartition = plan.substring(0,
      plan.indexOf("REPARTITION_BY_COL").max(0))
    val exchanges =
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
        .findAllIn(aboveRepartition).length
    assert(plan.contains("REPARTITION_BY_COL") && exchanges == 1,
      s"positions rollup + postings rollup grew an exchange above the " +
        s"term repartition:\n$plan")
  }
}
