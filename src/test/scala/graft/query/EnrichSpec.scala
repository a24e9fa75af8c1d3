package graft.query

import graft.{RefFixtures, TestSpark}
import graft.index.IndexJob
import org.scalatest.funsuite.AnyFunSuite

/** Batched display_sql enrichment: the reference's per-row `:key`/`:q`
  * point lookups (reference __init__.py:161-168) executed as one join
  * per type.
  */
class EnrichSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rewrite splits the documented `where <expr> = :key` shape") {
    val (body, key) = Enrich.rewrite(
      "select * from emails where id = :key")
    assert(body == "select * from emails" && key == "id")
  }

  test(":q is bound as a parameter on both paths, never spliced") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val emailRule = RefFixtures.pluginRules.find(_.db == "emails.db").get
    def enrich(displaySql: String, q: String) =
      Enrich.enrichType(spark, emailRule.copy(displaySql = Some(displaySql)), index, q)
        .collect()
    val hostile = "\\' OR 1=1 --"
    // fast path (trailing `<expr> = :key`) and LATERAL path (compound WHERE)
    val echo = Seq(
      "select id, subject, :q as their_query from emails where id = :key",
      "select subject, :q as their_query from emails where 1 = 1 and id = :key")
    for (sql <- echo; q <- Seq("it's", hostile)) {
      val rows = enrich(sql, q)
      assert(rows.length == 2 && rows.forall(_.getAs[String]("display_their_query") == q),
        s"`$q` not echoed verbatim by: $sql")
    }
    // a predicate on :q: true for q = x, and the hostile q selects no row
    val gated = Seq(
      "select id, subject from (select * from emails where 'x' = :q) where id = :key",
      "select subject from emails where 'x' = :q and id = :key")
    for (sql <- gated) {
      assert(enrich(sql, "x").forall(_.getAs[String]("display_subject") != null), sql)
      assert(enrich(sql, hostile).forall(_.getAs[String]("display_subject") == null),
        s"hostile q selected a detail row via: $sql")
    }
  }

  test("undocumented shapes are rejected loudly") {
    intercept[IllegalArgumentException](
      Enrich.rewrite("select * from emails"))
  }

  test(":key in any predicate position runs via the LATERAL path") {
    import org.apache.spark.sql.functions.col
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val emailRule = RefFixtures.pluginRules.find(_.db == "emails.db").get
    // the fast-path answer to diff against
    val fast = Enrich.enrichType(spark, emailRule, index, "things")
      .select("key", "display_subject", "display_from_")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    def viaSql(displaySql: String): Set[(String, String, String)] =
      Enrich.enrichType(spark,
          emailRule.copy(displaySql = Some(displaySql)), index, "things")
        .select("key", "display_subject", "display_from_")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    // compound WHERE (the shape the fast path rejects)
    assert(viaSql("select * from emails where 1 = 1 and id = :key") == fast)
    // :key in a NON-terminal predicate position
    assert(viaSql("select * from emails where id = :key and from_ like '%example%'") == fast)
    // :key used twice, including in the select list
    val twice = Enrich.enrichType(spark,
        emailRule.copy(displaySql =
          Some("select subject, from_, :key as k2 from emails where id = :key")),
        index, "things")
      .select("key", "display_k2").collect()
    assert(twice.nonEmpty && twice.forall(r => r.getString(0) == r.getString(1)))
    // :q still substitutes inside the lateral path
    val withQ = Enrich.enrichType(spark,
        emailRule.copy(displaySql =
          Some("select subject, from_, :q as their_query from emails where 1 = 1 and id = :key")),
        index, "it's")
      .filter(col("display_their_query").isNotNull).collect()
    assert(withQ.nonEmpty &&
      withQ.forall(_.getAs[String]("display_their_query") == "it's"))
  }

  test("compound WHERE clauses are rejected, not silently mis-joined") {
    // the lazy regex would capture keyExpr = "a = 1 and id" — a boolean,
    // so the join key would become "true"/"false" (VERDICT r2 #4)
    intercept[IllegalArgumentException](
      Enrich.rewrite("select * from t where a = 1 and id = :key"))
    intercept[IllegalArgumentException](
      Enrich.rewrite("select * from t where a = 1 or id = :key"))
    // AND/OR inside identifiers, strings, or parens are fine
    assert(Enrich.rewrite(
      "select * from t where a_and_b = :key")._2 == "a_and_b")
    assert(Enrich.rewrite(
      "select * from t where coalesce(a and b, c) = :key")._2
      == "coalesce(a and b, c)")
    assert(Enrich.rewrite(
      "select * from t where concat(x, ' and ') = :key")._2
      == "concat(x, ' and ')")
  }

  test("detail relation is pruned by a broadcast semi-join on page keys") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val emailRule = RefFixtures.pluginRules.find(_.db == "emails.db").get
    val enriched = Enrich.enrichType(spark, emailRule, index, "things")
    val plan = enriched.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi"),
      s"expected the detail scan pruned via LeftSemi before the window:\n$plan")
  }

  test("enriches the reference fixture page with display columns") {
    RefFixtures.registerPlugin(spark)
    val index = IndexJob.buildIndex(spark, RefFixtures.pluginRules)
    val emailRule = RefFixtures.pluginRules.find(_.db == "emails.db").get
    val enriched = Enrich.enrichType(spark, emailRule, index, "things")
    val row = enriched.filter(org.apache.spark.sql.functions.col("key") === "1")
      .collect()(0)
    assert(row.getAs[String]("display_subject") == "Hey there #dogfest")
    assert(row.getAs[String]("display_from_") == "blah@example.com")

    // commits rule echoes :q back (reference fixture display_sql)
    val commitsRule = RefFixtures.pluginRules.find(_.db == "github.db").get
    val ec = Enrich.enrichType(spark, commitsRule, index, "things").collect()
    assert(ec.length == 2)
    assert(ec.forall(_.getAs[String]("display_their_query") == "things"))
  }
}
