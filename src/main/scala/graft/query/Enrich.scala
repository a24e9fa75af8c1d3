package graft.query

import graft.core.IndexRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-result enrichment: the reference's `display_sql` contract — a
  * per-type SQL with named params `:key` (the result's key) and `:q`
  * (the query string), executed once per result row
  * (reference dogsheep_beta/__init__.py:161-168; documented contract
  * README.md:147-160).
  *
  * The reference defends its N+1 point queries with "many small queries
  * are efficient in SQLite" (README.md:162). On Spark that's an
  * anti-pattern (a job per row), so the same contract executes as ONE
  * batched join per type:
  *
  *  - `:q` is bound as a named SQL parameter on both paths (it is
  *    constant for the page), never spliced into the statement text, so
  *    no query string can change what the statement selects;
  *  - `... WHERE <expr> = :key` is rewritten to project `<expr>` as a
  *    join column, and the (arbitrarily large) detail relation is
  *    PRUNED FIRST by a semi-join against the broadcast page keys
  *    (≤ page size), so the first-row window and the final join only
  *    ever see ≤ pageSize·fanout rows — never the full source table;
  *  - if `display_sql` can return multiple rows per key, the
  *    reference's `.first()` semantics are reproduced with a
  *    deterministic row_number()=1 per key (SURVEY §2.3 J3);
  *  - `:key` in any OTHER position (compound WHERE, non-terminal
  *    predicate, select list — the reference binds it as a parameter
  *    anywhere) runs as a LATERAL correlated subquery over the page
  *    keys, bound as `VALUES` parameters, which Catalyst decorrelates
  *    into one batched plan (see [[lateralDetail]]).
  *
  * Neither path registers a temp view or other session state.
  */
object Enrich {

  private val whereKey = """(?is)(.*)\bwhere\b(.*?)=\s*:key\s*$""".r

  /** Rewrite one display_sql into (projection SQL, join expression SQL).
    * Supports the documented shape `select ... from ... where <expr> = :key`.
    *
    * A keyExpr containing a top-level AND/OR (e.g. the tail of
    * `where a = 1 and id = :key`) is NOT a key expression — it is a
    * boolean predicate the lazy regex mis-captured. Joining on it would
    * silently compare `key` against `"true"/"false"`, so reject loudly
    * instead (the documented contract is a single `<expr> = :key`
    * equality; README.md:147-160).
    */
  private[graft] def rewrite(displaySql: String): (String, String) =
    displaySql match {
      case whereKey(head, keyExpr) =>
        if (hasTopLevelBoolOp(keyExpr))
          throw new IllegalArgumentException(
            "display_sql WHERE must be a single `<expr> = :key` equality; " +
              s"got a compound predicate ending in `$keyExpr = :key`: $displaySql")
        // the key expression is parsed alone, where no parameter binds
        if (head.contains(":key") || keyExpr.contains(":key") || keyExpr.contains(":q"))
          throw new IllegalArgumentException(
            "display_sql uses :key outside the trailing `<expr> = :key` " +
              s"equality, or :q in the key expression (general-path shape): $displaySql")
        (head.trim, keyExpr.trim)
      case _ =>
        throw new IllegalArgumentException(
          s"display_sql must end in `where <expr> = :key` (README.md:147-160): $displaySql")
    }

  /** True if `expr` contains an AND/OR keyword at paren-depth 0 outside
    * string literals AND quoted identifiers — i.e. it is a boolean
    * combination, not a scalar key expression. Tracks single-quoted
    * strings plus double-quoted and backtick-quoted identifiers
    * (ADVICE r3: `where "a and b" = :key` is a legal scalar key).
    */
  private[graft] def hasTopLevelBoolOp(expr: String): Boolean = {
    var depth = 0
    var quote: Char = 0 // 0 = outside any quoting; else the closing char
    var i = 0
    val s = expr
    def isWordChar(ch: Char): Boolean = ch.isLetterOrDigit || ch == '_'
    def wordAt(j: Int, w: String): Boolean =
      s.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !isWordChar(s.charAt(j - 1))) &&
        (j + w.length >= s.length || !isWordChar(s.charAt(j + w.length)))
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && (wordAt(i, "and") || wordAt(i, "or"))) return true
      }
      i += 1
    }
    false
  }

  /** Batched enrichment for one rule: join its display_sql detail
    * relation to the page's result keys.
    *
    * @param results page rows (must contain `type` and `key`)
    * @param q       the user query string (bound to `:q`)
    * @return results of this rule's type, left-joined with the
    *         display_sql columns (prefixed `display_`)
    */
  def enrichType(spark: SparkSession, rule: IndexRule, results: DataFrame,
      q: String): DataFrame = rule.displaySql match {
    case None => results.filter(col("type") === rule.typeTag)
    case Some(displaySql) => enrichWith(spark, rule, results, displaySql, q)
  }

  private def enrichWith(spark: SparkSession, rule: IndexRule,
      results: DataFrame, displaySql: String, q: String): DataFrame = {
    val typed = results.filter(col("type") === rule.typeTag)
    // the page's keys: ≤ pageSize rows — THE broadcast side
    val pageKeys = typed.select(col("key").as("__join_key")).distinct()
    val pruned =
      try {
        val (body, keyExpr) = rewrite(displaySql)
        // fast path (the documented `... where <expr> = :key` shape):
        // project the key expr and prune the (full-table) detail scan
        // down to the page's keys BEFORE any window — a
        // BroadcastHashJoin(LeftSemi) with the tiny key side broadcast;
        // at scale this is a selective scan, not a table copy
        spark.sql(body, Map("q" -> q))
          .withColumn("__join_key", expr(keyExpr).cast("string"))
          .join(broadcast(pageKeys), Seq("__join_key"), "left_semi")
      } catch {
        case _: IllegalArgumentException if displaySql.contains(":key") =>
          lateralDetail(spark, pageKeys.collect().map(_.getString(0)).toSeq, displaySql, q)
      }
    // reference takes the FIRST row if display_sql yields several;
    // the window now runs over ≤ pageKeys·fanout rows, not the table
    val detailOne = pruned
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__join_key"))
          .orderBy(pruned.columns.filterNot(_ == "__join_key").map(col): _*)))
      .filter(col("__rn") === 1).drop("__rn")
    val prefixed = detailOne.columns.filterNot(_ == "__join_key").foldLeft(detailOne) {
      (df, c) => df.withColumnRenamed(c, s"display_$c")
    }
    // detailOne is ≤ pageSize rows after pruning — safe to broadcast
    typed.join(broadcast(prefixed), col("key") === col("__join_key"), "left")
      .drop("__join_key")
  }

  /** General path for display_sql with `:key` in ANY predicate or
    * expression position (the reference binds `:key` as a parameter
    * anywhere; __init__.py:161-168): run the statement as a LATERAL
    * correlated subquery against the (≤ pageSize) page keys,
    * substituting the outer key column for `:key`. The keys enter the
    * statement as bound `VALUES` rows, like `:q`. Catalyst decorrelates
    * the inner query — an equality correlation becomes an ordinary join
    * on the detail table (one scan, not one per key), and non-equi /
    * multi-use correlations become join conditions — so the reference's
    * per-row point query executes as one batched plan here too, just
    * without the semi-join prune the single-equality fast path gets.
    */
  private def lateralDetail(spark: SparkSession, pageKeys: Seq[String],
      displaySql: String, q: String): DataFrame = {
    // no keys: one NULL key, which matches no result row in the final join
    val keys = if (pageKeys.isEmpty) Seq(null) else pageKeys
    val rows = keys.indices.map(i => s"(CAST(:__key$i AS STRING))").mkString(", ")
    val args = keys.zipWithIndex.map { case (k, i) => s"__key$i" -> k }.toMap + ("q" -> q)
    spark.sql(
      s"""SELECT __pk.__join_key, __d.*
         |FROM VALUES $rows AS __pk(__join_key)
         |JOIN LATERAL (${displaySql.replace(":key", "__pk.__join_key")}) __d""".stripMargin,
      args)
  }
}
