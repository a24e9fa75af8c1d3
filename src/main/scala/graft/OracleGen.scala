package graft

import graft.text.FtsQuery._

/** DuckDB SQL generator for the text-search pipeline: the oracle side of
  * [[graft.query.SearchEngine]]. Both sides consume the SAME parsed
  * [[graft.text.FtsQuery.Node]], so the boolean-match semantics cannot
  * drift — only the none-tokenizer pipeline is generated (Porter
  * stemming is not expressible in DuckDB; porter queries get rows-only
  * checks + ScalaTest golden cases instead).
  *
  * Numeric parity rules (see SURVEY §7.4): identical expression trees on
  * both sides (same association order, constants written as the same
  * literals), scores rounded to 4 decimals before both ORDER BY and
  * output, deterministic tie-breaks (timestamp DESC, type, key).
  */
object OracleGen {

  /** DuckDB token-array expression matching Tokenizer.tokensCol. */
  def tokensSql(x: String): String =
    s"list_filter(string_split_regex(lower(coalesce($x, '')), '[^a-z0-9]+'), t -> t <> '')"

  /** Boolean match condition over doc_tokens columns, from the AST. */
  def matchSql(n: Node,
      fields: Seq[String] = Seq("tokens_title", "tokens_s1")): String = n match {
    case Term(t) =>
      fields.map(f => s"list_contains($f, '$t')").mkString("(", " OR ", ")")
    case Prefix(p) =>
      fields.map(f => s"len(list_filter($f, t -> t LIKE '$p%')) > 0")
        .mkString("(", " OR ", ")")
    case Phrase(ts) if ts.exists(_.endsWith("*")) =>
      // phrase-prefix ("a b"*): positional starts with a LIKE last leg
      fields.map(f => s"len(${startsSql(f, ts)}) > 0")
        .mkString("(", " OR ", ")")
    case Phrase(ts) =>
      val needle = " " + ts.mkString(" ") + " "
      fields.map(c => s"strpos(' ' || array_to_string($c, ' ') || ' ', '$needle') > 0")
        .mkString("(", " OR ", ")")
    case And(ns)      => ns.map(matchSql(_, fields)).mkString("(", " AND ", ")")
    case Or(ns)       => ns.map(matchSql(_, fields)).mkString("(", " OR ", ")")
    case Not(pos, ng) => s"(${matchSql(pos, fields)} AND NOT ${matchSql(ng, fields)})"
    case Field(f, m) =>
      matchSql(m, Seq(if (f == "title") "tokens_title" else "tokens_s1"))
    case First(ts) =>
      fields.map { f =>
        (s"len($f) >= ${ts.size}" +:
          ts.zipWithIndex.map { case (t, j) => tokSql(s"$f[${j + 1}]", t) })
          .mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
    case Near(ps, n) => fields.map(nearSql(_, ps, n)).mkString("(", " OR ", ")")
  }

  /** One anchor-token condition: trailing `*` = starts-with (prefix
    * anchors in NEAR / `^`; tokens are parser-guaranteed alphanumeric
    * so LIKE needs no escaping).
    */
  private def tokSql(elem: String, t: String): String =
    if (t.endsWith("*")) s"$elem LIKE '${t.dropRight(1)}%'"
    else s"$elem = '$t'"

  /** 1-based start positions of a phrase in one token-array column. */
  private def startsSql(f: String, ts: Seq[String]): String = {
    val cond = ts.zipWithIndex.map { case (t, j) => tokSql(s"$f[i+$j]", t) }
      .mkString(" AND ")
    s"list_filter(range(1, len($f) - ${ts.size - 1} + 1), i -> $cond)"
  }

  /** NEAR over one field: ∃ anchor end m (of any phrase instance) such
    * that every phrase has an instance with end ≥ m and start ≤
    * m + n + 1 — the polynomial reformulation of FTS5's "≤ n tokens
    * between", i.e. "∃ per-phrase instances with max(start) − min(end)
    * ≤ n + 1" (take m = the minimum chosen end; boundary pinned
    * against SQLite FTS5); mirrors FtsQuery.matches and
    * SearchEngine.nearViaPositions exactly.
    */
  private def nearSql(f: String, ps: Seq[Seq[String]], n: Int): String = {
    val ends = ps
      .map(ts => s"list_transform(${startsSql(f, ts)}, s -> s + ${ts.size - 1})")
      .reduce((a, b) => s"list_concat($a, $b)")
    val condAll = ps.map(ts =>
      s"len(list_filter(${startsSql(f, ts)}, a -> a + ${ts.size - 1} >= m AND a <= m + ${n + 1})) > 0")
      .mkString(" AND ")
    s"len(list_filter($ends, m -> $condAll)) > 0"
  }

  /** Shared text-index CTEs over the canonical corpus search_index. */
  val textCtes: String =
    s"""doc_tokens AS (
       |  SELECT "type", "key",
       |         ${tokensSql("title")} AS tokens_title,
       |         ${tokensSql("search_1")} AS tokens_s1
       |  FROM search_index
       |),
       |lens AS (
       |  SELECT "type", "key", len(tokens_title) AS dl_title, len(tokens_s1) AS dl_s1
       |  FROM doc_tokens
       |),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |         avg(dl_title + dl_s1) AS avgdl
       |  FROM lens
       |),
       |post AS (
       |  SELECT term, "type", "key",
       |         CAST(sum(t_title) AS DOUBLE) AS tf_title,
       |         CAST(sum(t_s1) AS DOUBLE) AS tf_s1
       |  FROM (
       |    SELECT unnest(tokens_title) AS term, "type", "key", 1 AS t_title, 0 AS t_s1
       |    FROM doc_tokens
       |    UNION ALL
       |    SELECT unnest(tokens_s1) AS term, "type", "key", 0 AS t_title, 1 AS t_s1
       |    FROM doc_tokens
       |  ) u GROUP BY term, "type", "key"
       |),
       |df AS (SELECT term, count(*) AS df FROM post GROUP BY term)""".stripMargin

  /** One saturation over the COMBINED row tf/dl — SQLite FTS5's bm25()
    * semantics (fts5_aux.c: f(qi,D) and |D| sum the indexed columns
    * with their weights — 1.0 here — BEFORE the saturation; verified
    * against sqlite3 directly, round 10). The per-field-saturation
    * BM25F form the engine used through r9 is NOT what the reference
    * ranks by.
    */
  private def rowScoreSql(f: String, dl: String, avgdl: String): String =
    s"CASE WHEN $f > 0 THEN $f * (1.2 + 1.0) / ($f + 1.2 * ((1.0 - 0.75) + 0.75 * $dl / $avgdl)) ELSE 0.0 END"

  /** BM25 scores CTE for a positive-term list (mirrors
    * SearchEngine.bm25Scores == SQLite FTS5 bm25(): idf =
    * max(ln((N - df + 0.5)/(df + 0.5)), 1e-6) — the clamped form —
    * times one combined-row saturation per term).
    */
  def scoresCte(terms: Seq[String]): String = {
    val termList = terms.distinct.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""qterms AS (SELECT unnest($termList) AS term),
       |scores AS (
       |  SELECT p."type", p."key",
       |         sum( greatest(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5)), 1e-6) *
       |              ${rowScoreSql("(p.tf_title + p.tf_s1)", "(l.dl_title + l.dl_s1)", "s.avgdl")} ) AS score
       |  FROM post p
       |  JOIN qterms q ON p.term = q.term
       |  JOIN df d ON p.term = d.term
       |  JOIN lens l ON p."type" = l."type" AND p."key" = l."key"
       |  CROSS JOIN stats s
       |  GROUP BY p."type", p."key"
       |)""".stripMargin
  }

  /** Full relevance-search oracle: match + BM25 + top-k
    * (reference SEARCH_SQL __init__.py:26-43; LIMIT 100).
    */
  def searchSql(node: Node, extraWhere: Option[String] = None,
      limit: Int = 100): String = {
    val terms = positiveTerms(node).distinct
    val where = extraWhere.map(w => s"WHERE $w").getOrElse("")
    s"""WITH search_index AS (
       |${Corpus.oracleIndexBody}
       |),
       |$textCtes,
       |${scoresCte(terms)},
       |matched AS (
       |  SELECT "type", "key" FROM doc_tokens WHERE ${matchSql(node)}
       |)
       |SELECT si."type", si."key", si.title, si."timestamp", si.category, si.is_public,
       |       si.search_1,
       |       round(coalesce(sc.score, 0.0), 4) AS score
       |FROM matched m
       |JOIN search_index si ON m."type" = si."type" AND m."key" = si."key"
       |LEFT JOIN scores sc ON m."type" = sc."type" AND m."key" = sc."key"
       |$where
       |ORDER BY score DESC, si."timestamp" DESC, si."type", si."key"
       |LIMIT $limit""".stripMargin
  }

  /** Match-set-only oracle (no scores — exact, no float rounding). */
  def matchSetSql(node: Node): String =
    s"""WITH search_index AS (
       |${Corpus.oracleIndexBody}
       |),
       |doc_tokens AS (
       |  SELECT "type", "key",
       |         ${tokensSql("title")} AS tokens_title,
       |         ${tokensSql("search_1")} AS tokens_s1
       |  FROM search_index
       |)
       |SELECT "type", "key" FROM doc_tokens
       |WHERE ${matchSql(node)}
       |ORDER BY "type", "key"""".stripMargin
}
