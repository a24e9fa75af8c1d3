package graft.query

import graft.index.TextIndex
import graft.text.FtsQuery._
import graft.text.{FtsQuery, Tokenize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query engine: boolean FTS match + BM25 ranking + filters +
  * sort/top-k — the Spark re-expression of the reference's two SQL
  * templates + FTS5 MATCH (reference dogsheep_beta/__init__.py:8-43).
  *
  * Execution shape (scale-first):
  *  1. Boolean match resolves in the INDEX ([[exactViaPostings]]):
  *     terms and OR/AND/NOT trees over them are isin-pruned scans +
  *     joins, `prefix*` is a term-range prune (postings are
  *     sorted/bucketed by term), FTS5 column filters ride the per-field
  *     tfs, and phrases, `^` and NEAR are doc-level joins of
  *     term-pruned positional postings. Token arrays are read only to
  *     derive positions for an index written before they existed.
  *  2. BM25 scores come from the postings ⋈ (tiny, broadcast) query-term
  *     list, aggregated per doc — one shuffle on (type, key). The corpus
  *     statistics (n_docs, avgdl) belong to the artifact set
  *     ([[TextArtifacts.stats]]), as FTS5 keeps its totals in the index:
  *     one job per artifact set, and a reopened index computes them anew.
  *  3. Filters (`type`/`category`/`is_public`/date) are plain pushed-down
  *     predicates on both legs.
  *  4. Top-k = `ORDER BY ... LIMIT k` → Spark's TakeOrderedAndProject
  *     (no full sort; per-partition heaps + driver merge).
  *
  * BM25: k1 = 1.2, b = 0.75 (SQLite FTS5's constants), field weights
  * 1.0 (reference default). idf = max(ln((N - df + 0.5)/(df + 0.5)),
  * 1e-6) — FTS5's clamped form (fts5_aux.c), so very common terms
  * contribute ~0 instead of a Lucene-style inflated positive weight and
  * rank order matches the reference on common-term queries. Saturation
  * is FTS5's combined-row form — ONE tf/|D| pair per (term, doc) with
  * tf and |D| summed across the indexed columns — not per-field BM25F
  * (verified against sqlite3 bm25() directly, round 10). FTS5
  * negates the total (lower rank = better); we keep scores positive and
  * sort DESC — same order. Rank ORDER is what the reference exposes,
  * not rank values (SURVEY §7.4); ties break by (timestamp DESC, type,
  * key).
  */
object SearchEngine {

  val K1 = 1.2
  val B = 0.75

  final case class Request(
      q: Option[String] = None,
      typeFilter: Option[String] = None,
      category: Option[String] = None,  // string-typed, as from a query string
      isPublic: Option[String] = None,
      timestampDate: Option[String] = None,
      sort: Option[String] = None,      // newest | oldest | None = default
      tokenize: Tokenize.Value = Tokenize.Porter,
      // `?_searchmode=raw`: an EXTENSION in the Datasette-table-view
      // style — the reference beta route never reads `_searchmode`
      // (its __init__.py:200-211 is the internal facet-count helper,
      // which tries raw then silently falls back to escaped). Raw mode
      // here = strict FTS parse, no escape fallback; default behavior
      // (parseOrEscape) matches the reference unchanged.
      rawMode: Boolean = false
  )

  /** Prune a term-keyed relation (tf postings or positional postings)
    * to `terms`: the `isin` on `term` plus — when the relation carries
    * the on-disk term-bucket partition column `tb`
    * ([[graft.index.TextIndex.writeTermPartitioned]] layout) — a STATIC
    * partition filter on the terms' bucket ids, computed on the driver.
    * With the partitioned layout the scan reads only the probed
    * buckets' files; with memory-persisted artifacts the isin prunes
    * cached batches via their min/max term stats (artifacts are
    * clustered by term at persist time).
    */
  private def termPrune(rel: DataFrame, terms: Seq[String]): DataFrame = {
    val t = terms.distinct
    val base = rel.filter(col("term").isin(t: _*))
    if (rel.columns.contains("tb"))
      base.filter(col("tb").isin(
        t.map(TextIndex.termBucket(_)).distinct: _*))
    else base
  }

  /** Restrict postings rows to hits in one indexed field (the FTS5
    * column-filter contract; postings carry per-field tfs).
    */
  private def fieldFilter(postings: DataFrame, field: Option[String]): DataFrame =
    field match {
      case Some("title") => postings.filter(col("tf_title") > 0)
      case Some(_)       => postings.filter(col("tf_s1") > 0)
      case None          => postings
    }

  /** Docs containing ALL of `terms` (in `field` if restricted): one
    * term-pruned scan + one (type,key) aggregation.
    */
  private def termsAllOf(arts: TextArtifacts, terms: Seq[String],
      field: Option[String]): DataFrame = {
    val distinctTerms = terms.distinct
    fieldFilter(termPrune(arts.postings, distinctTerms), field)
      .groupBy("type", "key")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === distinctTerms.size)
      .select("type", "key")
  }

  /** Docs containing ANY of `terms` — a single isin-pruned scan. */
  private def termsAnyOf(arts: TextArtifacts, terms: Seq[String],
      field: Option[String]): DataFrame =
    fieldFilter(termPrune(arts.postings, terms), field)
      .select("type", "key").distinct()

  /** Docs with any term in `[p, p + U+FFFF)` — the indexed prefix match.
    * Postings are written sorted/bucketed BY TERM (TextIndex), so this
    * is a term-range prune (file/bucket skip at scale), never a
    * token-array scan of the corpus.
    */
  private def prefixSet(arts: TextArtifacts, p: String,
      field: Option[String]): DataFrame =
    fieldFilter(
      arts.postings.filter(col("term") >= p && col("term") < p + "\uffff"), field)
      .select("type", "key").distinct()

  /** A Term, or a Phrase that degenerates to one (single token). */
  private def asTerm(n: Node): Option[String] = n match {
    case Term(t)                                                => Some(t)
    case Phrase(ts) if ts.size == 1 && !ts.head.endsWith("*")   => Some(ts.head)
    case _                                                      => None
  }

  /** Fully-indexed PHRASE match over positional postings: a DOC-LEVEL
    * join of the phrase terms' position-list rows with an in-row
    * two-pointer intersect of shifted lists (the FTS5 position-list
    * design; r15 — before, each leg shuffled one row per token
    * OCCURRENCE and the adjacency join keyed on (doc, field, start),
    * so hot terms moved millions of occurrence rows per leg). Each leg
    * is term-pruned; no token arrays.
    */
  private def phraseViaPositions(arts: TextArtifacts, ts: Seq[String],
      field: Option[String]): DataFrame =
    phraseOccurrences(arts, ts, field)
      .filter(size(col("__ps")) > 0).select("type", "key").distinct()

  /** All occurrences of a phrase as (type, key, field, __ps) rows where
    * `__ps` is the sorted array of 0-based start positions — the
    * doc-level adjacency intersect that phrase, `^`, and NEAR
    * resolution all share. Occurrence of token j at position p is a
    * candidate start at `p - j`; the intersect of every token's
    * shifted list is the phrase's start set, computed IN-ROW with the
    * compiled two-pointer merge (`sorted_intersect` — the
    * triangle-closure kernel; lists are sorted at build) after a
    * doc-level join. Each leg is term-pruned; the positions layout
    * guarantees one row per (term, doc, field), so the joins are 1:1
    * — no row explosion. (A fused one-aggregation alternative — all
    * legs collected per doc in one groupBy — measured WORSE at sf1:
    * collect_list over millions of (doc, field) groups forces
    * ObjectHashAggregate into its sort-based fallback on both sides
    * of the exchange; the pre-grouped artifact rows + join need no
    * re-aggregation at all.)
    */
  private def phraseOccurrences(arts: TextArtifacts, ts: Seq[String],
      field: Option[String]): DataFrame = {
    // an index directory written before positions existed: derive
    // them with the build recipe's own step
    val all = arts.positions.getOrElse(TextIndex.positions(arts.docTokens))
    val pos = field match {
      case Some("title") => all.filter(col("field") === 0)
      case Some(_)       => all.filter(col("field") === 1)
      case None          => all
    }
    ts.zipWithIndex.map { case (t, i) =>
      // starred anchor token (prefix in NEAR / ^): a term-RANGE prune —
      // same file/row-group skip as prefixSet, just on positions. A
      // prefix can hit MANY terms in one doc-field: union their lists
      // into one sorted occurrence set per (doc, field).
      val leg =
        if (t.endsWith("*")) {
          val p = t.dropRight(1)
          pos.filter(col("term") >= p && col("term") < p + "\uffff")
            .groupBy("type", "key", "field")
            .agg(sort_array(flatten(collect_list(col("poss")))).as("__ps"))
        } else termPrune(pos, Seq(t))
          .select(col("type"), col("key"), col("field"), col("poss").as("__ps"))
      leg.select(col("type"), col("key"), col("field"),
        transform(col("__ps"), p => p - i).as("__ps"))
    }.reduce { (a, b) =>
      a.join(b.withColumnRenamed("__ps", "__psR"), Seq("type", "key", "field"))
        .withColumn("__ps", graft.functions.IntersectFunctions
          .sorted_intersect(col("__ps"), col("__psR")))
        .drop("__psR")
        // dead candidates drop out between legs, keeping the fold's
        // intermediate sets (and any downstream join) minimal
        .filter(size(col("__ps")) > 0)
    }
  }

  /** `^phrase`: occurrences anchored at the field's first token. */
  private def firstViaPositions(arts: TextArtifacts, ts: Seq[String],
      field: Option[String]): DataFrame =
    phraseOccurrences(arts, ts, field)
      .filter(array_contains(col("__ps"), 0))
      .select("type", "key").distinct()

  /** Indexed NEAR: join each phrase's start-set row on (doc, field) and
    * keep docs where some instance combination has max(start) −
    * min(end) ≤ n + 1 (the FTS5 rule) — evaluated IN-ROW over the
    * position arrays in the same ∃-anchor form as
    * [[graft.text.FtsQuery.matches]] (equivalent: take m = the minimum
    * chosen end; pinned against SQLite FTS5). Per-doc work is bounded by
    * per-document phrase frequency, never corpus size, and the
    * (doc, field) join is 1:1 (one start-set row per phrase per
    * doc-field).
    */
  private def nearViaPositions(arts: TextArtifacts, ps: Seq[Seq[String]],
      n: Int, field: Option[String]): DataFrame = {
    val occs = ps.zipWithIndex.map { case (ts, i) =>
      phraseOccurrences(arts, ts, field)
        .filter(size(col("__ps")) > 0)
        .select(col("type"), col("key"), col("field"), col("__ps").as(s"__s$i"))
    }
    val joined = occs.reduce((a, b) => a.join(b, Seq("type", "key", "field")))
    val cond =
      if (ps.size == 1) lit(true) // one phrase: NEAR degenerates to presence
      else {
        val ends = ps.zipWithIndex.map { case (ts, i) =>
          transform(col(s"__s$i"), a => a + lit(ts.size - 1))
        }.reduce(concat(_, _))
        exists(ends, m => ps.zipWithIndex.map { case (ts, i) =>
          exists(col(s"__s$i"), a =>
            a + lit(ts.size - 1) >= m && a <= m + lit(n + 1))
        }.reduce(_ && _))
      }
    joined.filter(cond).select("type", "key").distinct()
  }

  /** Indexed resolution of a match tree as (type, key) rows. Terms,
    * prefixes (term-range) and field filters resolve in the tf
    * postings; phrases, `^` and NEAR in the positional postings. AND =
    * semi-join chain (all-terms conjunctions collapse to one
    * aggregation), OR = union+distinct of per-branch sets, NOT =
    * anti-join.
    */
  private[graft] def exactViaPostings(arts: TextArtifacts, n: Node,
      field: Option[String] = None): DataFrame = n match {
    case Term(t)     => termsAllOf(arts, Seq(t), field)
    case Phrase(ts) if asTerm(n).isDefined => termsAllOf(arts, ts, field)
    case Phrase(ts)  => phraseViaPositions(arts, ts, field)
    case First(ts)   => firstViaPositions(arts, ts, field)
    case Near(ps, k) => nearViaPositions(arts, ps, k, field)
    case Prefix(p)   => prefixSet(arts, p, field)
    case Field(f, m) => exactViaPostings(arts, m, Some(if (f == "title") "title" else "s1"))
    case And(ns) =>
      val (termBranches, rest) = ns.partition(asTerm(_).isDefined)
      val termSet =
        if (termBranches.isEmpty) None
        else Some(termsAllOf(arts, termBranches.flatMap(asTerm), field))
      (termSet.toSeq ++ rest.map(exactViaPostings(arts, _, field)))
        .reduce((a, b) => a.join(b, Seq("type", "key"), "left_semi"))
    case Or(ns) =>
      val (termBranches, rest) = ns.partition(asTerm(_).isDefined)
      val termSet =
        if (termBranches.isEmpty) None
        else Some(termsAnyOf(arts, termBranches.flatMap(asTerm), field))
      (termSet.toSeq ++ rest.map(exactViaPostings(arts, _, field)))
        .reduce(_ unionByName _).distinct()
    case Not(pos, neg) =>
      exactViaPostings(arts, pos, field)
        .join(exactViaPostings(arts, neg, field), Seq("type", "key"), "left_anti")
  }

  /** The boolean match set for a parsed query, as (type, key) rows,
    * resolved in the index ([[exactViaPostings]]).
    */
  def matchSet(arts: TextArtifacts, node: Node): DataFrame =
    exactViaPostings(arts, node)

  /** BM25 per-doc scores for the query's positive terms, under the
    * artifact set's own corpus statistics ([[TextArtifacts.stats]]).
    * postings ⋈ broadcast(terms) ⋈ broadcast(df) — one narrow shuffle.
    */
  def bm25Scores(arts: TextArtifacts, terms: Seq[String]): DataFrame = {
    val (nDocs, avgdl) = arts.stats

    // prune postings to the query's terms FIRST (partition/bucket prune
    // at scale); per-term df comes from a window over the SAME pruned
    // rows — one postings scan, never a second df-aggregation pass and
    // never the full vocabulary
    val matched = termPrune(arts.postings, terms)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))

    // SQLite FTS5 bm25() semantics (fts5_aux.c, verified against
    // sqlite3 directly, round 10): ONE saturation over the row's
    // combined tf (f = Σ_c w_c·tf_c) and combined length (|D| =
    // Σ_c w_c·dl_c) with avgdl the corpus mean of |D| — weights 1.0,
    // the reference default. The per-field-saturation BM25F form the
    // engine carried through r9 ranks differently and is NOT what the
    // reference's `order by search_index_fts.rank` computes.
    def rowScore(f: Column, dl: Column): Column =
      when(f > 0,
        f * (lit(K1) + 1.0) / (f + lit(K1) * (lit(1 - B) + lit(B) * dl / lit(avgdl))))
        .otherwise(lit(0.0))

    matched
      .join(arts.docTokens.select("type", "key", "dl_title", "dl_s1"), Seq("type", "key"))
      .withColumn("idf", greatest(
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)), lit(1e-6)))
      .withColumn("score_t",
        col("idf") * rowScore(col("tf_title") + col("tf_s1"),
          col("dl_title") + col("dl_s1")))
      .groupBy("type", "key")
      .agg(sum("score_t").as("score"))
  }

  /** [[bm25Scores]] over `postings` and `docTokens` as a new artifact
    * set, so every call computes the corpus statistics again.
    */
  def bm25Scores(spark: SparkSession, postings: DataFrame, docTokens: DataFrame,
      terms: Seq[String]): DataFrame = bm25Scores(TextArtifacts(docTokens, postings), terms)

  /** Precomputed text-index artifacts (see [[graft.index.TextIndex]]);
    * pass the memoized/persisted ones so repeated queries share one
    * tokenization + postings build (the reference equivalent: the FTS
    * table persists between requests). Build them with
    * [[TextArtifacts.build]]. `positions` is `None` only for an index
    * directory written before positions existed; phrase, `^` and NEAR
    * then derive them from `docTokens` per query. An artifact set
    * carries its BM25 corpus statistics ([[stats]]).
    */
  final case class TextArtifacts(docTokens: DataFrame, postings: DataFrame,
      positions: Option[DataFrame] = None) {

    /** (n_docs, avgdl) of `docTokens` ([[TextIndex.stats]]): one job on
      * first use, then held for the life of the artifact set — the
      * totals SQLite FTS5 keeps in the index and rebuilds with it.
      */
    lazy val stats: (Double, Double) = {
      val s = TextIndex.stats(docTokens).collect()(0)
      (s.getAs[Double]("n_docs"), s.getAs[Double]("avgdl"))
    }
  }

  object TextArtifacts {

    /** The one text-index recipe: token arrays → positional postings
      * ([[TextIndex.positions]], the one explode + term shuffle) → tf
      * postings rolled up from them ([[TextIndex.postingsFromPositions]],
      * no second exchange). `keep` is applied to the positions before
      * the rollup reads them — a persist shares them between the two
      * artifacts' consumers.
      */
    def build(docTokens: DataFrame,
        keep: DataFrame => DataFrame = identity): TextArtifacts = {
      val positions = keep(TextIndex.positions(docTokens))
      TextArtifacts(docTokens, TextIndex.postingsFromPositions(positions), Some(positions))
    }
  }

  /** The rows a request selects before ranking: the index under the
    * request's filters (`type`/`category`/`is_public`/date) and, when
    * `q` parses, inner-joined to its match set (MATCH hits the whole
    * FTS index, the filters land on search_index — same as the
    * reference). Also returns the parsed query and the artifacts it
    * matched against; None is a timeline request. [[rank]] orders
    * these rows and the page counts its facets over the same `base`,
    * so results and facets come from one filter + match derivation
    * (reference __init__.py:57-66, 200-223).
    */
  def filteredMatch(index: DataFrame, req: Request,
      artifacts: Option[TextArtifacts] = None): (DataFrame, Option[(Node, TextArtifacts)]) = {
    val filtered = Seq[Option[Column]](
      req.typeFilter.map(col("type") === _),
      // try_cast: a malformed querystring value ("banana") must filter
      // to empty, not raise — SQLite's loose parameter comparison never
      // errors (reference binds filters as parameters, __init__.py:57-62)
      req.category.map(v => col("category") === lit(v).try_cast("int")),
      req.isPublic.map(v => col("is_public") === lit(v).try_cast("int")),
      req.timestampDate.map(d => substring(col("timestamp"), 1, 10) === d)
    ).flatten.foldLeft(index)(_ filter _)

    // blank-query normalize: whitespace-only == timeline (reference
    // __init__.py:64,115; tests/test_plugin.py:122-124)
    req.q.flatMap(FtsQuery.parseRequest(_, req.tokenize, req.rawMode)) match {
      case None => (filtered, None)
      case Some(node) =>
        val arts = artifacts.getOrElse(
          TextArtifacts.build(TextIndex.docTokens(index, req.tokenize)))
        (filtered.join(matchSet(arts, node), Seq("type", "key")), Some(node -> arts))
    }
  }

  /** Sort and cut the rows [[filteredMatch]] selected: newest first
    * with no match (reference TIMELINE_SQL __init__.py:8-24), else BM25
    * relevance unless `sort` asks for a date order. Returns the
    * reference's projection + `score` when a query term is present
    * (reference __init__.py:27-35).
    */
  def rank(base: DataFrame, matched: Option[(Node, TextArtifacts)], sort: Option[String],
      limitSearch: Int = 100, limitTimeline: Int = 40): DataFrame = matched match {
    case None =>
      val sorted = sort match {
        case Some("oldest") => base.orderBy(col("timestamp").asc, col("type"), col("key"))
        case _              => base.orderBy(col("timestamp").desc, col("type"), col("key"))
      }
      sorted
        .select("type", "key", "title", "timestamp", "category", "is_public", "search_1")
        .limit(limitTimeline)

    case Some((node, arts)) =>
      val terms = FtsQuery.positiveTerms(node).distinct
      val scored =
        if (terms.isEmpty) base.withColumn("score", lit(0.0))
        else base.join(bm25Scores(arts, terms), Seq("type", "key"), "left")
          .withColumn("score", coalesce(col("score"), lit(0.0)))
      val rounded = scored.withColumn("score", round(col("score"), 4))
      val sorted = sort match {
        case Some("newest") => rounded.orderBy(col("timestamp").desc, col("type"), col("key"))
        case Some("oldest") => rounded.orderBy(col("timestamp").asc, col("type"), col("key"))
        case _ => rounded.orderBy(col("score").desc, col("timestamp").desc, col("type"), col("key"))
      }
      // projection matches the reference SEARCH_SQL (__init__.py:27-35):
      // search_1 included (ADVICE r2)
      sorted
        .select("type", "key", "title", "timestamp", "category", "is_public",
          "search_1", "score")
        .limit(limitSearch)
  }

  /** Full pipeline: [[filteredMatch]], then [[rank]]. */
  def search(spark: SparkSession, index: DataFrame, req: Request,
      artifacts: Option[TextArtifacts] = None,
      limitSearch: Int = 100, limitTimeline: Int = 40): DataFrame = {
    val (base, matched) = filteredMatch(index, req, artifacts)
    rank(base, matched, req.sort, limitSearch, limitTimeline)
  }
}
