package graft.serve

import graft.core.{IndexRule, Schema}
import graft.query.{Enrich, SearchEngine}
import graft.query.SearchEngine.{Request, TextArtifacts}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.net.URLEncoder

/** The full `/-/beta` page assembled in-engine: results + total count +
  * the four facets (with Datasette-contract toggle URLs and labels) +
  * batched display enrichment + rendered display templates + sort-link
  * and hidden-field state — the whole reference request lifecycle
  * (reference dogsheep_beta/__init__.py:55-108 / SURVEY §3.2) as one
  * result object. HTML layout (beta.html, Leaflet maps) stays out of
  * engine scope; the page is data.
  *
  * Where the reference makes one SQL round-trip per facet, an
  * in-process HTTP call for counts, and a point query per result row,
  * this assembly runs: one top-k job, one GROUPING SETS job for
  * count + all four facets (capped per facet INSIDE the job — the
  * driver never collects an unbounded value list), and one enrichment
  * join per result type.
  *
  * A page derives its filter + match once ([[SearchEngine.filteredMatch]])
  * and hands that one `base` to the top-k ([[SearchEngine.rank]]) and to
  * the facet job; facets use `Dataset.groupingSets`,
  * so a request registers no temp view and touches no other session
  * state, and concurrent requests cannot see each other's rows.
  * Enrichment reads the page's collected rows (a local relation of
  * ≤ page-size rows), never the lazy top-k plan, and binds `:q` as a
  * SQL parameter (see [[Enrich]]).
  */
object SearchPage {

  final case class FacetValue(value: String, label: String, count: Long,
      toggleUrl: String, selected: Boolean)
  final case class Facet(name: String, values: Seq[FacetValue])
  /** A sort link (reference `other_sort_orders`, __init__.py:68-80). */
  final case class SortLink(label: String, url: String)
  /** A hidden form field (reference `hiddens`, __init__.py:89-93). */
  final case class Hidden(name: String, value: String)
  final case class Page(q: String, count: Long, results: Seq[Map[String, String]],
      facets: Seq[Facet], sortedBy: String, otherSortOrders: Seq[SortLink],
      hiddens: Seq[Hidden])

  /** Datasette's default facet value cap (`facet_size`). */
  val DefaultFacetSize = 30

  /** `intcomma` number formatting for "Got 1,234 results"
    * (reference __init__.py:266-268).
    */
  def intcomma(n: Long): String = "%,d".formatLocal(java.util.Locale.US, n)

  /** The result row as JSON with sorted keys — the data part of the
    * reference's default `<pre>` rendering (__init__.py:186-189).
    */
  private[graft] def rowJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val vs = if (v == null) "null" else "\"" + escape(v) + "\""
      "\"" + escape(k) + "\": " + vs
    }.mkString("{", ", ", "}")

  private def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  /** The request's active filter params in canonical order — the state
    * every page URL must preserve.
    */
  private def activeFilters(req: Request): Seq[(String, String)] = Seq(
    req.typeFilter.map("type" -> _),
    req.category.map("category" -> _),
    req.isPublic.map("is_public" -> _),
    req.timestampDate.map("timestamp__date" -> _)
  ).flatten

  /** Datasette facet-value toggle URL: all ACTIVE filters preserved,
    * the toggled param added — or REMOVED when already selected (the
    * deselect contract) — `_`-prefixed params dropped, `q` re-injected
    * (reference __init__.py:248-257; expected URLs
    * tests/test_plugin.py:45-108).
    */
  private[graft] def toggleUrl(req: Request, q: String, param: String,
      value: String, selected: Boolean): String = {
    val actives = activeFilters(req).filterNot(_ == (param -> value))
    val toggled = if (selected) actives else actives :+ (param -> value)
    // q is ALWAYS re-injected, even when empty — the reference sets
    // qs_bits["q"] = q unconditionally (__init__.py:256), so timeline
    // toggle URLs end in `&q=` (ADVICE r3)
    val pairs = toggled :+ ("q" -> q)
    "?" + pairs.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
  }

  /** A page URL carrying q + active filters (+ an optional sort) — the
    * engine form of datasette's path_with_replaced/removed_args.
    */
  private def pageUrl(req: Request, q: String, sort: Option[String]): String = {
    val pairs = (if (q.nonEmpty) Seq("q" -> q) else Seq.empty) ++
      activeFilters(req) ++ sort.map("sort" -> _).toSeq
    if (pairs.isEmpty) "?"
    else "?" + pairs.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
  }

  /** Resolved sort + the other-sort links (reference __init__.py:64-80):
    * default is relevance with a query, newest without; `relevance`
    * never appears as a link on timeline pages; the relevance link
    * REMOVES the sort param, the others replace it.
    */
  private[graft] def sortState(req: Request, q: String): (String, Seq[SortLink]) = {
    val default = if (q.nonEmpty) "relevance" else "newest"
    val sortedBy = req.sort.filter(Set("newest", "oldest")).getOrElse(default)
    val others = Seq("relevance", "newest", "oldest")
      .filterNot(s => s == "relevance" && q.isEmpty)
      .filterNot(_ == sortedBy)
      .map { s =>
        SortLink(s, pageUrl(req, q, if (s == "relevance") None else Some(s)))
      }
    (sortedBy, others)
  }

  /** Assemble the page for a request. `arts` = prebuilt text artifacts;
    * facets count the same filtered+matched rows the results are ranked
    * from (reference __init__.py:200-223).
    */
  def assemble(spark: SparkSession, index: DataFrame, rules: Seq[IndexRule],
      req: Request, arts: Option[TextArtifacts] = None,
      facetSize: Int = DefaultFacetSize, templateDebug: Boolean = false): Page = {

    val q = req.q.getOrElse("").trim
    val (base, matched) = SearchEngine.filteredMatch(index, req, arts)
    val results = SearchEngine.rank(base, matched, req.sort)

    // ONE job: count + all four facets via grouping sets, each facet
    // capped to `facetSize` values (count desc, value asc) INSIDE the
    // job — the driver collects ≤ 4·facetSize+1 rows, never one row per
    // distinct date (Datasette's facet_size contract).
    val dims = Seq("type", "category", "is_public", "ts_date")
    val gs = base.withColumn("ts_date", substring(col("timestamp"), 1, 10))
      .groupingSets(dims.map(d => Seq(col(d))) :+ Seq.empty, dims.map(col): _*)
      .agg(count(lit(1)).as("n"), dims.map(d => grouping(d).as(s"g_$d")): _*)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(dims.map(d => col(s"g_$d")): _*)
          .orderBy(col("n").desc,
            coalesce(dims.map(d => col(d).cast("string")): _*).asc_nulls_first)))
      .filter(col("__rk") <= facetSize)
      .collect()

    def grouped(r: Row, dim: String): Boolean = r.getAs[Byte](s"g_$dim") == 0

    val total = gs.find(r => dims.forall(!grouped(r, _)))
      .map(_.getAs[Long]("n")).getOrElse(0L)

    val categoryNames = Schema.categorySeed.toMap

    def facet(name: String, dim: String, param: String, selectedVal: Option[String],
        label: String => String = identity): Facet =
      Facet(name, gs.toSeq.filter(grouped(_, dim)).flatMap { r =>
        Option(r.getAs[Any](dim)).map(_.toString).map { v =>
          val selected = selectedVal.contains(v)
          FacetValue(v, label(v), r.getAs[Long]("n"),
            toggleUrl(req, q, param, v, selected), selected)
        }
      }.sortBy(fv => (-fv.count, fv.value)))

    val facets = Seq(
      facet("type", "type", "type", req.typeFilter),
      facet("category", "category", "category", req.category,
        v => categoryNames.getOrElse(v.toInt, v)),
      facet("is_public", "is_public", "is_public", req.isPublic),
      facet("timestamp", "ts_date", "timestamp__date", req.timestampDate))

    // batched enrichment over the page's collected rows: one join per
    // type present, against a local relation of ≤ page-size rows, so
    // match, BM25 and top-k run once per page
    val resultRows = results.collect()
    val pageRows = spark.createDataFrame(java.util.Arrays.asList(resultRows: _*), results.schema)
    val presentTypes = resultRows.map(_.getAs[String]("type")).distinct
    val enrichedByType: Map[String, Map[String, Map[String, String]]] =
      rules.filter(r => presentTypes.contains(r.typeTag) && r.displaySql.isDefined)
        .map { rule =>
          val e = Enrich.enrichType(spark, rule, pageRows, q)
          rule.typeTag -> e.collect().map { row =>
            val displayCols = e.columns.filter(_.startsWith("display_"))
            row.getAs[String]("key") ->
              displayCols.map(c => c -> Option(row.getAs[Any](c)).map(_.toString).orNull).toMap
          }.toMap
        }.toMap

    val rulesByType = rules.map(r => r.typeTag -> r).toMap

    val resultMaps = resultRows.map { r =>
      val typeTag = r.getAs[String]("type")
      val baseCols = results.columns.map(c =>
        c -> Option(r.getAs[Any](c)).map(_.toString).orNull).toMap
      val display = enrichedByType.get(typeTag)
        .flatMap(_.get(r.getAs[String]("key"))).getOrElse(Map.empty[String, String])
      // rendered output per row (reference __init__.py:169-189): the
      // rule's display template over {row, display.*}, else the default
      // escaped-JSON block
      val displayDict: Map[String, Any] =
        display.map { case (k, v) => k.stripPrefix("display_") -> (v: Any) }
      val output = rulesByType.get(typeTag).flatMap(_.display) match {
        case Some(tpl) =>
          DisplayTemplate.render(typeTag, tpl,
            baseCols ++ Map("display" -> displayDict), templateDebug)
        case None => DisplayTemplate.renderDefault(baseCols)
      }
      baseCols ++ display + ("output" -> output)
    }.toSeq

    val (sortedBy, otherSorts) = sortState(req, q)
    val hiddens = Seq(
      req.typeFilter.map(Hidden("type", _)),
      req.category.map(Hidden("category", _)),
      req.isPublic.map(Hidden("is_public", _))
    ).flatten

    Page(q, total, resultMaps, facets, sortedBy, otherSorts, hiddens)
  }
}
