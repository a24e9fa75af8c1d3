package perfbench

import graft.text.{FtsQuery, Tokenize}

/** One indexed document as the answer check sees it. */
final case class Doc(tpe: String, key: String, timestamp: String, category: Option[Int],
    isPublic: Option[Int], title: IndexedSeq[String], s1: IndexedSeq[String]) {
  def id: String = s"$tpe:$key"
}

/** What a page shows: the result count, each facet as (label, count) in
  * page order, and the result keys (`type:key`) in page order.
  */
final case class Shown(count: Long, facets: Seq[(String, Seq[(String, Long)])],
    keys: Seq[String])

/** What a correct page must show. `ordered` pages (timeline, newest,
  * oldest) must list exactly `top` in order; relevance pages must list
  * min(limit, count) distinct keys of `matched`.
  */
final case class Expected(count: Long, facets: Seq[(String, Seq[(String, Long)])],
    ordered: Boolean, top: Seq[String], matched: Set[String], limit: Int)

/** The independent answer check. Expected answers come from the token-array
  * evaluator `FtsQuery.matches` over the collected `doc_tokens` and the
  * request's filters, never from the postings index the program searches.
  */
object Check {

  val LimitSearch = 100
  val LimitTimeline = 40
  val FacetSize = 30
  private val categoryNames = graft.core.Schema.categorySeed.toMap

  private def sortKey(d: Doc) = (d.timestamp, d.tpe, d.key)

  def expected(docs: IndexedSeq[Doc], req: Req): Expected = {
    val node = req.get("q").flatMap(FtsQuery.parseRequest(_, Tokenize.Porter, false))
    val filtered = docs.filter { d =>
      req.get("type").forall(_ == d.tpe) &&
      req.get("category").forall(v => v.toIntOption.exists(c => d.category.contains(c))) &&
      req.get("is_public").forall(v => v.toIntOption.exists(p => d.isPublic.contains(p))) &&
      req.get("timestamp__date").forall(d.timestamp.take(10) == _)
    }
    val matched = node.fold(filtered)(n => filtered.filter(d => FtsQuery.matches(n, d.title, d.s1)))

    def facet(name: String, value: Doc => Option[String], label: String => String) =
      name -> matched.flatMap(value).groupBy(identity).toSeq
        .map { case (v, vs) => (v, vs.size.toLong) }
        .sortBy { case (v, n) => (-n, v) }.take(FacetSize)
        .map { case (v, n) => (label(v), n) }
    val facets = Seq(
      facet("type", d => Some(d.tpe), identity),
      facet("category", _.category.map(_.toString), v => categoryNames.getOrElse(v.toInt, v)),
      facet("is_public", _.isPublic.map(_.toString), identity),
      facet("timestamp", d => Some(d.timestamp.take(10)), identity)
    ).filter(_._2.nonEmpty)

    val limit = if (node.isEmpty) LimitTimeline else LimitSearch
    val sort = req.get("sort").filter(Set("newest", "oldest"))
    val ordered = node.isEmpty || sort.nonEmpty
    val top =
      if (!ordered) Nil
      else if (sort.contains("oldest")) matched.sortBy(sortKey).take(limit).map(_.id)
      else matched.sortBy(d => (d.tpe, d.key)).sortBy(_.timestamp)(Ordering[String].reverse)
        .take(limit).map(_.id)
    Expected(matched.size.toLong, facets, ordered, top,
      if (ordered) Set.empty else matched.map(_.id).toSet, limit)
  }

  private val countRe = """<p>Got ([0-9,]+) results?, sorted by""".r
  private val keyRe = """data-table-key="([^"]*)"""".r
  private val facetNameRe = """<h2>(.*?)</h2>""".r
  private val facetValueRe =
    """class="label">(.*?)</(?:a|span)>.*? - <span class="count">([0-9,]+)</span>""".r

  private def unescape(s: String): String = s.replace("&#34;", "\"").replace("&#39;", "'")
    .replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
  private def num(s: String): Long = s.replace(",", "").toLong

  /** Read a `/-/beta` HTML page; None when it has no result count. */
  def parse(html: String): Option[Shown] =
    countRe.findFirstMatchIn(html).map { m =>
      val aside = html.substring(html.indexOf("<aside>"), html.indexOf("</aside>"))
      val facets = aside.split("<div class=\"facet\">").toSeq.drop(1).map { block =>
        unescape(facetNameRe.findFirstMatchIn(block).get.group(1)) ->
          facetValueRe.findAllMatchIn(block).map(v => unescape(v.group(1)) -> num(v.group(2))).toSeq
      }
      Shown(num(m.group(1)), facets, keyRe.findAllMatchIn(html).map(k => unescape(k.group(1))).toSeq)
    }

  /** None when the page is right, else what is wrong with it. */
  def verify(shown: Shown, exp: Expected): Option[String] =
    if (shown.count != exp.count) Some(s"count ${shown.count} != ${exp.count}")
    else if (shown.facets != exp.facets) Some(s"facets ${shown.facets} != ${exp.facets}")
    else if (exp.ordered) {
      if (shown.keys != exp.top) Some(s"keys ${shown.keys.take(5)}... != ${exp.top.take(5)}...")
      else None
    } else if (shown.keys.size != math.min(exp.limit.toLong, exp.count))
      Some(s"${shown.keys.size} results for count ${exp.count}")
    else if (shown.keys.distinct.size != shown.keys.size) Some("duplicate result keys")
    else shown.keys.find(k => !exp.matched.contains(k)).map(k => s"result $k does not match")

  def verifyHtml(html: String, exp: Expected): Option[String] =
    parse(html).fold[Option[String]](Some("page without a result count"))(verify(_, exp))

  /** A refresh page must list exactly the delta's documents. */
  def verifyExact(html: String, keys: Set[String]): Option[String] =
    parse(html) match {
      case None => Some("page without a result count")
      case Some(s) if s.count != keys.size.toLong => Some(s"stale: count ${s.count} != ${keys.size}")
      case Some(s) if s.keys.toSet != keys || s.keys.size != keys.size =>
        Some(s"stale: ${(keys -- s.keys).size} delta docs missing")
      case _ => None
    }
}
