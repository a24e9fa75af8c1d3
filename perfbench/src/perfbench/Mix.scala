package perfbench

import perfbench.Sources.{Corpus, Event}
import java.net.URLEncoder
import scala.util.Random

/** One `/-/beta` request: its class and its query-string parameters. */
final case class Req(cls: String, params: Seq[(String, String)]) {
  def get(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
  def query: String =
    params.map { case (k, v) => s"$k=${URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
  override def toString: String = s"$cls?$query"
}

/** One refresh cycle's change to the `events` source: rows rewritten with
  * the cycle's marker token plus new rows carrying it. `events` is the
  * whole table after the change.
  */
final case class Delta(marker: String, updated: Seq[Event], inserted: Seq[Event],
    events: IndexedSeq[Event]) {
  def keys: Set[String] = (updated ++ inserted).map(e => Mix.EventsType + ":" + e.id).toSet
}

/** Seeded request mixes and refresh deltas. The seed is the only input:
  * the same seed gives the same requests and deltas.
  */
object Mix {

  val Timeline = "timeline"
  val Term = "term"
  val Positional = "positional"
  val Classes: Seq[String] = Seq(Timeline, Term, Positional)
  /** Each class's share of a plan. */
  val Weights: Map[String, Double] = Map(Timeline -> 0.25, Term -> 0.5, Positional -> 0.25)

  val EventsType = "events.db/events"
  val Types: Seq[String] = Seq("docs.db/documents", EventsType, "tpch.db/orders")

  /** Words of the orders rows (priorities and market segments) and of the
    * events rows (event types).
    */
  val OrderWords: IndexedSeq[String] =
    IndexedSeq("urgent", "high", "medium", "low", "machinery", "furniture", "building")
  val EventWords: IndexedSeq[String] = IndexedSeq("view", "click", "purchase", "signup", "error")
  /** Hot positional queries over the events and orders rows, one per block
    * in turn. All phrases are two tokens: the program answers a phrase of
    * three or more tokens with HTTP 500 on an `IndexCli`-built index, and
    * the workloads must be ones on which no operation fails.
    */
  val HotPositional: IndexedSeq[String] = IndexedSeq(
    "\"order for\"", "\"view by\"", "NEAR(purchase user, 3)", "\"urgent order\"")

  /** Document-vocabulary terms by document-frequency band. */
  final case class Bands(rare: IndexedSeq[String], mid: IndexedSeq[String],
      hot: IndexedSeq[String])

  def bands(corpus: Corpus): Bands = {
    val df = corpus.docWords.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    def band(lo: Int, hi: Int) =
      corpus.vocab.filter(w => df.get(w).exists(d => d >= lo && d <= hi))
    Bands(band(2, 4), band(10, 40), band(60, Int.MaxValue))
  }

  /** One fixed page of each class, sent before a window, so that the JIT,
    * the BM25 corpus statistics and the `orders` display template are warm
    * when the window starts: the term page matches orders rows, which are
    * enriched with `display_sql`; the first such page of a run cost up to a
    * third more than later ones.
    */
  def warmUp(corpus: Corpus): Seq[Req] = {
    val ws = corpus.docWords.head
    Seq(Req(Timeline, Nil), Req(Term, Seq("q" -> "low")),
      Req(Positional, Seq("q" -> s"\"${ws(0)} ${ws(1)}\"")))
  }

  /** `nBlocks` blocks of eight requests: a quarter timeline, a half term
    * and a quarter positional. Each request's kind is fixed by its place in
    * the block: its query operator, its filter or sort override, and which
    * row types it can match, the main cause of its cost because order rows
    * are enriched with `display_sql`. The seed draws the terms, phrases and
    * filter values, so a plan's cost varies little from seed to seed. The
    * two pages that match thousands of order rows, each costing two to three
    * times a mean page, are both in the first block, so every window has
    * them; a window serves 10 to 19 pages.
    */
  def plan(seed: Long, corpus: Corpus, nBlocks: Int): IndexedSeq[Req] = {
    val rnd = new Random(seed)
    val b = bands(corpus)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    def filter(): Seq[(String, String)] =
      if (rnd.nextBoolean()) Seq("category" -> (1 + rnd.nextInt(3)).toString)
      else Seq("is_public" -> rnd.nextInt(2).toString)
    def sort(): Seq[(String, String)] = Seq("sort" -> pick(IndexedSeq("newest", "oldest")))

    (0 until nBlocks).flatMap { blk =>
      val timelines = Seq(
        if (blk % 2 == 0) Nil else Seq("type" -> Types.head),
        blk % 3 match {
          case 0 => Seq("timestamp__date" -> pick(corpus.eventDates))
          case 1 => Seq("type" -> EventsType, "category" -> (1 + rnd.nextInt(3)).toString,
            "sort" -> "oldest")
          case _ => Seq("type" -> Types.head, "is_public" -> rnd.nextInt(2).toString)
        }).map(Req(Timeline, _))

      val terms = Seq(
        pick(b.rare),
        s"${pick(b.mid)} ${pick(b.hot)}",
        s"${pick(b.mid)} OR ${pick(b.mid)}",
        blk % 3 match {
          case 0 => s"search_1:${pick(OrderWords)}"
          case 1 => pick(b.mid).take(3) + "*"
          case _ =>
            val Seq(a, z) = rnd.shuffle(EventWords).take(2)
            s"$a NOT $z"
        })
      val termReqs = terms.zipWithIndex.map { case (q, i) =>
        Req(Term, Seq("q" -> q) ++ (if (i == 0) filter() else Nil) ++ (if (i == 2) sort() else Nil))
      }

      // one positional request from a document's own word sequence, one hot
      val ws = pick(corpus.docWords)
      val i = rnd.nextInt(ws.size - 5)
      val docQ = blk % 3 match {
        case 0 => s"\"${ws(i)} ${ws(i + 1)}\""
        case 1 => s"NEAR(${ws(i)} ${ws(i + 1 + rnd.nextInt(4))}, 5)"
        case _ => s"^${ws.head}"
      }
      val posReqs = Seq(Req(Positional, Seq("q" -> docQ) ++ filter()),
        Req(Positional, Seq("q" -> HotPositional(blk % HotPositional.size))))
      // a fixed order, so a window that ends inside a block always has the
      // same kinds from it
      Seq(timelines(0), termReqs(0), posReqs(0), termReqs(1), timelines(1),
        termReqs(2), posReqs(1), termReqs(3))
    }
  }

  val DeltaUpdates = 15
  val DeltaInserts = 10

  /** `n` as consonant-vowel syllables, so the stemmer keeps it whole. */
  private def syllables(n: Long): String = {
    val cs = "bdfgklmnprstvz"
    val vs = "aou"
    val base = cs.length * vs.length
    var x = n
    val sb = new StringBuilder
    while ({ sb += cs((x % base).toInt / vs.length); sb += vs((x % base).toInt % vs.length);
             x /= base; x > 0 }) ()
    sb.result()
  }

  /** The marker token of one refresh cycle: unique per (seed, cycle) and
    * absent from the generated vocabulary (which never starts with `zq`).
    */
  def marker(seed: Long, cycle: Int): String =
    "zq" + syllables(math.abs(seed % 100000)) + "x" + syllables(cycle.toLong)

  /** Refresh cycle `cycle` over the current `events`: about 1% of the table,
    * updates plus inserts, each carrying the cycle's marker. Inserted rows
    * are the newest events.
    */
  def delta(seed: Long, cycle: Int, events: IndexedSeq[Event]): Delta = {
    val rnd = new Random(seed * 1000003L + cycle)
    val m = marker(seed, cycle)
    def props() = s"""{"k": ${rnd.nextInt(100)}, "tag": "$m"}"""
    val updIdx = rnd.shuffle(events.indices.toVector).take(DeltaUpdates)
    val updated = updIdx.map(i => events(i).copy(props = props()))
    val maxId = events.map(_.id).max
    val maxTs = events.map(_.tsMillis).max
    val inserted = (1 to DeltaInserts).map { i =>
      Event(maxId + i, maxTs + i * 1000L, rnd.nextInt(2000).toLong,
        Sources.EventTypes(rnd.nextInt(Sources.EventTypes.size)), rnd.nextInt(20000) / 100.0,
        props())
    }
    val next = events.toArray
    updIdx.zip(updated).foreach { case (i, e) => next(i) = e }
    Delta(m, updated, inserted, next.toIndexedSeq ++ inserted)
  }
}
