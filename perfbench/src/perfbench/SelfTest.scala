package perfbench

import graft.serve.{BetaHtml, SearchPage}
import graft.serve.SearchPage.{Facet, FacetValue}

/** The benchmark's own checks, no Spark needed:
  * `perfbench.SelfTest` exits non-zero when one fails.
  */
object SelfTest {

  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  /** A page as the program renders it, showing `exp`. */
  private def render(exp: Expected, keys: Seq[String]): String =
    BetaHtml.render(SearchPage.Page("", exp.count,
      keys.map { k =>
        val Array(t, key) = k.split(":", 2)
        Map("type" -> t, "key" -> key, "output" -> "<pre>{}</pre>")
      },
      exp.facets.map { case (name, vs) =>
        Facet(name, vs.map { case (label, n) => FacetValue(label, label, n, "?", selected = false) })
      }, "newest", Nil, Nil))

  def main(args: Array[String]): Unit = {
    // percentiles: linear interpolation between closest ranks
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    expect("p50 of 1..5 is 3", close(Stats.percentile(xs, 50), 3.0))
    expect("p25 of 1..5 is 2", close(Stats.percentile(xs, 25), 2.0))
    expect("p90 of 1..5 is 4.6", close(Stats.percentile(xs, 90), 4.6))
    expect("mean of 1..5 is 3", close(Stats.mean(xs), 3.0))
    expect("weighted mean weighs classes, not pages",
      close(Stats.weightedMean(Seq("a" -> 1.0, "a" -> 3.0, "b" -> 10.0),
        Map("a" -> 0.5, "b" -> 0.5)), 6.0) &&
      close(Stats.weightedMean(Seq("a" -> 2.0), Map("a" -> 0.25, "b" -> 0.75)), 2.0))
    expect("p0 and p100 are the extremes",
      close(Stats.percentile(xs, 0), 1.0) && close(Stats.percentile(xs, 100), 5.0))

    // the same seed gives the same requests and deltas, another seed others
    val corpus = Sources.generate()
    val plan = Mix.plan(7, corpus, 4)
    expect("same seed, same requests", plan == Mix.plan(7, corpus, 4))
    expect("other seed, other requests", plan != Mix.plan(8, corpus, 4))
    expect("a block is 1/4 timeline, 1/2 term, 1/4 positional, as the class weights",
      plan.take(8).groupBy(_.cls).view.mapValues(_.size).toMap ==
        Map(Mix.Timeline -> 2, Mix.Term -> 4, Mix.Positional -> 2) &&
      Mix.Weights.forall { case (c, w) => plan.take(8).count(_.cls == c) == (w * 8).toInt })
    expect("the warm-up is one page of each class",
      Mix.warmUp(corpus).map(_.cls) == Mix.Classes)
    val bands = Mix.bands(corpus)
    expect("every document-frequency band has terms",
      Seq(bands.rare, bands.mid, bands.hot).forall(_.size >= 10))
    val d = Mix.delta(7, 0, corpus.events)
    expect("same seed, same delta", d == Mix.delta(7, 0, corpus.events))
    expect("other seed, other delta", d.keys != Mix.delta(8, 0, corpus.events).keys)
    expect("each cycle has its own marker", d.marker != Mix.delta(7, 1, corpus.events).marker)
    expect("a delta is about 1% of events, all carrying the marker",
      d.keys.size == Mix.DeltaUpdates + Mix.DeltaInserts &&
        (d.updated ++ d.inserted).forall(_.props.contains(d.marker)))

    // the answer check accepts a right page and rejects one altered by a
    // count, a key or a facet count
    def doc(i: Int, words: String) = Doc(if (i % 2 == 0) "a.db/x" else "b.db/y", i.toString,
      f"2024-01-${1 + i % 9}%02d 00:00:00", Some(1 + i % 3), Some(i % 2),
      IndexedSeq("doc"), words.split(" ").toIndexedSeq)
    val docs = (0 until 60).map(i => doc(i, if (i % 3 == 0) "kato lumo" else "kato"))
    val timeline = Req(Mix.Timeline, Seq("sort" -> "oldest"))
    val exp = Check.expected(docs, timeline)
    expect("timeline expects the 40 oldest in order", exp.ordered && exp.top.size == 40)
    val good = render(exp, exp.top)
    expect("right timeline page passes", Check.verifyHtml(good, exp).isEmpty)
    expect("count off by one fails",
      Check.verifyHtml(render(exp.copy(count = exp.count + 1), exp.top), exp).nonEmpty)
    expect("one key changed fails",
      Check.verifyHtml(render(exp, exp.top.updated(3, "b.db/y:999")), exp).nonEmpty)
    expect("two keys swapped fails",
      Check.verifyHtml(render(exp, exp.top.updated(0, exp.top(1)).updated(1, exp.top(0))), exp).nonEmpty)
    val facetOff = exp.copy(facets = exp.facets.map { case (n, vs) =>
      n -> vs.map { case (l, c) => (l, if (n == "type") c + 1 else c) } })
    expect("one facet count changed fails", Check.verifyHtml(render(facetOff, exp.top), exp).nonEmpty)

    val term = Req(Mix.Term, Seq("q" -> "lumo"))
    val texp = Check.expected(docs, term)
    expect("term query matches the docs holding the term", texp.count == 20 && !texp.ordered)
    val hits = texp.matched.toSeq.sorted
    expect("relevance page in any order passes", Check.verifyHtml(render(texp, hits.reverse), texp).isEmpty)
    expect("relevance page with a non-matching key fails",
      Check.verifyHtml(render(texp, hits.updated(0, "a.db/x:2")), texp).nonEmpty)
    expect("relevance page missing a result fails", Check.verifyHtml(render(texp, hits.tail), texp).nonEmpty)

    val keys = hits.toSet
    expect("marker page with exactly the delta passes", Check.verifyExact(render(texp, hits), keys).isEmpty)
    expect("marker page missing a delta doc fails",
      Check.verifyExact(render(texp.copy(count = texp.count - 1), hits.tail), keys).nonEmpty)

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
