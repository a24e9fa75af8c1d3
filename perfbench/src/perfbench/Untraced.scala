package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The measured run: the end-to-end metrics, tracing off. */
object Untraced {

  /** Blocks of eight requests in a plan; more than a window uses. */
  val PlanBlocks = 16

  /** Seconds this JVM has spent in garbage collection so far. */
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def run(b: Bench, workload: String, seconds: Double, cpus: Int): Result = {
    // setup_s times a build in a warm JVM: the first, cold build is mostly
    // class loading and JIT compilation and varies by half from run to run
    val cold = b.setup()
    val setup = b.setup()
    println(f"setup runs: cold $cold%.3f, warm $setup%.3f s, done at ${b.now}")
    val indexMb = b.indexMb
    val cacheMb = b.cacheMb
    b.docs = b.loadDocs().map(d => d.id -> d).toMap
    val plan = Mix.plan(b.seed, b.corpus, PlanBlocks)
    val warm = Mix.warmUp(b.corpus).map(Http.get(b.serving.port, _))
    // the builds' garbage is collected now, not inside the window
    System.gc()
    val gc0 = gcSeconds

    val clients = if (workload == "search_concurrent") cpus else 1
    val (served, elapsed) = b.load(plan, clients, seconds)
    println(f"window done at ${b.now}, ${gcSeconds - gc0}%.3f s of it in GC")
    val pages = served.sortBy(_._1).map(_._2)
    pages.foreach(p => println(f"page ${p.seconds}%.3f s ${p.req}"))
    val wrong = (warm ++ pages).map(p => p -> b.check(p)).collect { case (p, Some(w)) => p -> w }
    val failed = wrong.map(_._1).toSet
    val good = pages.filterNot(failed)
    println(f"$clients client(s): ${pages.size} pages in $elapsed%.3f s, ${wrong.size} wrong")
    Mix.Classes.foreach { c =>
      val xs = good.filter(_.req.cls == c).map(_.seconds)
      if (xs.nonEmpty) println(f"$c pages: ${xs.size}, mean ${Stats.mean(xs)}%.3f s")
    }
    // the mean of the class means, weighted by each class's share of the
    // plan: how many pages fit in a window changes from run to run, and a
    // plain mean would weigh the first block's heavy pages more in a slow
    // run than in a fast one. Not the median: a run serves 12 to 19 pages,
    // and under concurrency their latencies cluster by queue position, so a
    // median jumps between clusters from run to run.
    val mean = Stats.weightedMean(good.map(p => p.req.cls -> p.seconds), Mix.Weights)
    Result(warm.size + pages.size, wrong.map { case (p, w) => s"${p.req}: $w" }, Seq(
      Metric("setup_s", setup, "s"),
      Metric("index_mb", indexMb, "MB"),
      Metric("cache_mb", cacheMb, "MB"),
      Metric("page_mean_s", mean, "s"),
      Metric("pages_per_s", good.size / elapsed, "1/s")))
  }
}
