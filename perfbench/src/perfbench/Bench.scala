package perfbench

import graft.IndexCli
import graft.core.{Config, IndexRule}
import graft.text.Tokenize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

/** The product as a user runs it: build an index with `IndexCli.run`, open
  * it as `ServeCli` does, and request `/-/beta` pages over HTTP. All calls
  * go through the program's public functions.
  */
final class Bench(val spark: SparkSession, val work: String, corpusDir: String, val seed: Long) {

  val corpus: Sources.Corpus = Sources.generate()
  val sources: Map[String, String] = Sources.cached(spark, corpus, corpusDir)
  val configPath = s"$work/config.json"
  Files.writeString(Paths.get(configPath), Sources.configJson())
  val rules: Seq[IndexRule] = Config.parseMetadata(Files.readString(Paths.get(configPath)))
  val indexDir = s"$work/index"

  var serving: Serving = _
  var docs: Map[String, Doc] = Map.empty

  /** Seconds since the JVM started, for the phase log. */
  def now: String = f"${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s"

  println(s"corpus ready at $now")

  def close(): Unit = if (serving != null) serving.close()

  /** Open the index for serving, closing what was served before. */
  def open(): Unit = {
    close()
    serving = Serving.open(spark, indexDir, rules)
  }

  /** Full build plus open, into an empty index directory. */
  def setup(): Double = {
    close()
    Bench.delete(new File(indexDir))
    val t0 = System.nanoTime()
    IndexCli.run(spark, indexDir, configPath, sources, Tokenize.Porter, None)
    open()
    (System.nanoTime() - t0) / 1e9
  }

  /** The documents as indexed, for the answer check. */
  def loadDocs(filter: Option[(String, Set[String])] = None): Seq[Doc] = {
    def read(name: String) = {
      val df = spark.read.parquet(s"$indexDir/$name")
      filter.fold(df) { case (t, keys) =>
        df.filter(col("type") === t && col("key").isin(keys.toSeq: _*))
      }
    }
    read("search_index").select("type", "key", "timestamp", "category", "is_public")
      .join(read("doc_tokens").select("type", "key", "tokens_title", "tokens_s1"),
        Seq("type", "key"), "left")
      .collect().toSeq.map { r =>
        def ints(i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
        def toks(i: Int) = if (r.isNullAt(i)) IndexedSeq.empty[String] else r.getSeq[String](i).toIndexedSeq
        Doc(r.getString(0), r.getString(1), r.getString(2), ints(3), ints(4), toks(5), toks(6))
      }
  }

  def indexMb: Double = Bench.dirBytes(new File(indexDir)) / (1024.0 * 1024.0)

  def cacheMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  private lazy val expectedCache = scala.collection.mutable.Map.empty[Req, Expected]
  private def docSeq = docs.values.toIndexedSeq

  /** None when the page is right, else what is wrong with it. */
  def check(p: Page): Option[String] =
    if (p.status != 200) Some(s"status ${p.status}: ${p.body.take(200)}")
    else Check.verifyHtml(p.body, expectedCache.getOrElseUpdate(p.req, Check.expected(docSeq, p.req)))

  /** Closed-loop clients sending `plan` until `seconds` pass; each waits
    * for its page before it takes the plan's next unsent request. So the
    * pages served are always a prefix of the plan, whichever client the
    * server makes wait. Returns each page with its place in the plan, and
    * the seconds the loop ran.
    */
  def load(plan: IndexedSeq[Req], clients: Int, seconds: Double): (Seq[(Int, Page)], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(clients)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val futures = (0 until clients).map { _ =>
        pool.submit(new Callable[Seq[(Int, Page)]] {
          def call(): Seq[(Int, Page)] = {
            val out = Seq.newBuilder[(Int, Page)]
            while (System.nanoTime() < deadline) {
              val i = next.getAndIncrement()
              out += i -> Http.get(serving.port, plan(i % plan.size))
            }
            out.result()
          }
        })
      }
      val pages = futures.flatMap(_.get())
      (pages, (System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
  }

}

object Bench {

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}
