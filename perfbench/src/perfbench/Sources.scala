package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.util.Random

/** The benchmark's source tables, generated from a fixed seed so that every
  * run and every commit indexes the same corpus. They have the columns the
  * four tables `graft.Corpus.rules` reads (`documents`, `events`, `orders`,
  * `customer`), 5,000 index documents against sf0.1's 255,000, so that two
  * full builds and a window of pages fit into one run.
  *
  * Document text is drawn from a Zipf law over a pseudo-word vocabulary, so
  * terms fall into rare, mid and hot document-frequency bands. The words are
  * consonant-vowel syllables ending in `a`, `o` or `u`, which the Porter
  * stemmer leaves unchanged: a query word is its own index term.
  */
object Sources {

  val CorpusSeed = 20240101L
  val NDocuments = 200
  val NEvents = 2400
  val NOrders = 2400
  val NCustomers = 300
  val VocabSize = 1500

  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Langs: Seq[String] = Seq("en", "de", "fr", "es")

  /** First event timestamp; events are spaced ~2 minutes apart. */
  val EventsStart: Long = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  final case class Event(id: Long, tsMillis: Long, userId: Long, eventType: String,
      value: Double, props: String) {
    def row: Row = Row(id, new Timestamp(tsMillis), userId, eventType, value, props)
  }

  /** Everything the request generator needs to know about the corpus. */
  final case class Corpus(vocab: IndexedSeq[String], docWords: IndexedSeq[IndexedSeq[String]],
      events: IndexedSeq[Event], eventDates: IndexedSeq[String])

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aou"

  /** `n` distinct pseudo-words of two or three syllables. */
  def vocabulary(n: Int, rnd: Random): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + rnd.nextInt(2)
      seen += (0 until syl).map { _ =>
        s"${consonants(rnd.nextInt(consonants.length))}${vowels(rnd.nextInt(vowels.length))}"
      }.mkString
    }
    seen.toIndexedSeq
  }

  /** Zipf(s = 1) sampler over ranks 0 until n. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / r)
      val total = w.sum
      w.scanLeft(0.0)(_ + _ / total).tail.toArray
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def generate(): Corpus = {
    val rnd = new Random(CorpusSeed)
    val vocab = vocabulary(VocabSize, rnd)
    val zipf = new Zipf(VocabSize)
    val docWords = (0 until NDocuments).map { _ =>
      (0 until 20 + rnd.nextInt(60)).map(_ => vocab(zipf.draw(rnd)))
    }
    val events = (0 until NEvents).map { i =>
      Event(i.toLong, EventsStart + i * 120000L + rnd.nextInt(60000), rnd.nextInt(2000).toLong,
        EventTypes(rnd.nextInt(EventTypes.size)), (rnd.nextInt(20000) / 100.0),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val eventDates = events.map(e => new Timestamp(e.tsMillis).toString.take(10)).distinct
    Corpus(vocab, docWords, events, eventDates)
  }

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def writeEvents(spark: SparkSession, events: Seq[Event], path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(events.map(_.row): _*), eventsSchema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  val Tables: Seq[String] = Seq("documents", "events", "customer", "orders")

  /** The four source tables as parquet under `dir`, written by the first run
    * that needs them; returns the `view -> path` map `IndexCli.run` takes.
    */
  def cached(spark: SparkSession, corpus: Corpus, dir: String): Map[String, String] = {
    val done = new java.io.File(dir, ".complete")
    if (!done.exists()) {
      val tmp = s"$dir.tmp${ProcessHandle.current().pid()}"
      write(spark, corpus, tmp)
      new java.io.File(tmp, ".complete").createNewFile()
      new java.io.File(tmp).renameTo(new java.io.File(dir))
    }
    Tables.map(t => t -> s"$dir/$t.parquet").toMap
  }

  private def write(spark: SparkSession, corpus: Corpus, dir: String): Unit = {
    val rnd = new Random(CorpusSeed + 1)
    def save(name: String, rows: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val documents = corpus.docWords.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      Row(i.toLong, text, Langs(i % Langs.size), s"src${1 + rnd.nextInt(5)}", text.length.toLong)
    }
    val customers = (0 until NCustomers).map { i =>
      Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), rnd.nextInt(1000000) / 100.0,
        Segments(rnd.nextInt(Segments.size)))
    }
    val orderStart = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val orders = (0 until NOrders).map { i =>
      Row(i.toLong, rnd.nextInt(NCustomers).toLong, "FOP".charAt(rnd.nextInt(3)).toString,
        rnd.nextInt(50000000) / 100.0,
        new Timestamp(orderStart + rnd.nextInt(2400).toLong * 86400000L),
        Priorities(rnd.nextInt(Priorities.size)))
    }
    writeEvents(spark, corpus.events, s"$dir/events.parquet")
    save("documents", documents, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    save("customer", customers, StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
    save("orders", orders, StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))))
  }

  /** The rules config `IndexCli.run` reads: `graft.Corpus.rules` written out
    * in the reference's `{db: {type: {sql, display_sql, display}}}` JSON form.
    */
  def configJson(): String = {
    def str(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    }.mkString("\"", "", "\"")
    graft.Corpus.rules.groupBy(_.db).toSeq
      .sortBy { case (db, _) => graft.Corpus.rules.indexWhere(_.db == db) }
      .map { case (db, rules) =>
        str(db) + ": {" + rules.map { r =>
          val fields = Seq(Some("sql" -> r.sql), r.displaySql.map("display_sql" -> _),
            r.display.map("display" -> _)).flatten
          str(r.docType) + ": {" + fields.map { case (k, v) => s"${str(k)}: ${str(v)}" }
            .mkString(", ") + "}"
        }.mkString(", ") + "}"
      }.mkString("{", ",\n ", "}\n")
  }
}
