package graft.query

import graft.TestSpark
import graft.index.TextIndex
import graft.text.{FtsQuery, Tokenize}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Phrases of three or more tokens over artifacts read back from
  * parquet, the way an `IndexCli`-built index is searched: each
  * positional intersect after the first meets an `array<int>` leg that
  * parquet reads as nullable.
  */
class PhraseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("long phrases over parquet-read artifacts agree with FtsQuery.matches") {
    import spark.implicits._
    val index = Seq(
      ("d1", "red green blue", "nothing here"),
      ("d2", "blue green red", "red green blue sky"),
      ("d3", "red green", "yellow blue"),
      ("d4", "red green yellow blue", "green blue red"),
      ("d5", "sky", "the red green blue sky again")
    ).toDF("key", "title", "search_1")
      .withColumn("type", lit("t"))
      .withColumn("timestamp", lit("2020-01-01"))

    val dir = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    TextIndex.docTokens(index, Tokenize.Porter).write.parquet(s"$dir/doc_tokens")
    val toks = spark.read.parquet(s"$dir/doc_tokens")
    TextIndex.writeTermPartitioned(TextIndex.postings(toks), s"$dir/postings")
    TextIndex.writeTermPartitioned(TextIndex.positions(toks), s"$dir/positions")
    val arts = SearchEngine.TextArtifacts(toks,
      spark.read.parquet(s"$dir/postings"), Some(spark.read.parquet(s"$dir/positions")))

    val docs = toks.collect().map { r =>
      (r.getAs[String]("key"), r.getAs[Seq[String]]("tokens_title").toIndexedSeq,
        r.getAs[Seq[String]]("tokens_s1").toIndexedSeq)
    }
    for (q <- Seq("\"red green blue\"", "\"green blue red\"", "\"red green blue sky\"",
        "\"red green blue\" NOT sky", "title:\"red green blue\"")) {
      val node = FtsQuery.parseOrEscape(q, Tokenize.Porter).get
      val got = SearchEngine.matchSet(arts, node).collect().map(_.getString(1)).toSet
      val expected = docs.collect { case (k, t, s1) if FtsQuery.matches(node, t, s1) => k }.toSet
      assert(expected.nonEmpty, q)
      assert(got == expected, q)
    }
  }
}
