package graft

import graft.text.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A build-once [[Artifact]] belongs to the session that built it: a
  * second session in the same JVM builds its own, once.
  */
class ArtifactSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  test("an artifact builds once per (session, key)") {
    val a = TestSpark.spark
    val b = a.newSession()
    var builds = 0
    val len = Artifact[String, Int] { (_, k) => builds += 1; k.length }
    assert(len(a, "ab") == 2 && len(a, "ab") == 2 && builds == 1)
    assert(len(a, "abc") == 3 && builds == 2)
    assert(len(b, "ab") == 2 && builds == 3)
  }

  test("a second session gets frames of its own, not the first session's") {
    val a = TestSpark.spark
    val b = a.newSession()
    // minhashPairs reads `documents` from the session without registering it
    Corpus.registerSources(a, dir)
    Corpus.registerSources(b, dir)
    val artifacts: Seq[(String, SparkSession => DataFrame)] = Seq(
      "searchIndex" -> (Corpus.searchIndex(_, dir)),
      "porter postings" -> (Corpus.textArtifacts(_, dir, Tokenize.Porter).postings),
      "minhashPairs" -> (ExtShared.minhashPairs(_, dir)))
    artifacts.foreach { case (name, f) => assert(f(a).sparkSession eq a, name) }
    artifacts.foreach { case (name, f) =>
      val onB = f(b)
      assert(onB.sparkSession eq b, name)
      assert(f(b) eq onB, name)
    }
  }
}
