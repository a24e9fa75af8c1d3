package graft

import graft.query.SearchEngine
import graft.query.SearchEngine.Request
import graft.text.Tokenize

/** Smoke + hostile-input drive (the `/verify` skill's probe surface):
  * `ENTRY` = the driver's rows>0 check on [[SparkEntry.entry]];
  * `PROBE` = hostile query strings through the FULL search path
  * (parse → escape fallback → postings match → BM25 → top-k) — the
  * invariant is total: no input may throw (reference behavior:
  * dogsheep-beta escapes any non-parsing query, utils.py:3-21);
  * `FILTER` = odd filter values (unknown type, non-boolean is_public)
  * must filter to empty, not error.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession("graft-smoke")
    try {
      val entryRows = SparkEntry.entry(spark).count()
      println(s"ENTRY rows=$entryRows ok=${entryRows > 0}")

      val index = Corpus.searchIndex(spark, sfDir)
      val arts = Corpus.textArtifacts(spark, sfDir, Tokenize.None_)
      def probe(tag: String, req: Request): Unit = {
        val n =
          try SearchEngine.search(spark, index, req, Some(arts)).count()
          catch { case e: Throwable =>
            println(s"PROBE $tag THREW ${e.getClass.getSimpleName}: ${e.getMessage}")
            return
          }
        println(s"PROBE $tag rows=$n")
      }
      val hostile = Seq(
        "garbage-symbols" -> "*&^%$#@!",
        "unterminated-quote" -> "\"urgent building",
        "operator-only" -> "AND OR NOT",
        "injection-ish" -> "'; DROP TABLE search_index; --",
        "paren-bomb" -> "((((((((((",
        "empty-parens" -> "()",
        "unicode" -> "café über naïve",
        "colon-soup" -> "a:b:c: :d",
        "star-prefix" -> "*urgent",
        "very-long" -> ("urgent " * 500).trim)
      hostile.foreach { case (tag, q) => probe(tag, Request(q = Some(q))) }
      probe("blank", Request(q = Some("   ")))
      probe("no-q", Request(q = None))

      def filter(tag: String, req: Request): Unit = {
        val n = SearchEngine.search(spark, index, req, Some(arts)).count()
        println(s"FILTER $tag rows=$n")
      }
      filter("unknown-type", Request(q = Some("urgent"), typeFilter = Some("nope")))
      filter("bad-is-public", Request(q = Some("urgent"), isPublic = Some("banana")))
      filter("both", Request(q = None, typeFilter = Some("nope"), isPublic = Some("2")))
    } finally spark.stop()
  }
}
