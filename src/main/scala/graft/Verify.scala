package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = run only these queries (local iteration; the driver
    // passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Diagnostic CSVs live in a SIBLING dir, not inside outDir: the
    // driver treats every outDir subdirectory as a query's parquet dump,
    // so the r5 `_csv/` dir produced a spurious unreadable "_csv" row in
    // CORRECTNESS_r05.
    val csvDir = s"${outDir.stripSuffix("/")}_csv"
    new java.io.File(csvDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // Delete any previous dump FIRST (ADVICE r6): if this query now
      // fails (lint or execution), a stale parquet from an earlier run
      // must not survive to be compared as a passing result.
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      try {
        val df = fn(spark, sfDir)
        // SURVEY §8 lint: declared (oracle-checked) queries emit scalar
        // columns ONLY — an array/map/struct column crashes the driver's
        // pandas sort (r5: x_sim_centroids), so fail HERE, loudly, where
        // the local gate sees it a round earlier.
        if (SparkEntry.oracleSql.contains(name)) {
          val nested = df.schema.fields.filter(f => f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType => true
            case _ => false
          })
          if (nested.nonEmpty)
            throw new IllegalStateException(
              s"SCHEMA LINT: declared query emits non-scalar column(s) " +
                nested.map(f => s"${f.name}: ${f.dataType.simpleString}")
                  .mkString(", ") +
                " — the driver comparator cannot sort these (SURVEY §8)")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        dumpCsv(spark, s"$outDir/$name", s"$csvDir/$name.csv")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The declared board as data (VERDICT r12 item 3): gate.sh copies
    // this to DECLARED_QUERIES.json at the repo root so
    // tools/artifact_check.py can fail a committed *final* bench cut
    // that misses a declared non-contrast query — r12's final cut
    // predated the last landing and x_evt_bursts went untimed.
    val declared = SparkEntry.allDefs
      .map(d => s"""{"name": ${q(d.name)}, "contrast": ${d.contrast}}""")
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/declared_queries.json"), declared)
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Canonical cross-engine-diffable dump of one query result: columns
    * sorted by name, rows formatted then sorted lexicographically,
    * doubles as raw IEEE-754 bit hex (EXACT — and identical when
    * produced from any language, unlike printf %g/%e whose digit
    * generation differs between Java and Python). A driver-vs-local
    * disagreement then leaves a diffable per-value trail against
    * `tools/check.py --dump`'s identically-formatted oracle rows,
    * instead of a bare hash boolean.
    */
  private def dumpCsv(spark: SparkSession, parquetDir: String,
      outFile: String): Unit = {
    val df = spark.read.parquet(parquetDir)
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => (0 until r.length).map(i => fmtVal(r.get(i))).mkString("\t"))
      .sorted
    Files.writeString(Paths.get(outFile),
      (cols.mkString("\t") +: rows).mkString("", "\n", "\n"))
  }

  private def fmtVal(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else f"0x${java.lang.Double.doubleToLongBits(d)}%016x"
    case f: java.lang.Float => fmtVal(java.lang.Double.valueOf(f.toDouble))
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: String => s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")
    case bd: java.math.BigDecimal => bd.toPlainString
    case t: java.sql.Timestamp =>
      t.toString.replaceAll("(\\.\\d*?)0+$", "$1").stripSuffix(".")
    case seq: scala.collection.Seq[_] =>
      seq.map(x => fmtVal(x)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${fmtVal(k)}:${fmtVal(x)}" }
        .sorted.mkString("{", ",", "}")
    case other => other.toString
  }
}
