package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: the last line of its standard output. */
final case class Result(attempted: Int, failures: Seq[String], metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${Main.num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --corpus <dir>`. The work directory receives the index and, with
  * `--trace 1`, the span file; the corpus directory holds the generated
  * source tables, kept from run to run.
  */
object Main {

  val Workloads: Seq[String] = Seq("search_serial", "search_concurrent")

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d")
    java.math.BigDecimal.valueOf(d).toPlainString
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    val cpus = Runtime.getRuntime.availableProcessors
    // the session ServeCli and IndexCli build, with temporary files in `work`
    // and the engine's SQL functions installed (the tokenizer needs them)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val bench = new Bench(spark, work, opts("corpus"), seed)
      println(s"spark_version: ${spark.version}")
      val result =
        try {
          if (opts.get("trace").contains("1")) Traced.run(bench, workload, cpus)
          else Untraced.run(bench, workload, seconds, cpus)
        } finally bench.close()
      result.failures.take(10).foreach(f => println(s"failed: $f"))
      println(result.json)
    } finally {
      spark.stop()
    }
    // the JDK's HttpServer dispatcher threads do not keep a finished run alive
    sys.exit(0)
  }
}
