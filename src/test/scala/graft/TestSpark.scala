package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for every suite (sbt forks one test
  * JVM; session startup is ~8s, so suites must not each build one).
  * It is a [[GraftSession]]: the suites run under the engine's own
  * settings (extension, scan-split sizing, UTC), with a fixed width and
  * a private warehouse.
  */
object TestSpark {
  private val warehouse =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  /** The settings the suites replace; every other [[GraftSession]]
    * setting applies unchanged.
    */
  val overrides: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> warehouse,
    "javax.jdo.option.ConnectionURL" ->
      s"jdbc:derby:;databaseName=$warehouse/metastore_db;create=true")

  lazy val spark: SparkSession = {
    val s = GraftSession("graft-tests", overrides: _*)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
