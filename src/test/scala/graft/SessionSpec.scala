package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session the engine runs on comes from [[GraftSession]], so
  * answers are checked, timed and planned under one configuration.
  */
class SessionSpec extends AnyFunSuite {

  test("no session is built outside GraftSession") {
    val needle = "SparkSession" + ".builder" // not a hit in this file
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "GraftSession.scala")
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"$f:${i + 1}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the test session carries every GraftSession setting it does not override") {
    val overridden = TestSpark.overrides.map(_._1).toSet
    val kept = GraftSession.settings.filterNot { case (k, _) => overridden(k) }
    assert(kept.map(_._1).toSet == Set(
      "spark.sql.extensions", "spark.sql.files.openCostInBytes",
      "spark.sql.session.timeZone", "spark.ui.enabled"))
    val conf = TestSpark.spark.conf
    kept.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    TestSpark.overrides.filter { case (k, _) => GraftSession.settings.exists(_._1 == k) }
      .foreach { case (k, v) => assert(conf.get(k) == v, k) }
  }

  test("PlanDump's default names are declared queries") {
    val declared = SparkEntry.allDefs.map(_.name).toSet
    assert(PlanDump.Default.filterNot(declared).isEmpty)
  }
}
