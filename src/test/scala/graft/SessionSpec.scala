package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session the engine runs on comes from [[GraftSession]], so
  * answers are checked, timed and planned under one configuration, and
  * its functions come with [[GraftExtensions]].
  */
class SessionSpec extends AnyFunSuite {

  /** "file:line" of every line under `roots` holding one of `needles`. */
  private def hits(roots: Seq[String], needles: Seq[String], skip: String = ""): Seq[String] =
    roots.flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == skip)
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if needles.exists(line.contains) => s"$f:${i + 1}"
        }
      }

  test("no session is built outside GraftSession") {
    val found = hits(Seq("src/main/scala", "src/test/scala"),
      Seq("SparkSession" + ".builder"), skip = "GraftSession.scala") // not a hit in this file
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main re-registers none of the extension's functions on a running session") {
    val found = hits(Seq("src/main/scala"),
      Seq("GraftExtensions", "IntersectFunctions", "VectorFunctions").map(_ + ".register("))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("src/main memoizes no Spark state outside Artifact") {
    // DisplayTemplate's memo holds compiled templates, not Spark state
    val allowed = Seq("/graft/Artifact.scala:", "/graft/serve/DisplayTemplate.scala:")
    val found = hits(Seq("src/main/scala"), Seq("TrieMap"))
      .filterNot(h => allowed.exists(h.contains))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("a new session resolves sorted_intersect from the extension alone") {
    val s = TestSpark.spark.newSession()
    val got = s.sql("SELECT sorted_intersect(array(1L, 3L, 5L), array(3L, 5L, 7L))")
      .collect()(0).getSeq[Long](0)
    assert(got == Seq(3L, 5L))
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
