package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The registry is one list of queries; these pin its shape. */
class RegistrySpec extends AnyFunSuite {
  test("one registry entry per query: 475 distinct names, each with a non-blank oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 475)
    // a duplicate name would be dropped silently by `.toMap`
    assert(names.diff(names.distinct).isEmpty)
    val blank = SparkEntry.registry.filter(_.oracle().trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle: ${blank.mkString(", ")}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}

/** Sessions come from one factory, `GraftSession.create`. Only
  * `Smoke` and the shared test session build their own: both stand in
  * for a plain default session.
  */
class SessionFactorySpec extends AnyFunSuite {
  private val builderCall = """SparkSession\s*\.\s*builder""".r

  private def filesCallingBuilder(root: String): Set[String] = {
    val dir = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(dir), s"$root not found")
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builderCall.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSet
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession, Smoke and the shared test session") {
    assert(filesCallingBuilder("src/main/scala") == Set("GraftSession.scala", "Smoke.scala"))
    assert(filesCallingBuilder("src/test/scala") - "RegistrySpec.scala" == Set("GraftSpec.scala"))
  }
}
