package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each consolidated job in its one home: directory renames and
  * deletes in [[graft.io.Publish]], session settings in [[Session]].
  * Scans the library sources as text.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def filesContaining(needle: String): Set[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => root.relativize(p).toString).toSet
    finally walk.close()
  }

  test("renameTo( appears only in graft/io/Publish.scala") {
    val hits = filesContaining("renameTo(")
    assert(hits == Set("graft/io/Publish.scala"), hits.toString)
  }

  test("no hand-rolled delete: File.delete() appears nowhere in the library") {
    val hits = filesContaining(".delete()")
    assert(hits.isEmpty, hits.toString)
  }

  test("the session builder is called only in graft/Session.scala") {
    val hits = filesContaining("SparkSession" + ".builder")
    assert(hits == Set("graft/Session.scala"), hits.toString)
  }
}
