package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each consolidated job in its one home: directory renames and
  * deletes in [[graft.io.Publish]], derived-artifact freshness in
  * [[graft.io.DerivedCache]], SF path segments in [[graft.io.Scratch]],
  * session settings in [[Session]],
  * streaming writers in [[graft.stream.Pipelines]], environment reads in
  * the mains and deployment paths. Scans the library sources as text.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** Occurrences of `needle` per library file that contains it. */
  private def occurrences(needle: String): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString ->
        (Files.readString(p).split(Pattern.quote(needle), -1).length - 1))
      .filter(_._2 > 0).toMap
    finally walk.close()
  }

  private def filesContaining(needle: String): Set[String] =
    occurrences(needle).keySet

  test("renameTo( appears only in graft/io/Publish.scala") {
    val hits = filesContaining("renameTo(")
    assert(hits == Set("graft/io/Publish.scala"), hits.toString)
  }

  test("no directory move outside Publish: Files.move appears nowhere in the library") {
    val hits = filesContaining("Files.move")
    assert(hits.isEmpty, hits.toString)
  }

  test("the SF path segment is derived only in graft/io/Scratch.scala") {
    val hits = filesContaining(""".replace(".", "_")""")
    assert(hits == Set("graft/io/Scratch.scala"), hits.toString)
  }

  test("derived artifacts are fingerprinted only inside DerivedCache (and the reference-query memo)") {
    val hits = filesContaining("DerivedCache.fingerprint(")
    assert(hits.subsetOf(Set("graft/io/DerivedCache.scala",
      "graft/ops/ReferenceQueries.scala")), hits.toString)
  }

  test("no hand-rolled delete: File.delete() appears nowhere in the library") {
    val hits = filesContaining(".delete()")
    assert(hits.isEmpty, hits.toString)
  }

  test("the session builder is called only in graft/Session.scala") {
    val hits = filesContaining("SparkSession" + ".builder")
    assert(hits == Set("graft/Session.scala"), hits.toString)
  }

  test("streaming writers are built only in Pipelines: its sink and its one foreachBatch writer") {
    for (needle <- Seq(".writeStream", "\"checkpointLocation\"")) {
      val hits = occurrences(needle)
      assert(hits == Map("graft/stream/Pipelines.scala" -> 2), s"$needle: $hits")
    }
  }

  test("sys.env is read only by the mains and the scratch-root deployment path") {
    val hits = filesContaining("sys" + ".env")
    assert(hits.subsetOf(Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/PlanDump.scala", "graft/GenScale.scala", "graft/io/Scratch.scala")),
      hits.toString)
  }
}
