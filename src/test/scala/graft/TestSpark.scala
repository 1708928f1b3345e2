package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built from the
  * same [[Session]] profile as Verify and Bench.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-test")
      // fresh warehouse per test run: saveAsTable locations must not
      // survive the JVM (the in-memory catalog does not)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session on the same context with ANSI mode on — for specs that
    * check a library function does not depend on that setting.
    */
  lazy val ansi: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  /** Remove the derived cache `Scratch.cache(kind, dir)` a spec built
    * from its temp fixture `dir`, with its lock file: the cache path is
    * keyed by the fixture's name, so no later run reads it again.
    */
  def dropCache(kind: String, dir: String): Unit = {
    val loc = java.nio.file.Paths.get(graft.io.Scratch.cache(kind, dir))
    graft.io.Publish.deleteTree(loc.toString)
    java.nio.file.Files.deleteIfExists(loc.resolveSibling(s".${loc.getFileName}.lock"))
    ()
  }
}
