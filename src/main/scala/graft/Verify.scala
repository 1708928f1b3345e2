package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.io.Sources.schemaManifest(spark, sfDir).foreach(println)
    // dev knob (same as Bench): SPARK_GRAFT_ONLY=d11,r2 verifies only
    // matching prefixes — the driver never sets it, so driver runs
    // always dump the full registry
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump body, callable from a test session too (the flag-gated
    * sf0.1 oracle probe drives it without spawning a second JVM):
    * each selected registry query → `outDir/<name>/` parquet, plus
    * the oracle SQL map as `outDir/oracle_sql.json`.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    // argument-order guard: outDir is DELETED below, so refuse anything
    // that looks like a fixture directory (the args were once passed
    // reversed and Verify emptied /root/testdata/sf0.001). Canonicalize
    // first so relative paths / symlinks can't sidestep the check, and
    // refuse anything containing a parquet fixture regardless of name.
    val outCanon = Paths.get(outDir).toAbsolutePath.normalize.toString
    require(!outCanon.contains("/testdata"),
      s"refusing to use fixture dir $outCanon as the output dir (arg order is <sfDir> <outDir>)")
    require(!Files.exists(Paths.get(outCanon, "lineitem.parquet")),
      s"$outCanon contains lineitem.parquet — it looks like a fixture dir, refusing to wipe it")
    require(Files.exists(Paths.get(s"$sfDir/lineitem.parquet")),
      s"$sfDir does not look like a scale-factor dir (no lineitem.parquet) — arg order is <sfDir> <outDir>")
    // start from an EMPTY output dir: results of queries that no longer
    // exist (renames, removals) — or of a run that died before this one
    // compiled — must not leak into the compare as phantom passes
    graft.io.Publish.deleteTree(outDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry.sortBy(_.name)
      .filter(q => only.forall(_.exists(q.name.startsWith)))
      .foreach { q =>
      val name = q.name
      try {
        q.prepare(spark, sfDir)
        q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a stale result dir from an earlier run must not mask the
        // failure as a pass in the downstream compare
        graft.io.Publish.deleteTree(s"$outDir/$name")
      }
      // drop blocks persisted inside the query (LSH signatures, IVF
      // assignments) so 70+ queries don't accumulate cached partitions;
      // localCheckpoint blocks (cluster fixpoints) live outside the
      // catalog cache and need explicit unpersist, same as Bench
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
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
    // {SFDIR} placeholder: oracle SQL that reads documents/embeddings via
    // read_parquet (self-contained — those tables may not be registered
    // as views on the oracle side) is pinned to the verified sfDir here.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SFDIR}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ()
  }
}
