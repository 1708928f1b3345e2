package graft

/** Dump `.explain("formatted")` for named registry queries — the
  * optimization-round evidence surface (plans/r16/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <name1,name2,...>
  *   - outDir: directory to write <query>_<suffix>.txt files into
  *   - suffix: "before" | "after" (free-form)
  *   - names: comma-separated registry names (prefix match, like
  *     SPARK_GRAFT_ONLY)
  *
  * Plans are captured at the SF dir given by SPARK_GRAFT_SF_DIR
  * (default sf0.01 — big enough that broadcast-threshold decisions
  * match the bench rungs, small enough that prepare() is cheap), with
  * the same session configuration the bench uses, so Exchange counts
  * and join strategies are the ones the bench actually runs. Dev
  * tool, not part of `sbt test`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <names>")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val picked = SparkEntry.registry.sortBy(_.name)
      .filter(q => names.exists(q.name.startsWith))
    picked.foreach { q =>
      try {
        try q.prepare(spark, sfDir) catch { case _: Throwable => () }
        val df = q.fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.File(outDir, s"${q.name}_$suffix.txt")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try {
          w.println(s"# ${q.name} — explain(formatted) at $sfDir")
          w.println(plan)
        } finally w.close()
        System.err.println(s"[plandump] wrote ${f.getPath}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
