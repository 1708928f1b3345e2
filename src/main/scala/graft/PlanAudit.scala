package graft
import org.apache.spark.sql.SparkSession

/** Physical-plan smell report + plan-shape regression gate over the
  * whole registry.
  *
  * Modes (first arg, default `print`):
  *   - `print`  — dump one AUDIT line per query (exchange / join-
  *     strategy / top-k counts) for eyeballing.
  *   - `golden` — write those lines to `tools/plan_golden.txt` (commit
  *     it). Run after any INTENTIONAL plan change.
  *   - `check`  — recompute and diff against the committed golden;
  *     exit 1 listing every query whose shuffle count or join strategy
  *     moved. This is the regression net for the class of bug the
  *     per-query PlanSpec asserts can't cover registry-wide: an edit
  *     that silently turns a broadcast join into a sort-merge join, or
  *     adds an Exchange to a query it never touched.
  *
  * The counts come from the INITIAL physical plan (before AQE
  * execution) at sf0.001, so they are deterministic for fixed fixture
  * sizes. A driver fixture regeneration that crosses a broadcast
  * threshold legitimately moves them — regenerate the golden when that
  * happens (the diff names exactly which queries moved, so a real
  * regression and a fixture shift are distinguishable at a glance).
  * Dev tool, not part of `sbt test`.
  */
object PlanAudit {
  private val goldenPath = "tools/plan_golden.txt"

  private def auditLines(spark: SparkSession): Seq[String] =
    SparkEntry.registry.sortBy(_.name).map { q =>
      try {
        val p = q.fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
        val ex = "Exchange".r.findAllIn(p).length
        val bhj = "BroadcastHashJoin".r.findAllIn(p).length
        val smj = "SortMergeJoin".r.findAllIn(p).length
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
        val cart = "CartesianProduct".r.findAllIn(p).length
        val top = if (p.contains("TakeOrderedAndProject")) 1 else 0
        f"AUDIT ${q.name}%-36s ex=$ex bhj=$bhj smj=$smj bnlj=$bnlj cart=$cart top=$top"
      } catch {
        case e: Throwable =>
          s"AUDIT ${q.name} ERROR ${e.getMessage.take(80).replaceAll("\\s+", " ")}"
      }
    }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("print")
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = auditLines(spark)
    spark.stop()
    mode match {
      case "golden" =>
        java.nio.file.Files.write(java.nio.file.Paths.get(goldenPath),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        println(s"PLAN_GOLDEN wrote ${lines.size} lines to $goldenPath")
      case "check" =>
        val want = scala.io.Source.fromFile(goldenPath).getLines()
          .filter(_.startsWith("AUDIT ")).toSeq
        val wantMap = want.map(l => l.split("\\s+")(1) -> l).toMap
        val gotMap = lines.map(l => l.split("\\s+")(1) -> l).toMap
        val names = (wantMap.keySet ++ gotMap.keySet).toSeq.sorted
        val diffs = names.flatMap { n =>
          (wantMap.get(n), gotMap.get(n)) match {
            case (Some(w), Some(g)) if w == g => None
            case (Some(w), Some(g)) => Some(s"CHANGED $n\n  golden:  $w\n  current: $g")
            case (Some(w), None) => Some(s"REMOVED $n\n  golden:  $w")
            case (None, Some(g)) => Some(s"NEW     $n\n  current: $g")
            case _ => None
          }
        }
        if (diffs.isEmpty) println(s"PLAN_CHECK ok: ${lines.size} queries match $goldenPath")
        else {
          diffs.foreach(println)
          println(s"PLAN_CHECK FAILED: ${diffs.size} of ${names.size} queries diverge " +
            s"from $goldenPath (regenerate with `runMain graft.PlanAudit golden` " +
            "if the change is intentional)")
          sys.exit(1)
        }
      case _ => lines.foreach(println)
    }
  }
}
