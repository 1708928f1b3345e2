package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session profile: every main and the test suite
  * build their session here, so they all run the registry under the
  * same settings. Callers may add settings of their own (a warehouse
  * directory, a shuffle codec) before `getOrCreate()`.
  */
object Session {

  /** A local builder over `cpus` cores with one shuffle partition per
    * core: UTC, UI off, AQE on, lenient casts (ANSI off, SURVEY.md
    * §7.4.3), TIMESTAMP(NANOS) parquet read as a long of nanoseconds
    * (Spark 4 refuses it otherwise, SURVEY.md §7.4.6), and the custom
    * expressions and operators of [[GraftExtensions]].
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
}
