package graft.tools

import org.apache.spark.sql.SparkSession

/** Pins the fixture trees the evidence chain stands on (round-14
  * VERDICT item 3): every correctness claim says "green at sf0.001 /
  * sf0.01", but nothing in-repo pinned those trees' VALUES — a
  * regenerated or corrupted fixture would silently move the goalposts.
  * This tool writes per-file byte count + MD5 + parquet row count for
  * sf0.001 and sf0.01 into `tools/testdata_manifest.json`;
  * `TestdataManifestSpec` recomputes and string-compares it on every
  * `sbt test`, so a fixture drift fails the suite before any gate runs.
  *
  * (sf0.1 is excluded on purpose: hashing 100+ MB per test run buys
  * nothing — the sf0.1 bench rung is cross-checked against the two
  * pinned rungs by the scale curves themselves.)
  */
object TestdataManifest {
  val Base = "/root/testdata"
  val Rungs: Seq[String] = Seq("sf0.001", "sf0.01")
  val ManifestPath = "tools/testdata_manifest.json"

  private def md5(f: java.io.File): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) d.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    d.digest().map("%02x".format(_)).mkString
  }

  /** Deterministic render: one line per fixture file, sorted by path —
    * the spec compares this STRING against the committed file, so no
    * JSON parser is needed on the verify side.
    */
  def render(spark: SparkSession): String = {
    val lines = for {
      sf <- Rungs
      f <- Option(new java.io.File(s"$Base/$sf").listFiles()).get
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    } yield {
      val rows = spark.read.parquet(f.getPath).count()
      s"""  "$sf/${f.getName}": {"bytes": ${f.length}, "md5": "${md5(f)}", "rows": $rows}"""
    }
    lines.mkString("{\n", ",\n", "\n}\n")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = render(spark)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ManifestPath), s)
    print(s)
    spark.stop()
  }
}
