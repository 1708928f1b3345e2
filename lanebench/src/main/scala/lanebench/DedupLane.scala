package lanebench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.Dedup
import graft.clean.Cleaners
import graft.io.Sinks
import graft.model.Schemas

/** The dedup lane over the pin table: cleaned pins' title + description
  * are the documents; `Dedup.nearDupPairs` at a fixed threshold, then
  * `Dedup.nearDupClusters`, then keeper selection (smallest id per
  * cluster), and the deduplicated corpus is written with `Sinks.parquet`.
  */
object DedupLane {

  def docs(spark: SparkSession, pinPath: String): DataFrame =
    docsOf(spark.read.schema(Schemas.pinRaw).parquet(pinPath))

  private def docsOf(raw: DataFrame): DataFrame =
    Cleaners.cleanPin(raw).select(col("ind").cast("long").as("doc_id"),
      concat_ws(" ", col("title"), col("description")).as("text"))

  /** The corpus without every cluster member but the smallest id. */
  private def deduped(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id").orderBy(col("doc_id").asc)
    val dropped = clusters.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1).select("doc_id")
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }

  private def pairsOf(df: DataFrame): Array[(Long, Long, Double)] =
    df.collect()
      .map(r => (r.getAs[Number]("doc_a").longValue, r.getAs[Number]("doc_b").longValue,
        r.getAs[Double]("jaccard")))
      .sorted

  /** Result of one chain: the pairs found and a check of the written
    * corpus, to be run outside any timing; the check returns an error.
    */
  final case class Run(pairs: Array[(Long, Long, Double)], check: () => Option[String])

  def run(docs: DataFrame, threshold: Double, out: String): Run = {
    val spark = docs.sparkSession
    val pairsDf = Dedup.nearDupPairs(docs, threshold = threshold).cache()
    val pairs = pairsOf(pairsDf)
    val clusters = Dedup.nearDupClusters(pairsDf).cache()
    Sinks.parquet(deduped(docs, clusters), out)
    Run(pairs, () => {
      val s = clusters.agg(countDistinct("doc_id"), countDistinct("cluster_id")).collect().head
      val kept = spark.read.parquet(out).count()
      val want = docs.count() - (s.getLong(0) - s.getLong(1))
      clusters.unpersist(true)
      pairsDf.unpersist(true)
      if (kept == want) None else Some(s"deduplicated corpus has $kept documents, expected $want")
    })
  }

  /** The chain with each public call materialized at its boundary. */
  def traced(ctx: Ctx, pinPath: String, threshold: Double,
      out: String): Array[(Long, Long, Double)] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val docs = tr.span("clean.pin") {
      val raw = tr.span("io.scan") {
        val d = spark.read.schema(Schemas.pinRaw).parquet(pinPath).cache()
        d.count()
        d
      }
      val d = docsOf(raw).cache()
      d.count()
      raw.unpersist(true)
      d
    }
    tr.span("expr.shingle") {
      Dedup.shingles(docs).write.format("noop").mode("overwrite").save()
    }
    tr.span("expr.minhash") {
      Dedup.minhashSignatures(docs).write.format("noop").mode("overwrite").save()
    }
    tr.set("api.exact_groups", Dedup.exactDupGroups(docs).count().toDouble)
    val pairsDf = tr.span("api.near_dup_pairs") {
      val p = Dedup.nearDupPairs(docs, threshold = threshold).cache()
      tr.set("api.verified_pairs", p.count().toDouble)
      p
    }
    val clusters = tr.span("api.clusters") {
      val c = Dedup.nearDupClusters(pairsDf).cache()
      c.count()
      c
    }
    val kept = deduped(docs, clusters)
    tr.span("io.sink")(Sinks.parquet(kept, out))
    tr.count("plans.grouptopk_nodes", Plans.groupTopK(kept.queryExecution.executedPlan).toDouble)
    val files = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    tr.set("io.sink_files", files.size.toDouble)
    tr.set("io.sink_mb", files.map(Files.size(_)).sum / 1048576.0)
    val pairs = pairsOf(pairsDf)
    Seq(clusters, pairsDf, docs).foreach(_.unpersist(true))
    pairs
  }
}
