package graft.tools

import org.apache.spark.sql.functions._
import graft.fixtures.BronzeFixtures
import graft.silver.SilverEtl
import graft.gold.GoldEtl

/** Runnable end-to-end demo of the silver + gold pipelines over the
  * synthetic bronze fixtures:
  *
  *   sbt "runMain graft.tools.PipelineDemo [workDir]"
  *
  * Writes bronze JSONL, runs the 10-stage silver ETL (SCD2 parquet
  * output + quarantine + run metadata), then the gold ML-feature ETL,
  * and prints the observable run stats. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_pipeline_demo").toString)
    val spark = graft.GraftSession.local("graft-pipeline-demo")

    BronzeFixtures.write(base)
    val cfg = SilverEtl.RunConfig(s"$base/silver", s"$base/quarantine",
      s"$base/metadata", "demo_run", "2025-01-15")
    val bronze = SilverEtl.readBronze(spark, s"$base/bronze", "2025-01-15")
    val stats = SilverEtl.run(spark, bronze, cfg,
      to_timestamp(lit("2025-01-15 12:00:00")))
    println(s"[demo] silver stats: $stats")

    GoldEtl.run(spark, s"$base/silver", s"$base/gold",
      to_timestamp(lit("2025-01-15 13:00:00")))
    val tiers = graft.store.PointerCommit.read(spark, s"$base/gold")
      .groupBy("quality_tier").count().orderBy("quality_tier")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(s"[demo] gold tiers: $tiers")

    // streaming bronze→silver (Trigger.AvailableNow, exactly-once files)
    val glob = s"$base/bronze/*/year=*/month=*/*.jsonl"
    val schema = spark.read.json(glob).schema
    graft.streaming.StreamingOps.silverStream(spark, glob, schema,
      s"$base/silver_stream", s"$base/ckpt").start().awaitTermination()
    println("[demo] streaming silver rows: " +
      spark.read.parquet(s"$base/silver_stream").count())

    // multimodal: binary media → batch-decoded (stub) feature table
    val feats = graft.multimodal.Multimodal.featureTable(spark, 50)
    println("[demo] multimodal features: " + feats.count() +
      " rows, embedding dims = " +
      feats.select(size(col("embedding"))).head().getInt(0))
    println(s"[demo] outputs under $base")
    spark.stop()
  }
}
