package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.silver.SilverEtl
import graft.gold.GoldEtl

/** Production-shaped CLI for the silver + gold pipelines over arbitrary
  * bronze data (the spark-submit surface of the engine):
  *
  *   sbt "runMain graft.tools.EtlRunner <bronzeBase> <yyyy-MM-dd> <outBase> [full|incremental] [flat|regioned]"
  *
  * Reads bronze/{spider}/year=Y/month=M/<date>*.jsonl under bronzeBase,
  * runs the 10-stage silver ETL (SCD2 merge into outBase/silver,
  * quarantine + run metadata), then the gold ML-feature ETL into
  * outBase/gold, and prints the run stats. Gold mode `incremental`
  * (default `full`) rewrites only the partitions touched by the day's
  * silver churn — the steady-state daily mode once a full baseline
  * exists. Every table publishes as a versioned snapshot behind an
  * atomic pointer (graft.store.SnapshotStore). Layout `regioned`
  * (default `flat`) splits silver into a rewriteable current region and
  * an append-only closed region, so each day's merge writes
  * O(live keys + churn) instead of rewriting the whole history. */
object EtlRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: EtlRunner <bronzeBase> <yyyy-MM-dd> <outBase> [full|incremental] [flat|regioned]")
    val goldMode = args.lift(3).getOrElse("full")
    require(goldMode == "full" || goldMode == "incremental",
      s"unknown gold mode '$goldMode' (use full or incremental)")
    val layout: graft.scd.SilverLayout = args.lift(4).getOrElse("flat") match {
      case "regioned" => graft.scd.RegionedLayout
      case "flat" => graft.scd.FlatLayout
      case other => throw new IllegalArgumentException(
        s"unknown layout '$other' (use flat or regioned)")
    }
    // captured BEFORE the silver run, in the session's UTC — the SCD2
    // valid_from/valid_to stamps are UTC dates, and the JVM default zone
    // may disagree around midnight.
    val processingDate = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val Array(bronzeBase, date, outBase) = args.take(3)
    val spark = GraftSession.local("graft-etl")

    val cfg = SilverEtl.RunConfig(s"$outBase/silver", s"$outBase/quarantine",
      s"$outBase/metadata", runId = s"run_$date", startDate = date)
    val t0 = System.nanoTime()
    val bronze = SilverEtl.readBronze(spark, bronzeBase, date)
    val stats = SilverEtl.run(spark, bronze, cfg, layout = layout)
    val tSilver = (System.nanoTime() - t0) / 1e9
    println(f"[etl] silver: $stats in $tSilver%.1f s")

    val t1 = System.nanoTime()
    goldMode match {
      case "incremental" =>
        // valid_from/valid_to carry PROCESSING dates (the SCD2 clock is
        // current_timestamp), so churn detection keys on the processing
        // date, not the bronze logical date; runIncremental matches
        // on-or-after, covering a silver run that crossed UTC midnight.
        GoldEtl.runIncremental(spark, cfg.silverPath, s"$outBase/gold",
          processingDate, layout = layout)
      case _ =>
        GoldEtl.run(spark, cfg.silverPath, s"$outBase/gold", layout = layout)
    }
    val tGold = (System.nanoTime() - t1) / 1e9
    println(f"[etl] gold ($goldMode) written in $tGold%.1f s to $outBase/gold")

    // scheduled maintenance (the reference ran OPTIMIZE + VACUUM after
    // its merge, silver_etl_script.py:978-988): compact the regioned
    // closed region's accreted file sets, then collect superseded
    // snapshots of every table.
    if (sys.env.get("GRAFT_ETL_MAINTAIN").contains("1")) {
      val t2 = System.nanoTime()
      val compacted = layout match {
        case graft.scd.RegionedLayout =>
          graft.scd.Scd2.compactClosed(spark, cfg.silverPath)
        case _ => 0
      }
      val vacuumed = Seq(cfg.silverPath, graft.scd.Scd2.currentRoot(cfg.silverPath),
        graft.scd.Scd2.closedRoot(cfg.silverPath), s"$outBase/gold")
        .map(p => scala.util.Try(
          graft.store.SnapshotStore.vacuum(spark, p)).getOrElse(0)).sum
      val tM = (System.nanoTime() - t2) / 1e9
      println(f"[etl] maintenance: $compacted partitions compacted, " +
        f"$vacuumed snapshots vacuumed in $tM%.1f s")
    }
    spark.stop()
  }
}
