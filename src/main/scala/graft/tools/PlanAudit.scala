package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Plan-quality audit: prints the physical-plan health signals for the
  * load-bearing queries — parquet pushdown (PushedFilters/ReadSchema),
  * broadcast-join selection, partial aggregation, codegen spans, shuffle
  * counts. Run after changing any query:
  *
  *   sbt "runMain graft.tools.PlanAudit [sfDir] [query ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("s1_scan_prune", "q1_agg", "j1_broadcast_dim", "w1_dedup_latest",
        "p8_outlier_4sigma", "v2_ann_topk", "v7_ann_ivfpq",
        "a7_conditional_agg", "j7_multiway_star", "aj1_asof_join",
        "rj1_range_join", "sw1_session_window", "g1_rollup", "tx10_tfidf")
    val spark = graft.GraftSession.local("graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val qe = df.queryExecution
      val formatted = qe.explainString(ExplainMode.fromString("formatted"))
        .linesIterator.toSeq
      def grab(tag: String) = formatted.filter(_.contains(tag)).map(_.trim).distinct
      // execute so AQE finalizes: the pre-execution adaptive plan hides
      // codegen stars and runtime join rewrites
      df.collect()
      // operator counts come from the TREE (one line per operator;
      // formatted mode would double-count tree + detail sections), and
      // codegen'd operators are the `*(n)`-starred ones
      val tree = qe.executedPlan.toString.linesIterator.toSeq
        .takeWhile(!_.contains("== Initial Plan ==")) // AQE echoes both
      println(s"\n==== $name")
      grab("PushedFilters: [").filterNot(_.endsWith("[]"))
        .foreach(l => println(s"  $l"))
      grab("ReadSchema").foreach(l => println(s"  ${l.take(140)}"))
      println(s"  BroadcastHashJoin=${tree.count(_.contains("BroadcastHashJoin"))}" +
        s" SortMergeJoin=${tree.count(_.contains("SortMergeJoin"))}" +
        s" NestedLoop=${tree.count(_.contains("NestedLoop"))}" +
        s" HashAggregate=${tree.count(_.contains("HashAggregate"))}" +
        s" Exchange=${tree.count(l => l.contains("Exchange") && !l.contains("Reused"))}" +
        s" codegenOps=${tree.count(_.trim.matches("^[+:\\- ]*\\*\\(\\d+\\).*"))}")
    }
    spark.stop()
  }
}
