package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for registered queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/<round>/`. Executes each query first so AQE's FINAL plan (the
  * one with runtime join rewrites and coalesced reads) is what lands in
  * the file, mirroring PlanAudit.
  *
  *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 plans/r17 _before gr1_pagerank ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query> [query ...]")
    val sf = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names = args.drop(3).toSeq
    outDir.mkdirs()
    val spark = graft.GraftSession.local("graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE
      val formatted = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val f = new java.io.File(outDir, s"$name$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(formatted) finally w.close()
      println(s"PLANDUMP wrote ${f.getPath} (${formatted.length} chars)")
    }
    spark.stop()
  }
}
