package graft.tools

/** Time individual registered queries (median of 3 after one warmup) —
  * for iterating on a single query without paying the full Bench run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.MicroBench tx6_winnow_fingerprint v5_ann_ivf"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-micro-bench")
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.entry(spark).count() // session warmup
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"MICRO $name%-28s median=${times.tail.sorted.apply(1)}%.3f first=${times.head}%.3f")
    }
    spark.stop()
  }
}
