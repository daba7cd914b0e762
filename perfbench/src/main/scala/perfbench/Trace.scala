package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The traced run's recorder. Spans come from the benchmark's own calls
  * into each layer; Spark jobs, tasks and SQL executions come from a
  * `SparkListener` (SQL executions included). Everything is kept in
  * memory and reduced to per-layer figures (and written out as JSON)
  * when the run ends. Planning time is the analysis, optimization and
  * planning phases Spark's `QueryPlanningTracker` records for each SQL
  * execution, read from the execution-end event's `QueryExecution`.
  *
  * A job belongs to the repo module of the first `graft` frame in the
  * call site of its SQL execution (else of its first stage), so one
  * `SilverEtl.run` call splits into silver, quality, scd and store work.
  * A publish through `graft.store` computes its caller's whole plan, so
  * such a job goes to the first module past the `store` frames (the
  * SCD2 merge's publish is `scd` work, gold's publish is `gold` work).
  * A job with no `graft` frame (an action the benchmark itself calls on
  * a frame a layer returned) belongs to the span it ran in. `scd`/`store`
  * work inside a `lake` span is read-side work and counts as `lake`.
  */
final class Recorder extends SparkListener {
  import Recorder._

  final case class Span(layer: String, name: String, start: Long, end: Long)
  final case class Job(id: Int, start: Long, var end: Long, execId: Long,
                       stack: String, stages: Seq[Int])
  final class Acc {
    var tasks, failed = 0L
    var cpuNs, inBytes, outBytes, outRows, shRead, shWrite, spill = 0L
  }

  val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageAcc = mutable.HashMap[Int, Acc]()
  private val execStack = mutable.HashMap[Long, String]()
  private val execStart = mutable.HashMap[Long, Long]()
  private val planMs = mutable.HashMap[Long, Long]()

  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally spans += Span(layer, name, t0, System.currentTimeMillis())
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStack(s.executionId) = s.details
      execStart(s.executionId) = s.time
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      org.apache.spark.sql.PerfbenchPlan.planMs(s).foreach(planMs(s.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val stack = execStack.getOrElse(exec,
      j.stageInfos.headOption.map(_.details).getOrElse(""))
    jobs(j.jobId) = Job(j.jobId, j.time, j.time, exec, stack, j.stageIds)
    j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(t.stageId, new Acc)
    a.tasks += 1
    if (t.reason != org.apache.spark.Success) a.failed += 1
    val m = t.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRows += m.outputMetrics.recordsWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Layer of the innermost span covering time `t`, if any. */
  private def spanAt(t: Long, ss: Seq[Span]): Option[Span] =
    ss.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption

  private def layerOf(j: Job, ss: Seq[Span]): Option[String] = {
    // a publish runs the caller's whole plan, so a `store` frame yields
    // to the module that called it; `store` keeps only its own work
    val modules = j.stack.linesIterator.map(_.trim).collect {
      case GraftFrame(pkg) => moduleOf(pkg)
    }.toSeq
    val fromStack = modules.find(_ != "store").orElse(modules.headOption)
    val sp = spanAt(j.start, ss).map(_.layer)
    (fromStack, sp) match {
      case (Some("scd" | "store"), Some("lake")) => Some("lake")
      case (Some(m), _) => Some(m)
      case (None, s) => s
    }
  }

  /** Per-layer figures over the spans in `windows` (each a traced pass),
    * divided by the number of windows so they read per pass. */
  def summarize(windows: Seq[(Long, Long)]): mutable.LinkedHashMap[String, Double] = synchronized {
    val n = math.max(windows.size, 1).toDouble
    def inWin(t: Long) = windows.exists { case (a, b) => a <= t && t <= b }
    val ss = spans.filter(s => inWin(s.start)).toSeq
    val js = jobs.values.filter(j => inWin(j.start)).toSeq
    val byLayer = js.groupBy(j => layerOf(j, ss).getOrElse(Unattributed))
    val out = mutable.LinkedHashMap[String, Double]()
    def accOf(group: Seq[Job]): Acc = {
      val a = new Acc
      val stages = group.flatMap(j => j.stages.filter(s => stageJob.get(s).contains(j.id)))
      stages.flatMap(stageAcc.get).foreach { s =>
        a.tasks += s.tasks; a.failed += s.failed; a.cpuNs += s.cpuNs
        a.inBytes += s.inBytes; a.outBytes += s.outBytes; a.outRows += s.outRows
        a.shRead += s.shRead; a.shWrite += s.shWrite; a.spill += s.spill
      }
      a
    }
    val accs = (Layers :+ Unattributed).map(l => l -> accOf(byLayer.getOrElse(l, Nil))).toMap
    Layers.foreach { l =>
      val group = byLayer.getOrElse(l, Nil)
      val a = accs(l)
      out(s"$l.job_s") = unionMs(group.map(j => (j.start, j.end))) / 1000.0 / n
      out(s"$l.jobs") = group.size / n
      out(s"$l.tasks") = a.tasks / n
      out(s"$l.exec_cpu_s") = a.cpuNs / 1e9 / n
      out(s"$l.input_mb") = a.inBytes / MB / n
      out(s"$l.output_mb") = a.outBytes / MB / n
      out(s"$l.shuffle_read_mb") = a.shRead / MB / n
      out(s"$l.shuffle_write_mb") = a.shWrite / MB / n
      out(s"$l.spill_mb") = a.spill / MB / n
      out(s"$l.failed_tasks") = a.failed / n
    }
    val jobIv = js.map(j => (j.start, j.end))
    val spanIv = ss.map(s => (s.start, s.end))
    out("driver.self_s") = (unionMs(spanIv) - overlapMs(spanIv, jobIv)) / 1000.0 / n
    out("driver.plan_s") = windows.map(planSeconds).sum / n
    val totalCpu = accs.values.map(_.cpuNs).sum.toDouble
    out("unattributed.exec_cpu_share") =
      if (totalCpu > 0) accs(Unattributed).cpuNs / totalCpu else 0.0
    out("scd_store.output_rows") = (accs("scd").outRows + accs("store").outRows) / n
    out
  }

  /** Planning seconds of SQL executions that started inside `window`. */
  def planSeconds(window: (Long, Long)): Double = synchronized {
    execStart.collect { case (id, t) if window._1 <= t && t <= window._2 =>
      planMs.getOrElse(id, 0L) }.sum / 1000.0
  }

  def toJson: String = synchronized {
    val sj = spans.map(s =>
      s"""{"layer":"${s.layer}","name":"${esc(s.name)}","start_ms":${s.start},"end_ms":${s.end}}""")
    val jj = jobs.values.map { j =>
      val layer = layerOf(j, spans.toSeq).getOrElse(Unattributed)
      s"""{"job":${j.id},"layer":"$layer","start_ms":${j.start},"end_ms":${j.end},"exec":${j.execId}}"""
    }
    val ej = execStart.toSeq.sortBy(_._1).map { case (id, t) =>
      s"""{"exec":$id,"start_ms":$t,"plan_ms":${planMs.getOrElse(id, -1L)}}""" }
    s"""{"spans":[${sj.mkString(",")}],"jobs":[${jj.mkString(",")}],"execs":[${ej.mkString(",")}]}"""
  }
}

object Recorder {
  val Layers: Seq[String] = Seq("silver", "quality", "scd", "store", "gold", "queries", "lake")
  val Unattributed = "unattributed"
  private val MB = 1024.0 * 1024.0
  // stack lines read "app//graft.scd.Scd2$.merge(Scd2.scala:1)" on JDK 9+
  private val GraftFrame = """^(?:\S*/)?graft\.([A-Za-z]+)[.$(].*""".r

  /** Repo package → benchmark layer. */
  def moduleOf(pkg: String): String = pkg match {
    case "silver" | "schema" | "transform" => "silver"
    case "quality" => "quality"
    case "scd" => "scd"
    case "store" => "store"
    case "gold" => "gold"
    case _ => "queries"
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of union(a) ∩ union(b). */
  def overlapMs(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    unionMs(a) + unionMs(b) - unionMs(a ++ b)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (read calls, write calls, bytes written) of this process, from
    * /proc/self/io (Hadoop's local filesystem counts no operations). */
  def fsStats(): (Long, Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/self/io")
    val kv = try src.getLines().map(_.split(":\\s*")).collect {
      case Array(k, v) => k -> v.trim.toLong }.toMap finally src.close()
    (kv.getOrElse("syscr", 0L), kv.getOrElse("syscw", 0L), kv.getOrElse("wchar", 0L))
  } catch { case _: Exception => (0L, 0L, 0L) }

  def attach(spark: SparkSession, r: Recorder): Unit =
    spark.sparkContext.addSparkListener(r)

  def detach(spark: SparkSession, r: Recorder): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(r)
  }
}
