package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer accounting for the traced run.
  *
  * A span is the wall interval of one call into a graft layer, named
  * after the module under `src/main/scala/graft/` that the call enters
  * (`etl.land_iceberg`, `ann.adc`, ...). The benchmark opens spans only
  * around public calls from its own files; nothing inside graft is
  * instrumented.
  *
  * Spark work is credited to spans through a job-local property: [[span]]
  * sets [[SpanProperty]] on the calling thread to the path of open spans
  * (`op/sql.slice`), every job that call launches carries it in
  * `SparkListenerJobStart.properties`, and the listener credits the job,
  * its stages and their tasks to every span on that path. A span's
  * figures therefore include its nested spans' work.
  *
  * Spans and counters are kept in memory and summarised when the run
  * ends ([[summary]]).
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val spanRecs = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val counters = mutable.HashMap.empty[String, Counters]
  private val extras = mutable.LinkedHashMap.empty[String, Double]

  /** Run `body` as one occurrence of span `name`. */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, Option(outer).fold(name)(o => s"$o/$name"))
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wallNs = System.nanoTime() - n0
      sc.setLocalProperty(SpanProperty, outer)
      synchronized { spanRecs += SpanRec(name, t0, t0 + wallNs / 1000000L, wallNs) }
    }
  }

  /** Record a layer ratio measured outside Spark's counters (files
    * scanned per file planned, pairs per shuffle record, ...). */
  def extra(name: String, value: Double): Unit = synchronized { extras(name) = value }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
    name.foreach { n =>
      jobs(e.jobId) = JobRec(n, e.time, None)
      e.stageIds.foreach(stageSpan(_) = n)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = Some(e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { n =>
      val c = counters.getOrElseUpdate(n, new Counters)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Per-span metrics, each a mean per call: `<span>.<suffix>`. */
  def summary(): Map[String, Double] = synchronized {
    val bySpan = spanRecs.groupBy(_.name)
    val out = mutable.LinkedHashMap.empty[String, Double]
    bySpan.toSeq.sortBy(_._1).foreach { case (name, recs) =>
      val calls = recs.size.toDouble
      val myJobs = jobs.values.filter(j => onPath(j.span, name)).toSeq
      val intervals = myJobs.map(j => (j.start, j.end.getOrElse(j.start)))
      val gapMs = recs.map(r => r.wallNs / 1e6 -
        coveredMs(intervals, r.startMs, r.endMs)).sum
      val c = new Counters
      counters.foreach { case (path, pc) => if (onPath(path, name)) c.add(pc) }
      out(s"$name.calls") = calls
      out(s"$name.wall_s") = recs.map(_.wallNs).sum / 1e9 / calls
      out(s"$name.jobs") = myJobs.size / calls
      out(s"$name.tasks") = c.tasks / calls
      out(s"$name.task_cpu_s") = c.cpuNs / 1e9 / calls
      out(s"$name.task_wait_s") = (c.runMs / 1e3 - c.cpuNs / 1e9) / calls
      out(s"$name.driver_gap_s") = math.max(0.0, gapMs) / 1e3 / calls
      out(s"$name.shuffle_bytes") = c.shuffleBytes / calls
      out(s"$name.shuffle_records") = c.shuffleRecords / calls
      out(s"$name.input_bytes") = c.inputBytes / calls
      out(s"$name.output_bytes") = c.outputBytes / calls
      out(s"$name.failed_tasks") = c.failedTasks / calls
    }
    out ++= extras
    out.toMap
  }

  /** Span path each traced job was credited to, by job id. */
  def jobSpans: Map[Int, String] = synchronized { jobs.map { case (k, v) => k -> v.span }.toMap }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** True when span `name` is open on span path `path`. */
  def onPath(path: String, name: String): Boolean = path.split('/').contains(name)

  final case class SpanRec(name: String, startMs: Long, endMs: Long, wallNs: Long)
  final case class JobRec(span: String, start: Long, end: Option[Long])

  final class Counters {
    var tasks = 0L
    var failedTasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var shuffleRecords = 0L
    var inputBytes = 0L
    var outputBytes = 0L

    def add(o: Counters): Unit = {
      tasks += o.tasks; failedTasks += o.failedTasks; cpuNs += o.cpuNs
      runMs += o.runMs; shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
      inputBytes += o.inputBytes; outputBytes += o.outputBytes
    }
  }

  /** Length of the part of [lo, hi] that the union of `intervals` covers.
    * Overlapping jobs (a span can run several at once) count once, so
    * `wall - covered` is the time no job of the span was running: the
    * driver gap. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
