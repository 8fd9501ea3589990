package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, shiftrightunsigned, sum, xxhash64}

/** One benchmark run: set up a workload, run its closed loop for
  * `--seconds` of operation time, check the outputs, and write the run
  * record (every metric, the host context and any failures) as JSON to
  * `--out`. `perfbench/run.py` builds this program, runs it and prints
  * the result line.
  *
  * Usage: graftbench.Main --workload NAME --seed N --seconds S
  *          --trace 0|1 --work DIR --out FILE --cores N
  *
  * An untraced run reports the end-to-end metrics. A traced run (trace 1)
  * runs the same loop twice, untraced and then with spans on, and reports
  * the per-layer figures plus the tracing overhead: the traced minus the
  * untraced median operation time.
  */
object Main {

  final case class Phase(latencies: Seq[Double], kinds: Seq[String], items: Seq[Long],
                         failedOps: Int, failures: Seq[String]) {
    def ops: Int = latencies.size
    def p50: Double = Stats.median(latencies)
    def opsPerS: Double = ops / latencies.sum

    /** Median time and items per second for each operation kind. */
    def byKind: Map[String, Map[String, Double]] = kinds.distinct.map { k =>
      val ix = kinds.indices.filter(kinds(_) == k)
      k -> Map("ops" -> ix.size.toDouble, "p50_s" -> Stats.median(ix.map(latencies)),
        "items_per_s" -> ix.map(items).sum / ix.map(latencies).sum)
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val cores = a("cores").toInt
    val wl = Workloads(name)

    val t0 = System.nanoTime()
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, work, seed, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    // before set-up, so the warm-up also absorbs what the probe leaves
    // behind (garbage, recompiled code), and off set-up's clock
    val p0 = System.nanoTime()
    val probeS = cpuProbe(spark, cores)
    val probeWallS = (System.nanoTime() - p0) / 1e9

    val setupTracer = new Tracer
    if (traced) attach(ctx, setupTracer)
    val warmUpFailures = ctx.span("setup") {
      wl.setup(ctx)
      wl.warmUp(ctx)
    }
    val setupS = (System.nanoTime() - t0) / 1e9 - probeWallS
    if (traced) detach(ctx, setupTracer)

    val plain = measure(ctx, wl, seconds)
    val opTracer = new Tracer
    val withSpans = if (!traced) None else {
      attach(ctx, opTracer)
      val p = measure(ctx, wl, seconds)
      wl.decompose(ctx)
      detach(ctx, opTracer)
      Some(p)
    }
    val finishFailures =
      try wl.finish(ctx) catch { case NonFatal(e) => Seq(s"end check threw: $e") }
    val facts = wl.facts
    val rssMb = peakRssMb()
    spark.stop()

    val phases = plain +: withSpans.toSeq
    val attempted = phases.map(_.ops).sum
    val failures = warmUpFailures ++ phases.flatMap(_.failures) ++ finishFailures
    val failed = math.min(attempted,
      phases.map(_.failedOps).sum + warmUpFailures.size + finishFailures.size)

    val endToEnd = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb,
      "op_p50_s" -> plain.p50,
      "ops_per_s" -> plain.opsPerS)
    val perLayer: Map[String, Double] = withSpans.fold(Map.empty[String, Double]) { p =>
      val ops = opTracer.summary()
      val setup = setupTracer.summary()
      Seq("jobs", "tasks", "task_cpu_s", "task_wait_s", "driver_gap_s",
          "shuffle_bytes", "input_bytes")
        .map(s => s"op.$s" -> ops(s"op.$s")).toMap ++
        Seq("jobs", "task_cpu_s", "driver_gap_s").map(s => s"setup.$s" -> setup(s"setup.$s")) +
        ("trace.overhead_frac" -> (p.p50 / plain.p50 - 1))
    }
    val tail = Stats.tail(plain.latencies)

    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "detail" -> Map(
        "by_kind" -> plain.byKind,
        "session_start_s" -> sessionS,
        "ops" -> plain.ops,
        "op_latencies_s" -> plain.latencies,
        "op_tail_s" -> tail.map(_.value),
        "op_tail_percentile" -> tail.map(_.percentile),
        "op_tail_samples_beyond" -> tail.map(_.beyond),
        "traced_op_p50_s" -> withSpans.map(_.p50),
        "traced_ops_per_s" -> withSpans.map(_.opsPerS),
        "facts" -> facts,
        "spans_setup" -> (if (traced) setupTracer.summary() else Map.empty),
        "spans_ops" -> (if (traced) opTracer.summary() else Map.empty)),
      "host" -> Map(
        "cpu_probe_s" -> probeS,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> s"local[$cores]",
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "java" -> System.getProperty("java.version")),
      "failures" -> failures.take(50))
    Files.writeString(Paths.get(a("out")), new ObjectMapper()
      .registerModule(DefaultScalaModule)
      .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
      .writeValueAsString(record) + "\n")
  }

  private def attach(ctx: Ctx, t: Tracer): Unit = {
    ctx.spark.sparkContext.addSparkListener(t)
    ctx.tracer = Some(t)
  }

  private def detach(ctx: Ctx, t: Tracer): Unit = {
    ctx.tracer = None
    org.apache.spark.ListenerBusDrain(ctx.spark.sparkContext)
    ctx.spark.sparkContext.removeSparkListener(t)
  }

  /** The closed loop: operations back to back until their summed time
    * reaches `seconds` and the workload's round of operation kinds is
    * complete. Output checks run between operations, off the clock. */
  def measure(ctx: Ctx, wl: Workload, seconds: Double): Phase = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val kinds = mutable.ArrayBuffer.empty[String]
    val items = mutable.ArrayBuffer.empty[Long]
    val failures = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    var i = 0
    while (i == 0 || lat.sum < seconds || i % wl.roundSize != 0) {
      val t = System.nanoTime()
      val op = try Right(ctx.span("op")(wl.op(ctx, i))) catch { case NonFatal(e) => Left(e) }
      lat += (System.nanoTime() - t) / 1e9
      kinds += wl.kind(i)
      items += op.fold(_ => 0L, _.items)
      val bad = op match {
        case Right(o) =>
          try o.check() catch { case NonFatal(e) => Seq(s"check threw: $e") }
        case Left(e) => Seq(s"operation $i threw: $e")
      }
      if (bad.nonEmpty) { failedOps += 1; failures ++= bad }
      i += 1
    }
    Phase(lat.toSeq, kinds.toSeq, items.toSeq, failedOps, failures.toSeq)
  }

  /** Host context, never a metric: the fixed-work hash-and-sum aggregate
    * `graft.Bench` calibrates with, at a twentieth of its rows; min of two
    * after one warm-up pass. It scales with core count, so it identifies a
    * loaded host but does not rescale anything. */
  def cpuProbe(spark: SparkSession, cores: Int): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cores)
        .select(sum(shiftrightunsigned(xxhash64(col("id")), 34))).head()
      (System.nanoTime() - t) / 1e9
    }
    once()
    math.min(once(), once())
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}
