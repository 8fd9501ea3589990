package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{NexusH5, NexusPipeline}
import graft.sources.IcebergLite
import graftbench.Inputs.RunFile

/** What a workload's operations share: the session, the run's work
  * directory and seed, and the tracer when the phase is traced. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val cores: Int) {
  var tracer: Option[Tracer] = None

  /** Run `body` inside span `name` when tracing, plainly otherwise. */
  def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(spark.sparkContext, name)(body))

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One timed operation: the items it processed (events, documents,
  * probes) and the output check, which runs after the clock stops and
  * returns failure messages. */
final case class Op(items: Long, check: () => Seq[String])

/** A workload: seeded set-up, a closed loop of operations (one client,
  * the next operation starts when the previous one returns), and
  * end-of-run output checks. */
trait Workload {
  /** The kind of operation `i`, for per-kind figures in the run record. */
  def kind(i: Int): String = "op"
  /** Operations per round of the loop; a phase ends on a round boundary,
    * so every run measures the same mix of operation kinds. */
  def roundSize: Int = 1
  def setup(ctx: Ctx): Unit
  /** Untimed operations that let JIT and code generation settle; returns
    * their output-check failures. */
  def warmUp(ctx: Ctx): Seq[String]
  def op(ctx: Ctx, i: Int): Op
  def finish(ctx: Ctx): Seq[String] = Nil
  /** Traced runs only, after the timed phase: extra spans that split an
    * operation into its layers. */
  def decompose(ctx: Ctx): Unit = ()
  /** Context figures for the run record. */
  def facts: Map[String, Double]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "event_slicing" => new EventSlicing(basePulses = 256)
    case "similarity_search" => new SimilaritySearch(n = 2000, dim = 32, nProbes = 64)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Bytes of every file under `dir` except Hadoop's `.crc` sidecars. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum
      finally s.close()
    }

  def expectEq(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")
}

import Workloads.expectEq

/** A neutron-facility lakehouse and one analyst slicing it.
  *
  * Set-up lands a seeded set of run files through the whole ingest path
  * (`NexusH5.readRuns` -> `NexusH5.toRunBundle` -> the parquet layout of
  * `NexusPipeline.processAndWrite` and the Iceberg warehouse of
  * `NexusPipeline.processAndWriteIceberg`), then writes merge-on-read
  * equality deletes for the vetoed pulses of a seeded quarter of the runs.
  *
  * The timed loop is one client issuing a seeded sequence of slices, one
  * round of every operation kind at a time: the event-slicing CLI
  * (interval, by-bank, range) over the parquet layout, the same interval
  * slice in SQL over the registered Iceberg names, on a run without and
  * a run with deletes, a keyed SQL ASOF JOIN of events to a DAS log, and
  * a Kafka-shaped replay of one run into a file sink. Every query targets
  * a run of the largest pulse share, so each kind does the same work for
  * every seed. */
final class EventSlicing(basePulses: Int) extends Workload {
  // two passes over the kinds: the median of seven unlike operations
  // jumps between kinds under small timing changes, that of fourteen less
  override def roundSize: Int = 2 * Kinds.size
  override def kind(i: Int): String = Kinds(i % Kinds.size)
  private var runs: Seq[RunFile] = Nil
  private var inputBytes = 0L
  private var vetoes: Map[RunFile, Seq[Long]] = Map.empty
  private var parquetDir: Path = _
  private var warehouse: Path = _
  private var large: IndexedSeq[RunFile] = IndexedSeq.empty
  private var largeMor: RunFile = _
  private var plan: Random = _
  private var lastCliSlice: Option[(RunFile, Double, Seq[Map[String, String]])] = None
  private var landS = 0.0
  private var landIcebergS = 0.0

  val Kinds: IndexedSeq[String] = IndexedSeq(
    "cli_interval", "cli_by_bank", "cli_range", "sql_slice", "sql_slice_mor",
    "sql_asof", "replay")
  // multiples of 1/64 s, so a pulse never straddles an interval edge; at
  // most 64 intervals per queried run, inside the CLI's 100-row table
  val Widths: IndexedSeq[Double] = IndexedSeq(1.0, 2.0, 4.0)

  def setup(ctx: Ctx): Unit = {
    runs = Inputs.runBatches(ctx.seed, 2, basePulses).flatten
    val in = ctx.dir("runs")
    inputBytes = Inputs.writeRunFiles(in, runs)
    vetoes = Inputs.vetoedPulses(ctx.seed, runs)
    val top = runs.map(_.pulses).max
    large = runs.filter(f => f.pulses * 2 > top && !vetoes.contains(f)).sortBy(_.run).toIndexedSeq
    largeMor = vetoes.keys.maxBy(_.pulses)

    parquetDir = ctx.work.resolve("parquet")
    warehouse = ctx.work.resolve("warehouse")
    val t0 = System.nanoTime()
    val decoded = ctx.span("sources.hdf5_decode")(NexusH5.readRuns(ctx.spark, in.toString))
    val bundle = ctx.span("etl.bundle")(NexusH5.toRunBundle(decoded))
    ctx.span("etl.land_parquet")(
      NexusPipeline.processAndWrite(ctx.spark, bundle, parquetDir.toString))
    val t1 = System.nanoTime()
    ctx.span("etl.land_iceberg")(
      NexusPipeline.processAndWriteIceberg(ctx.spark, bundle, warehouse.toString))
    landIcebergS = (System.nanoTime() - t1) / 1e9
    landS = (System.nanoTime() - t0) / 1e9
    import ctx.spark.implicits._
    val keys = vetoes.toSeq.flatMap { case (f, ps) => ps.map(p => (f.runId, p)) }
      .toDF("run_id", "pulse_index")
    ctx.span("sources.iceberg_delete")(
      IcebergLite.equalityDeleteMOR(ctx.spark, warehouse.resolve("events").toString, keys))
    graft.Catalog.registerIcebergWarehouse(ctx.spark, warehouse.toString)
    plan = new Random(ctx.seed ^ 0x51ceL)
  }

  def warmUp(ctx: Ctx): Seq[String] = Kinds.indices.flatMap(i => op(ctx, i).check())

  private def vetoed(f: RunFile): Set[Long] = vetoes.getOrElse(f, Nil).toSet

  private def liveEvents(f: RunFile): Long =
    f.events - Inputs.EventsPerPulse * vetoed(f).size

  /** Live events per interval of `width` seconds: pulse p sits at p/64 s
    * and its events' offsets are below one pulse period, so every event
    * of pulse p lands in interval floor(p / (64 width)). */
  private def intervalCounts(f: RunFile, width: Double): Map[Long, Long] = {
    val v = vetoed(f)
    (0 until f.pulses).filterNot(p => v.contains(p.toLong))
      .groupBy(p => math.floor(p / (64 * width)).toLong)
      .map { case (k, ps) => k -> Inputs.EventsPerPulse.toLong * ps.size }
  }

  /** Run the CLI and return the rows of the table it prints, by column
    * name. Its stdout is captured: the process's stdout carries the
    * benchmark's result line. */
  private def cli(ctx: Ctx, args: String*): Seq[Map[String, String]] = {
    val buf = new java.io.ByteArrayOutputStream()
    ctx.span("cli.event_slice")(Console.withOut(buf) {
      graft.cli.EventSliceCli.main(
        (Seq("--parquet-dir", parquetDir.toString) ++ args).toArray)
    })
    val rows = buf.toString("UTF-8").linesIterator.filter(_.startsWith("|"))
      .map(_.split('|').drop(1).map(_.trim).toSeq).toSeq
    rows.drop(1).map(r => rows.head.zip(r).toMap)
  }

  private def sliceSql(f: RunFile, width: Double): String =
    s"""SELECT CAST(floor((pulse_time + time_offset / 1e6) / $width) AS BIGINT) AS interval,
       |       count(*) AS event_count,
       |       min(pulse_time + time_offset / 1e6) AS min_time,
       |       max(pulse_time + time_offset / 1e6) AS max_time,
       |       count(DISTINCT bank) AS n_banks,
       |       count(DISTINCT pulse_index) AS n_pulses
       |FROM events
       |WHERE run_id = '${f.runId}'
       |  AND NOT (lower(bank) LIKE '%error%' OR lower(bank) LIKE '%unmapped%')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def counts(rows: Seq[Map[String, String]]): Map[Long, Long] =
    rows.map(r => r("interval").toLong -> r("event_count").toLong).toMap

  def op(ctx: Ctx, i: Int): Op = {
    val spark = ctx.spark
    val f = large(plan.nextInt(large.size))
    val width = Widths(plan.nextInt(Widths.size))
    Kinds(i % Kinds.size) match {
      case "cli_interval" =>
        val rows = cli(ctx, "--run-id", f.runId, "--interval", width.toString)
        lastCliSlice = Some((f, width, rows))
        Op(1, () => expectEq(s"cli interval ${f.runId} w=$width", counts(rows),
          intervalCounts(f, width)))
      case "cli_by_bank" =>
        // four banks a row each: 4x wider intervals keep the table in 100 rows
        val rows = cli(ctx, "--run-id", f.runId, "--interval", (4 * width).toString, "--by-bank")
        Op(1, () => expectEq(s"cli by-bank ${f.runId} events",
          rows.map(_("event_count").toLong).sum, f.events) ++
          expectEq(s"cli by-bank ${f.runId} banks", rows.map(_("bank")).toSet.size, 4))
      case "cli_range" =>
        // half-pulse bounds: exactly the events of pulses p0+1 .. p1
        val p0 = plan.nextInt(f.pulses / 2)
        val p1 = p0 + f.pulses / 4
        val rows = cli(ctx, "--run-id", f.runId,
          "--start", ((p0 + 0.5) / 64).toString, "--end", ((p1 + 0.5) / 64).toString)
        Op(1, () => expectEq(s"cli range ${f.runId} events",
          rows.map(_("event_count").toLong), Seq(Inputs.EventsPerPulse.toLong * (p1 - p0))))
      case "sql_slice" =>
        val rows = ctx.span("sql.slice")(spark.sql(sliceSql(f, width)).collect())
        Op(1, () => expectEq(s"sql slice ${f.runId} w=$width",
          rows.map(r => r.getLong(0) -> r.getLong(1)).toMap, intervalCounts(f, width)))
      case "sql_slice_mor" =>
        val g = largeMor
        val rows = ctx.span("sql.slice_mor")(spark.sql(sliceSql(g, width)).collect())
        Op(1, () => expectEq(s"sql slice with deletes ${g.runId} w=$width",
          rows.map(r => r.getLong(0) -> r.getLong(1)).toMap, intervalCounts(g, width)))
      case "sql_asof" =>
        // on the delete-carrying run: deletes must apply under the join too
        val g = largeMor
        val row = ctx.span("sql.asof")(spark.sql(
          s"""SELECT count(*) AS n, count(v) AS matched, CAST(sum(v) AS BIGINT) AS total
             |FROM (SELECT run_id, CAST((pulse_time + time_offset / 1e6) * 1e6 AS BIGINT) AS t
             |      FROM events WHERE run_id = '${g.runId}') e
             |ASOF JOIN (SELECT run_id, CAST(time * 1e6 AS BIGINT) AS rt, value_numeric AS v
             |           FROM daslogs WHERE run_id = '${g.runId}' AND log_name = 'Speed1') l
             |  MATCH_CONDITION (t >= rt) USING (run_id) WITHIN 1000000""".stripMargin)
          .head())
        Op(1, () => {
          // Speed1 logs 100 + (j mod 7) at j/4 s for j < 16, so pulse p
          // (at p/64 s) reads point min(15, p / 16)
          val v = vetoed(g)
          val want = (0 until g.pulses).filterNot(p => v.contains(p.toLong))
            .map(p => Inputs.EventsPerPulse.toLong * (100 + math.min(15, p / 16) % 7)).sum
          expectEq(s"asof ${g.runId} rows", row.getLong(0), liveEvents(g)) ++
            expectEq(s"asof ${g.runId} matched", row.getLong(1), liveEvents(g)) ++
            expectEq(s"asof ${g.runId} value sum", row.getLong(2), want)
        })
      case "replay" =>
        val sink = ctx.work.resolve("replay-sink").toString
        ctx.span("streaming.replay")(
          graft.streaming.Replay.kafkaShape(
            spark.table("events").filter(col("run_id") === f.runId), "run_id", ctx.cores)
            .write.mode("overwrite").json(sink))
        Op(1, () => expectEq(s"replay ${f.runId} records",
          spark.read.text(sink).count(), f.events))
    }
  }

  override def finish(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    // the landing: row counts per table follow the NexusFixtures formulas
    val n = runs.size.toLong
    val want = Map(
      "experiment_runs" -> n, "sample" -> n, "instrument" -> n, "software" -> n,
      "users" -> runs.map(_.users.toLong).sum,
      // proton_charge logs one point per pulse; Speed1, Veto_pulse,
      // ChopperStatus and FlowRate add 16 + 8 + 3 + 12
      "daslogs" -> runs.map(_.pulses + 39L).sum,
      "events" -> runs.map(liveEvents).sum,
      "event_summary" -> 4 * n)
    val got = spark.sql(want.keys.map(t => s"SELECT '$t' AS t, count(*) AS n FROM $t")
      .mkString(" UNION ALL ")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val landed = want.keys.toSeq.sorted.flatMap(t => expectEq(s"$t rows", got(t), want(t)))
    val nullPulse = spark.table("events").filter(col("pulse_time").isNull).count()
    // the SQL route agrees with the last CLI interval slice (same run,
    // same width, no deletes)
    val agree = lastCliSlice.toSeq.flatMap { case (f, width, rows) =>
      val viaCli = rows.map(r =>
        Seq("interval", "event_count", "n_banks", "n_pulses").map(r(_).toLong))
      val viaSql = spark.sql(sliceSql(f, width)).collect()
        .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))).toSeq
      expectEq(s"sql slice = cli slice for ${f.runId} w=$width", viaSql, viaCli)
    }
    landed ++ expectEq("events with null pulse_time", nullPulse, 0L) ++ agree
  }

  override def decompose(ctx: Ctx): Unit = ctx.tracer.foreach { t =>
    val (kept, total) = IcebergLite.scanFileCount(ctx.spark,
      warehouse.resolve("events").toString,
      Seq(IcebergLite.EqTo("run_number", large.head.runNumber)))
    t.extra("sources.iceberg_scan.files_scanned_frac", kept.toDouble / math.max(1, total))
  }

  def facts: Map[String, Double] = Map(
    "runs" -> runs.size.toDouble,
    "lakehouse_events" -> runs.map(_.events).sum.toDouble,
    "deleted_events" -> vetoes.keys.map(f => (f.events - liveEvents(f)).toDouble).sum,
    "queried_run_events" -> large.head.events.toDouble,
    "input_bytes" -> inputBytes.toDouble,
    // first landing in a fresh JVM, so class loading and JIT included
    "land_s" -> landS,
    "land_iceberg_s" -> landIcebergS,
    "ingest_events_per_s" -> runs.map(_.events).sum / landS,
    "stored_bytes_per_input_byte" -> Workloads.treeBytes(warehouse).toDouble / math.max(1L, inputBytes))
}

/** IVF-PQ top-k search with exact rerank over seeded clustered
  * embeddings; brute-force ground truth and the index are built during
  * set-up. */
final class SimilaritySearch(n: Int, dim: Int, nProbes: Int) extends Workload {
  // a search takes about two seconds: twelve a run, so one slow search
  // moves neither the median nor the rate much
  override def roundSize: Int = 12
  val K = 10
  val M = 2
  val KSub = 16
  val NLists = 16
  val NProbe = 4
  val Shortlist = 40
  private var corpus: DataFrame = _
  private var probes: DataFrame = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var codebooks: DataFrame = _
  private var routing: (DataFrame, DataFrame) = _
  private var buildS = 0.0
  private var recalls = mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Unit = {
    // 16 centres per IVF list: see Inputs.embeddings
    val e = Inputs.embeddings(ctx.seed, n, dim, clusters = 16 * NLists, nProbes = nProbes)
    import ctx.spark.implicits._
    val path = ctx.work.resolve("embeddings").toString
    e.vectors.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(path)
    corpus = ctx.spark.read.parquet(path)
    probes = corpus.filter(col("vec_id").isin(e.probeIds: _*)).localCheckpoint()
    truth = graft.ann.Similarity.bruteForceTopK(corpus, probes, "vec_id", "embedding", k = K)
      .select("probe_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val t0 = System.nanoTime()
    codebooks = ctx.span("ann.train")(graft.ann.Pq.pqCodebooksKmeans(
      corpus, "vec_id", "embedding", m = M, kSub = KSub, dim = dim).localCheckpoint())
    routing = ctx.span("ann.route")(graft.ann.Pq.ivfPqRouting(
      corpus, probes, "vec_id", "embedding", nLists = NLists, nProbe = NProbe))
    buildS = (System.nanoTime() - t0) / 1e9
  }

  // searches run slower until about the fourth in a JVM (JIT, code
  // generation), so four untimed ones keep that out of the timed loop
  def warmUp(ctx: Ctx): Seq[String] = (1 to 4).flatMap(_ => op(ctx, -1).check())

  def op(ctx: Ctx, i: Int): Op = {
    val adc = ctx.span("ann.adc")(graft.ann.Pq.ivfPqTopKLearned(corpus, probes,
      "vec_id", "embedding", k = Shortlist, m = M, kSub = KSub, dim = dim,
      nLists = NLists, nProbe = NProbe, codebooks0 = Some(codebooks),
      routing0 = Some(routing)).localCheckpoint())
    val top = ctx.span("ann.rerank")(graft.ann.Pq.rerankExact(adc, corpus, probes,
      "vec_id", "embedding", k = K).select("probe_id", "neighbor_id").collect())
    Op(nProbes.toLong, () => {
      val got = top.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      val hits = got.map { case (p, ns) => (ns & truth.getOrElse(p, Set.empty)).size }.sum
      val recall = hits.toDouble / (K * nProbes)
      recalls += recall
      expectEq("probes answered", got.size, nProbes) ++
        got.collect { case (p, ns) if ns.size != K => s"probe $p: ${ns.size} neighbours, want $K" } ++
        expectEq("recall@10 equal across searches", recall, recalls.head)
    })
  }

  override def decompose(ctx: Ctx): Unit = ctx.tracer.foreach { t =>
    val scanned = routing._2.join(routing._1, Seq("centroid_id")).count()
    t.extra("ann.adc.scanned_rows_per_probe", scanned.toDouble / nProbes)
  }

  def facts: Map[String, Double] = Map(
    "index_build_s" -> buildS,
    "recall_at_10" -> recalls.headOption.getOrElse(Double.NaN),
    "vectors" -> n.toDouble, "dim" -> dim.toDouble)
}
