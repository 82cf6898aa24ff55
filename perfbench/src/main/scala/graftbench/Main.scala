package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, setups: Int, warmupPasses: Int, out: String)

/** One timed operation of a client. */
final case class OpRecord(client: Int, kind: String, name: String, id: Long,
    ms: Double, ok: Boolean, rows: Long, retries: Int)

/** State shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
    val listener: Option[OpListener], val store: Option[CountingStore]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val records = new ConcurrentLinkedQueue[OpRecord]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val nextOp = new AtomicLong(0L)
  @volatile var recording = false

  def trace: Boolean = tracer.on

  def fail(what: String): Unit = {
    failures.add(what)
    System.err.println(s"[perfbench] FAILED $what")
  }
  def failureList: Seq[String] = failures.asScala.toSeq

  /** Commit attempts repeated after losing a conflict, in the window. */
  val conflictRetries = new AtomicLong(0L)

  /** Runs one client op, timing it and attributing its Spark jobs to it. An
    * exception fails the op; `body` returns false for a wrong answer. A
    * writer op (`retries` > 0) is repeated when it loses an optimistic
    * conflict, as any client of the table does; the retries count in its
    * time. */
  def op(client: Int, kind: String, name: String, retries: Int = 0)(
      body: => (Boolean, Long)): Boolean = {
    val id = nextOp.incrementAndGet()
    val sc = spark.sparkContext
    if (trace) { tracer.setOp(id); sc.setLocalProperty(OpListener.Key, id.toString) }
    val t0 = System.nanoTime()
    var tries = 0
    def attempt(left: Int): (Boolean, Long) =
      try tracer.span(kind)(body)
      catch {
        case NonFatal(e) if left > 0 && Ctx.isConflict(e) =>
          tries += 1
          if (recording) conflictRetries.incrementAndGet()
          attempt(left - 1)
        case NonFatal(e) =>
          if (failures.size < 5) e.printStackTrace()
          fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          (false, 0L)
      }
    val (ok, rows) = attempt(retries)
    val ms = (System.nanoTime() - t0) / 1e6
    if (trace) { sc.setLocalProperty(OpListener.Key, null); tracer.setOp(0L) }
    if (recording) records.add(OpRecord(client, kind, name, id, ms, ok, rows, tries))
    ok
  }

  /** A query op split into build (constructing the DataFrame, including
    * any eager work the operator does), plan (physical planning) and exec
    * (running it and returning the rows to the driver). */
  def query(client: Int, kind: String, name: String)(build: => DataFrame)(
      check: (DataFrame, Array[Row]) => Boolean): Boolean =
    op(client, kind, name) {
      val df = tracer.span("op.build")(build)
      tracer.span("op.plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("op.exec")(df.collect())
      (check(df, rows), rows.length.toLong)
    }

  def windowRecords: Seq[OpRecord] = records.asScala.toSeq
}

object Ctx {
  def isConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[graft.meta.GraftConcurrentModificationException])
}

/** A workload: its set-up (timed as `setup_s`), an untimed warm-up, the
  * measured window of whole passes, and the checks that follow. */
trait Workload {
  /** Untimed work before the timed set-ups. */
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  def warmup(): Unit
  /** Runs passes until the deadline; returns each pass's seconds. */
  def window(deadlineNs: Long): Seq[Double]
  /** Checks made after the window, each counted as one attempted op. */
  def finalChecks(): Seq[(String, Boolean)] = Nil
  /** Metrics only this workload has, printed with the end-to-end ones. */
  def extraMetrics: Map[String, (Double, String)] = Map.empty
  /** Per-layer metrics only this workload measures (traced runs). */
  def layerMetrics(passes: Seq[Double]): Map[String, Double] = Map.empty
  /** Results to compare with the DuckDB oracle: name -> fingerprint counts. */
  def oracleResults: Map[String, Map[String, Int]] = Map.empty
  /** Rows of pair results for `run.py` to re-check, name -> file. */
  def pairFiles: Map[String, String] = Map.empty
}

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m.getOrElse("setups", "3").toInt,
      m.getOrElse("warmup-passes", "1").toInt, m("out"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.rules.GraftSparkSessionExtension")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val listener = if (args.trace) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val store = if (args.trace) Some(new CountingStore) else None
    store.foreach(graft.meta.SnapshotManagement.setStore)
    val ctx = new Ctx(spark, args, new Tracer(args.trace), listener, store)

    val wl: Workload = args.workload match {
      case "read_mix" => new ReadMix(ctx)
      case "write_stream" => new WriteStream(ctx)
      case "curate_llm" => new CurateLlm(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    wl.prepare()
    val setups = (1 to args.setups).map { i =>
      val t0 = System.nanoTime()
      wl.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] setup seconds: ${setups.mkString(", ")}")
    wl.warmup()

    listener.foreach { l => l.drain(); l.reset() }
    store.foreach(_.reset())
    ctx.tracer.clear()
    Heap.reset()
    ctx.recording = true
    val w0 = System.nanoTime()
    val passes = wl.window(w0 + (args.seconds * 1e9).toLong)
    val wallS = (System.nanoTime() - w0) / 1e9
    ctx.recording = false
    listener.foreach(_.drain())

    val recs = ctx.windowRecords
    val layers =
      if (args.trace) layerMetrics(ctx, wl, recs, passes, wallS) else Map.empty
    val checks = wl.finalChecks()
    val extra = wl.extraMetrics
    checks.filterNot(_._2).foreach(c => ctx.fail(s"final check ${c._1}"))
    val attempted = recs.size + checks.size
    val failed = recs.count(!_.ok) + checks.count(!_._2)

    val e2e = Map(
      "setup_s" -> (median(setups), "s"),
      "pass_s" -> (median(passes), "s"),
      "op_p50_ms" -> (pct(recs.map(_.ms), 0.5), "ms"),
      "op_p90_ms" -> (pct(recs.map(_.ms), 0.9), "ms"))
    val out = Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> ctx.cores,
      "setup_runs_s" -> setups, "passes_s" -> passes, "window_s" -> wallS,
      "attempted" -> attempted, "failed" -> failed,
      "conflict_retries" -> ctx.conflictRetries.get,
      "ops_retried" -> recs.count(_.retries > 0),
      "failures" -> ctx.failureList.take(50),
      "metrics" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "extra" -> extra.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> scala.collection.immutable.TreeMap(
        (if (args.trace) layers ++ extra.map { case (k, (v, _)) => k -> v } else Map.empty)
          .toSeq: _*),
      "ops" -> recs.groupBy(_.name).map { case (n, rs) =>
        n -> Map("n" -> rs.size, "median_ms" -> median(rs.map(_.ms))) },
      "oracle" -> wl.oracleResults,
      "oracle_sql" -> wl.oracleResults.keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap,
      "pairs" -> wl.pairFiles)
    if (args.trace) ctx.tracer.write(Paths.get(s"${args.work}/spans.jsonl"))
    Files.writeString(Paths.get(args.out),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
    spark.stop()
  }

  /** Per-layer metrics every workload reports, plus the workload's own. */
  private def layerMetrics(ctx: Ctx, wl: Workload, recs: Seq[OpRecord],
      passes: Seq[Double], wallS: Double): Map[String, Double] = {
    val n = math.max(1, recs.size).toDouble
    val work = ctx.listener.get.ops
    val mine = recs.flatMap(r => work.get(r.id))
    def sum(f: SparkWork => AtomicLong): Double = mine.map(w => f(w).get.toDouble).sum
    val st = ctx.store.get
    val spans = ctx.tracer
    def spanS(name: String): Double = spans.named(name).map(_.ms).sum / 1000.0
    val rowsOut = recs.map(_.rows).sum.toDouble
    val replays = st.checkpointReads.n.get.toDouble
    val commits = st.commitsWon.get.toDouble
    val floorMs = jobFloorMs(ctx.spark)
    val jobs = sum(_.jobs)
    Map(
      "spark.jobs_per_op" -> jobs / n,
      "spark.task_s_per_op" -> sum(_.taskMs) / 1000.0 / n,
      "spark.core_busy_frac" -> sum(_.taskMs) / 1000.0 / (wallS * ctx.cores),
      "spark.shuffle_write_mb_per_op" -> sum(_.shuffleWrite) / 1048576.0 / n,
      "spark.spill_mb" -> sum(_.spill) / 1048576.0 / math.max(1, passes.size),
      "spark.job_floor_ms" -> floorMs,
      "op.build_s" -> spanS("op.build") / n,
      "op.plan_s" -> spanS("op.plan") / n,
      "op.exec_s" -> spanS("op.exec") / n,
      "attr.floor_frac" -> jobs * floorMs / 1000.0 / recs.map(_.ms / 1000.0).sum,
      "meta.list_calls_per_op" -> (st.latest.n.get + replays) / n,
      "meta.cas_attempts_per_commit" ->
        (if (commits == 0) 0.0 else st.commits.n.get / commits),
      "meta.cas_lost_frac" ->
        (if (st.commits.n.get == 0) 0.0 else st.casLost.get.toDouble / st.commits.n.get),
      "write.files_added_per_commit" ->
        (if (commits == 0) 0.0 else st.filesAdded.get / commits),
      "write.bytes_added_per_commit" ->
        (if (commits == 0) 0.0 else st.bytesAdded.get / commits),
      "sources.rows_read_per_row_returned" ->
        (if (rowsOut == 0) 0.0 else sum(_.inputRecords) / rowsOut),
      "llm.checkpoint_mb_peak" -> ctx.listener.get.blockPeak.get / 1048576.0,
      "jvm.heap_peak_mb" -> Heap.peakMb,
      "trace.pass_s" -> median(passes)
    ) ++ wl.layerMetrics(passes)
  }

  /** Median wall time of a trivial one-task-per-core job: the fixed cost
    * every Spark job pays whatever it computes. */
  private def jobFloorMs(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val times = (1 to 15).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(1 to sc.defaultParallelism, sc.defaultParallelism).count()
      (System.nanoTime() - t0) / 1e6
    }
    median(times.drop(5))
  }

  /** Input bytes of the given ops (traced runs). */
  def inputBytes(ctx: Ctx, recs: Seq[OpRecord]): Double = {
    val work = ctx.listener.get.ops
    recs.flatMap(r => work.get(r.id)).map(_.inputBytes.get.toDouble).sum
  }

  /** Counts result fingerprints per query name. */
  final class Fingerprints {
    private val m = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentHashMap[String, AtomicLong]]()
    def add(name: String, df: DataFrame, rows: Array[Row]): String = {
      val cols = df.schema.fieldNames.toSeq
      val fp = Canon.fingerprint(cols, rows)
      m.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentHashMap())
        .computeIfAbsent(fp, _ => new AtomicLong(0L)).incrementAndGet()
      fp
    }
    def toMap: Map[String, Map[String, Int]] = m.asScala.map { case (k, v) =>
      k -> v.asScala.map { case (fp, c) => fp -> c.get.toInt }.toMap }.toMap
  }

  /** Writes a result as JSON lines: the column names, then one array of
    * values per row. */
  def writeRows(path: String, cols: Seq[String], rows: Array[Row]): Unit = {
    implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
    val body = rows.toSeq.map(r => org.json4s.jackson.Serialization.write(r.toSeq.map {
      case x: java.lang.Number => x
      case x => String.valueOf(x)
    }))
    Files.write(Paths.get(path),
      (org.json4s.jackson.Serialization.write(cols) +: body).asJava)
  }
}
