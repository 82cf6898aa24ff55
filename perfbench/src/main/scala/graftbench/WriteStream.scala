package graftbench

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.meta.SnapshotManagement
import graft.mv.{MaterializedViews, RewriteQueryByMaterialView}
import graft.tables.{ChangeFeed, GraftTable}

/** `write_stream`: the orders data as a 16-bucket primary-key table with an
  * aggregate materialized view and a cloned replica, driven by two
  * closed-loop clients.
  *
  * Client 0 runs passes of `CommitsPerPass` small commits, equally many of
  * upsert, update, delete, MERGE INTO and applyChanges in a seeded order,
  * each over `RowsPerCommit` seeded keys, and follows every commit with a
  * read-your-writes lookup of those keys. Every `MaintenanceEvery` commits
  * it refreshes the view, runs an aggregate over the base table that the
  * view can answer, reads the change feed since its last read and drains
  * the replica (`replicateTo` with an available-now trigger); each pass ends
  * with a compaction. Client 1 commits one small append to the same table for
  * each commit of client 0, concurrently with client 0's next steps: an
  * upsert of fresh keys, since a primary-key table takes new rows through
  * upsert. Tying its pace to client 0's keeps the work of every pass the
  * same while the two still race for the log.
  *
  * The expected table is kept by replaying the same change list on plain
  * Scala collections; every lookup, the view-answerable aggregate, every
  * change-feed window (replayed onto the contents at the previous read) and
  * the final table are compared with it, the replica with the table, and
  * the view with its own recompute. */
final class WriteStream(ctx: Ctx) extends Workload {
  import WriteStream._

  private val spark = ctx.spark
  private var dir, mvDir, replicaDir, ckptDir: String = _
  private lazy val baseRows: Map[Long, Row] =
    spark.read.parquet(s"${ctx.args.data}/orders.parquet").collect()
      .map(r => r.getLong(0) -> r).toMap
  private lazy val schema: StructType =
    spark.read.parquet(s"${ctx.args.data}/orders.parquet").schema
  private lazy val baseKeys: Array[Long] = baseRows.keys.toArray.sorted
  /** Expected rows written by client 0 (starts as the base table). */
  private val model = mutable.HashMap.empty[Long, Row]
  /** Rows appended by client 1. */
  private val appended = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
  private var nextInsertKey = 1000000000L
  private var lastCdfVersion = 0L
  /** Table contents at `lastCdfVersion`, by order key. */
  private var cdfBase: Map[Long, Row] = Map.empty
  private var refreshes, rewriteChecks, rewriteHits = 0
  /** One append of client 1 per commit of client 0. */
  private val turns = new Semaphore(0)
  @volatile private var appending = false
  private var appendsIssued = 0
  private val appendsDone = new java.util.concurrent.atomic.AtomicInteger(0)
  private val deltaPerBucket = mutable.ArrayBuffer.empty[Double]

  private def table = GraftTable.forPath(spark, dir)

  def setup(rep: Int): Unit = {
    val root = s"${ctx.args.work}/tables/write_stream_$rep"
    dir = s"$root/orders"
    mvDir = s"$root/orders_by_priority"
    replicaDir = s"$root/orders_replica"
    ckptDir = s"$root/replica_checkpoint"
    spark.read.parquet(s"${ctx.args.data}/orders.parquet").write.format("graft")
      .option("hashPartitions", "o_orderkey").option("hashBucketNum", "16")
      .save(dir)
    MaterializedViews.create(spark, mvDir, mvSql(dir),
      Map("hashPartitions" -> "o_orderpriority", "hashBucketNum" -> "1"))
    table.cloneTo(replicaDir)
  }

  def warmup(): Unit = {
    model.clear()
    model ++= baseRows
    lastCdfVersion = SnapshotManagement.store.latestVersion(SnapshotManagement.normalize(dir))
    cdfBase = contents
    // untimed: warms every code path the window uses
    val rng = new Random(ctx.args.seed * 7919L - 1)
    (1 to ctx.args.warmupPasses).foreach { _ =>
      Kinds.zipWithIndex.foreach { case (k, i) =>
        commitAndLookup(rng, k, maintain = i == Kinds.size - 1)
      }
      table.compaction()
    }
  }

  def window(deadlineNs: Long): Seq[Double] = {
    val stop = new AtomicBoolean(false)
    val appender = new Thread(() => {
      val rng = new Random(ctx.args.seed * 7919L + 1)
      var key = 2000000000L
      while (!stop.get || turns.availablePermits > 0) {
        if (turns.tryAcquire(20, TimeUnit.MILLISECONDS)) {
          val rows = (0 until RowsPerCommit).map { i =>
            val b = baseRows(baseKeys(rng.nextInt(baseKeys.length)))
            Row(key + i, b.get(1), "N", price(rng), b.get(4), b.get(5))
          }
          key += RowsPerCommit
          ctx.op(1, "append", "append", Retries) {
            val df = ctx.tracer.span("op.build")(frame(rows))
            ctx.tracer.span("op.exec")(table.upsert(df))
            rows.foreach(appended.add)
            (true, 0L)
          }
          appendsDone.incrementAndGet()
        }
      }
    }, "perfbench-appender")
    appender.start()
    appending = true
    val passes = Seq.newBuilder[Double]
    val rng = new Random(ctx.args.seed * 7919L)
    var pass = 0
    try {
      while (pass == 0 || System.nanoTime() < deadlineNs) {
        val t0 = System.nanoTime()
        passKinds(rng).zipWithIndex.foreach { case (k, i) =>
          commitAndLookup(rng, k, maintain = (i + 1) % MaintenanceEvery == 0)
        }
        // client 1 is idle here too, so the sizes are of the same commits
        val before = SnapshotManagement.snapshot(dir).sizeInBytes.toDouble
        ctx.op(0, "compaction", "compaction", Retries) {
          ctx.tracer.span("op.exec")(table.compaction()); (true, 0L)
        }
        spaceAmp = before / SnapshotManagement.snapshot(dir).sizeInBytes
        passes += (System.nanoTime() - t0) / 1e9
        pass += 1
      }
    } finally {
      appending = false
      stop.set(true)
      appender.join()
    }
    passes.result()
  }

  /** Every pass commits each kind equally often, in a seeded order. */
  private def passKinds(rng: Random): Seq[String] =
    rng.shuffle(Seq.fill(CommitsPerPass / Kinds.size)(Kinds).flatten)

  private def commitAndLookup(rng: Random, kind: String, maintain: Boolean): Unit = {
    val keys = pickKeys(rng)
    // a retried commit draws the same values again
    val valueSeed = rng.nextLong()
    val committed = ctx.op(0, kind, kind, Retries)(commit(kind, keys, new Random(valueSeed)))
    if (appending) { appendsIssued += 1; turns.release() }
    if (committed) lookup(keys)
    if (maintain) {
      // maintenance starts once client 1's append for the last commit has
      // landed, so every refresh and change-feed window covers the same
      // commits and the rewrite sees a fresh view
      while (appending && appendsDone.get < appendsIssued) Thread.sleep(2)
      ctx.op(0, "refresh", "refresh", Retries) {
        val stale = ctx.tracer.span("op.exec")(
          GraftTable.forPath(spark, mvDir).updateMaterialView())
        if (stale && ctx.recording) refreshes += 1
        (true, 0L)
      }
      ctx.op(0, "rewrite", "rewrite") {
        val df = ctx.tracer.span("op.build")(spark.sql(rewriteSql(dir)))
        ctx.tracer.span("op.plan")(df.queryExecution.executedPlan)
        val rows = ctx.tracer.span("op.exec")(df.collect())
        if (ctx.trace && ctx.recording) {
          rewriteChecks += 1
          if (ReadMix.readsView(df)) rewriteHits += 1
        }
        // client 1 is idle until client 0's next commit, so the count is exact
        val total = rows.map(_.getLong(1)).sum
        val ok = rows.length == Priorities && total == model.size + appended.size
        if (!ok) ctx.fail(s"view-answerable count: got $total in ${rows.length} groups")
        (ok, rows.length.toLong)
      }
      ctx.op(0, "cdf", "cdf") {
        val latest = SnapshotManagement.store.latestVersion(SnapshotManagement.normalize(dir))
        val df = ctx.tracer.span("op.build")(table.changes(lastCdfVersion + 1, latest))
        ctx.tracer.span("op.plan")(df.queryExecution.executedPlan)
        val rows = ctx.tracer.span("op.exec")(df.collect())
        // replaying the window onto the contents at the last read must give
        // the contents now
        val now = contents
        val ok = replay(cdfBase, rows).contains(now)
        if (!ok) ctx.fail(s"change feed of versions ${lastCdfVersion + 1} to $latest")
        lastCdfVersion = latest
        cdfBase = now
        (ok, rows.length.toLong)
      }
      ctx.op(0, "drain", "drain", Retries) { ctx.tracer.span("op.exec")(drain()); (true, 0L) }
    }
  }

  /** The modelled table: client 0's rows and client 1's appends. */
  private def contents: Map[Long, Row] =
    model.toMap ++ appended.asScala.map(r => r.getLong(0) -> r)

  /** Applies a change-feed window, version by version, to the contents it
    * started from; None when a deleted row or pre-image is not the row the
    * contents hold. */
  private def replay(start: Map[Long, Row], changes: Array[Row]): Option[Map[Long, Row]] = {
    val fields = schema.fieldNames.toSeq
    var state = start
    var consistent = true
    changes.groupBy(_.getAs[Long](ChangeFeed.COMMIT_VERSION)).toSeq.sortBy(_._1).foreach {
      case (_, rs) =>
        val (gone, set) = rs.partition(r =>
          Set("delete", "update_preimage")(r.getAs[String](ChangeFeed.CHANGE_TYPE)))
        gone.map(r => Row.fromSeq(fields.map(r.getAs[Any]))).foreach { row =>
          consistent &&= state.get(row.getLong(0)).contains(row)
          state -= row.getLong(0)
        }
        set.map(r => Row.fromSeq(fields.map(r.getAs[Any])))
          .foreach(row => state += row.getLong(0) -> row)
    }
    if (consistent) Some(state) else None
  }

  private def drain(): Unit =
    table.replicateTo(replicaDir, ckptDir, Trigger.AvailableNow(),
      selfHealSchemaEvolution = false).awaitTermination()

  private def pickKeys(rng: Random): Seq[Long] =
    Iterator.continually(baseKeys(rng.nextInt(baseKeys.length))).distinct
      .take(RowsPerCommit).toSeq

  private def price(rng: Random): Double = math.round(rng.nextDouble() * 1e7) / 100.0

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def withValues(r: Row, status: String, p: Double): Row =
    Row(r.get(0), r.get(1), status, p, r.get(4), r.get(5))

  /** Runs one client-0 commit and applies the same change to the model. */
  private def commit(kind: String, keys: Seq[Long], rng: Random): (Boolean, Long) = {
    val t = table
    val p = price(rng)
    val keyIn = col("o_orderkey").isin(keys: _*)
    kind match {
      case "upsert" =>
        val rows = keys.map(k => withValues(baseRows(k), "U", price(rng)))
        ctx.tracer.span("op.exec")(t.upsert(ctx.tracer.span("op.build")(frame(rows))))
        rows.foreach(r => model(r.getLong(0)) = r)
      case "update" =>
        ctx.tracer.span("op.exec")(
          t.update(keyIn, Map("o_totalprice" -> lit(p), "o_orderstatus" -> lit("V"))))
        keys.foreach(k => model.get(k).foreach(r => model(k) = withValues(r, "V", p)))
      case "delete" =>
        ctx.tracer.span("op.exec")(t.delete(keyIn))
        model --= keys
      case "merge" =>
        val fresh = keys.take(RowsPerCommit / 2).zipWithIndex.map { case (k, i) =>
          Row(nextInsertKey + 1 + i, baseRows(k).get(1), "M", price(rng),
            baseRows(k).get(4), baseRows(k).get(5))
        }
        val rows = keys.drop(RowsPerCommit / 2).map(k =>
          withValues(baseRows(k), "M", price(rng))) ++ fresh
        ctx.tracer.span("op.build")(frame(rows)).createOrReplaceTempView("perfbench_merge_src")
        ctx.tracer.span("op.exec")(spark.sql(
          s"""MERGE INTO graft.`$dir` t USING perfbench_merge_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice,
             |  o_orderstatus = s.o_orderstatus
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        rows.foreach { r =>
          val k = r.getLong(0)
          model(k) = model.get(k).map(m => withValues(m, "M", r.getDouble(3))).getOrElse(r)
        }
        nextInsertKey += fresh.size
      case "apply" =>
        val (dels, ups) = keys.splitAt(RowsPerCommit / 2)
        val upRows = ups.map(k => withValues(baseRows(k), "A", price(rng)))
        val batch = ctx.tracer.span("op.build") {
          frame(upRows).withColumn("op", lit("u")).unionByName(
            frame(dels.map(baseRows)).withColumn("op", lit("d")))
            .withColumn("seq", lit(1L))
        }
        ctx.tracer.span("op.exec")(t.applyChanges(batch, "op", Seq("seq")))
        upRows.foreach(r => model(r.getLong(0)) = r)
        model --= dels
    }
    (true, 0L)
  }

  /** Read-your-writes: the keys just written must read back as modelled. */
  private def lookup(keys: Seq[Long]): Unit = ctx.op(0, "lookup", "lookup") {
    if (ctx.trace && ctx.recording) {
      val s = ctx.tracer.span("meta.snapshot")(SnapshotManagement.snapshot(dir))
      deltaPerBucket += s.files.count(!_.isBase).toDouble / s.tableInfo.bucketNum
    }
    val df = ctx.tracer.span("op.build")(
      table.toDF.filter(col("o_orderkey").isin(keys: _*)))
    ctx.tracer.span("op.plan")(df.queryExecution.executedPlan)
    val rows = ctx.tracer.span("op.exec")(df.collect())
    val got = rows.map(r => r.getLong(0) -> r).toMap
    val ok = rows.length == got.size && keys.forall(k => model.get(k) == got.get(k))
    if (!ok) ctx.fail(s"lookup of ${keys.mkString(",")}: got ${rows.mkString(" ")}")
    (ok, rows.length.toLong)
  }

  private def rowsOf(path: String): Set[Row] =
    spark.read.format("graft").load(path).select(schema.fieldNames.map(col): _*)
      .collect().toSet

  override def finalChecks(): Seq[(String, Boolean)] = {
    val expected = (model.values ++ appended.asScala).toSet
    val actual = rowsOf(dir)
    val tableOk = actual == expected
    if (!tableOk) System.err.println(s"[perfbench] table: ${(actual -- expected).size} " +
      s"unexpected rows, ${(expected -- actual).size} missing")
    drain()
    val replicaOk = rowsOf(replicaDir) == actual
    GraftTable.forPath(spark, mvDir).updateMaterialView()
    val view = spark.read.format("graft").load(mvDir)
    val recomputed = RewriteQueryByMaterialView.withoutRewrite(spark.sql(mvSql(dir)))
    val viewOk = Canon.fingerprint(view.columns.toSeq, view.collect()) ==
      Canon.fingerprint(recomputed.columns.toSeq, recomputed.collect())
    Seq("table" -> tableOk, "replica" -> replicaOk, "view" -> viewOk)
  }

  /** Table bytes before the last pass's compaction over bytes after it. */
  private var spaceAmp = 0.0

  override def extraMetrics: Map[String, (Double, String)] = {
    val recs = ctx.windowRecords
    val commits = recs.filter(r => CommitKinds(r.kind)).map(_.ms)
    val lookups = recs.filter(_.kind == "lookup").map(_.ms)
    Map(
      "commit_p50_ms" -> (Main.pct(commits, 0.5), "ms"),
      "commit_p90_ms" -> (Main.pct(commits, 0.9), "ms"),
      "lookup_p50_ms" -> (Main.pct(lookups, 0.5), "ms"),
      "lookup_p90_ms" -> (Main.pct(lookups, 0.9), "ms"),
      "space_amp" -> (spaceAmp, "ratio"))
  }

  override def layerMetrics(passes: Seq[Double]): Map[String, Double] = {
    val recs = ctx.windowRecords
    def meanMs(kind: String): Double = {
      val ms = recs.filter(_.kind == kind).map(_.ms)
      if (ms.isEmpty) 0.0 else ms.sum / ms.size
    }
    val store = ctx.store.get
    val recomputes = store.commitsOf(mvDir, "overwrite")
    val replays = store.checkpointReads.n.get.toDouble
    val lookups = recs.filter(_.kind == "lookup")
    val snapBytes = SnapshotManagement.snapshot(dir).sizeInBytes.toDouble
    val commits = recs.count(r => CommitKinds(r.kind)).toDouble
    Map(
      "commands.retries_per_commit" -> ctx.conflictRetries.get / math.max(1.0, commits),
      "commands.upsert_ms" -> meanMs("upsert"),
      "commands.update_ms" -> meanMs("update"),
      "commands.delete_ms" -> meanMs("delete"),
      "commands.merge_ms" -> meanMs("merge"),
      "commands.apply_ms" -> meanMs("apply"),
      "commands.append_ms" -> meanMs("append"),
      "commands.compaction_ms" -> meanMs("compaction"),
      "mv.refresh_ms" -> meanMs("refresh"),
      "mv.rewrite_hit_frac" ->
        (if (rewriteChecks == 0) 0.0 else rewriteHits.toDouble / rewriteChecks),
      "mv.fold_frac" ->
        (if (refreshes == 0) 0.0 else (refreshes - recomputes).toDouble / refreshes),
      "tables.cdf_ms" -> meanMs("cdf"),
      "streaming.drain_ms" -> meanMs("drain"),
      "meta.snapshot_ms" -> ctx.tracer.meanMs("meta.snapshot"),
      "meta.log_reads_per_snapshot" -> (if (replays == 0) 0.0 else store.reads.n.get / replays),
      "sources.delta_files_per_bucket" ->
        (if (deltaPerBucket.isEmpty) 0.0 else deltaPerBucket.sum / deltaPerBucket.size),
      "sources.read_frac" ->
        Main.inputBytes(ctx, lookups) / math.max(1, lookups.size) / snapBytes,
      "sources.rows_read_per_row_returned" -> {
        val work = ctx.listener.get.ops
        lookups.flatMap(r => work.get(r.id)).map(_.inputRecords.get.toDouble).sum /
          math.max(1L, lookups.map(_.rows).sum)
      })
  }
}

object WriteStream {
  val Kinds: IndexedSeq[String] = IndexedSeq("upsert", "update", "delete", "merge", "apply")
  val CommitKinds: Set[String] = Kinds.toSet + "append"
  val CommitsPerPass = 10
  val MaintenanceEvery = 10
  val RowsPerCommit = 8
  /** Attempts a writer op repeats after losing an optimistic conflict. */
  val Retries = 10

  val Priorities = 5

  /** A query over the base table that the view can answer. */
  def rewriteSql(dir: String): String =
    s"SELECT o_orderpriority, count(1) AS cnt FROM graft.`$dir` GROUP BY o_orderpriority"

  def mvSql(dir: String): String =
    s"SELECT o_orderpriority, count(1) AS cnt, sum(o_custkey) AS sum_custkey " +
      s"FROM graft.`$dir` GROUP BY o_orderpriority"
}
