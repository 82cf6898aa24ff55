package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.meta.{CheckpointState, FsMetaStore, LogEntry}

/** Spans recorded around the benchmark's calls into each layer. Kept in
  * memory and written when the run ends. With tracing off `span` only runs
  * its body, so untraced runs pay one branch per call. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def setOp(op: Long): Unit = currentOp.set(op)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), currentOp.get,
          name, t0, t1))
      }
    }

  def clear(): Unit = spans.clear()
  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Mean duration in ms of the spans called `name`; 0 when none ran. */
  def meanMs(name: String): Double = {
    val s = named(name)
    if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Work Spark did for one benchmark op, summed over its jobs' tasks. */
final class SparkWork {
  val jobs, tasks, taskMs, inputBytes, inputRecords, shuffleWrite, spill =
    new AtomicLong(0L)
}

/** Counts jobs, tasks, task time, input, shuffle and spill per benchmark
  * op. Jobs are matched to ops through the `graftbench.op` local property
  * the client thread sets before each op; the peak bytes of cached RDD
  * blocks (the LLM operators' checkpoints) are tracked alongside. */
final class OpListener extends SparkListener {
  private val byOp = new ConcurrentHashMap[Long, SparkWork]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val blockBytes = new AtomicLong(0L)
  val blockPeak = new AtomicLong(0L)
  @volatile var lastEventNs: Long = System.nanoTime()

  def work(op: Long): SparkWork = byOp.computeIfAbsent(op, _ => new SparkWork)
  def ops: Map[Long, SparkWork] = byOp.asScala.toMap
  def reset(): Unit = { byOp.clear(); blockPeak.set(blockBytes.get) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .map(_.toLong).getOrElse(0L)
    work(op).jobs.incrementAndGet()
    e.stageIds.foreach(stageOp.put(_, op))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageOp.getOrDefault(e.stageId, 0L))
    w.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs.addAndGet(m.executorRunTime)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      w.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      w.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.spill.addAndGet(m.diskBytesSpilled)
    }
    lastEventNs = System.nanoTime()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = Option(blocks.put(id, size)).getOrElse(0L)
      if (size == 0L) blocks.remove(id)
      val now = blockBytes.addAndGet(size - prev)
      blockPeak.accumulateAndGet(now, math.max)
    }
    lastEventNs = System.nanoTime()
  }

  /** The listener bus delivers events asynchronously: wait until it has
    * been quiet for 300 ms (at most 5 s) before reading the counters. */
  def drain(): Unit = {
    val limit = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < limit)
      Thread.sleep(50)
  }
}

object OpListener {
  val Key = "graftbench.op"
}

/** A timed call counter. */
final class Calls {
  val n = new AtomicLong(0L)
  val ns = new AtomicLong(0L)
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally { n.incrementAndGet(); ns.addAndGet(System.nanoTime() - t0) }
  }
  def reset(): Unit = { n.set(0L); ns.set(0L) }
  def ms: Double = ns.get / 1e6
}

/** The filesystem MetaStore with every call counted and timed, installed
  * through `SnapshotManagement.setStore` for traced runs. Being an
  * `FsMetaStore`, it keeps features that require the filesystem store
  * working. `read` is one log-file read, `latestVersion` and
  * `readCheckpoint` each list the log directory, and every `readCheckpoint`
  * starts one snapshot replay. */
final class CountingStore extends FsMetaStore {
  val latest, reads, checkpointReads, commits = new Calls
  val casLost, commitsWon, filesAdded, bytesAdded = new AtomicLong(0L)
  /** Commit types that landed, per table path. */
  val commitTypes = new ConcurrentHashMap[(String, String), AtomicLong]()

  override def latestVersion(tablePath: String): Long =
    latest(super.latestVersion(tablePath))

  override def read(tablePath: String, version: Long): Seq[LogEntry] =
    reads(super.read(tablePath, version))

  override def readCheckpoint(
      tablePath: String, maxVersion: Long): Option[(Long, CheckpointState)] =
    checkpointReads(super.readCheckpoint(tablePath, maxVersion))

  override def commit(
      tablePath: String, version: Long, entries: Seq[LogEntry]): Boolean = {
    val won = commits(super.commit(tablePath, version, entries))
    if (!won) casLost.incrementAndGet()
    else {
      commitsWon.incrementAndGet()
      val adds = entries.flatMap(_.add)
      filesAdded.addAndGet(adds.size.toLong)
      bytesAdded.addAndGet(adds.map(_.size).sum)
      entries.flatMap(_.commit).foreach { c =>
        commitTypes.computeIfAbsent(
          (graft.meta.SnapshotManagement.normalize(tablePath), c.commitType),
          _ => new AtomicLong(0L)).incrementAndGet()
      }
    }
    won
  }

  def commitsOf(tablePath: String, commitType: String): Long =
    Option(commitTypes.get(
      (graft.meta.SnapshotManagement.normalize(tablePath), commitType)))
      .map(_.get).getOrElse(0L)

  def reset(): Unit = {
    Seq(latest, reads, checkpointReads, commits).foreach(_.reset())
    Seq(casLost, commitsWon, filesAdded, bytesAdded).foreach(_.set(0L))
    commitTypes.clear()
  }
}

/** Peak heap of the driver JVM: the sum of the heap pools' peaks since the
  * last reset. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
