package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.{GraftData, SparkEntry}
import graft.llm.{Ann, Checkpoints}

/** `curate_llm`: the near-duplicate, ANN and text operators over the
  * documents/embeddings corpus, one closed-loop client, each pass in a
  * seeded order. Set-up ingests both tables and builds the persistent IVF
  * index. Every result is fingerprinted for the DuckDB oracle check; the
  * ANN result is also compared with `Ann.bruteTopK`, and the first result of
  * each pair operator is written out so `run.py` can recompute every
  * returned pair's similarity against the operator's threshold. */
final class CurateLlm(ctx: Ctx) extends Workload {
  import CurateLlm._

  private val spark = ctx.spark
  private var sfDir: String = _
  private val fps = new Main.Fingerprints
  private val pairs = scala.collection.mutable.Map.empty[String, String]
  private lazy val bruteAnn: Set[Row] = {
    val emb = GraftData.embeddingsPlain(spark, sfDir)
    Ann.bruteTopK(emb, "vec_id", "embedding", emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10).collect().toSet
  }

  private def warmDir = s"${ctx.args.work}/inputs/curate_llm_warm"

  /** Sets up the small warm-up corpus first, so the JVM and Spark start,
    * class loading and JIT are not timed as set-up. */
  override def prepare(): Unit = ingest(warmDir)

  def setup(rep: Int): Unit = {
    sfDir = s"${ctx.args.work}/inputs/curate_llm_$rep"
    ingest(sfDir)
  }

  private def ingest(dir: String): Unit = {
    GraftData.documentsRangeDir(spark, dir)
    GraftData.embeddingsPlain(spark, dir)
    GraftData.annIndexDir(spark, dir)
  }

  private def runOp(name: String, dir: String = sfDir): Boolean = {
    val ok = ctx.query(0, "query", name)(SparkEntry.queries(name)(spark, dir)) {
      (df, rows) =>
        if (ctx.recording) {
          fps.add(name, df, rows)
          if (PairOps(name) && !pairs.contains(name)) {
            val f = s"${ctx.args.work}/pairs_$name.jsonl"
            Main.writeRows(f, df.columns.toSeq, rows)
            pairs(name) = f
          }
        }
        name != "q_ann_index" || rows.toSet == bruteAnn
    }
    ctx.tracer.span("llm.release")(Checkpoints.releaseAll())
    ok
  }

  /** Runs every operator on the small corpus under `inputs/curate_llm_warm`:
    * code generation, class loading and JIT then happen before the window
    * at a fraction of a full pass's cost. */
  def warmup(): Unit = {
    bruteAnn
    (1 to ctx.args.warmupPasses).foreach(p => order(-p).foreach(runOp(_, warmDir)))
  }

  def window(deadlineNs: Long): Seq[Double] = {
    val passes = Seq.newBuilder[Double]
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      order(pass).foreach(runOp(_))
      passes += (System.nanoTime() - t0) / 1e9
      pass += 1
    }
    passes.result()
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.args.seed * 1000003L + pass).shuffle(Names)

  override def oracleResults: Map[String, Map[String, Int]] = fps.toMap
  override def pairFiles: Map[String, String] = pairs.toMap

  override def layerMetrics(passes: Seq[Double]): Map[String, Double] = {
    val recs = ctx.windowRecords
    val work = ctx.listener.get.ops
    val spans = ctx.tracer.all.groupBy(_.op)
    val tableBytes = Seq(GraftData.documentsRangeDir(spark, sfDir),
      s"${GraftData.root(sfDir)}/embeddings")
      .map(d => graft.meta.SnapshotManagement.snapshot(d).sizeInBytes).sum.toDouble
    val perOp = Names.flatMap { name =>
      val rs = recs.filter(_.name == name)
      val n = math.max(1, rs.size).toDouble
      def spanS(s: String) =
        rs.flatMap(r => spans.getOrElse(r.id, Nil)).filter(_.name == s).map(_.ms).sum / 1000.0
      def w(f: SparkWork => Long) = rs.flatMap(r => work.get(r.id)).map(f).sum.toDouble
      val short = name.stripPrefix("q_")
      Seq(
        s"llm.$short.build_s" -> spanS("op.build") / n,
        s"llm.$short.exec_s" -> (spanS("op.plan") + spanS("op.exec")) / n,
        s"llm.$short.task_s" -> w(_.taskMs.get) / 1000.0 / n,
        s"llm.$short.shuffle_mb" -> w(_.shuffleWrite.get) / 1048576.0 / n)
    }
    perOp.toMap ++ Map(
      "sources.read_frac" ->
        Main.inputBytes(ctx, recs) / passes.size / math.max(1.0, tableBytes))
  }
}

object CurateLlm {
  val Names: Seq[String] = Seq(
    "q_ngram_jaccard", "q_dedup_minhash", "q_dedup_clusters", "q_simhash",
    "q_embed_neardup", "q_semantic_neardup", "q_contamination",
    "q_tfidf_topk", "q_ann_index")

  /** Operators whose rows are (a_id, b_id, ...) similarity pairs. */
  val PairOps: Set[String] = Set("q_ngram_jaccard", "q_dedup_minhash",
    "q_simhash", "q_embed_neardup", "q_semantic_neardup")
}
