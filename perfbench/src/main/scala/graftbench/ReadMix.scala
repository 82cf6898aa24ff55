package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.{GraftData, SparkEntry}
import graft.mv.MaterializedViews
import graft.sources.GraftTableV2

/** `read_mix`: every lakehouse (non-LLM) entry of `SparkEntry.queries`,
  * one closed-loop client, each pass in a seeded order. Set-up builds the
  * graft tables the queries read (`GraftData.warmAll`) into a fresh
  * directory; each result is fingerprinted for the DuckDB oracle check. */
final class ReadMix(ctx: Ctx) extends Workload {
  import ReadMix._

  private val spark = ctx.spark
  private var sfDir: String = _
  private val fps = new Main.Fingerprints
  private var rewriteChecks, rewriteHits = 0

  def setup(rep: Int): Unit = {
    sfDir = s"${ctx.args.work}/inputs/read_mix_$rep"
    GraftData.warmAll(spark, sfDir)
  }

  private def runQuery(name: String): Boolean =
    ctx.query(0, "query", name)(SparkEntry.queries(name)(spark, sfDir)) { (df, rows) =>
      if (ctx.recording) {
        fps.add(name, df, rows)
        if (ctx.trace && RewriteCandidates(name)) {
          rewriteChecks += 1
          if (readsView(df)) rewriteHits += 1
        }
      }
      true
    }

  def warmup(): Unit =
    (1 to ctx.args.warmupPasses).foreach(p => order(-p).foreach(runQuery))

  def window(deadlineNs: Long): Seq[Double] = {
    val passes = Seq.newBuilder[Double]
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      order(pass).foreach(runQuery)
      passes += (System.nanoTime() - t0) / 1e9
      pass += 1
    }
    passes.result()
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.args.seed * 1000003L + pass).shuffle(Names)

  override def oracleResults: Map[String, Map[String, Int]] = fps.toMap

  override def layerMetrics(passes: Seq[Double]): Map[String, Double] = {
    val recs = ctx.windowRecords
    val snaps = tableDirs.flatMap(d =>
      graft.meta.SnapshotManagement.snapshotOpt(d))
    val pk = snaps.filter(_.tableInfo.hashColumns.nonEmpty)
    val tableBytes = snaps.map(_.sizeInBytes).sum.toDouble
    Map(
      "mv.rewrite_hit_frac" ->
        (if (rewriteChecks == 0) 0.0 else rewriteHits.toDouble / rewriteChecks),
      "sources.delta_files_per_bucket" ->
        (if (pk.isEmpty) 0.0
         else pk.map(s => s.files.count(!_.isBase).toDouble / s.tableInfo.bucketNum)
           .sum / pk.size),
      "sources.read_frac" ->
        Main.inputBytes(ctx, recs) / passes.size / math.max(1.0, tableBytes))
  }

  /** Every graft table under this set-up's table root. */
  private def tableDirs: Seq[String] = {
    val root = new java.io.File(GraftData.root(sfDir))
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getPath)
      .filter(graft.meta.SnapshotManagement.exists)
  }
}

object ReadMix {
  /** The lakehouse entries of `SparkEntry.queries`: everything except the
    * LLM data-pipeline operators. */
  val Names: Seq[String] = Seq(
    "q_write_read_prune", "q1_agg", "q_pk_join", "q_dpp_join", "q_tpch_q3",
    "q_tpch_q5", "q_cust_join", "q_join_semi", "q_join_anti", "q_join_full",
    "q_pushdown_filters", "q_expr_surface", "q_scalar_string", "q_datetime",
    "q_window_topk", "q_events_minutely", "q_asof_join", "q_range_join",
    "q_kmv_distinct", "q_sessionize", "q_quantiles", "q_math_funcs",
    "q_array_funcs", "q_rollup", "q_json_extract", "q_crypto",
    "q_upsert_lastwins", "q_compaction_stable", "q_rebucket_stable",
    "q_partitions_meta", "q_merge_op_sum", "q_update", "q_delete",
    "q_merge_into", "q_merge_delete", "q_dv_delete", "q_sql_update",
    "q_mv_contained", "q_mv_agg", "q_mv_rollup", "q_mv_join", "q_mv_inc_fold",
    "q_mv_inc_join", "q_clone_dml", "q_apply_changes", "q_mv_join3",
    "q_schema_evolution", "q_pk_point", "q_metadata_agg", "q_zorder_prune",
    "q_changes_feed")

  /** Whether the optimized plan reads a materialized view's table (the
    * rewrite pins the view it serves, so pinned reads count too). */
  def readsView(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case s: DataSourceV2ScanRelation => s.relation.table
      case r: DataSourceV2Relation => r.table
      case _ => null
    }.exists {
      case g: GraftTableV2 => MaterializedViews.readInfo(g.path).isDefined
      case _ => false
    }

  /** Queries over base tables that a materialized view can answer. */
  val RewriteCandidates: Set[String] =
    Set("q_mv_contained", "q_mv_agg", "q_mv_rollup", "q_mv_join", "q_mv_join3")
}
