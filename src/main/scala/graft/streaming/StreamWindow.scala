package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Scd

/** Stream-MAINTAINED windowed dashboard — [[Scd.cdcApplyWindowed]]
  * driven by the trigger loop (the [[StreamTopK]] device applied to
  * the applier family's time dimension): each micro-batch merges into
  * the versioned fact store, then the per-(window_start, groups...)
  * COUNT+SUM view catches up by applying `changes(basis, current)`.
  * The basis recorded IN the artifact makes the refresh idempotent
  * and crash-resumable; a sink that missed triggers catches up across
  * the whole version range in one |Δ|·k apply.
  *
  * ==Artifact layout==
  * The [[BasisView]] store (wCol, groups..., nCol, sCol). The view is
  * window-table-sized (|live windows| · |groups| rows — domain-bounded,
  * never corpus-bounded), so publishing per trigger is the serving cost
  * class; the per-trigger INPUT cost is |Δ| · (window/slide)
  * memberships, never a fact rescan. If the recorded basis has been
  * erased from the fact history (a purge between triggers), refresh
  * RESEEDS from the current snapshot — the [[BasisView.refresh]]
  * post-erasure contract.
  *
  * Reference scope: engine extension (the reference has no streaming
  * window surface); q_window_incremental shares q_cdc_window's oracle
  * verbatim, so maintenance leaks hash-mismatch.
  */
object StreamWindow {

  /** The maintained view at the published basis. */
  def view(spark: SparkSession, root: String): DataFrame =
    BasisView.view(spark, root)

  /** Seed the view from the fact store's CURRENT version (the
    * [[Scd.cdcBaseWindowed]] base). */
  def seedView(table: Livestream.UpsertTable, root: String,
      groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, wCol: String = "w_start",
      nCol: String = "n_rows", sCol: String = "sum_m"): Unit =
    BasisView.seed(table, root)(Scd.cdcBaseWindowed(_, groups, measure,
      tsCol, windowSec, slideSec, wCol, nCol, sCol))

  /** Catch the view up to the fact store's current version through the
    * windowed applier ([[BasisView.refresh]]: idempotent,
    * range-tolerant, reseeding after an erasure). */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String, groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, wCol: String = "w_start",
      nCol: String = "n_rows", sCol: String = "sum_m"): Unit =
    BasisView.refresh(spark, table, root)(Scd.cdcBaseWindowed(_, groups,
      measure, tsCol, windowSec, slideSec, wCol, nCol, sCol)) {
      (v, delta, _) => Scd.cdcApplyWindowed(v, delta, groups, measure,
        tsCol, windowSec, slideSec, wCol, nCol, sCol)
    }

  /** Wire a fact stream into (store, windowed dashboard): per
    * micro-batch, one merge into the versioned fact table
    * ([[Livestream.maintain]]), then one |Δ|·k view catch-up on every
    * trigger. */
  def windowSink(stream: DataFrame, table: Livestream.UpsertTable,
      root: String, groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, checkpoint: String,
      wCol: String = "w_start", nCol: String = "n_rows",
      sCol: String = "sum_m",
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger,
      Some(false))((b, _) => b) { _ =>
      refresh(SparkSession.active, table, root, groups, measure, tsCol,
        windowSec, slideSec, wCol, nCol, sCol)
    }
}
