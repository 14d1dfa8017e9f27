package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Scd

/** Stream-MAINTAINED per-group top-k leaderboard — [[Scd.cdcApplyTopK]]
  * driven by the trigger loop instead of an explicit version pair: each
  * micro-batch merges into the versioned fact store, then the view
  * catches up by applying `changes(basis, current)` where `basis` is
  * the fact version the published view corresponds to. Recording the
  * basis IN the artifact makes maintenance idempotent and
  * crash-resumable by construction: a replayed trigger (same merge
  * re-applied, no new version) finds `basis == current` and does
  * nothing; a sink that missed triggers catches up across the whole
  * version range in one apply (the changes() contract nets it to one
  * delta per key).
  *
  * ==Artifact layout==
  * The [[BasisView]] store (the view: group, key, m, rk). The view is
  * leaderboard-sized (k · |groups| rows), so publishing it per
  * trigger is the same cost class as serving it; the INPUT cost per
  * trigger is |Δ| through the top-k applier's keep/fold/dirty-rescan
  * partition, never a fact rescan.
  *
  * Reference scope: the reference has no leaderboard surface; this is
  * the engine extension completing the cdcApply family's streaming
  * story (q_topk_incremental shares q_cdc_topk's oracle verbatim).
  */
object StreamTopK {

  /** The maintained view at the published basis (group, key, m, rk). */
  def view(spark: SparkSession, root: String): DataFrame =
    BasisView.view(spark, root)

  /** Seed the view from the fact store's CURRENT version (the
    * [[Scd.cdcBaseTopK]] base). */
  def seedView(table: Livestream.UpsertTable, root: String,
      group: String, key: String, measure: String, k: Int,
      mCol: String = "m", rkCol: String = "rk"): Unit =
    BasisView.seed(table, root)(
      Scd.cdcBaseTopK(_, group, key, measure, k, mCol, rkCol))

  /** Catch the view up to the fact store's current version through the
    * top-k applier ([[BasisView.refresh]]: idempotent, range-tolerant,
    * reseeding after an erasure). */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String, group: String, key: String, measure: String, k: Int,
      mCol: String = "m", rkCol: String = "rk"): Unit =
    BasisView.refresh(spark, table, root)(
      Scd.cdcBaseTopK(_, group, key, measure, k, mCol, rkCol)) {
      (v, delta, cur) => Scd.cdcApplyTopK(v, delta, table.at(cur), group,
        key, measure, k, mCol, rkCol)
    }

  /** Wire a fact stream into (store, leaderboard): per micro-batch, one
    * merge into the versioned fact table ([[Livestream.maintain]]), then
    * one |Δ|-cost view catch-up — on every trigger, so an empty one
    * still catches up a view that fell behind. */
  def leaderboardSink(stream: DataFrame, table: Livestream.UpsertTable,
      root: String, group: String, key: String, measure: String, k: Int,
      checkpoint: String, mCol: String = "m", rkCol: String = "rk",
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger,
      Some(false))((b, _) => b) { _ =>
      refresh(SparkSession.active, table, root, group, key, measure, k,
        mCol, rkCol)
    }
}
