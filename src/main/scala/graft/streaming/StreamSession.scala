package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Scd

/** Stream-MAINTAINED SESSION dashboard — [[Scd.cdcApplySession]] driven
  * by the trigger loop (the [[StreamWindow]] device applied to the
  * DATA-DEPENDENT window): each micro-batch merges into the versioned
  * fact store, then the per-group session table (group, session_id,
  * start, end, n_events) catches up by applying `changes(basis,
  * current)` — dirty groups re-sessionize through the SHARED batch
  * sessionizer ([[Sessionize.batch]], via [[Scd.cdcBaseSession]]),
  * untouched groups serve from the published view VERBATIM. Session
  * MERGES and SPLITS across trigger boundaries are exactly the cases
  * the dirty-group rescan is sound for: one arriving event can fuse two
  * published sessions, one departing event can cut one in two — the
  * group granularity carries both.
  *
  * ==Artifact layout==
  * The [[BasisView]] store. The view is session-table-sized
  * (Σ sessions per group — domain-bounded); the
  * per-trigger input cost is ≤ 2·|Δ| dirty groups re-sessionized from
  * `snapshot ⋉ dirty`, never a fact rescan (a group-co-partitioned
  * store prunes that rescan to the dirty groups' buckets —
  * `q_cdc_session_pruned` proves the scanForKeys route). If the
  * recorded basis has been erased from the fact history (a purge
  * between triggers), refresh RESEEDS from the current snapshot — the
  * [[BasisView.refresh]] post-erasure contract.
  *
  * Reference scope: engine extension (the reference has no session
  * surface); `q_session_incremental` shares `q_cdc_session`'s oracle
  * VERBATIM, so maintenance leaks hash-mismatch.
  */
object StreamSession {

  /** The maintained session table at the published basis. */
  def view(spark: SparkSession, root: String): DataFrame =
    BasisView.view(spark, root)

  /** Seed the session table from the fact store's CURRENT version (the
    * [[Scd.cdcBaseSession]] base — the one full sessionize the chain
    * ever pays). */
  def seedView(table: Livestream.UpsertTable, root: String,
      group: String, tsCol: String, gapSec: Long): Unit =
    BasisView.seed(table, root)(Scd.cdcBaseSession(_, group, tsCol, gapSec))

  /** Catch the session table up to the fact store's current version
    * through the session applier ([[BasisView.refresh]]: idempotent,
    * range-tolerant, reseeding after an erasure). */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String, group: String, tsCol: String, gapSec: Long): Unit =
    BasisView.refresh(spark, table, root)(
      Scd.cdcBaseSession(_, group, tsCol, gapSec)) {
      (v, delta, cur) => Scd.cdcApplySession(v, delta, table.at(cur), group,
        tsCol, gapSec)
    }

  /** Wire a fact stream into (store, session dashboard): per
    * micro-batch, one merge into the versioned fact table
    * ([[Livestream.maintain]]), then one dirty-group session catch-up
    * on every trigger. */
  def sessionSink(stream: DataFrame, table: Livestream.UpsertTable,
      root: String, group: String, tsCol: String, gapSec: Long,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger,
      Some(false))((b, _) => b) { _ =>
      refresh(SparkSession.active, table, root, group, tsCol, gapSec)
    }
}
