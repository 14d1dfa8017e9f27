package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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
  * The [[StreamWindow]] layout verbatim: `root/v=<factVersion>/`
  * parquet plus the `_BASIS` pointer written tmp+ATOMIC_MOVE — readers
  * resolve the pointer first and see a complete session table for SOME
  * published fact version, never a torn one. The view is
  * session-table-sized (Σ sessions per group — domain-bounded); the
  * per-trigger input cost is ≤ 2·|Δ| dirty groups re-sessionized from
  * `snapshot ⋉ dirty`, never a fact rescan (a group-co-partitioned
  * store prunes that rescan to the dirty groups' buckets —
  * `q_cdc_session_pruned` proves the scanForKeys route). If the
  * recorded basis has been erased from the fact history (a purge
  * between triggers), refresh RESEEDS from the current snapshot — the
  * [[StreamTopK.refresh]] post-erasure contract.
  *
  * Reference scope: engine extension (the reference has no session
  * surface); `q_session_incremental` shares `q_cdc_session`'s oracle
  * VERBATIM, so maintenance leaks hash-mismatch.
  */
object StreamSession {

  val BasisFile = "_BASIS"

  /** The fact version the published session table corresponds to; -1 ⇒
    * never seeded. */
  def basis(root: String): Long = {
    val p = Paths.get(root, BasisFile)
    if (!Files.exists(p)) -1L else Files.readString(p).trim.toLong
  }

  /** The maintained session table at the published basis. */
  def view(spark: SparkSession, root: String): DataFrame = {
    val b = basis(root)
    require(b >= 0L, s"StreamSession at $root has no published view; seed first")
    spark.read.parquet(Paths.get(root, s"v=$b").toString)
  }

  private def publish(v: DataFrame, root: String, factVersion: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val stage = Paths.get(root, s"_stage_v$factVersion")
    val dest = Paths.get(root, s"v=$factVersion")
    def drop(d: java.nio.file.Path): Unit = if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
    drop(stage); drop(dest)
    v.coalesce(1).write.parquet(stage.toString)
    Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE)
    val tmp = Paths.get(root, s".$BasisFile.tmp")
    Files.writeString(tmp, factVersion.toString)
    Files.move(tmp, Paths.get(root, BasisFile),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Seed the session table from the fact store's CURRENT version (the
    * one full sessionize the chain ever pays). */
  def seedView(table: Livestream.UpsertTable, root: String,
      group: String, tsCol: String, gapSec: Long): Unit = {
    val cur = table.currentVersion
    require(cur >= 0L, "seedView: fact store has no published version")
    publish(Scd.cdcBaseSession(table.at(cur), group, tsCol, gapSec),
      root, cur)
    // the StreamTopK basis-registry device: retention refuses by
    // construction, not by caller discipline
    table.registerBasis(root, cur)
  }

  /** Catch the session table up to the fact store's current version —
    * idempotent (basis == current is a no-op), range-tolerant, and
    * reseeding when the basis was erased (the post-erasure catch-up). */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String, group: String, tsCol: String, gapSec: Long): Unit = {
    val b = basis(root)
    if (b < 0L) {
      if (table.currentVersion < 0L) return
      seedView(table, root, group, tsCol, gapSec); return
    }
    val cur = table.currentVersion
    if (cur == b) return
    if (!table.versionAvailable(b)) {
      seedView(table, root, group, tsCol, gapSec); return
    }
    val nv = Scd.cdcApplySession(view(spark, root), table.changes(b, cur),
      table.at(cur), group, tsCol, gapSec)
    publish(nv, root, cur)
    table.registerBasis(root, cur)
  }

  /** Reclaim superseded view dirs (everything but the basis, and any
    * version in `keep` — e.g. a [[Savepoint]]'s pinned basis). */
  def vacuumView(root: String, keep: Set[Long] = Set.empty): Unit = {
    val b = basis(root)
    val d = Paths.get(root)
    if (!Files.exists(d)) return
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    val victims =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v=") && n != s"v=$b" &&
          !keep.contains(n.drop(2).toLong)
      }.toList
      finally s.close()
    victims.foreach { v =>
      val w = Files.walk(v)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally w.close()
    }
  }

  /** Wire a fact stream into (store, session dashboard): per
    * micro-batch, one merge into the versioned fact table, then one
    * dirty-group session catch-up. Same `_seq` and empty-batch contract
    * as the sink family. */
  def sessionSink(stream: DataFrame, table: Livestream.UpsertTable,
      root: String, group: String, tsCol: String, gapSec: Long,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val rows = batch.withColumn("_seq",
          lit(batchId) * 1000000000L + monotonically_increasing_id())
          .persist()
        try { table.mergeReplay(rows, "_seq", storeEdits = Some(false)); () }
        finally rows.unpersist()
        refresh(batch.sparkSession, table, root, group, tsCol, gapSec)
      }
}
