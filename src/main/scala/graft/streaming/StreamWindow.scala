package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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
  * `root/v=<factVersion>/` parquet (wCol, groups..., nCol, sCol) plus
  * the `_BASIS` pointer written tmp+ATOMIC_MOVE — readers resolve the
  * pointer first and see a complete view for SOME published fact
  * version, never a torn one. The view is window-table-sized
  * (|live windows| · |groups| rows — domain-bounded, never
  * corpus-bounded), so publishing per trigger is the serving cost
  * class; the per-trigger INPUT cost is |Δ| · (window/slide)
  * memberships, never a fact rescan. If the recorded basis has been
  * erased from the fact history (a purge between triggers), refresh
  * RESEEDS from the current snapshot — the [[StreamTopK.refresh]]
  * post-erasure contract.
  *
  * Reference scope: engine extension (the reference has no streaming
  * window surface); q_window_incremental shares q_cdc_window's oracle
  * verbatim, so maintenance leaks hash-mismatch.
  */
object StreamWindow {

  val BasisFile = "_BASIS"

  /** The fact version the published view corresponds to; -1 ⇒ never
    * seeded. */
  def basis(root: String): Long = {
    val p = Paths.get(root, BasisFile)
    if (!Files.exists(p)) -1L else Files.readString(p).trim.toLong
  }

  /** The maintained view at the published basis. */
  def view(spark: SparkSession, root: String): DataFrame = {
    val b = basis(root)
    require(b >= 0L, s"StreamWindow at $root has no published view; seed first")
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

  /** Seed the view from the fact store's CURRENT version (the one full
    * scan the chain ever pays). */
  def seedView(table: Livestream.UpsertTable, root: String,
      groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, wCol: String = "w_start",
      nCol: String = "n_rows", sCol: String = "sum_m"): Unit = {
    val cur = table.currentVersion
    require(cur >= 0L, "seedView: fact store has no published version")
    publish(Scd.cdcBaseWindowed(table.at(cur), groups, measure, tsCol,
      windowSec, slideSec, wCol, nCol, sCol), root, cur)
    // the StreamTopK basis-registry device: retention refuses by
    // construction, not by caller discipline
    table.registerBasis(root, cur)
  }

  /** Catch the view up to the fact store's current version — idempotent
    * (basis == current is a no-op), range-tolerant, and reseeding when
    * the basis was erased (the post-erasure catch-up). */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String, groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, wCol: String = "w_start",
      nCol: String = "n_rows", sCol: String = "sum_m"): Unit = {
    val b = basis(root)
    if (b < 0L) {
      if (table.currentVersion < 0L) return
      seedView(table, root, groups, measure, tsCol, windowSec, slideSec,
        wCol, nCol, sCol); return
    }
    val cur = table.currentVersion
    if (cur == b) return
    if (!table.versionAvailable(b)) {
      seedView(table, root, groups, measure, tsCol, windowSec, slideSec,
        wCol, nCol, sCol); return
    }
    val nv = Scd.cdcApplyWindowed(view(spark, root), table.changes(b, cur),
      groups, measure, tsCol, windowSec, slideSec, wCol, nCol, sCol)
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

  /** Wire a fact stream into (store, windowed dashboard): per
    * micro-batch, one merge into the versioned fact table, then one
    * |Δ|·k view catch-up. Same `_seq` and empty-batch contract as the
    * sink family. */
  def windowSink(stream: DataFrame, table: Livestream.UpsertTable,
      root: String, groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, checkpoint: String,
      wCol: String = "w_start", nCol: String = "n_rows",
      sCol: String = "sum_m",
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
        refresh(batch.sparkSession, table, root, groups, measure, tsCol,
          windowSec, slideSec, wCol, nCol, sCol)
      }
}
