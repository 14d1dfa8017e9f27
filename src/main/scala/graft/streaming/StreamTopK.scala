package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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
  * `root/v=<factVersion>/` parquet (the view: group, key, m, rk) plus a
  * `_BASIS` pointer file written tmp+ATOMIC_MOVE — readers resolve the
  * pointer first, so they see a complete view for SOME published fact
  * version, never a torn one (the StreamAnn generation device). The
  * view is leaderboard-sized (k · |groups| rows), so publishing it per
  * trigger is the same cost class as serving it; the INPUT cost per
  * trigger is |Δ| through the top-k applier's keep/fold/dirty-rescan
  * partition, never a fact rescan. Superseded view dirs stay readable
  * (rollback/audit) until [[vacuumView]] reclaims them.
  *
  * Reference scope: the reference has no leaderboard surface; this is
  * the engine extension completing the cdcApply family's streaming
  * story (q_topk_incremental shares q_cdc_topk's oracle verbatim).
  */
object StreamTopK {

  val BasisFile = "_BASIS"

  /** The fact version the published view corresponds to; -1 ⇒ never
    * seeded. */
  def basis(root: String): Long = {
    val p = Paths.get(root, BasisFile)
    if (!Files.exists(p)) -1L else Files.readString(p).trim.toLong
  }

  /** The maintained view at the published basis (group, key, m, rk). */
  def view(spark: SparkSession, root: String): DataFrame = {
    val b = basis(root)
    require(b >= 0L, s"StreamTopK at $root has no published view; seed first")
    spark.read.parquet(Paths.get(root, s"v=$b").toString)
  }

  private def publish(v: DataFrame, root: String, factVersion: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val stage = Paths.get(root, s"_stage_v$factVersion")
    val dest = Paths.get(root, s"v=$factVersion")
    // a crashed prior attempt's leftovers are provably not serving (the
    // pointer never flipped to factVersion — callers no-op when
    // basis == current); clear and retry
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

  /** Seed the view from the fact store's CURRENT version (the
    * [[Scd.cdcBaseTopK]] base — the one full scan the chain ever
    * pays). */
  def seedView(table: Livestream.UpsertTable, root: String,
      group: String, key: String, measure: String, k: Int,
      mCol: String = "m", rkCol: String = "rk"): Unit = {
    val cur = table.currentVersion
    require(cur >= 0L, "seedView: fact store has no published version")
    publish(Scd.cdcBaseTopK(table.at(cur), group, key, measure, k,
      mCol, rkCol), root, cur)
    // register the basis UNDER THE FACT STORE's root, so vacuumRetain
    // refuses by construction instead of by caller discipline
    table.registerBasis(root, cur)
  }

  /** Catch the view up to the fact store's current version by applying
    * `changes(basis, current)` — idempotent (basis == current is a
    * no-op) and range-tolerant (a missed trigger catches up in one
    * apply). If the recorded basis version is NO LONGER READABLE in the
    * fact store's history (an erasure act — purge/purgeWhere with
    * `eraseHistory` — ran `vacuum(keep = 1)` between triggers), the
    * view RESEEDS from the current snapshot instead of throwing on
    * every subsequent trigger: the reseed is the documented
    * post-erasure catch-up, and it also retires any purged rows the
    * stale view still served. */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String, group: String, key: String, measure: String, k: Int,
      mCol: String = "m", rkCol: String = "rk"): Unit = {
    val b = basis(root)
    if (b < 0L) {
      // nothing published yet (e.g. a leading empty batch): stay unseeded
      if (table.currentVersion < 0L) return
      seedView(table, root, group, key, measure, k, mCol, rkCol); return
    }
    val cur = table.currentVersion
    if (cur == b) return
    if (!table.versionAvailable(b)) {
      seedView(table, root, group, key, measure, k, mCol, rkCol); return
    }
    val nv = Scd.cdcApplyTopK(view(spark, root), table.changes(b, cur),
      table.at(cur), group, key, measure, k, mCol, rkCol)
    publish(nv, root, cur)
    table.registerBasis(root, cur)
  }

  /** Reclaim superseded view dirs (everything but the basis, and any
    * version in `keep` — e.g. a [[Savepoint]]'s pinned basis, so a
    * savepointed world's artifact read stays servable). */
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

  /** Wire a fact stream into (store, leaderboard): per micro-batch, one
    * merge into the versioned fact table, then one |Δ|-cost view
    * catch-up. Same `_seq` and empty-batch contract as the sink
    * family. */
  def leaderboardSink(stream: DataFrame, table: Livestream.UpsertTable,
      root: String, group: String, key: String, measure: String, k: Int,
      checkpoint: String, mCol: String = "m", rkCol: String = "rk",
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
        refresh(batch.sparkSession, table, root, group, key, measure, k,
          mCol, rkCol)
      }
}
