package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The BASIS-POINTER VIEW STORE behind every stream-maintained view
  * ([[StreamTopK]], [[StreamWindow]], [[StreamSession]]): one format,
  * one publish, one catch-up skeleton. Each family supplies only its
  * base (the `Scd.cdcBase*` full build) and its applier (the
  * `Scd.cdcApply*` |Δ| step).
  *
  * ==Layout==
  * `root/v=<factVersion>/` parquet (the view) plus the [[PointerFile]]
  * holding the fact version the published view corresponds to, written
  * tmp+ATOMIC_MOVE. Readers resolve the pointer first, so they see a
  * complete view for SOME published fact version, never a torn one.
  * Recording the basis IN the artifact makes maintenance idempotent and
  * crash-resumable: a replayed trigger finds `basis == current` and does
  * nothing; a sink that missed triggers catches up across the whole
  * version range in one apply (`changes()` nets it to one delta per
  * key). Superseded view dirs stay readable (rollback/audit, a
  * [[Savepoint]]'s pinned basis) until [[vacuumView]] reclaims them.
  */
object BasisView {

  /** The pointer file naming the published basis. */
  val PointerFile = "_BASIS"

  /** The fact version the published view corresponds to; -1 ⇒ never
    * seeded. */
  def basis(root: String): Long = {
    val p = Paths.get(root, PointerFile)
    if (!Files.exists(p)) -1L else Files.readString(p).trim.toLong
  }

  /** The maintained view at the published basis. */
  def view(spark: SparkSession, root: String): DataFrame = {
    val b = basis(root)
    require(b >= 0L, s"view at $root has no published $PointerFile; seed first")
    spark.read.parquet(Paths.get(root, s"v=$b").toString)
  }

  private def drop(d: Path): Unit = if (Files.exists(d)) {
    val s = Files.walk(d)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally s.close()
  }

  /** Stage, move into place, then flip the pointer; register the basis
    * under the FACT STORE's root, so its retention refuses by
    * construction instead of by caller discipline. */
  private def publish(table: Livestream.UpsertTable, root: String,
      v: DataFrame, factVersion: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val stage = Paths.get(root, s"_stage_v$factVersion")
    val dest = Paths.get(root, s"v=$factVersion")
    // a crashed prior attempt's leftovers are provably not serving (the
    // pointer never flipped to factVersion — refresh no-ops when
    // basis == current); clear and retry
    drop(stage); drop(dest)
    v.coalesce(1).write.parquet(stage.toString)
    Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE)
    val tmp = Paths.get(root, s".$PointerFile.tmp")
    Files.writeString(tmp, factVersion.toString)
    Files.move(tmp, Paths.get(root, PointerFile),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    table.registerBasis(root, factVersion)
  }

  /** Seed the view from the fact store's CURRENT version — `base` over
    * the snapshot, the one full scan the chain ever pays. */
  def seed(table: Livestream.UpsertTable, root: String)(
      base: DataFrame => DataFrame): Unit = {
    val cur = table.currentVersion
    require(cur >= 0L, "seedView: fact store has no published version")
    publish(table, root, base(table.at(cur)), cur)
  }

  /** Catch the view up to the fact store's current version by applying
    * `changes(basis, current)` — `apply(view, changes, current)`.
    * Idempotent (basis == current is a no-op) and range-tolerant. A
    * store with nothing published (a leading empty batch) leaves the
    * view unseeded. If the recorded basis is NO LONGER READABLE in the
    * fact history (an erasure act ran `vacuum(keep = 1)` between
    * triggers), the view RESEEDS from the current snapshot instead of
    * throwing on every later trigger: the reseed is the documented
    * post-erasure catch-up, and it retires any purged rows the stale
    * view still served. */
  def refresh(spark: SparkSession, table: Livestream.UpsertTable,
      root: String)(base: DataFrame => DataFrame)(
      apply: (DataFrame, DataFrame, Long) => DataFrame): Unit = {
    val b = basis(root)
    val cur = table.currentVersion
    if (b == cur) return
    if (b < 0L || !table.versionAvailable(b)) seed(table, root)(base)
    else publish(table, root,
      apply(view(spark, root), table.changes(b, cur), cur), cur)
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
    victims.foreach(drop)
  }
}
