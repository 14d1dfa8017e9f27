package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse temporal operators: SCD Type-2 dimension construction from a
  * change log, and snapshot diffing (Delta CDF-style change classification).
  *
  * Reference behavior analog: timesearch keeps only the latest row per id
  * (edit CDC, see Merge.upsert); SCD2 is the warehouse-standard
  * generalization that PRESERVES history as validity intervals — the
  * operator a reference user would need to time-travel attributes.
  *
  * Scale: [[buildType2]] shuffles once on the entity key and runs its
  * three window passes over that same (key, ts) sort — Spark plans a
  * single Sort under all of them. [[diff]] is a single full-outer
  * equi-join of the two struct-packed snapshots on the key — a shuffled
  * hash join while the older side's per-partition build is within
  * budget, a sort-merge join (which spills) past it; with both snapshots
  * bucketed at rest (sources/Store.writeBucketed) it runs with zero
  * exchanges.
  */
object Scd {

  /** Collapse a change log (key, ts, attr) into SCD Type-2 validity
    * intervals: one row per run of identical consecutive `attr` values per
    * key, with [valid_from, valid_to) interval bounds and a 1-based
    * version counter. `valid_to` is -1 (open) for the current row.
    * `tieBreak` makes equal-timestamp log entries deterministic.
    */
  def buildType2(log: DataFrame, key: String, tsSec: Column, attr: Column,
      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("ts_sec"), col("tb"))
    val runs = log
      .select(col(key), tsSec.as("ts_sec"), attr.as("attr"), tieBreak.as("tb"))
      .withColumn("prev_attr", lag("attr", 1).over(w))
      // run heads: first log entry per key, or an attribute change
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col("attr"))
    val wh = Window.partitionBy(key).orderBy(col("ts_sec"), col("tb"))
    runs
      .withColumn("version", row_number().over(wh).cast("long"))
      .withColumn("valid_to",
        coalesce(lead("ts_sec", 1).over(wh), lit(-1L)))
      .select(col(key), col("version"), col("attr"),
        col("ts_sec").as("valid_from"), col("valid_to"))
  }

  /** Per-partition budget for the hash-join build of [[pairByKey]], in
    * the planner's size estimate: the older side's `sizeInBytes` over
    * the session's shuffle partitions. Spark's ShuffledHashJoin build
    * has NO spill path (graft.Stress section 4 measured it failing with
    * "not enough memory to build hash map"), so past the budget the
    * pairing is left to the planner, which sort-merges two
    * similar-sized sides and spills. The estimate reads compressed file
    * sizes, so it runs low: graft.Stress section 7's ×16 snapshot
    * estimates 12 MB per partition (4 partitions) for 1.8M rows per
    * partition, over 80 MB as UnsafeRows alone; 4 MB of estimate keeps
    * the resident build in the tens of MB. The store's CDC reads and
    * q_table_diff estimate under 1 MB per partition at sf0.1. */
  val HashBuildMaxPartitionBytes: Long = 4L * 1024 * 1024

  /** The keyed pairing under [[diff]] and the store's cross-migration
    * CDC read: `older`'s `bCols` packed into struct `_b`, `newer`'s
    * `aCols` into `_a`, full-outer-joined on `key` — one row per key,
    * a null struct on the side that lacks it. The join is hinted to a
    * shuffled hash join (left to its own size checks the planner sees
    * two similar-sized sides and sorts both) only while the older
    * side's estimated build per partition is within
    * `hashBuildMaxPartitionBytes`. */
  private[graft] def pairByKey(older: DataFrame, bCols: Seq[String],
      newer: DataFrame, aCols: Seq[String], key: String,
      hashBuildMaxPartitionBytes: Long = HashBuildMaxPartitionBytes): DataFrame = {
    val o = older.select(col(key), struct(bCols.map(col): _*).as("_b"))
    val n = newer.select(col(key), struct(aCols.map(col): _*).as("_a"))
    val parts = math.max(1, older.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt)
    val build = o.queryExecution.optimizedPlan.stats.sizeInBytes / parts
    val side = if (build <= hashBuildMaxPartitionBytes) o.hint("shuffle_hash") else o
    side.join(n, Seq(key), "full_outer")
  }

  /** Classify rows between two snapshots of a keyed table: `added`
    * (key only in `newer`), `removed` (key only in `older`), `changed`
    * (key in both, any compared column differs). Unchanged keys are
    * dropped. `compare` lists the columns participating in change
    * detection; each appears in the output as before_<c> / after_<c>.
    *
    * Plan shape: each side packs its compare columns into ONE struct
    * (`_b` older, `_a` newer), and a full-outer equi-join on the key
    * pairs them ([[pairByKey]]); presence = struct non-nullness
    * classifies the change. Within [[HashBuildMaxPartitionBytes]] the
    * join is a shuffled hash join, which sorts neither side (a
    * `first(struct)` fold over a tagged union cannot hash-aggregate and
    * sorts both); past it, a sort-merge join. With both snapshots
    * bucketed at rest (sources/Store.writeBucketed) it runs with zero
    * exchanges.
    *
    * Keyed contract: ≤ 1 row per key per side — a repeated key pairs
    * every older copy with every newer copy. NULL keys never match
    * (equi-join semantics): a NULL-key row of `older` surfaces as
    * `removed` and one of `newer` as `added`, each on its own row.
    * Every gated caller keys on a non-null merge key.
    */
  def diff(older: DataFrame, newer: DataFrame, key: String,
      compare: Seq[String]): DataFrame = {
    // change detection as ONE struct-level null-safe comparison: Spark
    // compares structs field-wise with null fields equal, so
    // !(_b <=> _a) ⇔ the per-column OR of !(before_c <=> after_c) —
    // and, unlike that 2k-term OR over getFields, it gives the
    // optimizer's constraint propagation nothing to expand (the OR form
    // measured MINUTES of ExpressionSet planning on the chained cdc
    // appliers' deep plans)
    pairByKey(older, compare, newer, compare, key)
      .withColumn("change",
        when(col("_b").isNull, lit("added"))
          .when(col("_a").isNull, lit("removed"))
          .when(!(col("_b") <=> col("_a")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(col(key) +:
        (compare.map(c => col("_b").getField(c).as(s"before_$c")) ++
          compare.map(c => col("_a").getField(c).as(s"after_$c")) :+
          col("change")): _*)
  }

  /** Incremental view maintenance from a CDC frame — the consumer side
    * of `UpsertTable.changes` (and of [[diff]], whose before_/after_
    * flattening both share): maintain a grouped COUNT + SUM view by
    * applying net deltas instead of rescanning the table. After-images
    * add (+1 row, +measure on `insert`/`update`); before-images subtract
    * (−1 row, −measure on `delete`/`update`); groups whose row count
    * nets to zero vanish from the view. With integer measures the
    * algebra is exact: applying every version step's delta reproduces
    * the aggregate of the final snapshot to the bit
    * (`q_cdc_consume` hash-gates that equality through two real
    * published versions; ScdSpec proves it on random snapshot pairs
    * including deletes).
    *
    * Scale: this is why [[graft.streaming.Livestream.UpsertTable.changes]]
    * exists — the delta frame is |changed keys|-sized (manifest-pruned
    * to re-pointed buckets), so maintaining a downstream view of a
    * 100 TB table costs one |delta| scan plus one exchange on the group
    * key per version step, never a snapshot scan. Only ADDITIVE
    * measures (count, sum, and anything derived from them — mean,
    * ratios) maintain this way; min/max need the full group on a delete
    * and are recomputed, not maintained.
    *
    * `maintained` must carry (`group`, `nCol`, `sCol`) — start from the
    * base snapshot's aggregate (or an empty frame for `changes(-1, v)`
    * consumers). Null groups are groups like any other (both Spark and
    * the oracle aggregate NULL as one group); a null measure adds its
    * row count but no sum, matching SUM's null-skipping on the rescan
    * side — with ONE documented divergence at the SQL-null boundary: a
    * group whose LAST non-null measure leaves nets to sum 0 here
    * (X − X), where a rescan SUM over the remaining all-null rows is
    * SQL NULL. (n, sum) carries no non-null-measure count, so the
    * additive algebra cannot see that transition; it is exact for any
    * group retaining ≥ 1 non-null measure — and everywhere, for
    * non-null measure columns (every gated consumer). Groups needing
    * SQL-null sums under fully-nullable measures belong with the
    * rescan-on-dirty appliers (pinned in ScdSpec).
    */
  def cdcApply(maintained: DataFrame, changes: DataFrame, group: String,
      measure: String, nCol: String = "n_rows", sCol: String = "sum_m"):
      DataFrame =
    cdcApplyGrouped(maintained, changes, Seq(group), measure, nCol, sCol)

  /** [[cdcApply]] generalized to MULTI-COLUMN group keys — the real-
    * dashboard shape (group by (dim1, dim2)): identical delta algebra,
    * one exchange on the composite key. [[cdcApply]] is the 1-element
    * case; callers never pack lossy string concats. */
  def cdcApplyGrouped(maintained: DataFrame, changes: DataFrame,
      groups: Seq[String], measure: String, nCol: String = "n_rows",
      sCol: String = "sum_m"): DataFrame = {
    require(groups.nonEmpty, "cdcApplyGrouped: need at least one group column")
    val plus = changes.filter(col("kind").isin("insert", "update"))
      .select(groups.map(g => col(s"after_$g").as(g)) :+
        lit(1L).as("_dn") :+
        col(s"after_$measure").cast("long").as("_dm"): _*)
    val minus = changes.filter(col("kind").isin("delete", "update"))
      .select(groups.map(g => col(s"before_$g").as(g)) :+
        lit(-1L).as("_dn") :+
        (-col(s"before_$measure")).cast("long").as("_dm"): _*)
    maintained
      .select(groups.map(col) :+ col(nCol).as("_dn") :+ col(sCol).as("_dm"): _*)
      .unionByName(plus).unionByName(minus)
      .groupBy(groups.map(col): _*)
      .agg(sum("_dn").as(nCol), sum("_dm").as(sCol))
      .filter(col(nCol) =!= 0L)
  }

  /** The matching base/rescan aggregate — one definition shared by the
    * seed of a [[cdcApply]] chain and its verification rescan, so the
    * two sides cannot drift. */
  def cdcBaseAgg(snapshot: DataFrame, group: String, measure: String,
      nCol: String = "n_rows", sCol: String = "sum_m"): DataFrame =
    cdcBaseAggGrouped(snapshot, Seq(group), measure, nCol, sCol)

  /** [[cdcBaseAgg]] for multi-column group keys. */
  def cdcBaseAggGrouped(snapshot: DataFrame, groups: Seq[String],
      measure: String, nCol: String = "n_rows", sCol: String = "sum_m"):
      DataFrame =
    snapshot.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as(nCol), sum(col(measure).cast("long")).as(sCol))

  /** TIME-WINDOWED incremental view maintenance — the applier family's
    * time dimension (the per-window dashboard view, the most common
    * streaming-serving shape after the leaderboard): maintain a
    * COUNT + SUM view keyed on (window_start, groups...) from the
    * same net-changes contract. Tumbling windows are
    * `slideSec == windowSec`; HOPPING windows expand each image into
    * its `windowSec / slideSec` memberships — the constant fan-out the
    * batch hopping aggregate (q_hopping_agg) models with an explicit
    * k-unnest, applied to the |Δ|-sized change frame instead of the
    * corpus. An update whose timestamp moved subtracts from every
    * before-window and adds to every after-window, so rows MOVE
    * between windows exactly; late data lands in its own window's
    * group by construction — the store's net-changes contract carries
    * it, no watermark semantics to invent (SESSION windows are the
    * genuinely stateful case — [[cdcApplySession]] maintains them at
    * GROUP granularity via the dirty-group rescan).
    *
    * `tsCol` must be a non-negative integral epoch column (window
    * starts use the `t - t mod slide` device, exact for t ≥ 0); a NULL
    * timestamp has no window and contributes nothing on that side.
    * Scale: |Δ|·k input rows, one exchange on the composite key —
    * never a window-table rescan. Seed with [[cdcBaseWindowed]]. */
  def cdcApplyWindowed(maintained: DataFrame, changes: DataFrame,
      groups: Seq[String], measure: String, tsCol: String,
      windowSec: Long, slideSec: Long, wCol: String = "w_start",
      nCol: String = "n_rows", sCol: String = "sum_m"): DataFrame = {
    val k = windowMemberships(windowSec, slideSec)
    def side(kinds: Seq[String], prefix: String, sign: Long): DataFrame =
      changes.filter(col("kind").isin(kinds: _*))
        .select(groups.map(g => col(s"$prefix$g").as(g)) :+
          col(s"$prefix$measure").cast("long").as("_m") :+
          col(s"$prefix$tsCol").cast("long").as("_t"): _*)
        .filter(col("_t").isNotNull)
        .withColumn("_j", explode(sequence(lit(0L), lit(k - 1))))
        .select(((col("_t") - pmod(col("_t"), lit(slideSec)) -
            col("_j") * slideSec).as(wCol) +:
          groups.map(col)) :+
          lit(sign).as("_dn") :+ (col("_m") * sign).as("_dm"): _*)
    val keys = wCol +: groups
    maintained
      .select(keys.map(col) :+ col(nCol).as("_dn") :+ col(sCol).as("_dm"): _*)
      .unionByName(side(Seq("insert", "update"), "after_", 1L))
      .unionByName(side(Seq("delete", "update"), "before_", -1L))
      .groupBy(keys.map(col): _*)
      .agg(sum("_dn").as(nCol), sum("_dm").as(sCol))
      .filter(col(nCol) =!= 0L)
  }

  /** The matching windowed base/rescan aggregate — shared by the seed
    * of a [[cdcApplyWindowed]] chain and its verification rescan. */
  def cdcBaseWindowed(snapshot: DataFrame, groups: Seq[String],
      measure: String, tsCol: String, windowSec: Long, slideSec: Long,
      wCol: String = "w_start", nCol: String = "n_rows",
      sCol: String = "sum_m"): DataFrame = {
    val k = windowMemberships(windowSec, slideSec)
    snapshot
      .select(groups.map(col) :+
        col(measure).cast("long").as("_m") :+
        col(tsCol).cast("long").as("_t"): _*)
      .filter(col("_t").isNotNull)
      .withColumn("_j", explode(sequence(lit(0L), lit(k - 1))))
      .select(((col("_t") - pmod(col("_t"), lit(slideSec)) -
          col("_j") * slideSec).as(wCol) +:
        groups.map(col)) :+ col("_m"): _*)
      .groupBy((wCol +: groups).map(col): _*)
      .agg(count(lit(1)).as(nCol), sum("_m").as(sCol))
  }

  private def windowMemberships(windowSec: Long, slideSec: Long): Long = {
    require(windowSec > 0 && slideSec > 0 && windowSec % slideSec == 0,
      s"window/slide must be positive with slide dividing window: " +
        s"got window=$windowSec slide=$slideSec")
    windowSec / slideSec
  }

  /** SESSION-WINDOW incremental view maintenance — the data-dependent
    * window [[cdcApplyWindowed]]'s clock-aligned algebra cannot express
    * (a session's boundaries move with its neighbours: one inserted
    * event can MERGE two sessions, one delete can SPLIT one). The sound
    * incremental unit is therefore the GROUP, not the row: any change
    * touching a group (an image landing in it, or leaving it) marks it
    * dirty, dirty groups re-sessionize from a pruned snapshot rescan,
    * untouched groups serve from the view VERBATIM — the
    * [[cdcApplyTopK]] dirty-group device with the batch sessionizer
    * ([[graft.streaming.Sessionize.batch]]) as the per-group rebuild,
    * so maintained ≡ batch holds structurally (shared code), never by
    * re-derivation.
    *
    * Scale: |dirty groups| ≤ 2·|changes|; the rescan is
    * `snapshot ⋉ dirty` — bucket-pruned on a group-co-partitioned store
    * ([[graft.streaming.Livestream.UpsertTable.scanForKeys]]), never
    * the table; within a dirty group the rebuild is one window pass
    * over that group's events. A power-user group with millions of
    * events makes its own rescan wide — that is the honest cost of
    * session semantics (the interval-merge cascade is unbounded in
    * theory); the group unit keeps it local.
    *
    * `maintained` carries [[cdcBaseSession]]'s shape (`group`,
    * session_id, start, end, n_events); `changes` carries
    * before_/after_ images of `group` and `tsCol` (net changes per key,
    * the family precondition). NULL timestamps ride through the batch
    * sessionizer identically on both paths; NULL groups are groups like
    * any other (null-safe dirty matching). */
  def cdcApplySession(maintained: DataFrame, changes: DataFrame,
      snapshot: DataFrame, group: String, tsCol: String,
      gapSec: Long): DataFrame = {
    val g = col(group)
    val dirty = changes.filter(col("kind").isin("insert", "update"))
      .select(col(s"after_$group").as(group))
      .unionByName(changes.filter(col("kind").isin("delete", "update"))
        .select(col(s"before_$group").as(group)))
      .distinct()
      .localCheckpoint(false)
    val keep = maintained
      .join(dirty.withColumnRenamed(group, "_dg"), g <=> col("_dg"),
        "left_anti")
    val rescan = cdcBaseSession(
      snapshot.join(dirty.withColumnRenamed(group, "_dg"),
        g <=> col("_dg"), "left_semi"),
      group, tsCol, gapSec)
    keep.unionByName(rescan)
  }

  /** The matching base/rescan sessionizer — shared by the seed of a
    * [[cdcApplySession]] chain and its verification rescan (and with
    * the batch operator itself: one definition, zero drift). */
  def cdcBaseSession(snapshot: DataFrame, group: String, tsCol: String,
      gapSec: Long): DataFrame =
    graft.streaming.Sessionize.batch(snapshot, group,
      col(tsCol).cast("long"), gapSec)

  /** MIN/MAX incremental view maintenance — the non-additive half
    * [[cdcApply]]'s scaladoc deferred ("min/max need the full group on
    * a delete"), via the DIRTY-GROUP PRUNED RESCAN:
    *
    *  - after-images maintain monotonically: a group's new min/max is
    *    `least/greatest(current, delta candidates)` — no rescan ever;
    *  - a removal (delete / update before-image) can only move min/max
    *    if the removed value WAS an extremum, so exactly those groups
    *    are marked dirty (value <=> current min or max; a null measure
    *    can never be an extremum) and rescanned FROM THE SNAPSHOT —
    *    every other group is served from the maintained view untouched;
    *  - row counts maintain additively alongside (the [[cdcApply]]
    *    algebra), and groups netting to zero rows drop — which also
    *    retires the all-null-measure group no extremum check can see.
    *
    * Scale: the rescan frame is `snapshot ⋉ dirty` — |dirty| is bounded
    * by |changes|, and on the versioned store the semi-join key is the
    * group a consumer co-partitions by, so the rescan prunes to the
    * dirty groups' buckets (the manifest/key-bucket layout), never the
    * table. A refresh with no extremum removals touches zero snapshot
    * rows.
    *
    * `maintained` must carry (`group`, `nCol`, `minCol`, `maxCol`) —
    * seed with [[cdcBaseMinMax]]. Null groups are groups like any other
    * (all joins here are null-safe). Output: same shape, groups with
    * zero live rows dropped.
    *
    * PRECONDITION — net changes per key: `changes` must carry at most
    * one row per key (the snapshot-diff contract of
    * [[graft.streaming.Livestream.UpsertTable.changes]] / [[diff]],
    * which net a version range to one before/after image per key). A
    * raw event-level CDC feed violates it: an intra-batch insert+delete
    * of a value above the current max would fold the insert in
    * monotonically while the delete's extremum check (against the
    * PRE-batch view) cannot see it — the maintained max inflates. Net
    * such feeds per key (last-writer image vs the pre-batch snapshot)
    * before applying.
    */
  def cdcApplyMinMax(maintainedIn: DataFrame, changesIn: DataFrame,
      snapshot: DataFrame, group: String, measure: String,
      nCol: String = "n_rows", minCol: String = "min_m",
      maxCol: String = "max_m"): DataFrame = {
    // the view is referenced five times below (dirty probe, clean anti,
    // the two delta-side anti-joins, the combine) and a CHAINED apply
    // feeds one step's output into the next — without materialization
    // the maintained DAG re-expands multiplicatively per step (the
    // covNumerators postings-checkpoint device; measured 9.9 s → the
    // committed time on q_cdc_minmax's two-step chain). Changes are
    // read three times — same treatment.
    val maintained = maintainedIn.localCheckpoint(false)
    val changes = changesIn.localCheckpoint(false)
    val g = col(group)
    // after-image candidates: per-group delta count and min/max of the
    // non-null incoming measures
    val plus = changes.filter(col("kind").isin("insert", "update"))
      .select(col(s"after_$group").as(group),
        col(s"after_$measure").cast("long").as("_m"))
      .groupBy(group)
      .agg(count(lit(1)).as("_an"), min("_m").as("_amin"), max("_m").as("_amax"))
    // removal-side per-group row-count delta
    val minusN = changes.filter(col("kind").isin("delete", "update"))
      .select(col(s"before_$group").as(group))
      .groupBy(group).agg(count(lit(1)).as("_rn"))
    // dirty is probed four times below (three anti-joins + the rescan
    // semi) — |dirty| ≤ |changes|, checkpoint once
    val dirty = minMaxDirtyGroups(maintained, changes, group, measure,
      minCol, maxCol).localCheckpoint(false)
    // clean groups: maintained view minus dirty, with after-candidates
    // folded in monotonically and row counts maintained additively.
    // The delta sides exclude dirty groups too — a dirty group is served
    // ENTIRELY by the rescan; letting its after-candidates through here
    // would resurrect it as a spurious "new" group
    val clean = maintained.join(dirty.withColumnRenamed(group, "_dg"),
        g <=> col("_dg"), "left_anti")
    val plusClean = plus.join(dirty.withColumnRenamed(group, "_dg"),
      g <=> col("_dg"), "left_anti")
    val minusClean = minusN.join(dirty.withColumnRenamed(group, "_dg"),
      g <=> col("_dg"), "left_anti")
    val withPlus = clean
      .join(plusClean.withColumnRenamed(group, "_pg"), g <=> col("_pg"),
        "full_outer")
      .join(minusClean.withColumnRenamed(group, "_mg"),
        coalesce(g, col("_pg")) <=> col("_mg"), "left_outer")
      .select(
        coalesce(g, col("_pg")).as(group),
        (coalesce(col(nCol), lit(0L)) + coalesce(col("_an"), lit(0L)) -
          coalesce(col("_rn"), lit(0L))).as(nCol),
        least(col(minCol), col("_amin")).as(minCol),
        greatest(col(maxCol), col("_amax")).as(maxCol))
      .filter(col(nCol) =!= 0L)
    // dirty groups: pruned rescan of ONLY those groups from the snapshot
    val rescan = snapshot
      .join(dirty.withColumnRenamed(group, "_dg"), g <=> col("_dg"), "left_semi")
      .groupBy(group)
      .agg(count(lit(1)).as(nCol),
        min(col(measure).cast("long")).as(minCol),
        max(col(measure).cast("long")).as(maxCol))
    withPlus.unionByName(rescan)
  }

  /** The dirty-group rule [[cdcApplyMinMax]] rescans by — a removed
    * value that equals its group's current extremum (conservative:
    * duplicates of the extremum rescan too; a null measure is never an
    * extremum). Exposed so the STRESS rehearsal can measure the
    * operator's own rescan width (|dirty| ≤ |changes|, the scale claim)
    * instead of re-deriving the rule and risking drift. */
  private[graft] def minMaxDirtyGroups(maintained: DataFrame,
      changes: DataFrame, group: String, measure: String,
      minCol: String = "min_m", maxCol: String = "max_m"): DataFrame = {
    val rem = changes.filter(col("kind").isin("delete", "update"))
      .select(col(s"before_$group").as("_rg"),
        col(s"before_$measure").cast("long").as("_rm"))
      .filter(col("_rm").isNotNull)
    rem.join(maintained, col("_rg") <=> col(group))
      .filter(col("_rm") === col(minCol) || col("_rm") === col(maxCol))
      .select(col("_rg").as(group)).distinct()
  }

  /** The matching min/max base/rescan aggregate — shared by the seed of
    * a [[cdcApplyMinMax]] chain and its verification rescan. */
  def cdcBaseMinMax(snapshot: DataFrame, group: String, measure: String,
      nCol: String = "n_rows", minCol: String = "min_m",
      maxCol: String = "max_m"): DataFrame =
    snapshot.groupBy(group)
      .agg(count(lit(1)).as(nCol),
        min(col(measure).cast("long")).as(minCol),
        max(col(measure).cast("long")).as(maxCol))

  /** Per-group TOP-K incremental view maintenance — the leaderboard /
    * serve-top-docs-per-shard shape, generalizing [[cdcApplyMinMax]]
    * from the extremum to the top-k ROWS per group (ranked by
    * `measure` DESC then `key` ASC — a total order, so the view is
    * deterministic under ties). The maintained frame holds
    * (`group`, `key`, `mCol`, `rkCol`): the top-min(k, live) rows of
    * each group with their 1-based ranks.
    *
    * The partition rule (the [[cdcApplyJoin]] keep/touch device crossed
    * with the min/max dirty-group rescan):
    *
    *  - untouched groups (no after-image lands in them, no removal hits
    *    their maintained rows) are served from the view VERBATIM —
    *    their ranks cannot have moved;
    *  - dirty groups — a removal (delete / update before-image) whose
    *    (group, key) IS a maintained top-k row — rescan pruned from the
    *    snapshot. Because maintained rows are KEYED, the dirty test is
    *    an exact membership match, not [[cdcApplyMinMax]]'s
    *    conservative value-equality: removing a below-top-k duplicate
    *    of the boundary value rescans nothing;
    *  - the remaining touched groups re-rank (maintained rows of the
    *    group ∪ the group's after-images) keeping ≤ k. Sound because a
    *    clean group's removals were all below its top-k (the group's
    *    live count exceeds k, so the k kept rows survive), and an
    *    after-image's key cannot collide with a maintained row of a
    *    clean group — if the fact existed there, its before-image
    *    either matched a top-k row (dirty) or sat below it (absent).
    *
    * Scale: dirty + touched are |changes|-bounded; the rescan is
    * `snapshot ⋉ dirty` (bucket-pruned on a group-co-partitioned
    * store); the re-rank windows over |Δ| + k·|touched groups| rows.
    * The view itself flows through untouched — never re-derived.
    *
    * Null measures are never in the view (the SUM/extremum null-skip
    * analog): a null after-image adds nothing; a row updated to a null
    * measure retires like a delete (dirty if it held a top-k slot). A
    * group whose live rows all die rescans to zero rows and vanishes.
    * Net-changes-per-key precondition as [[cdcApplyMinMax]].
    *
    * `changes` carries the fact key AS `key` (un-prefixed — keys never
    * change) and before_/after_ images of `group` and `measure`.
    * Seed with [[cdcBaseTopK]] at the same `k`.
    */
  def cdcApplyTopK(maintainedIn: DataFrame, changesIn: DataFrame,
      snapshot: DataFrame, group: String, key: String, measure: String,
      k: Int, mCol: String = "m", rkCol: String = "rk"): DataFrame = {
    require(k >= 1, s"cdcApplyTopK: need k >= 1, got $k")
    // chained applies feed one step's output into the next — without
    // materialization the maintained DAG re-expands per step (the
    // cdcApplyMinMax checkpoint device); changes is read three times
    val maintained = maintainedIn.localCheckpoint(false)
    val changes = changesIn.localCheckpoint(false)
    val g = col(group)
    // removals that HELD a top-k slot dirty their group (exact keyed
    // membership — null-measure before-images can never match a view
    // row, the isNotNull is just a prune)
    val rem = changes.filter(col("kind").isin("delete", "update"))
      .select(col(key).as("_rk"), col(s"before_$group").as("_rg"),
        col(s"before_$measure").cast("long").as("_rm"))
      .filter(col("_rm").isNotNull)
    val dirty = rem
      .join(maintained, col("_rg") <=> g && col("_rk") === col(key),
        "left_semi")
      .select(col("_rg").as(group)).distinct()
      .localCheckpoint(false)
    // after-images land in their new group; null measures never enter
    val plus = changes.filter(col("kind").isin("insert", "update"))
      .select(col(s"after_$group").as(group), col(key),
        col(s"after_$measure").cast("long").as(mCol))
      .filter(col(mCol).isNotNull)
      .localCheckpoint(false)
    val touched = plus.select(group).distinct()
      .join(dirty.withColumnRenamed(group, "_dg"), g <=> col("_dg"),
        "left_anti")
      .localCheckpoint(false)
    val rank = row_number().over(
      Window.partitionBy(g).orderBy(col(mCol).desc, col(key)))
    // untouched groups: the view verbatim — ranks cannot have moved
    val keep = maintained
      .join(dirty.withColumnRenamed(group, "_dg"), g <=> col("_dg"),
        "left_anti")
      .join(touched.withColumnRenamed(group, "_tg"), g <=> col("_tg"),
        "left_anti")
    // touched-clean groups: re-rank maintained ∪ after-images, keep ≤ k
    val folded = maintained.drop(rkCol)
      .join(touched.withColumnRenamed(group, "_tg"), g <=> col("_tg"),
        "left_semi")
      .unionByName(plus
        .join(dirty.withColumnRenamed(group, "_dg"), g <=> col("_dg"),
          "left_anti"))
      .withColumn(rkCol, rank).filter(col(rkCol) <= k)
    // dirty groups: pruned rescan of ONLY those groups from the snapshot
    val rescan = snapshot
      .select(g, col(key), col(measure).cast("long").as(mCol))
      .filter(col(mCol).isNotNull)
      .join(dirty.withColumnRenamed(group, "_dg"), g <=> col("_dg"),
        "left_semi")
      .withColumn(rkCol, rank).filter(col(rkCol) <= k)
    keep.unionByName(folded).unionByName(rescan)
  }

  /** [[cdcApplyTopK]] generalized to MULTI-COLUMN group keys via the
    * struct-packing device: the group columns pack into one struct
    * column (field-by-field null-safe equality and grouping are
    * Spark's struct semantics — NULL fields compare equal, exactly the
    * single-column `<=>` contract), the proven single-group algebra
    * runs unchanged, and the output unpacks. Nothing string-concats —
    * the lossy encoding this entry point exists to prevent. The
    * maintained frame carries the group columns UNPACKED
    * (`groups..., key, mCol, rkCol` — [[cdcBaseTopKGrouped]]'s shape);
    * `changes` carries before_/after_ images of every group column. */
  def cdcApplyTopKGrouped(maintained: DataFrame, changes: DataFrame,
      snapshot: DataFrame, groups: Seq[String], key: String,
      measure: String, k: Int, mCol: String = "m",
      rkCol: String = "rk"): DataFrame = {
    require(groups.nonEmpty,
      "cdcApplyTopKGrouped: need at least one group column")
    if (groups.size == 1)
      return cdcApplyTopK(maintained, changes, snapshot, groups.head, key,
        measure, k, mCol, rkCol)
    val G = "_g_pack"
    def pack(cols: Seq[Column]): Column =
      struct(cols.zip(groups).map { case (c, g) => c.as(g) }: _*)
    val m2 = maintained
      .withColumn(G, pack(groups.map(col)))
      .select(col(G), col(key), col(mCol), col(rkCol))
    val ch2 = changes
      .withColumn(s"before_$G", pack(groups.map(g => col(s"before_$g"))))
      .withColumn(s"after_$G", pack(groups.map(g => col(s"after_$g"))))
    val sn2 = snapshot.withColumn(G, pack(groups.map(col)))
    cdcApplyTopK(m2, ch2, sn2, G, key, measure, k, mCol, rkCol)
      .select(groups.map(g => col(s"$G.$g").as(g)) ++
        Seq(col(key), col(mCol), col(rkCol)): _*)
  }

  /** The matching top-k base/rescan — shared by the seed of a
    * [[cdcApplyTopK]] chain and its verification rescan. */
  def cdcBaseTopK(snapshot: DataFrame, group: String, key: String,
      measure: String, k: Int, mCol: String = "m",
      rkCol: String = "rk"): DataFrame =
    snapshot
      .select(col(group), col(key), col(measure).cast("long").as(mCol))
      .filter(col(mCol).isNotNull)
      .withColumn(rkCol, row_number().over(
        Window.partitionBy(col(group)).orderBy(col(mCol).desc, col(key))))
      .filter(col(rkCol) <= k)

  /** [[cdcBaseTopK]] for multi-column group keys — UNPACKED output
    * (`groups..., key, mCol, rkCol`), [[cdcApplyTopKGrouped]]'s
    * maintained shape. */
  def cdcBaseTopKGrouped(snapshot: DataFrame, groups: Seq[String],
      key: String, measure: String, k: Int, mCol: String = "m",
      rkCol: String = "rk"): DataFrame =
    snapshot
      .select(groups.map(col) :+ col(key) :+
        col(measure).cast("long").as(mCol): _*)
      .filter(col(mCol).isNotNull)
      .withColumn(rkCol, row_number().over(
        Window.partitionBy(groups.map(col): _*)
          .orderBy(col(mCol).desc, col(key))))
      .filter(col(rkCol) <= k)

  /** JOIN-view incremental maintenance — the two-table half the cdcApply
    * family was missing (the enriched-dashboard shape: facts ⋈ dimension
    * on `joinKey`, dimension keyed BY `joinKey`, facts keyed by
    * `factKey` so the inner view carries ≤ 1 row per fact). The delta
    * algebra Δ(F⋈D) = ΔF⋈D ∪ F⋈ΔD ∪ ΔF⋈ΔD lands here as a three-way
    * partition of the NEW view by what touched each row:
    *
    *  - untouched: fact key unchanged AND join key not in ΔD — served
    *    from the maintained view verbatim (never re-derived);
    *  - fact-changed (covers ΔF⋈D and ΔF⋈ΔD): ΔF's after-images joined
    *    against the NEW dim image — inserts gain their row, updates
    *    replace it (including join-key churn: the before-image row died
    *    with the fact key above), deletes simply never reappear;
    *  - dim-dirty (F⋈ΔD): for join keys ΔD touched, the UNCHANGED fact
    *    rows re-derive against the new dim image via a PRUNED fact
    *    rescan (facts ⋉ dirty-jk, minus ΔF's keys) — a dim INSERT is
    *    why this reads the fact table and not the view: fact rows that
    *    previously had no dim match are not IN the view to update. A
    *    dim delete propagates by absence (inner join, nothing to meet).
    *
    * Scale: the fact-changed branch is |ΔF|-sized; the dim-dirty branch
    * touches fanout(ΔD's keys) fact rows — bucket-pruned when the fact
    * store co-partitions by the join key (else a scan with a semi-join
    * filter pushed to it); the dim lookup side is pruned to the touched
    * keys and broadcast. The fact and dim tables are never fully
    * rescanned; the view itself flows through (it is the maintained
    * artifact, the [[cdcApply]] contract).
    *
    * `changesF` carries (`factKey`, kind, before_/after_ images of
    * `joinKey` and every `factCols`); `changesD` carries the dim key AS
    * `joinKey` (rename [[graft.streaming.Livestream.UpsertTable.changes]]'
    * `idstr`) — only its key/kind matter here: any dim change dirties
    * its key. Net-changes-per-key preconditions as [[cdcApplyMinMax]].
    *
    * ==Broadcast guard==
    * The ΔD-derived frames (dirty keys, pruned dim images) carry
    * broadcast hints — right for micro-batch deltas, but a dim BACKFILL
    * or re-seed makes ΔD dim-sized and a forced hint would OOM the
    * driver instead of degrading. The hints are therefore CONDITIONAL
    * on counted bounds (`maxBroadcastKeys`, counted over the already-
    * materialized delta frames — two cheap jobs): over the bound the
    * hint drops (AQE plans a shuffle join) and the shed is LOUD — a
    * `graft_shed_cdcJoinBroadcast_*` observe metric rides the output.
    *
    * Output: the new view, (factKey, joinKey, factCols..., dimCols...) —
    * seed with [[cdcBaseJoin]]. */
  def cdcApplyJoin(viewIn: DataFrame, changesFIn: DataFrame,
      changesD: DataFrame, factSnap: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String],
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): DataFrame =
    // the view and ΔF are each probed twice below; a CHAINED apply
    // feeds one step's output into the next (the cdcApplyMinMax
    // materialization contract)
    cdcApplyJoinCore(viewIn.localCheckpoint(false),
      changesFIn.localCheckpoint(false), changesD, factSnap, dimSnap,
      factKey, joinKey, factCols, dimCols, maxBroadcastKeys)

  /** Hint ceiling for the delta-derived broadcast frames of the join
    * appliers: 1M keys — far above any micro-batch delta, well under
    * driver-broadcast trouble for the pruned dim images they bound. */
  val DefaultMaxBroadcastKeys = 1000000L

  /** Conditionally-hinted frame + the loud-shed receipt: under the
    * bound, a forced broadcast (the delta is micro-batch-sized by
    * contract); over it, no hint — AQE degrades to a shuffle join —
    * and the caller's output carries a shed metric naming the device. */
  private def hinted(df: DataFrame, nKeys: Long, bound: Long): DataFrame =
    if (nKeys <= bound) broadcast(df) else df

  /** The two hint-bound cardinalities of one apply step in ONE job:
    * each count alone costs a scheduling round-trip, and both frames
    * are lazily-checkpointed delta derivations this job is also what
    * materializes — so tag, union, and aggregate by side instead of
    * counting twice. */
  private def countPair(a: DataFrame, b: DataFrame): (Long, Long) = {
    val m = a.select(lit(0).as("_side"))
      .unionByName(b.select(lit(1).as("_side")))
      .groupBy("_side").agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (m.getOrElse(0, 0L), m.getOrElse(1, 0L))
  }

  /** [[cdcApplyJoin]] body over ALREADY-materialized view/ΔF —
    * factored so [[cdcApplyJoinWithDelta]] shares the checkpoints
    * instead of stacking a second materialization per step. */
  private def cdcApplyJoinCore(view: DataFrame, changesF: DataFrame,
      changesD: DataFrame, factSnap: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String],
      maxBroadcastKeys: Long): DataFrame = {
    val outCols = (factKey +: joinKey +: (factCols ++ dimCols)).map(col)
    val jk = col(joinKey)
    // fact keys with ANY change: their view rows are fully re-derived
    val fIds = changesF.select(col(factKey).as("_fk")).distinct()
      .localCheckpoint(false)
    // dirty join keys: ANY dim change (insert gains matches, update
    // re-attributes, delete drops) — the dim key is its own before and
    // after image, so the key column alone marks the dirt
    val dirtyJk = changesD.select(col(joinKey).as("_dj")).distinct()
      .localCheckpoint(false)
    // untouched view rows, served verbatim
    val keep = view
      .join(fIds, col(factKey) === col("_fk"), "left_anti")
      .join(dirtyJk, jk <=> col("_dj"), "left_anti")
    val dimNew = dimSnap.select(jk +: dimCols.map(col): _*)
    // fact-changed branch: after-images ⋈ new dim image (dim lookup
    // pruned to the after join keys — an id-set-sized broadcast)
    val afterFacts = changesF.filter(col("kind").isin("insert", "update"))
      .select(col(factKey) +: col(s"after_$joinKey").as(joinKey) +:
        factCols.map(c => col(s"after_$c").as(c)): _*)
    val aj = afterFacts.select(jk.as("_aj")).distinct().localCheckpoint(false)
    val (nDirty, nAj) = countPair(dirtyJk, aj)
    val dimForFacts = dimNew.join(aj, jk === col("_aj"), "left_semi")
    val fromFacts = afterFacts
      .join(hinted(dimForFacts, nAj, maxBroadcastKeys), Seq(joinKey))
    // dim-dirty branch: pruned fact rescan ⋈ the dirty keys' new image
    val dimForDirty = dimNew.join(dirtyJk, jk === col("_dj"), "left_semi")
    val fromDim = factSnap
      .select(col(factKey) +: jk +: factCols.map(col): _*)
      .join(hinted(dirtyJk, nDirty, maxBroadcastKeys), jk === col("_dj"),
        "left_semi")
      .join(fIds, col(factKey) === col("_fk"), "left_anti")
      .join(hinted(dimForDirty, nDirty, maxBroadcastKeys), Seq(joinKey))
    val out = keep.select(outCols: _*)
      .unionByName(fromFacts.select(outCols: _*))
      .unionByName(fromDim.select(outCols: _*))
    val shed = math.max(if (nDirty > maxBroadcastKeys) nDirty else 0L,
      if (nAj > maxBroadcastKeys) nAj else 0L)
    if (shed == 0L) out
    else out.observe(Guard.shedMetricName("cdcJoinBroadcast"),
      max(lit(shed)).as("unhinted_keys"))
  }

  /** The matching base/rescan join — one definition shared by the seed
    * of a [[cdcApplyJoin]] chain and its verification rescan. */
  def cdcBaseJoin(factSnap: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String]): DataFrame =
    factSnap.select(col(factKey) +: col(joinKey) +: factCols.map(col): _*)
      .join(dimSnap.select(col(joinKey) +: dimCols.map(col): _*), Seq(joinKey))
      .select((factKey +: joinKey +: (factCols ++ dimCols)).map(col): _*)

  /** LEFT-OUTER join-view incremental maintenance — the late-arriving-
    * dimension shape [[cdcApplyJoin]]'s inner algebra cannot express:
    * every live fact stays in the view, carried with NULL dim columns
    * until its dim arrives; a dim INSERT flips its fact rows from
    * null-dims to joined, a dim DELETE flips them back rather than
    * dropping them.
    *
    * The outer invariant makes the view SELF-MAINTAINABLE: since every
    * live fact is in the view (exactly one row per fact key), the
    * dim-dirty branch re-derives from the VIEW itself — strip the dim
    * columns off the dirty join keys' rows and re-left-join the new dim
    * image — never from the fact table. The inner variant's unpruned
    * fact-rescan caveat (a dim insert must find fact rows that are not
    * in the view) does not exist here; the maintained view is the only
    * large input and it is semi-join-pruned to the dirty keys.
    *
    *  - untouched: fact key ∉ ΔF and join key ∉ ΔD — served verbatim;
    *  - fact-changed: ΔF after-images LEFT JOIN the new dim image
    *    (inserts and updates land joined or null-dimmed; deletes never
    *    reappear — including join-key churn);
    *  - dim-dirty: view rows with a dirty join key, minus ΔF's keys,
    *    dim columns re-derived against the new dim image (absence ⇒
    *    NULL — the delete flip-back).
    *
    * NULL join keys: a fact with a NULL join key never matches any dim
    * (SQL join semantics), so its row lives permanently in the
    * untouched/fact-changed branches — the dirty-key match is `===`
    * (never null-dirty) by design.
    *
    * Same preconditions as [[cdcApplyJoin]] (net changes per key; dim
    * keyed by `joinKey`; `changesD` carries the dim key as `joinKey`).
    * Output: (factKey, joinKey, factCols..., dimCols...) — seed with
    * [[cdcBaseJoinOuter]]. */
  def cdcApplyJoinOuter(viewIn: DataFrame, changesFIn: DataFrame,
      changesD: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String],
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): DataFrame =
    cdcApplyJoinOuterCore(viewIn.localCheckpoint(false),
      changesFIn.localCheckpoint(false), changesD, dimSnap,
      factKey, joinKey, factCols, dimCols, maxBroadcastKeys)

  /** [[cdcApplyJoinOuter]] body over ALREADY-materialized view/ΔF —
    * factored so [[cdcApplyJoinOuterWithDelta]] shares the checkpoints
    * (the same split [[cdcApplyJoinCore]] gives the inner pair). */
  private def cdcApplyJoinOuterCore(view: DataFrame, changesF: DataFrame,
      changesD: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String],
      maxBroadcastKeys: Long): DataFrame = {
    val outCols = (factKey +: joinKey +: (factCols ++ dimCols)).map(col)
    val jk = col(joinKey)
    val fIds = changesF.select(col(factKey).as("_fk")).distinct()
      .localCheckpoint(false)
    val dirtyJk = changesD.select(col(joinKey).as("_dj")).distinct()
      .localCheckpoint(false)
    val keep = view
      .join(fIds, col(factKey) === col("_fk"), "left_anti")
      .join(dirtyJk, jk === col("_dj"), "left_anti")
    val dimNew = dimSnap.select(jk +: dimCols.map(col): _*)
    val afterFacts = changesF.filter(col("kind").isin("insert", "update"))
      .select(col(factKey) +: col(s"after_$joinKey").as(joinKey) +:
        factCols.map(c => col(s"after_$c").as(c)): _*)
    val aj = afterFacts.select(jk.as("_aj")).distinct().localCheckpoint(false)
    val (nDirty, nAj) = countPair(dirtyJk, aj)
    val dimForFacts = dimNew.join(aj, jk === col("_aj"), "left_semi")
    val fromFacts = afterFacts
      .join(hinted(dimForFacts, nAj, maxBroadcastKeys), Seq(joinKey),
        "left_outer")
    // dim-dirty branch FROM THE VIEW: the outer invariant guarantees
    // the dirty keys' fact rows are all here — strip dim cols, re-join
    val dimForDirty = dimNew.join(dirtyJk, jk === col("_dj"), "left_semi")
    val fromDim = view
      .join(hinted(dirtyJk, nDirty, maxBroadcastKeys), jk === col("_dj"),
        "left_semi")
      .join(fIds, col(factKey) === col("_fk"), "left_anti")
      .select(col(factKey) +: jk +: factCols.map(col): _*)
      .join(hinted(dimForDirty, nDirty, maxBroadcastKeys), Seq(joinKey),
        "left_outer")
    val out = keep.select(outCols: _*)
      .unionByName(fromFacts.select(outCols: _*))
      .unionByName(fromDim.select(outCols: _*))
    val shed = math.max(if (nDirty > maxBroadcastKeys) nDirty else 0L,
      if (nAj > maxBroadcastKeys) nAj else 0L)
    if (shed == 0L) out
    else out.observe(Guard.shedMetricName("cdcJoinBroadcast"),
      max(lit(shed)).as("unhinted_keys"))
  }

  /** The matching left-outer base/rescan join — shared by the seed of a
    * [[cdcApplyJoinOuter]] chain and its verification rescan. */
  def cdcBaseJoinOuter(factSnap: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String]): DataFrame =
    factSnap.select(col(factKey) +: col(joinKey) +: factCols.map(col): _*)
      .join(dimSnap.select(col(joinKey) +: dimCols.map(col): _*),
        Seq(joinKey), "left_outer")
      .select((factKey +: joinKey +: (factCols ++ dimCols)).map(col): _*)

  /** [[cdcApplyJoin]] that ALSO emits Δview — the missing link of the
    * IVM stack: a downstream [[cdcApply]]/[[cdcApplyMinMax]] over the
    * joined view can consume the returned delta at |Δ| cost instead of
    * diffing two view images (F⋈D → groupBy maintained end to end, every
    * stage delta-sized).
    *
    * The delta is computed from exactly the partitions the apply already
    * derives: old touched rows = the view's rows for changed fact keys
    * or dirty join keys (the complement of the verbatim-served `keep`);
    * new touched rows = the fact-changed ∪ dim-dirty branches. [[diff]]
    * over the two (both |Δ|-sized; fact key unique in an inner view of a
    * keyed dim) yields the kind-tagged before_/after_ frame the cdcApply
    * family consumes — rows whose re-derivation changed nothing are NOT
    * emitted (a no-op dim update nets no delta).
    *
    * Returns (new view, Δview with `kind` ∈ insert/update/delete and
    * before_/after_ images of joinKey ++ factCols ++ dimCols). */
  def cdcApplyJoinWithDelta(viewIn: DataFrame, changesFIn: DataFrame,
      changesD: DataFrame, factSnap: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String],
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): (DataFrame, DataFrame) = {
    val view = viewIn.localCheckpoint(false)
    val changesF = changesFIn.localCheckpoint(false)
    val newView = cdcApplyJoinCore(view, changesF, changesD, factSnap,
      dimSnap, factKey, joinKey, factCols, dimCols, maxBroadcastKeys)
      .localCheckpoint(false)
    val jk = col(joinKey)
    val fIds = changesF.select(col(factKey).as("_fk")).distinct()
    val dirtyJk = changesD.select(col(joinKey).as("_dj")).distinct()
    def touched(v: DataFrame): DataFrame = v
      .join(fIds, col(factKey) === col("_fk"), "left_semi")
      .unionByName(v
        .join(fIds, col(factKey) === col("_fk"), "left_anti")
        .join(dirtyJk, jk <=> col("_dj"), "left_semi"))
    val compare = joinKey +: (factCols ++ dimCols)
    val delta = diff(touched(view), touched(newView), factKey, compare)
      .withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
      .drop("change")
    (newView, delta)
  }

  /** [[cdcApplyJoinOuter]] that ALSO emits Δview — the outer half of
    * [[cdcApplyJoinWithDelta]]'s contract, so the late-arriving-
    * dimension view chains into downstream consumers at |Δ| cost too.
    * The outer delta carries the null→joined flips a dim INSERT causes
    * (and the flip-backs of a dim DELETE) as `update` rows whose
    * before-image holds the NULL dim columns — exactly what a
    * downstream [[cdcApply]] needs to move those facts between the
    * null group and their new one.
    *
    * Touched-row bound: a view row is touched iff its fact key is in
    * ΔF or its join key is in ΔD — the dirty match is `===` like the
    * applier's (NULL join keys are never dim-dirty), so the diff input
    * stays |Δ|-sized. The outer invariant (exactly one row per live
    * fact key) makes the fact-key diff well-defined.
    *
    * Returns (new view, Δview with `kind` ∈ insert/update/delete and
    * before_/after_ images of joinKey ++ factCols ++ dimCols). */
  def cdcApplyJoinOuterWithDelta(viewIn: DataFrame, changesFIn: DataFrame,
      changesD: DataFrame, dimSnap: DataFrame,
      factKey: String, joinKey: String,
      factCols: Seq[String], dimCols: Seq[String],
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): (DataFrame, DataFrame) = {
    val view = viewIn.localCheckpoint(false)
    val changesF = changesFIn.localCheckpoint(false)
    val newView = cdcApplyJoinOuterCore(view, changesF, changesD, dimSnap,
      factKey, joinKey, factCols, dimCols, maxBroadcastKeys)
      .localCheckpoint(false)
    val jk = col(joinKey)
    val fIds = changesF.select(col(factKey).as("_fk")).distinct()
    val dirtyJk = changesD.select(col(joinKey).as("_dj")).distinct()
    def touched(v: DataFrame): DataFrame = v
      .join(fIds, col(factKey) === col("_fk"), "left_semi")
      .unionByName(v
        .join(fIds, col(factKey) === col("_fk"), "left_anti")
        .join(dirtyJk, jk === col("_dj"), "left_semi"))
    val compare = joinKey +: (factCols ++ dimCols)
    val delta = diff(touched(view), touched(newView), factKey, compare)
      .withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
      .drop("change")
    (newView, delta)
  }
}
