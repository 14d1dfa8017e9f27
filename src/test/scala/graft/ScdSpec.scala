package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Guard, Scd}

class ScdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("buildType2: runs collapse, versions count, intervals chain") {
    // user 1: a a b a  -> 3 runs; user 2: single event -> 1 open run
    val log = Seq(
      (1L, 10L, "a", 1L), (1L, 20L, "a", 2L), (1L, 30L, "b", 3L),
      (1L, 40L, "a", 4L),
      (2L, 5L, "x", 5L)
    ).toDF("user_id", "sec", "typ", "eid")
    val got = Scd.buildType2(log, "user_id", col("sec"), col("typ"), col("eid"))
      .orderBy("user_id", "version")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, "a", 10L, 30L),
      (1L, 2L, "b", 30L, 40L),
      (1L, 3L, "a", 40L, -1L),
      (2L, 1L, "x", 5L, -1L)))
  }

  test("buildType2: equal timestamps order by the tiebreak column") {
    val log = Seq(
      (1L, 10L, "b", 2L), (1L, 10L, "a", 1L) // at ts=10: a (eid 1) then b (eid 2)
    ).toDF("user_id", "sec", "typ", "eid")
    val got = Scd.buildType2(log, "user_id", col("sec"), col("typ"), col("eid"))
      .orderBy("version").as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L, "a", 10L, 10L), (1L, 2L, "b", 10L, -1L)))
  }

  test("buildType2: one exchange, windows share the sort") {
    val log = (1 to 300).map(i => (i.toLong % 7, i.toLong, s"t${i % 3}", i.toLong))
      .toDF("user_id", "sec", "typ", "eid")
    val df = Scd.buildType2(log, "user_id", col("sec"), col("typ"), col("eid"))
    df.collect()
    val c = PlanAudit.counters(df)
    assert(c.exchanges <= 1, s"expected at most 1 hash exchange, got $c")
  }

  test("StreamScd collapse expression == batch buildType2 on random logs") {
    import graft.streaming.StreamScd
    val rnd = new scala.util.Random(31)
    val log = (1 to 400).map { i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(50).toLong, s"t${rnd.nextInt(4)}",
        i.toLong)
    }.toDF("user_id", "sec", "typ", "eid")
    val want = graft.operators.Scd.buildType2(log, "user_id", col("sec"),
        col("typ"), col("eid"))
      .orderBy("user_id", "version")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    // the merge-time row-local path: per-user sorted array -> collapse
    val evs = log.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("sec").as("ts"),
        col("eid").as("tb"), col("typ").as("attr")))).as("evs"))
      .withColumn("_ivs0", StreamScd.collapseExpr)
      .withColumn("ivs", expr(
        """transform(_ivs0, (v, j) ->
             named_struct('version', v.version, 'attr', v.attr,
               'valid_from', v.valid_from,
               'valid_to', CASE WHEN j + 2 <= size(_ivs0)
                 THEN element_at(_ivs0, j + 2).valid_from
                 ELSE CAST(-1 AS BIGINT) END))"""))
    val got = evs.select(col("user_id"), explode(col("ivs")).as("iv"))
      .select(col("user_id"), col("iv.version"), col("iv.attr"),
        col("iv.valid_from"), col("iv.valid_to"))
      .orderBy("user_id", "version")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("diff: added/removed/changed classified, unchanged dropped, null-safe") {
    val older = Seq(
      (1L, Some(100L), "O"), (2L, Some(200L), "F"), (3L, None: Option[Long], "F"),
      (4L, Some(400L), "O")
    ).toDF("k", "price_c", "status")
    val newer = Seq(
      (1L, Some(100L), "O"),              // unchanged -> dropped
      (2L, Some(250L), "F"),              // changed (price)
      (3L, None: Option[Long], "P"),      // changed (status; null price equal via <=>)
      (5L, Some(500L), "O")               // added
    ).toDF("k", "price_c", "status")      // k=4 removed
    val got = Scd.diff(older, newer, "k", Seq("price_c", "status"))
      .select("k", "change").as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed", 3L -> "changed", 4L -> "removed",
      5L -> "added"))
  }

  test("diff: struct-level change detection matches per-column <=> on null boundaries") {
    // the one-exchange diff classifies via !(_b <=> _a) on the packed
    // structs — field-wise with null fields equal; these rows pin the
    // null boundaries that must match the old per-column OR exactly
    val older = Seq(
      (1L, None: Option[Long], "F"),   // null == null, F == F -> unchanged
      (2L, None: Option[Long], "F"),   // null -> 5: changed
      (3L, Some(5L), "F")              // 5 -> null: changed
    ).toDF("k", "price_c", "status")
    val newer = Seq(
      (1L, None: Option[Long], "F"),
      (2L, Some(5L), "F"),
      (3L, None: Option[Long], "F")
    ).toDF("k", "price_c", "status")
    val got = Scd.diff(older, newer, "k", Seq("price_c", "status"))
      .select("k", "change").as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed", 3L -> "changed"))
  }

  test("diff: hash-joined within the build budget, sort-merged past it, no sort aggregate, ONE struct <=>; same classification as the tagged-union fold on random snapshot pairs") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, Or}
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.types.StructType
    // the tagged-union first(struct) fold diff() was before the join
    def foldDiff(older: DataFrame, newer: DataFrame, key: String,
        compare: Seq[String]): DataFrame = {
      def sideType(df: DataFrame) =
        StructType(compare.map(c => df.schema(df.schema.fieldIndex(c))))
      val o = older.select(col(key), struct(compare.map(col): _*).as("_b"),
        lit(null).cast(sideType(newer)).as("_a"))
      val n = newer.select(col(key), lit(null).cast(sideType(older)).as("_b"),
        struct(compare.map(col): _*).as("_a"))
      o.unionByName(n).groupBy(key)
        .agg(first(col("_b"), ignoreNulls = true).as("_b"),
          first(col("_a"), ignoreNulls = true).as("_a"))
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
    val rng = new scala.util.Random(77)
    def snapshot(keys: Seq[Long]) = keys.filter(_ => rng.nextInt(4) > 0).map(k =>
      (k, if (rng.nextInt(4) == 0) None else Some(rng.nextInt(3).toLong),
        if (rng.nextInt(5) == 0) null else Seq("O", "F")(rng.nextInt(2))))
      .toDF("k", "price_c", "status")
    for (trial <- 1 to 8) {
      val older = snapshot(0L until 30L)
      val newer = snapshot(0L until 30L)
      val cmp = Seq("price_c", "status")
      val got = Scd.diff(older, newer, "k", cmp)
      val want = foldDiff(older, newer, "k", cmp)
      assert(got.collect().map(_.toString).sorted ===
        want.collect().map(_.toString).sorted, s"trial $trial")
      val plan = got.queryExecution.executedPlan
      assert(plan.collect { case a: SortAggregateExec => a }.isEmpty, plan.toString)
      assert(plan.toString.contains("ShuffledHashJoin"), plan.toString)
      val conds = got.queryExecution.optimizedPlan.flatMap(_.expressions)
      val nullSafe = conds.flatMap(_.collect { case e: EqualNullSafe => e })
      assert(nullSafe.nonEmpty &&
        nullSafe.forall(_.left.dataType.isInstanceOf[StructType]), nullSafe.toString)
      assert(conds.forall(_.find(_.isInstanceOf[Or]).isEmpty), "no per-column OR")
      // past the build budget the pairing is the planner's spillable
      // sort-merge join, pairing the same rows
      def pairs(budget: Long) = Scd.pairByKey(older, cmp, newer, cmp, "k", budget)
      val merged = pairs(-1L)
      assert(merged.collect().map(_.toString).sorted ===
        pairs(Scd.HashBuildMaxPartitionBytes).collect().map(_.toString).sorted,
        s"trial $trial (sort-merge)")
      val mPlan = merged.queryExecution.executedPlan.toString
      assert(mPlan.contains("SortMergeJoin") && !mPlan.contains("ShuffledHashJoin"),
        mPlan)
    }
  }

  test("PIT composition: each fact matches the dim version valid at its timestamp") {
    import graft.operators.TemporalJoin
    // user 1: attr a@10 -> b@30 -> c@50; facts at 10, 29, 30, 49, 99
    val log = Seq((1L, 10L, "a", 100L), (1L, 30L, "b", 101L),
      (1L, 50L, "c", 102L)).toDF("u", "t", "attr", "id")
    val dim = Scd.buildType2(log, "u", col("t"), col("attr"), col("id"))
    val facts = Seq((1L, 10L, 900L), (1L, 29L, 901L), (1L, 30L, 902L),
      (1L, 49L, 903L), (1L, 99L, 904L)).toDF("u", "t", "fid")
    val got = TemporalJoin.asof(facts, dim, "u", "t", "fid",
        "valid_from", "version", Seq("attr"), Long.MaxValue / 4)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    // inclusive at the boundary: the fact AT a version's start sees it
    assert(got === Map(900L -> "a", 901L -> "a", 902L -> "b",
      903L -> "b", 904L -> "c"))
  }

  test("cdcApply: delta-maintained view == rescan aggregate on random snapshot pairs") {
    // the IVM invariant: for ANY two snapshots, applying diff()'s deltas
    // to the older aggregate reproduces the newer aggregate exactly —
    // inserts, deletes, in-place updates, AND group-moving updates
    val rnd = new scala.util.Random(4242)
    def snapshot(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"g${rnd.nextInt(5)}", rnd.nextInt(100).toLong))
    for (round <- 1 to 5) {
      val oldKeys = (0L until 60L).filter(_ => rnd.nextDouble() < 0.8)
      val newKeys = (0L until 60L).filter(_ => rnd.nextDouble() < 0.8)
      val before = snapshot(oldKeys).toDF("k", "g", "m")
      val after = snapshot(newKeys).toDF("k", "g", "m")
      val changes = Scd.diff(before, after, "k", Seq("g", "m"))
        .withColumn("kind",
          when(col("change") === "added", lit("insert"))
            .when(col("change") === "removed", lit("delete"))
            .otherwise(lit("update")))
      val maintained = Scd.cdcApply(
        Scd.cdcBaseAgg(before, "g", "m"), changes, "g", "m")
        .orderBy("g").as[(String, Long, Long)].collect().toSeq
      val rescan = Scd.cdcBaseAgg(after, "g", "m")
        .orderBy("g").as[(String, Long, Long)].collect().toSeq
      assert(maintained === rescan, s"round $round: IVM drifted from rescan")
    }
    // a group that empties out vanishes (no zero-count residue), and a
    // brand-new group appears — through a delete and a group-move update
    val b2 = Seq((1L, "only", 5L), (2L, "mover", 7L)).toDF("k", "g", "m")
    val a2 = Seq((2L, "dest", 9L)).toDF("k", "g", "m")
    val ch2 = Scd.diff(b2, a2, "k", Seq("g", "m"))
      .withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val v2 = Scd.cdcApply(Scd.cdcBaseAgg(b2, "g", "m"), ch2, "g", "m")
      .as[(String, Long, Long)].collect().toSeq
    assert(v2 === Seq(("dest", 1L, 9L)))
  }

  private def asCdc(before: org.apache.spark.sql.DataFrame,
      after: org.apache.spark.sql.DataFrame) =
    Scd.diff(before, after, "k", Seq("g", "m"))
      .withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))

  test("cdcApplyMinMax: dirty-group pruned rescan == full rescan on random snapshot pairs") {
    // the min/max IVM invariant, including NULL measures (never an
    // extremum; a group of only-null measures carries null min/max and
    // retires through the row count, not the extremum check)
    val rnd = new scala.util.Random(777)
    def snapshot(keys: Seq[Long]): Seq[(Long, String, Option[Long])] =
      keys.map(k => (k, s"g${rnd.nextInt(5)}",
        if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(50).toLong)))
    for (round <- 1 to 5) {
      val oldKeys = (0L until 60L).filter(_ => rnd.nextDouble() < 0.8)
      val newKeys = (0L until 60L).filter(_ => rnd.nextDouble() < 0.8)
      val before = snapshot(oldKeys).toDF("k", "g", "m")
      val after = snapshot(newKeys).toDF("k", "g", "m")
      val got = Scd.cdcApplyMinMax(Scd.cdcBaseMinMax(before, "g", "m"),
          asCdc(before, after), after, "g", "m")
        .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
      val want = Scd.cdcBaseMinMax(after, "g", "m")
        .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
      assert(got === want, s"round $round: min/max IVM drifted from rescan")
    }
  }

  test("cdcApplyTopK: keyed dirty-group rescan == full rescan on random snapshot CHAINS") {
    // the top-k IVM invariant: for ANY chain of snapshots — inserts,
    // deletes, in-place updates, GROUP-MOVING updates, null measures
    // (never in the view), ties (deterministic by key), groups
    // shrinking below k, and groups dying entirely — applying the
    // diffs step by step reproduces the rescan top-k exactly, RANKS
    // INCLUDED
    val rnd = new scala.util.Random(31337)
    def snapshot(keys: Seq[Long]): Seq[(Long, String, Option[Long])] =
      keys.map(k => (k, s"g${rnd.nextInt(5)}",
        // a narrow value range forces ties at the k-boundary
        if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(12).toLong)))
    def topk(df: org.apache.spark.sql.DataFrame) =
      Scd.cdcBaseTopK(df, "g", "k", "m", 3)
        .orderBy("g", "rk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSeq
    for (round <- 1 to 4) {
      val snaps = (0 to 3).map { _ =>
        snapshot((0L until 60L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "g", "m")
      }
      var view = Scd.cdcBaseTopK(snaps.head, "g", "k", "m", 3)
      for (i <- 1 until snaps.size) {
        view = Scd.cdcApplyTopK(view, asCdc(snaps(i - 1), snaps(i)),
          snaps(i), "g", "k", "m", 3)
        val got = view.orderBy("g", "rk").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getInt(3))).toSeq
        assert(got === topk(snaps(i)),
          s"round $round step $i: top-k IVM drifted from rescan")
      }
    }
    // the keyed dirty test is EXACT: removing a below-top-k duplicate
    // of the boundary value must not dirty the group (min/max's
    // value-equality rule would); the view is served verbatim
    val b = Seq((1L, "g", Some(9L)), (2L, "g", Some(5L)),
      (3L, "g", Some(5L)), (4L, "g", Some(5L))).toDF("k", "g", "m")
    val a = Seq((1L, "g", Some(9L)), (2L, "g", Some(5L)),
      (3L, "g", Some(5L))).toDF("k", "g", "m")   // k=4 (dup of rk-3's m) dies
    val ch = asCdc(b, a)
    val seed = Scd.cdcBaseTopK(b, "g", "k", "m", 3)
    // empty snapshot in place of the real one: a rescan would return
    // zero rows, so the assert below also proves no rescan ran
    val emptySnap = a.limit(0)
    val served = Scd.cdcApplyTopK(seed, ch, emptySnap, "g", "k", "m", 3)
      .orderBy("rk").collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(served === Seq((1L, 1), (2L, 2), (3L, 3)))
    // a group that empties out vanishes; a group-move lands in its
    // destination; an update to a NULL measure retires its slot
    val b2 = Seq((1L, "only", Some(5L)), (2L, "mover", Some(7L)),
      (3L, "nuller", Some(4L))).toDF("k", "g", "m")
    val a2 = Seq((2L, "dest", Some(9L)),
      (3L, "nuller", None: Option[Long])).toDF("k", "g", "m")
    val v2 = Scd.cdcApplyTopK(Scd.cdcBaseTopK(b2, "g", "k", "m", 3),
        asCdc(b2, a2), a2, "g", "k", "m", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v2 === Seq(("dest", 2L)))
  }

  test("cdcApplyGrouped + cdcApplyTopKGrouped: two-column group keys == rescan on random snapshot pairs, null group values included") {
    // the multi-column generalization (the real-dashboard (dim1, dim2)
    // key): same IVM invariant as the single-group appliers, with NULL
    // values in the second group column facing the null-safe composite
    // grouping — and no lossy string concat anywhere
    val rnd = new scala.util.Random(90210)
    // measures non-null: the additive count/sum family's exactness
    // domain (the all-null-transition edge is pinned below); NULLS live
    // in the GROUP columns, which is what this test gates
    def snapshot(keys: Seq[Long]): Seq[(Long, String, Option[String], Option[Long])] =
      keys.map(k => (k, s"a${rnd.nextInt(3)}",
        if (rnd.nextDouble() < 0.2) None else Some(s"b${rnd.nextInt(3)}"),
        Some(rnd.nextInt(12).toLong)))
    def cdc(b: org.apache.spark.sql.DataFrame,
        a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("g1", "g2", "m"))
        .withColumn("kind",
          when(col("change") === "added", lit("insert"))
            .when(col("change") === "removed", lit("delete"))
            .otherwise(lit("update")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(i => Option(r.get(i))))
        .toSeq.sortBy(_.toString)
    for (round <- 1 to 3) {
      val before = snapshot((0L until 60L)
        .filter(_ => rnd.nextDouble() < 0.8)).toDF("k", "g1", "g2", "m")
      val after = snapshot((0L until 60L)
        .filter(_ => rnd.nextDouble() < 0.8)).toDF("k", "g1", "g2", "m")
      val ch = cdc(before, after)
      val gs = Seq("g1", "g2")
      assert(rows(Scd.cdcApplyGrouped(
          Scd.cdcBaseAggGrouped(before, gs, "m"), ch, gs, "m")) ===
        rows(Scd.cdcBaseAggGrouped(after, gs, "m")),
        s"round $round: grouped agg IVM drifted from rescan")
      assert(rows(Scd.cdcApplyTopKGrouped(
          Scd.cdcBaseTopKGrouped(before, gs, "k", "m", 2), ch, after,
          gs, "k", "m", 2)) ===
        rows(Scd.cdcBaseTopKGrouped(after, gs, "k", "m", 2)),
        s"round $round: grouped top-k IVM drifted from rescan")
    }
    // PINNED additive-domain edge (the cdcApply scaladoc's documented
    // divergence): a group whose LAST non-null measure leaves nets to
    // sum 0 (X − X), where a rescan SUM over the remaining all-null
    // rows is SQL NULL — (n, sum) carries no non-null-measure count,
    // so the additive algebra cannot see the transition. Exact for any
    // group retaining ≥ 1 non-null measure, and everywhere for
    // non-null measure columns (every gated consumer).
    val bE = Seq((1L, "a", Some("b"), Some(5L))).toDF("k", "g1", "g2", "m")
    val aE = Seq((1L, "a", Some("b"), None: Option[Long]))
      .toDF("k", "g1", "g2", "m")
    val edge = Scd.cdcApplyGrouped(
        Scd.cdcBaseAggGrouped(bE, Seq("g1", "g2"), "m"),
        cdc(bE, aE), Seq("g1", "g2"), "m")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)))).toSeq
    assert(edge === Seq(("a", "b", 1L, Some(0L))))   // rescan would say None

    // single-element delegation: identical output to the scalar applier
    val b1 = Seq((1L, "x", Some("y"), Some(3L)),
      (2L, "x", Some("z"), Some(7L))).toDF("k", "g1", "g2", "m")
    val a1 = Seq((1L, "x", Some("y"), Some(5L))).toDF("k", "g1", "g2", "m")
    val chS = Scd.diff(b1, a1, "k", Seq("g1", "m"))
      .withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    assert(rows(Scd.cdcApplyGrouped(Scd.cdcBaseAgg(b1, "g1", "m"), chS,
        Seq("g1"), "m")) ===
      rows(Scd.cdcApply(Scd.cdcBaseAgg(b1, "g1", "m"), chS, "g1", "m")))
  }

  test("cdcApplyWindowed: tumbling and hopping window views == rescan; ts updates move rows between windows") {
    // the applier family's time dimension: (window_start, group) keyed
    // COUNT+SUM maintained from the same net-changes contract — the
    // hopping case expands each image into its k memberships; an
    // update whose ts moved must leave every before-window and land in
    // every after-window
    val rnd = new scala.util.Random(5150)
    // null TIMESTAMPS face the gate (no window, contributes nothing);
    // measures stay non-null — the additive family's exactness domain
    // (the all-null-transition edge is pinned in the grouped test)
    def snapshot(keys: Seq[Long]): Seq[(Long, String, Option[Long], Option[Long])] =
      keys.map(k => (k, s"g${rnd.nextInt(3)}",
        if (rnd.nextDouble() < 0.1) None else Some(rnd.nextInt(100).toLong),
        Some(rnd.nextInt(20).toLong)))
    def cdc(b: org.apache.spark.sql.DataFrame,
        a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("g", "t", "m"))
        .withColumn("kind",
          when(col("change") === "added", lit("insert"))
            .when(col("change") === "removed", lit("delete"))
            .otherwise(lit("update")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(i => Option(r.get(i))))
        .toSeq.sortBy(_.toString)
    for ((win, slide) <- Seq((10L, 10L), (30L, 10L)); round <- 1 to 2) {
      val before = snapshot((0L until 50L)
        .filter(_ => rnd.nextDouble() < 0.8)).toDF("k", "g", "t", "m")
      val after = snapshot((0L until 50L)
        .filter(_ => rnd.nextDouble() < 0.8)).toDF("k", "g", "t", "m")
      val got = Scd.cdcApplyWindowed(
        Scd.cdcBaseWindowed(before, Seq("g"), "m", "t", win, slide),
        cdc(before, after), Seq("g"), "m", "t", win, slide)
      val want = Scd.cdcBaseWindowed(after, Seq("g"), "m", "t", win, slide)
      assert(rows(got) === rows(want),
        s"win=$win slide=$slide round $round: windowed IVM drifted")
    }
    // explicit window-move micro-case: one key's ts crosses a tumbling
    // boundary — the old window empties (vanishes), the new one appears
    val b2 = Seq((1L, "g", Some(5L), Some(2L))).toDF("k", "g", "t", "m")
    val a2 = Seq((1L, "g", Some(15L), Some(2L))).toDF("k", "g", "t", "m")
    val v2 = Scd.cdcApplyWindowed(
        Scd.cdcBaseWindowed(b2, Seq("g"), "m", "t", 10L, 10L),
        cdc(b2, a2), Seq("g"), "m", "t", 10L, 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(v2 === Seq((10L, "g", 1L, 2L)))
    // slide must divide window, loudly
    intercept[IllegalArgumentException](Scd.cdcApplyWindowed(
      Scd.cdcBaseWindowed(b2, Seq("g"), "m", "t", 10L, 10L),
      cdc(b2, a2), Seq("g"), "m", "t", 10L, 7L))
  }

  test("cdcApplySession: dirty-group rescan == batch sessionize on random snapshot CHAINS") {
    // the session-IVM invariant: for ANY chain of snapshots — inserts,
    // deletes, timestamp moves (session splits AND merges), group
    // moves, null timestamps, whole groups dying — applying the diffs
    // step by step reproduces the batch sessionizer's rescan exactly.
    // The gap (35) vs the value grid (multiples of 20) makes both
    // boundary directions common: one moved event can bridge two
    // sessions or cleave one.
    val rnd = new scala.util.Random(8118)
    def snapshot(keys: Seq[Long]): Seq[(Long, String, Option[Long])] =
      keys.map(k => (k, s"u${rnd.nextInt(6)}",
        if (rnd.nextDouble() < 0.08) None
        else Some(rnd.nextInt(40).toLong * 20)))
    def canon(df: org.apache.spark.sql.DataFrame) = {
      // all-null-ts groups carry NULL start/end (min/max of nothing);
      // surface them as a sentinel instead of throwing
      def lng(r: org.apache.spark.sql.Row, i: Int): Long =
        if (r.isNullAt(i)) Long.MinValue else r.getLong(i)
      df.orderBy("g", "session_id").collect()
        .map(r => (r.getString(0), lng(r, 1), lng(r, 2),
          lng(r, 3), lng(r, 4))).toSeq
    }
    for (round <- 1 to 4) {
      val snaps = (0 to 3).map { _ =>
        snapshot((0L until 50L).filter(_ => rnd.nextDouble() < 0.7))
          .toDF("k", "g", "m")
      }
      var view = Scd.cdcBaseSession(snaps.head, "g", "m", 35L)
      for (i <- 1 until snaps.size) {
        view = Scd.cdcApplySession(view, asCdc(snaps(i - 1), snaps(i)),
          snaps(i), "g", "m", 35L)
        assert(canon(view) === canon(
          Scd.cdcBaseSession(snaps(i), "g", "m", 35L)),
          s"round $round step $i: session IVM drifted from rescan")
      }
    }
    // untouched groups are served VERBATIM — with an empty snapshot in
    // place of the real one, a rescan would return zero rows, so a
    // surviving untouched group proves no rescan ran for it
    val b = Seq((1L, "keep", Some(10L)), (2L, "keep", Some(20L)),
      (3L, "dirty", Some(10L))).toDF("k", "g", "m")
    val a = Seq((1L, "keep", Some(10L)), (2L, "keep", Some(20L)),
      (3L, "dirty", Some(200L))).toDF("k", "g", "m")
    val served = Scd.cdcApplySession(Scd.cdcBaseSession(b, "g", "m", 35L),
        asCdc(b, a), a.filter(col("g") === "dirty"), "g", "m", 35L)
      .collect().map(r => (r.getString(0), r.getLong(4))).toSeq
    assert(served.toSet === Set(("keep", 2L), ("dirty", 1L)),
      "untouched group not served verbatim (or dirty group not rescanned)")
  }

  test("cdcApplyJoin: delta-maintained join view == rescan join on random snapshot CHAINS") {
    // the join-IVM invariant: for ANY chain of snapshots on BOTH tables
    // — inserts, deletes, in-place updates, and join-KEY CHURN on the
    // fact side; inserts (fact rows gaining a match), attribute updates,
    // and deletes (match loss) on the dim side — applying both tables'
    // diffs step by step reproduces the rescan join of the final
    // snapshots exactly
    val rnd = new scala.util.Random(90210)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(8)}", rnd.nextInt(100).toLong))
    def dimSnap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(4)}", rnd.nextInt(100).toLong))
    def factDiff(b: org.apache.spark.sql.DataFrame,
        a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m"))
        .withColumn("kind",
          when(col("change") === "added", lit("insert"))
            .when(col("change") === "removed", lit("delete"))
            .otherwise(lit("update")))
    def dimDiff(b: org.apache.spark.sql.DataFrame,
        a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b"))
        .withColumn("kind",
          when(col("change") === "added", lit("insert"))
            .when(col("change") === "removed", lit("delete"))
            .otherwise(lit("update")))
    val fc = Seq("m"); val dc = Seq("a", "b")
    for (round <- 1 to 3) {
      // three snapshots per table -> two chained applies
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      val ds = (0 to 2).map(_ =>
        dimSnap((0 until 8).filter(_ => rnd.nextDouble() < 0.7))
          .toDF("j", "a", "b"))
      val base = Scd.cdcBaseJoin(fs(0), ds(0), "k", "j", fc, dc)
      val v1 = Scd.cdcApplyJoin(base, factDiff(fs(0), fs(1)),
        dimDiff(ds(0), ds(1)), fs(1), ds(1), "k", "j", fc, dc)
      val v2 = Scd.cdcApplyJoin(v1, factDiff(fs(1), fs(2)),
        dimDiff(ds(1), ds(2)), fs(2), ds(2), "k", "j", fc, dc)
      val got = v2.orderBy("k")
        .as[(Long, String, Long, String, Long)].collect().toSeq
      val want = Scd.cdcBaseJoin(fs(2), ds(2), "k", "j", fc, dc)
        .orderBy("k").as[(Long, String, Long, String, Long)].collect().toSeq
      assert(got === want, s"round $round: join IVM drifted from rescan")
    }
  }

  test("cdcApplyJoin edges: dim insert gains a match; dim delete drops; fact jk churn moves the row") {
    val f0 = Seq((1L, "jA", 10L), (2L, "jB", 20L), (3L, "jC", 30L))
      .toDF("k", "j", "m")
    val d0 = Seq(("jA", "x", 1L), ("jB", "y", 2L)).toDF("j", "a", "b")
    // fact 2 churns jB -> jA; dim jC INSERTS (fact 3 gains a match);
    // dim jB DELETES (nothing references it afterwards anyway);
    // dim jA updates its attribute
    val f1 = Seq((1L, "jA", 10L), (2L, "jA", 21L), (3L, "jC", 30L))
      .toDF("k", "j", "m")
    val d1 = Seq(("jA", "x2", 1L), ("jC", "z", 3L)).toDF("j", "a", "b")
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val got = Scd.cdcApplyJoin(
        Scd.cdcBaseJoin(f0, d0, "k", "j", Seq("m"), Seq("a", "b")),
        fd(f0, f1), dd(d0, d1), f1, d1, "k", "j", Seq("m"), Seq("a", "b"))
      .orderBy("k").as[(Long, String, Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "jA", 10L, "x2", 1L),   // untouched fact, dim-dirty jk: re-attributed
      (2L, "jA", 21L, "x2", 1L),   // churned fact: re-derived at its new jk
      (3L, "jC", 30L, "z", 3L)))   // dim insert: fact 3 GAINED its match
  }

  test("cdcApplyJoinOuter: delta-maintained LEFT view == rescan left join on random chains with facts-before-dims") {
    // the outer invariant under the same randomized adversary PLUS the
    // late-arriving-dimension flow: fact join keys draw from a WIDER
    // domain than the dims cover, so every chain carries facts whose
    // dim has not arrived (null dims), arrives mid-chain (the flip), or
    // dies mid-chain (the flip BACK)
    val rnd = new scala.util.Random(424242)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(12)}", rnd.nextInt(100).toLong))
    def dimSnap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(4)}", rnd.nextInt(100).toLong))
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val fc = Seq("m"); val dc = Seq("a", "b")
    for (round <- 1 to 3) {
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      // dims cover only 8 of the 12 fact key values — permanent nulls
      val ds = (0 to 2).map(_ =>
        dimSnap((0 until 8).filter(_ => rnd.nextDouble() < 0.6))
          .toDF("j", "a", "b"))
      val base = Scd.cdcBaseJoinOuter(fs(0), ds(0), "k", "j", fc, dc)
      val v1 = Scd.cdcApplyJoinOuter(base, fd(fs(0), fs(1)),
        dd(ds(0), ds(1)), ds(1), "k", "j", fc, dc)
      val v2 = Scd.cdcApplyJoinOuter(v1, fd(fs(1), fs(2)),
        dd(ds(1), ds(2)), ds(2), "k", "j", fc, dc)
      val got = v2.orderBy("k")
        .as[(Long, String, Long, Option[String], Option[Long])].collect().toSeq
      val want = Scd.cdcBaseJoinOuter(fs(2), ds(2), "k", "j", fc, dc)
        .orderBy("k")
        .as[(Long, String, Long, Option[String], Option[Long])].collect().toSeq
      assert(got === want, s"round $round: outer join IVM drifted from rescan")
      // the adversary actually produced null-dim rows
      assert(want.exists(_._4.isEmpty), s"round $round: no null-dim rows — weak")
    }
  }

  test("cdcApplyJoinOuter edges: dim arrives late (flip), dim dies (flip back), null fact jk never joins") {
    val f0 = Seq((1L, "jA", 10L), (2L, "jB", 20L),
      (3L, null.asInstanceOf[String], 30L)).toDF("k", "j", "m")
    val d0 = Seq(("jB", "y", 2L)).toDF("j", "a", "b")
    // jA arrives (fact 1 flips null→joined); jB dies (fact 2 flips back)
    val f1 = f0
    val d1 = Seq(("jA", "x", 1L)).toDF("j", "a", "b")
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind", lit("update"))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val base = Scd.cdcBaseJoinOuter(f0, d0, "k", "j", Seq("m"), Seq("a", "b"))
    assert(base.filter(col("k") === 1L).head().isNullAt(3)) // pre-arrival null
    val got = Scd.cdcApplyJoinOuter(base, fd(f0, f1), dd(d0, d1), d1,
        "k", "j", Seq("m"), Seq("a", "b"))
      .orderBy("k")
      .as[(Long, Option[String], Long, Option[String], Option[Long])]
      .collect().toSeq
    assert(got === Seq(
      (1L, Some("jA"), 10L, Some("x"), Some(1L)),  // late dim: flipped to joined
      (2L, Some("jB"), 20L, None, None),           // dim delete: flipped BACK
      (3L, None, 30L, None, None)))                // null jk: never joins, never re-derives
  }

  test("cdcApplyJoinWithDelta: emitted Δview drives a downstream cdcApply to the rescan aggregate") {
    // the IVM stack chained end to end on random snapshot chains:
    // F⋈D maintained by the join apply, a grouped COUNT+SUM over the
    // VIEW maintained from the EMITTED delta only — both must land on
    // the final rescan exactly
    val rnd = new scala.util.Random(777)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(8)}", rnd.nextInt(100).toLong))
    def dimSnap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(3)}", rnd.nextInt(100).toLong))
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val fc = Seq("m"); val dc = Seq("a", "b")
    for (round <- 1 to 3) {
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      val ds = (0 to 2).map(_ =>
        dimSnap((0 until 8).filter(_ => rnd.nextDouble() < 0.7))
          .toDF("j", "a", "b"))
      val base = Scd.cdcBaseJoin(fs(0), ds(0), "k", "j", fc, dc)
      val agg0 = Scd.cdcBaseAgg(base, "a", "m")
      val (v1, delta1) = Scd.cdcApplyJoinWithDelta(base, fd(fs(0), fs(1)),
        dd(ds(0), ds(1)), fs(1), ds(1), "k", "j", fc, dc)
      val agg1 = Scd.cdcApply(agg0, delta1, "a", "m")
      val (v2, delta2) = Scd.cdcApplyJoinWithDelta(v1, fd(fs(1), fs(2)),
        dd(ds(1), ds(2)), fs(2), ds(2), "k", "j", fc, dc)
      val agg2 = Scd.cdcApply(agg1, delta2, "a", "m")
      // the view itself still lands on the rescan
      val gotView = v2.orderBy("k")
        .as[(Long, String, Long, String, Long)].collect().toSeq
      val wantView = Scd.cdcBaseJoin(fs(2), ds(2), "k", "j", fc, dc)
        .orderBy("k").as[(Long, String, Long, String, Long)].collect().toSeq
      assert(gotView === wantView, s"round $round: view drifted")
      // the delta-chained aggregate lands on the rescan aggregate
      val got = agg2.orderBy("a")
        .as[(String, Long, Long)].collect().toSeq
      val want = Scd.cdcBaseAgg(
          Scd.cdcBaseJoin(fs(2), ds(2), "k", "j", fc, dc), "a", "m")
        .orderBy("a").as[(String, Long, Long)].collect().toSeq
      assert(got === want, s"round $round: Δview-chained aggregate drifted")
      // no-op churn is NOT emitted: every delta row actually changed
      val noop = delta2.filter(col("kind") === "update" &&
        col("before_j") <=> col("after_j") &&
        col("before_m") <=> col("after_m") &&
        col("before_a") <=> col("after_a") &&
        col("before_b") <=> col("after_b")).count()
      assert(noop === 0L, s"round $round: no-op rows in the emitted delta")
    }
  }

  test("cdcApplyJoinOuterWithDelta: outer Δview drives a downstream cdcApply, null group included") {
    // the outer half of the chained stack: facts without a dim live in
    // the NULL group of the downstream aggregate, and the emitted delta
    // must carry every null→joined flip (dim arrival) and flip-back
    // (dim death) so cdcApply moves them between groups correctly
    val rnd = new scala.util.Random(31337)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(12)}", rnd.nextInt(100).toLong))
    def dimSnap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(3)}", rnd.nextInt(100).toLong))
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val fc = Seq("m"); val dc = Seq("a", "b")
    for (round <- 1 to 3) {
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      // dims cover 8 of 12 fact key values — the null group stays live
      val ds = (0 to 2).map(_ =>
        dimSnap((0 until 8).filter(_ => rnd.nextDouble() < 0.6))
          .toDF("j", "a", "b"))
      val base = Scd.cdcBaseJoinOuter(fs(0), ds(0), "k", "j", fc, dc)
      val agg0 = Scd.cdcBaseAgg(base, "a", "m")
      val (v1, delta1) = Scd.cdcApplyJoinOuterWithDelta(base, fd(fs(0), fs(1)),
        dd(ds(0), ds(1)), ds(1), "k", "j", fc, dc)
      val agg1 = Scd.cdcApply(agg0, delta1, "a", "m")
      val (v2, delta2) = Scd.cdcApplyJoinOuterWithDelta(v1, fd(fs(1), fs(2)),
        dd(ds(1), ds(2)), ds(2), "k", "j", fc, dc)
      val agg2 = Scd.cdcApply(agg1, delta2, "a", "m")
      val gotView = v2.orderBy("k")
        .as[(Long, String, Long, Option[String], Option[Long])].collect().toSeq
      val wantView = Scd.cdcBaseJoinOuter(fs(2), ds(2), "k", "j", fc, dc)
        .orderBy("k")
        .as[(Long, String, Long, Option[String], Option[Long])].collect().toSeq
      assert(gotView === wantView, s"round $round: outer view drifted")
      val got = agg2.orderBy(col("a").asc_nulls_first)
        .as[(Option[String], Long, Long)].collect().toSeq
      val want = Scd.cdcBaseAgg(wantView.toDF("k", "j", "m", "a", "b"), "a", "m")
        .orderBy(col("a").asc_nulls_first)
        .as[(Option[String], Long, Long)].collect().toSeq
      assert(got === want, s"round $round: outer Δview-chained aggregate drifted")
      // the adversary exercised the null group, not just joined rows
      assert(want.exists(_._1.isEmpty), s"round $round: null group empty — weak")
      val noop = delta2.filter(col("kind") === "update" &&
        col("before_j") <=> col("after_j") &&
        col("before_m") <=> col("after_m") &&
        col("before_a") <=> col("after_a") &&
        col("before_b") <=> col("after_b")).count()
      assert(noop === 0L, s"round $round: no-op rows in the emitted outer delta")
    }
  }

  test("cdcApplyJoinOuterWithDelta: outer Δview drives cdcApplyTopK — the null-group leaderboard chains too") {
    // the top-k half of the outer chained stack: the "unattributed"
    // leaderboard (facts whose dim has not arrived, the NULL group) is
    // a group like any other — dim arrivals move a fact from the null
    // leaderboard to its attribute's through the emitted delta alone,
    // and the new view the SAME WithDelta call returns is the top-k
    // applier's dirty-group rescan snapshot
    val rnd = new scala.util.Random(777777)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(12)}", rnd.nextInt(40).toLong))
    def dimSnap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(3)}", rnd.nextInt(40).toLong))
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val fc = Seq("m"); val dc = Seq("a", "b")
    def topk(view: org.apache.spark.sql.DataFrame) =
      Scd.cdcBaseTopK(view, "a", "k", "m", 2)
        .orderBy(col("a").asc_nulls_first, col("rk"))
        .collect().map(r => (Option(r.getString(0)), r.getLong(1),
          r.getLong(2), r.getInt(3))).toSeq
    for (round <- 1 to 3) {
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      val ds = (0 to 2).map(_ =>
        dimSnap((0 until 8).filter(_ => rnd.nextDouble() < 0.6))
          .toDF("j", "a", "b"))
      val base = Scd.cdcBaseJoinOuter(fs(0), ds(0), "k", "j", fc, dc)
      val tk0 = Scd.cdcBaseTopK(base, "a", "k", "m", 2)
      val (v1, delta1) = Scd.cdcApplyJoinOuterWithDelta(base, fd(fs(0), fs(1)),
        dd(ds(0), ds(1)), ds(1), "k", "j", fc, dc)
      val tk1 = Scd.cdcApplyTopK(tk0, delta1, v1, "a", "k", "m", 2)
      val (v2, delta2) = Scd.cdcApplyJoinOuterWithDelta(v1, fd(fs(1), fs(2)),
        dd(ds(1), ds(2)), ds(2), "k", "j", fc, dc)
      val tk2 = Scd.cdcApplyTopK(tk1, delta2, v2, "a", "k", "m", 2)
      val got = tk2.orderBy(col("a").asc_nulls_first, col("rk"))
        .collect().map(r => (Option(r.getString(0)), r.getLong(1),
          r.getLong(2), r.getInt(3))).toSeq
      val want = topk(Scd.cdcBaseJoinOuter(fs(2), ds(2), "k", "j", fc, dc))
      assert(got === want,
        s"round $round: outer Δview-chained top-k drifted from rescan")
      // the adversary exercised the null leaderboard, not just joined rows
      assert(want.exists(_._1.isEmpty),
        s"round $round: null-group leaderboard empty — weak")
    }
  }

  test("cdcApplyJoinWithDelta: emitted Δview drives cdcApplyMinMax with the new view as its rescan snapshot") {
    // the non-additive half chains too: min/max over the JOINED view
    // maintained from the emitted delta, dirty-group rescans reading
    // the NEW view image the same WithDelta call returned — no table
    // and no extra view materialization needed
    val rnd = new scala.util.Random(8086)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(8)}", rnd.nextInt(100).toLong))
    def dimSnap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(3)}", rnd.nextInt(100).toLong))
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val fc = Seq("m"); val dc = Seq("a", "b")
    for (round <- 1 to 3) {
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      val ds = (0 to 2).map(_ =>
        dimSnap((0 until 8).filter(_ => rnd.nextDouble() < 0.7))
          .toDF("j", "a", "b"))
      val base = Scd.cdcBaseJoin(fs(0), ds(0), "k", "j", fc, dc)
      val mm0 = Scd.cdcBaseMinMax(base, "a", "m")
      val (v1, delta1) = Scd.cdcApplyJoinWithDelta(base, fd(fs(0), fs(1)),
        dd(ds(0), ds(1)), fs(1), ds(1), "k", "j", fc, dc)
      val mm1 = Scd.cdcApplyMinMax(mm0, delta1, v1, "a", "m")
      val (v2, delta2) = Scd.cdcApplyJoinWithDelta(v1, fd(fs(1), fs(2)),
        dd(ds(1), ds(2)), fs(2), ds(2), "k", "j", fc, dc)
      val mm2 = Scd.cdcApplyMinMax(mm1, delta2, v2, "a", "m")
      val got = mm2.orderBy("a")
        .as[(String, Long, Long, Long)].collect().toSeq
      val want = Scd.cdcBaseMinMax(
          Scd.cdcBaseJoin(fs(2), ds(2), "k", "j", fc, dc), "a", "m")
        .orderBy("a").as[(String, Long, Long, Long)].collect().toSeq
      assert(got === want, s"round $round: Δview-chained min/max drifted")
    }
  }

  test("snowflake chaining: Δview1 as level-2 fact changes == rescan of the three-table join") {
    // view-over-view: level 1 maintains F⋈D1 emitting Δview1; level 2
    // consumes Δview1 AS ITS changesF against a second dim keyed by a
    // level-1 DIM attribute — the WithDelta output satisfies the
    // changesF contract by construction, and level 2's dim-dirty branch
    // reads view1 as its fact table. All three tables churn per step.
    val rnd = new scala.util.Random(5150)
    def factSnap(keys: Seq[Long]): Seq[(Long, String, Long)] =
      keys.map(k => (k, s"j${rnd.nextInt(8)}", rnd.nextInt(100).toLong))
    def dim1Snap(keys: Seq[Int]): Seq[(String, String, Long)] =
      keys.map(j => (s"j$j", s"a${rnd.nextInt(4)}", rnd.nextInt(100).toLong))
    def dim2Snap(keys: Seq[Int]): Seq[(String, Long)] =
      keys.map(a => (s"a$a", rnd.nextInt(1000).toLong))
    def fd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "k", Seq("j", "m")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def d1d(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    def d2d(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "a", Seq("z")).withColumn("kind",
        when(col("change") === "added", lit("insert"))
          .when(col("change") === "removed", lit("delete"))
          .otherwise(lit("update")))
    val f1c = Seq("m"); val d1c = Seq("a", "b")
    val f2c = Seq("j", "m", "b"); val d2c = Seq("z")
    for (round <- 1 to 3) {
      val fs = (0 to 2).map(_ =>
        factSnap((0L until 40L).filter(_ => rnd.nextDouble() < 0.75))
          .toDF("k", "j", "m"))
      val d1s = (0 to 2).map(_ =>
        dim1Snap((0 until 8).filter(_ => rnd.nextDouble() < 0.7))
          .toDF("j", "a", "b"))
      val d2s = (0 to 2).map(_ =>
        dim2Snap((0 until 4).filter(_ => rnd.nextDouble() < 0.7))
          .toDF("a", "z"))
      val view1_0 = Scd.cdcBaseJoin(fs(0), d1s(0), "k", "j", f1c, d1c)
      val view2_0 = Scd.cdcBaseJoin(view1_0, d2s(0), "k", "a", f2c, d2c)
      val (view1_1, dv1) = Scd.cdcApplyJoinWithDelta(view1_0, fd(fs(0), fs(1)),
        d1d(d1s(0), d1s(1)), fs(1), d1s(1), "k", "j", f1c, d1c)
      val view2_1 = Scd.cdcApplyJoin(view2_0, dv1, d2d(d2s(0), d2s(1)),
        view1_1, d2s(1), "k", "a", f2c, d2c)
      val (view1_2, dv2) = Scd.cdcApplyJoinWithDelta(view1_1, fd(fs(1), fs(2)),
        d1d(d1s(1), d1s(2)), fs(2), d1s(2), "k", "j", f1c, d1c)
      val view2_2 = Scd.cdcApplyJoin(view2_1, dv2, d2d(d2s(1), d2s(2)),
        view1_2, d2s(2), "k", "a", f2c, d2c)
      val got = view2_2.orderBy("k")
        .as[(Long, String, String, Long, Long, Long)].collect().toSeq
      val want = Scd.cdcBaseJoin(
          Scd.cdcBaseJoin(fs(2), d1s(2), "k", "j", f1c, d1c),
          d2s(2), "k", "a", f2c, d2c)
        .orderBy("k").as[(Long, String, String, Long, Long, Long)]
        .collect().toSeq
      assert(got === want, s"round $round: snowflake view drifted from rescan")
    }
  }

  test("cdcApplyJoin broadcast guard: oversized ΔD drops the hints (shuffle join) and sheds LOUD; in-bound keeps the broadcast shape") {
    val f0 = (0L until 40L).map(k => (k, s"j${k % 8}", k)).toDF("k", "j", "m")
    val d0 = (0 until 8).map(j => (s"j$j", s"a$j", j.toLong)).toDF("j", "a", "b")
    val d1 = (0 until 8).map(j => (s"j$j", s"x$j", j.toLong)).toDF("j", "a", "b")
    def dd(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      Scd.diff(b, a, "j", Seq("a", "b")).withColumn("kind", lit("update"))
    // ΔF oversized too (every fact bumps its measure): BOTH branches'
    // hints are under test, so both deltas must cross the bound
    val f1 = f0.withColumn("m", col("m") + 1000L)
    val bigF = Scd.diff(f0, f1, "k", Seq("j", "m"))
      .withColumn("kind", lit("update"))
    val base = Scd.cdcBaseJoin(f0, d0, "k", "j", Seq("m"), Seq("a", "b"))
    // kill BOTH automatic broadcast routes (static planner + AQE's
    // runtime conversion): any BroadcastHashJoin left can then only
    // come from the operator's own forced hint — the thing under test
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = scala.util.Try(
        spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.filter(_ != null)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // ΔD = a full dim re-seed, bound set below it: every forced hint
      // must drop — the plan degrades to non-broadcast joins instead of
      // OOMing the driver on a dim-sized broadcast
      val guarded = Scd.cdcApplyJoin(base, bigF, dd(d0, d1), f1, d1,
        "k", "j", Seq("m"), Seq("a", "b"), maxBroadcastKeys = 3L)
      val rows = guarded.collect()
      assert(!guarded.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "oversized delta still planned a broadcast join")
      // ... and the result is still exact
      val want = Scd.cdcBaseJoin(f1, d1, "k", "j", Seq("m"), Seq("a", "b"))
        .collect().map(_.toSeq).toSet
      assert(rows.map(_.toSeq).toSet === want)
      // the shed is loud: a graft_shed_cdcJoinBroadcast_* metric rides
      // the output with the unhinted key count
      val shedMetrics = guarded.queryExecution.observedMetrics
        .filter(_._1.startsWith(s"${Guard.ShedMetricPrefix}cdcJoinBroadcast"))
      assert(shedMetrics.nonEmpty, "no shed receipt on the guarded apply")
      assert(shedMetrics.values.head.getAs[Long]("unhinted_keys") === 8L)
      // same for the outer variant
      val baseO = Scd.cdcBaseJoinOuter(f0, d0, "k", "j", Seq("m"), Seq("a", "b"))
      val guardedO = Scd.cdcApplyJoinOuter(baseO, bigF, dd(d0, d1), d1,
        "k", "j", Seq("m"), Seq("a", "b"), maxBroadcastKeys = 3L)
      guardedO.collect()
      assert(!guardedO.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "outer: oversized delta still planned a broadcast join")
      assert(guardedO.queryExecution.observedMetrics.keys
        .exists(_.startsWith(s"${Guard.ShedMetricPrefix}cdcJoinBroadcast")))
      // in-bound (micro-batch-sized) deltas keep the broadcast shape
      // and emit NO receipt
      val inBound = Scd.cdcApplyJoin(base, bigF, dd(d0, d1), f1, d1,
        "k", "j", Seq("m"), Seq("a", "b"))
      inBound.collect()
      assert(inBound.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "in-bound delta lost its broadcast hint")
      assert(!inBound.queryExecution.observedMetrics.keys
        .exists(_.startsWith(s"${Guard.ShedMetricPrefix}cdcJoinBroadcast")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("cdcApplyMinMax edges: extremum delete rescans; non-extremum delete maintains; move + empty-out") {
    // g1: {1,5,9} — delete the 9 (max: dirty, rescan -> 5), delete the
    // 5's neighbor scenario is g2: {2,4,6} — delete the 4 (non-extremum:
    // clean path, min/max unchanged); g3 empties out entirely; a mover
    // leaves g2 for a NEW group g4
    val before = Seq(
      (1L, "g1", Some(1L)), (2L, "g1", Some(5L)), (3L, "g1", Some(9L)),
      (4L, "g2", Some(2L)), (5L, "g2", Some(4L)), (6L, "g2", Some(6L)),
      (7L, "g3", Some(7L)), (8L, "g3", None)).toDF("k", "g", "m")
    val after = Seq(
      (1L, "g1", Some(1L)), (2L, "g1", Some(5L)),
      (4L, "g2", Some(2L)), (6L, "g4", Some(6L))).toDF("k", "g", "m")
    val got = Scd.cdcApplyMinMax(Scd.cdcBaseMinMax(before, "g", "m"),
        asCdc(before, after), after, "g", "m")
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(got === Seq(
      ("g1", 2L, Some(1L), Some(5L)),   // dirty: max removed, rescanned
      ("g2", 1L, Some(2L), Some(2L)),   // dirty: 4 left? no — 6 MOVED out (was max) -> rescan
      ("g4", 1L, Some(6L), Some(6L))))  // mover's destination, new group
    // g3 vanished: one non-null delete (7 was its extremum -> dirty ->
    // empty rescan) plus a null-measure delete (never dirty, count path)
  }
}
