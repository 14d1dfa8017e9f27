package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def subs(n: Int) =
    (1 to n).map { i =>
      (f"id$i%05d", i.toLong * 7 % 1000, (i * 13 % 500).toLong,
        s"t${i % 17}", s"a${i % 29}", s"s${i % 5}",
        if (i % 3 == 0) null else s"f${i % 11}")
    }.toDF("idstr", "created", "score", "title", "author", "subreddit", "flair_text")

  test("indexListingRanked: pos equals the global sort position") {
    val df = subs(500)
    for (sort <- Seq("date", "title", "score", "author", "flair")) {
      val ranked = Analytics.indexListingRanked(df, 100L, sort)
        .orderBy("pos").collect()
      val listed = Analytics.indexListing(df, 100L, sort)
        .select("idstr").as[String].collect()
      assert(ranked.map(_.getAs[String]("idstr")).toSeq === listed.toSeq,
        s"sort=$sort")
      assert(ranked.map(_.getAs[Int]("pos")).toSeq === (1 to listed.length),
        s"sort=$sort positions must be contiguous from 1")
    }
  }

  test("indexListingRanked: no unpartitioned window over the data (scale shape)") {
    // AQE wraps completed stages in QueryStageExec nodes that hide their
    // subtrees from collect(); turn it off to see the full physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try Analytics.indexListingRanked(subs(500), 0L, "score")
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    // the only global window allowed is the cumulative-offset one, which
    // runs over the per-partition count rows (one row per partition), never
    // over listing rows — identified by its _cnt/_off bookkeeping output
    assert(unpartitioned.forall(w =>
      w.output.exists(a => a.name == "_off" || a.name == "_cnt")),
      s"unpartitioned WindowExec over data rows:\n$plan")
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "per-partition local rank window missing")
  }

  test("indexListingRanked: ranks stay correct across many partitions") {
    val big = subs(5000).repartition(7)   // force several range partitions
    val ranked = Analytics.indexListingRanked(big, 0L, "date")
    assert(ranked.count() === 5000)
    val positions = ranked.select("pos").as[Int].collect().sorted
    assert(positions.toSeq === (1 to 5000))
    // spot-check global ordering property: pos order == key order
    val rows = ranked.orderBy("pos")
      .select("created", "idstr").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === rows.sortBy(identity).toSeq)
  }

  test("indexListingRanked: correct with exchange reuse disabled and AQE variants") {
    // With spark.sql.exchange.reuse=false the two consumers of the range
    // exchange would each re-execute it, and RangePartitioner resamples
    // boundaries per execution — offsets computed against one partition-id
    // assignment would be applied to another. The operator guards this by
    // sharing one materialization; assert positions stay a permutation of
    // the global sort order under every config combination.
    val df = subs(1200).repartition(5)
    val expected = Analytics.indexListing(df, 100L, "score")
      .select("idstr").as[String].collect().toSeq
    for (reuse <- Seq("true", "false"); aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.exchange.reuse", reuse)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val ranked = Analytics.indexListingRanked(df, 100L, "score")
          .orderBy("pos").collect()
        assert(ranked.map(_.getAs[Int]("pos")).toSeq === (1 to expected.length),
          s"reuse=$reuse aqe=$aqe")
        assert(ranked.map(_.getAs[String]("idstr")).toSeq === expected,
          s"reuse=$reuse aqe=$aqe")
      } finally {
        spark.conf.set("spark.sql.exchange.reuse", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
  }

  test("unknown sort keys raise a useful error, not MatchError") {
    val e = intercept[IllegalArgumentException] {
      Analytics.indexListing(subs(5), 0L, "nope").collect()
    }
    assert(e.getMessage.contains("valid:"))
    val e2 = intercept[IllegalArgumentException] {
      Analytics.breakdownSorted(subs(5).withColumnRenamed("idstr", "name")
        .withColumn("n_submissions", lit(1L))
        .withColumn("n_comments", lit(1L))
        .withColumn("total", lit(2L)), "nope")
    }
    assert(e2.getMessage.contains("valid:"))
  }

  test("pageRank: integer-exact reference equality, sink-loss bound, root accumulation") {
    import graft.operators.Graphs
    // small random DAG: nodes 0..n-1, each non-zero node points to a
    // smaller one (guaranteed acyclic, single out-edge like reply trees)
    val rng = new scala.util.Random(17)
    val n = 60
    val parents = (1 until n).map(i => (i.toLong, rng.nextInt(i).toLong))
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edges = parents.toDF("src", "dst")
    val scale = 1000000000000L
    def ref(iters: Int): Map[Long, Long] = {
      val base = (scale * 15L / 100L) / n
      val outdeg = parents.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var r = (0 until n).map(i => i.toLong -> scale / n).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((s, d) <- parents)
          in(d) += (r(s) * 85L / 100L) / outdeg(s)
        r = (0 until n).map(i => i.toLong -> (base + in(i.toLong))).toMap
      }
      r
    }
    val got = Graphs.pageRank(nodes, edges, iters = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === ref(10))
    // sink loss: total mass never exceeds the scale, floor never below base*n
    val total = got.values.sum
    assert(total <= scale && total >= (scale * 15L / 100L) / n * n)
    // node 0 is every chain's sink ancestor — it must outrank any leaf
    val leaves = (0 until n).map(_.toLong).filterNot(parents.map(_._2).contains)
    assert(leaves.forall(l => got(0L) > got(l)))
    // partitioning-invariant (integer sums are associative)
    val got2 = Graphs.pageRank(nodes.repartition(7), edges.repartition(5), 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got2 === got)
  }

  test("triangles: exact enumeration vs naive reference; K4 and C5 fixtures") {
    import graft.operators.Graphs
    // K4: 4 triangles, every node participates in 3
    val k4 = (for { a <- 0 to 3; b <- 0 to 3 if a < b } yield (a.toLong, b.toLong))
      .toDF("u", "v")
    val k4n = Graphs.trianglesPerNode(k4, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k4n === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    assert(Graphs.triangles(k4).count() === 4L)
    // C5: cycles of length 5 have no triangles
    val c5 = (0 until 5).map(i => (math.min(i, (i + 1) % 5).toLong,
      math.max(i, (i + 1) % 5).toLong)).toDF("u", "v")
    assert(Graphs.triangles(c5).count() === 0L)
    // random graph vs naive O(n^3) reference
    val rng = new scala.util.Random(23)
    val n = 40
    val es = (for { a <- 0 until n; b <- 0 until n
                    if a < b && rng.nextDouble() < 0.15 }
      yield (a.toLong, b.toLong))
    val adj = es.toSet
    var want = 0L
    for (a <- 0 until n; b <- a + 1 until n; c <- b + 1 until n)
      if (adj((a.toLong, b.toLong)) && adj((a.toLong, c.toLong)) &&
          adj((b.toLong, c.toLong))) want += 1
    val got = Graphs.triangles(es.toDF("u", "v")).count()
    assert(got === want, s"triangle count $got != naive $want")
  }

  test("triangles: the shuffle close enumerates the SAME triangle set as the broadcast close") {
    import graft.operators.Graphs
    // broadcastMaxEdges=0 forces the (b, c)-partitioned fallback — the
    // 100 TB path when |E| exceeds broadcast reach; both closes must
    // produce the identical (a, b, c) set, row for row
    val rng = new scala.util.Random(41)
    val n = 50
    val es = (for { a <- 0 until n; b <- 0 until n
                    if a < b && rng.nextDouble() < 0.2 }
      yield (a.toLong, b.toLong)).toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val bcast = rows(Graphs.triangles(es))
    val shuf = rows(Graphs.triangles(es, broadcastMaxEdges = 0L))
    assert(bcast === shuf)
    assert(bcast.nonEmpty)
    // and the per-node fold agrees through both closes
    assert(rows(Graphs.trianglesPerNode(es, 10)) ===
      rows(Graphs.trianglesPerNode(es, 10, broadcastMaxEdges = 0L)))
  }

  test("trianglesCapped: no-op above max outdeg; clique shed matches closed form; receipts exact") {
    import graft.operators.{Graphs, Guard}
    def shedOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val ms = df.queryExecution.observedMetrics.collect {
        case (k, row) if k.startsWith(
          Guard.ShedMetricPrefix + "triangleWedges") => row
      }
      assert(ms.size === 1, s"expected one triangleWedges metric, got $ms")
      (ms.head.getAs[Long]("shed_sources"), ms.head.getAs[Long]("shed_wedges"))
    }
    // cap >= max outdeg: capped == uncapped set, zero receipts
    val rng = new scala.util.Random(47)
    val n = 50
    val es = (for { a <- 0 until n; b <- 0 until n
                    if a < b && rng.nextDouble() < 0.2 }
      yield (a.toLong, b.toLong)).toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val uncapped = rows(Graphs.triangles(es))
    val wide = Graphs.trianglesCapped(es, wedgeFanoutCap = 1000L)
    assert(rows(wide) === uncapped)
    assert(shedOf(wide) === ((0L, 0L)))
    // K_m clique, cap C < m−1: within the clique all degrees tie at m−1
    // so orientation is by id; the rank-i node has outdeg m−1−i. Shed
    // sources = m−1−C, shed wedges = C(m,3) − C(C+1,3), and every kept
    // wedge closes, so |triangles| = C(C+1,3) — all closed form.
    val m = 20
    val cap = 7L
    def b3(x: Long) = x * (x - 1) * (x - 2) / 6
    val km = (for { a <- 0 until m; b <- 0 until m if a < b }
      yield (a.toLong, b.toLong)).toDF("u", "v")
    val capped = Graphs.trianglesCapped(km, cap)
    // collect ONCE: the receipts live on this dataset's own execution
    // (a .count() would spawn a separate one and read zeros)
    val kept = rows(capped)
    assert(kept.size === b3(cap + 1))
    assert(shedOf(capped) === ((m - 1 - cap,
      b3(m.toLong) - b3(cap + 1))))
    // capped output is exactly the uncapped triangles whose lowest-
    // ordered corner (min id in a clique) survives the cap
    val surviving = rows(Graphs.triangles(km)).filter { t =>
      // corner a = generating src; in a clique the oriented source is
      // the min id, whose outdeg is m−1−id
      m - 1 - t.head.asInstanceOf[Long] <= cap
    }
    assert(kept === surviving)
    // and the shed semantics are close-path-invariant (broadcast vs SHJ)
    assert(rows(Graphs.trianglesCapped(km, cap, broadcastMaxEdges = 0L)) === kept)
  }

  test("triangles close: past the per-partition build budget the SHJ close auto-falls back to sort-merge") {
    import graft.operators.Graphs
    val rng = new scala.util.Random(59)
    val n = 50
    val es = (for { a <- 0 until n; b <- 0 until n
                    if a < b && rng.nextDouble() < 0.2 }
      yield (a.toLong, b.toLong)).toDF("u", "v")
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // inside the budget: the hinted shuffle_hash close engages
    val shj = Graphs.trianglesCapped(es, 1000L, broadcastMaxEdges = 0L)
    assert(plan(shj).contains("ShuffledHashJoin"))
    // a 1-byte budget makes ANY build oversized: the close must refuse
    // the spill-less SHJ build and take the sort-merge path instead —
    // with identical results
    val smj = Graphs.trianglesCapped(es, 1000L, broadcastMaxEdges = 0L,
      closeBuildMaxPartitionBytes = 1L)
    assert(!plan(smj).contains("ShuffledHashJoin"), plan(smj))
    assert(rows(smj) === rows(shj))
    assert(rows(shj).nonEmpty)
  }

  test("spearman: +10000 on monotone, -10000 on reversed, ~0 on a derangement") {
    import graft.operators.Analytics
    val mono = (1L to 50L).map(i => ("g", i, i * 3, i * 7 + 1))
    val rev = (1L to 50L).map(i => ("r", i, i, 100 - i))
    val got = Analytics.spearman((mono ++ rev).toDF("g", "k", "x", "y"),
        "g", "k", "x", "y")
      .select("g", "rho_bp").as[(String, Long)].collect().toMap
    assert(got("g") === 10000L)
    assert(got("r") === -10000L)
    // uncorrelated: rho stays near zero (|rho| < 0.35 on a seeded shuffle)
    val rnd = new scala.util.Random(5)
    val perm = rnd.shuffle((1L to 200L).toVector)
    val mixed = (1L to 200L).map(i => ("m", i, i, perm((i - 1).toInt)))
    val rho = Analytics.spearman(mixed.toDF("g", "k", "x", "y"), "g", "k", "x", "y")
      .select("rho_bp").as[Long].head()
    assert(math.abs(rho) < 3500L, s"rho=$rho")
  }

  test("eventPaths: counts sliding windows per user, respects tiebreak order") {
    import graft.operators.Events
    val evs = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"),
      (1L, 40L, 4L, "b"), (1L, 50L, 5L, "c"),
      (2L, 10L, 6L, "a"), (2L, 10L, 7L, "b"), (2L, 20L, 8L, "c") // tie at t=10
    ).toDF("user_id", "sec", "eid", "typ")
    val got = Events.eventPaths(evs, "user_id", col("sec"), col("eid"),
        col("typ"), n = 3, k = 10)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a -> b -> c" -> 2L, "b -> c -> b" -> 1L,
      "c -> b -> c" -> 1L))
  }

  test("eventPaths: a null event type fails loudly, naming eventPaths") {
    import graft.operators.Events
    val evs = Seq[(Long, Long, Long, String)](
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, null), (1L, 30L, 3L, "c"))
      .toDF("user_id", "sec", "eid", "typ")
    val e = intercept[Exception](Events.eventPaths(evs, "user_id", col("sec"),
      col("eid"), col("typ"), n = 2, k = 10).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("eventPaths: null event type"), msgs)
  }

  test("percentileRank: equals the per-row at-or-below definition, ties share ranks") {
    val rnd = new scala.util.Random(3)
    val rows = (1L to 200L).map(i => (s"g${i % 3}", i, rnd.nextInt(20).toLong))
    val want = rows.map { case (g, k, v) =>
      val grp = rows.filter(_._1 == g)
      k -> grp.count(_._3 <= v).toLong * 10000 / grp.size
    }.toMap
    val got = Analytics.percentileRank(rows.toDF("g", "k", "v"), "g", "k", "v")
      .select("k", "pct_bp").as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("madOutliers: flags exactly the rows outside median ± k·MAD") {
    // group A: values 0..8 plus an outlier 100 -> med 5?; compute naively
    val vs = (0L to 8L) :+ 100L
    val rows = vs.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
    def rankMin(xs: Seq[Long]): Long = {
      val sorted = xs.sorted
      sorted(((xs.size + 1) / 2) - 1)
    }
    val med = rankMin(vs)
    val mad = rankMin(vs.map(v => math.abs(v - med)))
    val want = rows.filter { case (_, _, v) => math.abs(v - med) > 3 * mad }
      .map(_._2).toSet
    val got = Analytics.madOutliers(rows.toDF("g", "k", "v"), "g", "k", "v", 3)
      .select("k").as[Long].collect().toSet
    assert(got === want && got.nonEmpty)
  }

  test("bfs: min-hop distances vs naive relaxation on random graphs") {
    import graft.operators.Graphs
    val rng = new scala.util.Random(7)
    val n = 30
    val es = (for { a <- 0 until n; b <- 0 until n
                    if a < b && rng.nextDouble() < 0.08 }
      yield (a.toLong, b.toLong))
    val seeds = Seq(0L, 7L)
    // naive reference: Bellman-Ford-style relaxation to fixpoint, capped
    val adj = es.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0L).toMap
    val maxHops = 4
    for (h <- 1 to maxHops) {
      val front = dist.filter(_._2 == h - 1).keys
      for (u <- front; v <- adj.getOrElse(u, Nil) if !dist.contains(v))
        dist += (v -> h.toLong)
    }
    val got = Graphs.bfs(es.toDF("u", "v"), seeds.toDF("node"), maxHops)
      .as[(Long, Long)].collect().toMap
    assert(got === dist)
  }

  test("bfs: isolated seed keeps its dist-0 row; maxHops truncates") {
    import graft.operators.Graphs
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = Graphs.bfs(es, Seq(1L, 99L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("labelPropagation: two cliques with one bridge converge to two communities") {
    import graft.operators.Graphs
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val clique = (xs: Seq[Long]) =>
      for { a <- xs; b <- xs if a < b } yield (a, b)
    val es = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L)) ++
      Seq((3L, 10L))).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L).toDF("node")
    val got = Graphs.labelPropagation(nodes, es, iters = 4)
      .as[(Long, Long)].collect().toMap
    // min-label tie-break pulls each clique to its smallest member
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(10L) === got(11L) && got(11L) === got(12L))
    assert(got(1L) !== got(10L))
  }

  test("labelPropagation: isolated node keeps its own id") {
    import graft.operators.Graphs
    val es = Seq((1L, 2L)).toDF("u", "v")
    val got = Graphs.labelPropagation(Seq(1L, 2L, 5L).toDF("node"), es, 3)
      .as[(Long, Long)].collect().toMap
    assert(got(5L) === 5L)
  }

  test("commonNeighbors: adjacency excluded, counts and jaccard exact") {
    import graft.operators.Graphs
    // path 1-2-3 plus 3-4: (1,3) share {2}; (2,4) share {3}; (1,4) none
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = Graphs.commonNeighbors(es)
      .select("u", "v", "cn", "jaccard_bp")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // deg: 1->1, 2->2, 3->2, 4->1
    assert(got === Map(
      (1L, 3L) -> (1L, 10000L / (1 + 2 - 1)),   // 5000 bp
      (2L, 4L) -> (1L, 10000L / (2 + 1 - 1))))  // 5000 bp
  }

  test("funnel: ordered stages only count post-predecessor events; rollup consistent") {
    import graft.operators.Events
    val ev = Seq(
      // u1 full ordered journey
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // u2 purchase BEFORE click: ordered funnel stops at click
      (2L, 10L, "view"), (2L, 30L, "click"), (2L, 20L, "purchase"),
      // u3 click with no prior view: not even in the funnel base?
      // no view at all -> absent from output
      (3L, 10L, "click"), (3L, 20L, "purchase"),
      // u4 equal timestamps: strict > means same-instant click does NOT count
      (4L, 10L, "view"), (4L, 10L, "click"),
      // u5 view only
      (5L, 99L, "view")
    ).toDF("u", "t", "ty")
    val got = Events.funnel(ev, "u", "t", "ty", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Any]("t1"), r.getAs[Any]("t2"), r.getAs[Any]("t3"),
         r.getAs[Int]("stage"))).toMap
    assert(got.keySet === Set(1L, 2L, 4L, 5L))
    assert(got(1L) === ((10L, 20L, 30L, 3)))
    assert(got(2L) === ((10L, 30L, null, 2)))  // purchase@20 < click@30 ignored
    assert(got(4L) === ((10L, null, null, 1))) // same-instant click excluded
    assert(got(5L) === ((99L, null, null, 1)))
    val counts = Events.funnelCounts(ev, "u", "t", "ty",
      Seq("view", "click", "purchase")).collect().head
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2)) === ((4L, 2L, 1L)))
  }

  test("retention: cohort = first-activity period; offsets count active periods") {
    import graft.operators.Events
    val p = 100L
    val ev = Seq(
      (1L, 10L), (1L, 110L), (1L, 310L),   // cohort 0, offsets 0,1,3
      (2L, 120L), (2L, 130L), (2L, 250L),  // cohort 100, offsets 0,1 (dedup in-period)
      (3L, 205L)                           // cohort 200, offset 0
    ).toDF("u", "t")
    val got = Events.retention(ev, "u", col("t"), p)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (100L, 0L) -> 1L, (100L, 1L) -> 1L,
      (200L, 0L) -> 1L))
  }

  test("q_affinity algebra: hand-computed support/confidence/lift on a fixture") {
    // baskets: {1,2} x3, {1,3} x1, {2,3} x1, {1} x1  -> N=6 orders
    // n_1=5, n_2=4, n_3=2; pair(1,2)=3, pair(1,3)=1, pair(2,3)=1
    // lift(1,2) = 3*6*10000 div (5*4) = 9000; conf = 3*10000 div 5 = 6000
    val rows = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L),
      (4L, 1L), (4L, 3L), (5L, 2L), (5L, 3L), (6L, 1L)
    ).toDF("o", "p")
    import org.apache.spark.sql.functions._
    val baskets = rows.distinct()
    val itemN = baskets.groupBy("p").agg(count(lit(1)).as("n_item"))
    val nOrders = baskets.select(countDistinct("o").as("n_orders"))
    val pairs = baskets.as("a").join(baskets.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_pair"))
    val out = pairs
      .join(itemN.select(col("p").as("u"), col("n_item").as("n_u")), "u")
      .join(itemN.select(col("p").as("v"), col("n_item").as("n_v")), "v")
      .crossJoin(nOrders)
      .select(col("u"), col("v"), col("n_pair"),
        expr("(n_pair * n_orders * 10000) div (n_u * n_v)").as("lift_bp"),
        expr("(n_pair * 10000) div n_u").as("conf_bp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((1L, 2L)) === ((3L, 9000L, 6000L)))
    assert(out((1L, 3L)) === ((1L, 6000L, 2000L)))
    assert(out((2L, 3L)) === ((1L, 7500L, 2500L)))
  }

  test("markovStationary: hand 2-state chain converges; absorbing-ish mass flows deterministically") {
    import graft.operators.Graphs
    // a <-> b alternating: stationary = uniform; start is uniform so
    // every iterate stays (500000000, 500000000) exactly
    val flip = Seq(("a", "b", 10L), ("b", "a", 10L)).toDF("f", "t", "c")
    val r = Graphs.markovStationary(flip, iters = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 500000000L, "b" -> 500000000L))
    // biased chain: a->a 3, a->b 1; b->a 1, b->b 1: stationary = (2/3, 1/3)
    val biased = Seq(("a", "a", 3L), ("a", "b", 1L),
      ("b", "a", 1L), ("b", "b", 1L)).toDF("f", "t", "c")
    val s = Graphs.markovStationary(biased, iters = 30)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(math.abs(s("a") - 666666666L) < 1000L, s"got $s")
    assert(math.abs(s("b") - 333333333L) < 1000L)
    // floor-leak only ever loses mass, never creates it
    assert(s.values.sum <= 1000000000L)
  }

  test("weightedSssp: converged distances equal Dijkstra by hand; weight beats hop count") {
    import graft.operators.Graphs
    // 1 -2- 2 -2- 3, plus a direct heavy edge 1-3 (w=5): the two-hop
    // path (4) must beat the one-hop (5); node 5 unreachable
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 2L), (1L, 3L, 5L),
      (3L, 4L, 1L), (5L, 6L, 1L)).toDF("u", "v", "w")
    val seeds = Seq(1L).toDF("node")
    val got = Graphs.weightedSssp(edges, seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 5L))
    // extra rounds change nothing once converged
    val more = Graphs.weightedSssp(edges, seeds, rounds = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === got)
  }

  test("itemNeighbors: hand-computed squared cosines; ranking and symmetry") {
    import graft.operators.Recommend
    // baskets: {1,2} x3, {1,3} x1, {2,3} x1  => c1=4, c2=4, c3=2
    val bi = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 1L), (13L, 3L), (14L, 2L), (14L, 3L)
    ).toDF("b", "i")
    val r = Recommend.itemNeighbors(bi, "b", "i", k = 2)
      .collect().map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    // cos²(1,2) = 9·10⁴/16 = 5625; cos²(1,3) = 1·10⁴/8 = 1250
    assert(r((1L, 1)) === ((2L, 3L, 5625L)))
    assert(r((1L, 2)) === ((3L, 1L, 1250L)))
    assert(r((2L, 1)) === ((1L, 3L, 5625L))) // symmetric pair
    assert(r((3L, 1))._3 === 1250L)          // ties on cos² break by c_pair/rec
  }

  test("bootstrapMeanCI: interval brackets the point estimate; constant data collapses it") {
    import graft.operators.Events
    val rnd = new scala.util.Random(7)
    val df = (0L until 400L).map(i => (i, 1000L + rnd.nextInt(500)))
      .toDF("id", "v")
    val r = Events.bootstrapMeanCI(df, "id", col("v")).head()
    val (n, mean, lo, hi, reps) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n === 400L && reps === 32L)
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] must bracket $mean")
    assert(hi - lo < 500L, "CI wider than the data range is nonsense")
    // constant population: every replicate mean equals the value
    val const = (0L until 100L).map(i => (i, 777L)).toDF("id", "v")
    val c = Events.bootstrapMeanCI(const, "id", col("v")).head()
    assert(c.getLong(1) === 777L && c.getLong(2) === 777L && c.getLong(3) === 777L)
  }

  test("ewmaAlerts: hand trajectory; first value never alerts; singleton passthrough") {
    import graft.operators.Events
    // vals 100, 100, 5100: e = 100, 100, then 5100 vs e=100 -> alert;
    // final e = (100+5100) div 2 = 2600
    val ev = Seq((1L, 10L, 1L, 100L), (1L, 20L, 2L, 100L),
      (1L, 30L, 3L, 5100L), (2L, 5L, 4L, 9999L)).toDF("u", "t", "id", "v")
    val r = Events.ewmaAlerts(ev, "u", col("t"), col("id"), col("v"),
        thresholdC = 3000L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((3L, 2600L, 1L)))
    // a single observation: ewma = the value, no alerts possible
    assert(r(2L) === ((1L, 9999L, 0L)))
  }

  test("mannWhitney: hand-computed doubled U with ties; U1+U2 = n1*n2") {
    import graft.operators.Events
    // g1 = {1, 2, 2}, g2 = {2, 3}: avg ranks 1, 3, 3, 3, 5 ->
    // 2R1 = 2+6+6 = 14, u2 = 14 - 3*4 = 2 (U1 = 1: the single tie pair)
    val df = Seq((true, 1L), (true, 2L), (true, 2L),
      (false, 2L), (false, 3L)).toDF("g", "v")
    val r = Events.mannWhitney(df, col("g"), col("v")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 2L, 2L)))
    assert(r.getLong(3) === (2L - 6L) * 10000L / 6L)
    // complementarity: computing from the other side gives u2' with
    // U1 + U2 = n1*n2  =>  u2 + u2' = 2*n1*n2
    val r2 = Events.mannWhitney(df, !col("g"), col("v")).head()
    assert(r.getLong(2) + r2.getLong(2) === 2L * 3L * 2L)
    // degenerate one-sided input: rb defined to 0
    val r3 = Events.mannWhitney(df.filter(col("g")), col("g"), col("v")).head()
    assert(r3.getLong(3) === 0L)
  }

  test("kaplanMeier: hand life table with censoring; factors, log-survival, extinction NULL") {
    import graft.operators.Events
    // subjects: day 0 -> 2 deaths; day 1 -> 1 censored (leaves risk set
    // WITHOUT reducing survival); day 2 -> 1 death, killing the rest
    val subj = Seq(
      (1L, 0L, true), (2L, 0L, true),
      (3L, 1L, false),
      (4L, 2L, true)
    ).toDF("u", "dur", "died").select(col("dur"), col("died"))
    val rows = Events.kaplanMeier(subj, "dur", "died")
      .orderBy("duration").collect()
    def lnbp(x: Long) = math.floor(math.log(x.toDouble) * 10000).toLong
    // d0: risk 4, events 2, factor 5000, logS = lnbp(2) - lnbp(4)
    assert(rows(0).getLong(1) === 4L && rows(0).getLong(2) === 2L)
    assert(rows(0).getLong(3) === 0L) // no censoring that day
    assert(rows(0).getLong(4) === 5000L)
    assert(rows(0).getLong(5) === lnbp(2) - lnbp(4))
    // d1: pure censoring — risk 2, factor 10000, logS UNCHANGED
    assert(rows(1).getLong(1) === 2L && rows(1).getLong(2) === 0L)
    assert(rows(1).getLong(3) === 1L)
    assert(rows(1).getLong(4) === 10000L)
    assert(rows(1).getLong(5) === lnbp(2) - lnbp(4))
    // d2: risk 1 = events 1 -> survival exactly 0 -> NULL log
    assert(rows(2).getLong(1) === 1L && rows(2).getLong(4) === 0L)
    assert(rows(2).isNullAt(5))
  }

  test("kCore: multi-round cascade peels the tail, keeps the clique; extra rounds no-op") {
    import graft.operators.Graphs
    // K4 clique on 0-3 (every node deg 3) + a path 3-4-5-6 hanging off:
    // k=2 peels 6 (deg 1), then 5, then 4 — a genuine 3-round cascade —
    // and the clique plus nothing else survives with in-core degree 3
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val got = Graphs.kCore(edges, k = 2, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // converged: more rounds change nothing
    val more = Graphs.kCore(edges, k = 2, rounds = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === got)
    // k above the degeneracy: empty core, not an error
    assert(Graphs.kCore(edges, k = 4, rounds = 5).count() === 0L)
  }

  test("attribution: each conversion distributes exactly 10000 bp per model") {
    import graft.operators.Events
    // u1: view@10, click@20, view@30 -> purchase@40 (3 in-window touches)
    // u2: click@5 -> purchase@6 (1 touch); purchase@100 attributes
    //     nothing (its only prior touch is 95 units stale, lookback 30)
    val ev = Seq(
      (1L, 10L, "view", 100L), (1L, 20L, "click", 101L),
      (1L, 30L, "view", 102L), (1L, 40L, "purchase", 103L),
      (2L, 5L, "click", 200L), (2L, 6L, "purchase", 201L),
      (2L, 100L, "purchase", 202L)
    ).toDF("user_id", "t", "event_type", "event_id")
    val got = Events.attribution(ev, "user_id", col("t"), "event_type",
        "event_id", Seq("view", "click"), "purchase", lookbackSec = 30L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // conversion 103 (3 touches): first=view@10, last=view@30 — views
    // take first AND last there; linear splits 3333/3333/3334 with the
    // remainder landing on the last touch (a view). conversion 201:
    // single click takes everything.
    assert(got("view") === ((10000L, 10000L, 3333L + 3334L, 2L)))
    assert(got("click") === ((10000L, 10000L, 3333L + 10000L, 2L)))
    // every model conserves total credit: 2 attributed conversions
    assert(got.values.map(_._1).sum === 20000L)
    assert(got.values.map(_._2).sum === 20000L)
    assert(got.values.map(_._3).sum === 20000L)
  }

  test("kAnonymity: class sizes, l-diversity, and verdicts from a hand fixture") {
    val df = Seq(
      // class (1, "A"): 3 rows, sensitive values {true, false} -> l=2
      (1, "A", 10.0), (1, "A", -5.0), (1, "A", 3.0),
      // class (1, "B"): 2 rows, all sensitive true -> fails l
      (1, "B", 1.0), (1, "B", 2.0),
      // class (2, "A"): 1 row -> fails k
      (2, "A", -1.0)
    ).toDF("nat", "seg", "bal")
    val got = Analytics.kAnonymity(df, Seq("nat", "seg"),
        col("bal") >= 0, k = 2L, l = 2L)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(got((1, "A")) === ((3L, 2L, true, true)))
    assert(got((1, "B")) === ((2L, 1L, true, false)))
    assert(got((2, "A")) === ((1L, 1L, false, false)))
  }

  test("linearTrend: exact slope on a hand line; re-basing invariance; single-day dropped") {
    import graft.operators.Events
    def day(d: Long) = d * 86400L
    // g1: daily sums 100,300,500 on days 0,1,2 -> slope 200 c/day
    // g2: one day only -> dropped
    val ev = Seq(
      ("g1", day(0) + 10, 40L), ("g1", day(0) + 20, 60L),
      ("g1", day(1), 300L), ("g1", day(2), 500L),
      ("g2", day(5), 100L)
    ).toDF("g", "t", "yc")
    val r = Events.linearTrend(ev, "g", col("t"), col("yc"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r("g1") === ((3L, 900L, 200L * 10000L)))
    assert(!r.contains("g2"))
    // shifting all timestamps by 1000 days changes nothing (re-basing)
    val shifted = Events.linearTrend(
        ev.withColumn("t", col("t") + day(1000)), "g", col("t"), col("yc"))
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(shifted("g1") === 200L * 10000L)
  }

  test("abTest: hand 2x2 chi-square and lift; degenerate margin defines to zero") {
    import graft.operators.Events
    // 10 users: variant A = u<5. A: 4 conv / 1 not; B: 1 conv / 4 not
    val ev = (0L until 10L).flatMap { u =>
      val conv = (u < 5L && u != 4L) || u == 9L
      Seq((u, "visit")) ++ (if (conv) Seq((u, "buy")) else Nil)
    }.toDF("u", "ty")
    val r = Events.abTest(ev, "u", col("u") < 5, col("ty") === "buy").head()
    val (a, b, c, d) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert((a, b, c, d) === ((4L, 1L, 1L, 4L)))
    assert(r.getLong(4) === 8000L - 2000L) // lift 80% - 20%
    // chi2 via the documented two-step association, computed by hand:
    // t1 = 10*(16-1)*1000 div 25 = 6000; chi2 = 6000*15 div 25 = 3600
    assert(r.getLong(5) === 3600L)
    // constant outcome -> all margins on one side, chi2/lift 0
    val r2 = Events.abTest(ev, "u", col("u") < 5, lit(true)).head()
    assert(r2.getLong(4) === 0L && r2.getLong(5) === 0L)
  }

  test("snaiveBacktest: hand-computed MAE; unmatched days don't score") {
    import graft.operators.Events
    def day(d: Long) = d * 86400L
    // g1 counts: d0=2, d7=5, d14=5 -> errors |5-2|=3, |5-5|=0 -> mae 1500
    // d3=4 has no d-7 partner and scores nothing
    val ev = Seq(
      ("g1", day(0)), ("g1", day(0) + 5),
      ("g1", day(3)), ("g1", day(3)), ("g1", day(3)), ("g1", day(3)),
      ("g1", day(7)), ("g1", day(7)), ("g1", day(7)), ("g1", day(7)), ("g1", day(7)),
      ("g1", day(14)), ("g1", day(14)), ("g1", day(14)), ("g1", day(14)), ("g1", day(14))
    ).toDF("g", "t")
    val r = Events.snaiveBacktest(ev, "g", col("t")).head()
    assert(r.getLong(1) === 2L)            // two scored days
    assert(r.getLong(2) === 3L * 1000L / 2L) // mae_milli = 1500
    assert(r.getLong(3) === 3L)            // max abs err
  }

  test("tokenEntropy: uniform -> ln(vocab); constant -> 0; matches a direct replay") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      ("u", "a b c d a b c d"),  // uniform over 4 tokens
      ("k", "x x x x x")         // single token: zero entropy
    ).toDF("src", "text")
    val r = TextAnalysis.tokenEntropy(docs, "src", "text")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r("k") === ((5L, 1L, 0L)))
    val (n, v, h) = r("u")
    assert((n, v) === ((8L, 4L)))
    // replay the documented formula: (N*lnbp(N) - sum c*lnbp(c)) div N
    def lnbp(x: Long) = math.floor(math.log(x.toDouble) * 10000).toLong
    assert(h === (8L * lnbp(8L) - 4L * 2L * lnbp(2L)) / 8L)
    // and it approximates ln(4) = 13862 bp within quantization slack
    assert(math.abs(h - 13862L) <= 3L)
  }

  test("dpNoisyCounts: equals an independent inverse-CDF replay; release algebra holds") {
    val df = Seq("x", "y", "z", "x", "x").toDF("k")
    val got = Analytics.dpNoisyCounts(df, "k", bMilli = 2000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    def noiseRef(key: String): Long = {
      val h = java.lang.Long.parseLong(md5hex("dp:" + key).take(8), 16)
      val u2 = (h.toDouble * 2.0 + 1.0) / 4294967296.0
      val (arg, sgn) = if (h >= 2147483648L) (2.0 - u2, 1L) else (u2, -1L)
      math.floor(-2000.0 * sgn * math.log(arg)).toLong
    }
    for ((k, n) <- Seq(("x", 3L), ("y", 1L), ("z", 1L))) {
      assert(got(k)._1 === n)
      assert(got(k)._2 === noiseRef(k), s"noise mismatch for $k")
      assert(got(k)._3 === n * 1000L + noiseRef(k))
    }
  }

  test("benford: exact first-digit extraction and expected-mass table") {
    // the expected table is the published Benford mass, floor-quantized
    assert(Analytics.benfordExpectedBp ===
      IndexedSeq(3010L, 1760L, 1249L, 969L, 791L, 669L, 579L, 511L, 457L))
    assert(Analytics.benfordExpectedBp.sum <= 10000L)
    val vals = Seq(1L, 9L, 10L, 19L, 99L, 100L, 101L, 999L, 1000L,
      50000000L, 987654321L).toDF("c")
    val digits = vals.select(col("c"),
        Analytics.benfordFirstDigit(col("c"), 12).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(digits === Map(1L -> 1L, 9L -> 9L, 10L -> 1L, 19L -> 1L,
      99L -> 9L, 100L -> 1L, 101L -> 1L, 999L -> 9L, 1000L -> 1L,
      50000000L -> 5L, 987654321L -> 9L))
    // full audit on a tiny frame: counts and bp algebra
    val out = Analytics.benford(vals, col("c")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(out(1L)._1 === 6L)                 // six values lead with 1
    assert(out(1L)._2 === 6L * 10000L / 11L)  // exact integer bp
    assert(out(9L)._1 === 4L) // 9, 99, 999, 987654321
  }
}
