package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators over the event stream — the funnel and
  * cohort-retention queries every event warehouse serves, expressed as
  * grouped conditional aggregates (no self-join chains, no per-user
  * UDFs).
  *
  * Both are single-pass per stage over (user, ts, type) projections:
  * at 100 TB the shuffles are keyed on user_id (or cohort week) and
  * map-side partial aggregation collapses each user's events before
  * the exchange.
  */
object Events {

  /** Ordered-funnel analysis: for each user, the earliest time each
    * stage could be reached IN ORDER — stage k counts only events
    * strictly after the user reached stage k−1 (the standard ordered
    * funnel, not the set-intersection shortcut that overcounts
    * out-of-order journeys).
    *
    * One grouped pass per stage: pass k needs stage k−1's time, which
    * is a user-keyed join of the (|users|-bounded) previous stage
    * table — never a re-shuffle of the raw events (events shuffle once
    * on user_id, then every stage reuses that clustering).
    *
    * Returns (user, t1..tk nullable, stage = furthest stage reached).
    */
  def funnel(events: DataFrame, user: String, ts: String, typ: String,
             stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val ev = events.select(col(user).as("u"), col(ts).as("t"),
      col(typ).as("ty"))
    var acc = ev.filter(col("ty") === stages.head)
      .groupBy("u").agg(min("t").as("t1"))
    for (k <- 2 to stages.length) {
      val prev = s"t${k - 1}"
      val next = ev.filter(col("ty") === stages(k - 1))
        .join(acc.select(col("u"), col(prev).as("_p")), "u")
        .filter(col("t") > col("_p"))
        .groupBy("u").agg(min("t").as(s"t$k"))
      acc = acc.join(next, Seq("u"), "left")
    }
    // ascending fold so the HIGHEST stage's test ends up outermost
    // (each wrap takes precedence over everything wrapped before it)
    val stageExpr = (1 to stages.length).foldLeft(lit(0)) {
      case (e, k) => when(col(s"t$k").isNotNull, lit(k)).otherwise(e)
    }
    acc.withColumn("stage", stageExpr)
  }

  /** Funnel conversion rollup: users reaching each stage (in order). */
  def funnelCounts(events: DataFrame, user: String, ts: String,
                   typ: String, stages: Seq[String]): DataFrame = {
    val f = funnel(events, user, ts, typ, stages)
    val aggs = (1 to stages.length).map(k =>
      sum(when(col("stage") >= k, 1L).otherwise(0L)).as(s"reached_$k"))
    f.agg(aggs.head, aggs.tail: _*)
  }

  /** Cohort retention: users grouped by their FIRST-activity period
    * (epoch-day ÷ periodSec), counted as retained in every later period
    * they act in. Output (cohort, offset, n_users) — the retention
    * triangle. Two grouped passes: first-activity per user
    * (|users|-bounded), then distinct (user, period) activity joined
    * back on user. */
  def retention(events: DataFrame, user: String, tsSec: Column,
                periodSec: Long): DataFrame = {
    require(periodSec > 0)
    val ev = events.select(col(user).as("u"),
      (tsSec - (tsSec % periodSec)).as("per"))
    val first = ev.groupBy("u").agg(min("per").as("cohort"))
    val active = ev.distinct()
    active.join(first, "u")
      .select(col("cohort"),
        ((col("per") - col("cohort")) / lit(periodSec)).cast("long").as("offset"))
      .groupBy("cohort", "offset").agg(count(lit(1)).as("n_users"))
  }

  /** Multi-touch ATTRIBUTION — the marketing-analytics settlement of
    * "which touchpoints get credit for a conversion", under the three
    * standard models at once:
    *
    *  - first-touch: the conversion's full 10000 bp to its EARLIEST
    *    in-window touch,
    *  - last-touch: all credit to the LATEST touch before conversion,
    *  - linear: each of the n touches gets `10000 div n` bp and the
    *    last touch absorbs the remainder `10000 mod n` — so every
    *    conversion distributes EXACTLY 10000 bp under every model
    *    (exact integers, no double splits to drift across engines).
    *
    * A touch is a `touchTypes` event by the same user strictly before
    * the conversion and at most `lookbackSec` older; total order within
    * a conversion is (ts, id) so simultaneous touches settle
    * deterministically. Touch-free conversions attribute nothing (no
    * synthetic "direct" row — the caller can count them separately).
    *
    * Scale shape: touches⋈conversions is ONE user-keyed equi-join
    * (the in-window predicate rides as a residual — per-user event
    * runs are bounded), then the three ranks share one
    * conversion-keyed window exchange. Output is |touch types| rows.
    */
  def attribution(events: DataFrame, user: String, tsSec: Column,
      typ: String, id: String, touchTypes: Seq[String], convType: String,
      lookbackSec: Long): DataFrame = {
    require(touchTypes.nonEmpty && lookbackSec > 0)
    val touches = events.filter(col(typ).isin(touchTypes: _*))
      .select(col(user).as("u"), tsSec.as("tt"), col(typ).as("ty"),
        col(id).as("tid"))
    val convs = events.filter(col(typ) === convType)
      .select(col(user).as("u"), tsSec.as("ct"), col(id).as("cid"))
    val inWindow = touches.join(convs, Seq("u"))
      .filter(col("tt") < col("ct") &&
        col("ct") - col("tt") <= lookbackSec)
    val w = Window.partitionBy("cid")
    val asc = w.orderBy(col("tt").asc, col("tid").asc)
    val dsc = w.orderBy(col("tt").desc, col("tid").desc)
    inWindow
      .withColumn("ra", row_number().over(asc))
      .withColumn("rd", row_number().over(dsc))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("ty"),
        when(col("ra") === 1, lit(10000L)).otherwise(lit(0L)).as("fb"),
        when(col("rd") === 1, lit(10000L)).otherwise(lit(0L)).as("lb"),
        (expr("10000L div n") +
          when(col("rd") === 1, pmod(lit(10000L), col("n")))
            .otherwise(lit(0L))).as("nb"))
      .groupBy(col("ty").as("event_type"))
      .agg(sum("fb").as("first_bp"), sum("lb").as("last_bp"),
        sum("nb").as("linear_bp"), count(lit(1)).as("n_touch"))
  }

  /** M4 time-series downsampling (Jugel et al., VLDB 2014): per time
    * bucket, the min/max/first/last of the value — the four points that
    * make a line-chart rendering of the bucket pixel-exact, and the
    * standard dashboard/storage downsampler. First/last are
    * deterministic via lexicographic struct min/max over
    * (ts, tiebreak, value); the whole operator is ONE map-side-combined
    * aggregate (bucket count ≤ time domain / bucketSec).
    */
  def m4Downsample(events: DataFrame, tsSec: Column, tieBreak: Column,
      value: Column, bucketSec: Long): DataFrame = {
    require(bucketSec > 0)
    events
      .select((tsSec - (tsSec % bucketSec)).as("bucket"),
        struct(tsSec.as("t"), tieBreak.as("tb"), value.as("v")).as("e"),
        value.as("v"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("v").as("v_min"), max("v").as("v_max"),
        min("e").getField("v").as("v_first"),
        max("e").getField("v").as("v_last"))
  }

  /** Per-group OLS linear trend over daily aggregates, exact-integer
    * form: regress the day's summed value (cents) on the day index and
    * emit the slope in basis points —
    *
    *   slope_bp = (n·Σxy − Σx·Σy) · 10⁴ div (n·Σx² − (Σx)²)
    *
    * with x the day offset from the GROUP's first active day (re-basing
    * keeps every product far inside long range; the slope is shift-
    * invariant) and one floor division at the end — the closed-form
    * normal equation as an associative integer aggregate, so the whole
    * regression is ONE grouped pass over the daily table (itself one
    * map-side-combined aggregate of the events). Groups with a single
    * active day have no slope and are dropped. */
  def linearTrend(events: DataFrame, group: String, tsSec: Column,
      valueCents: Column): DataFrame = {
    val daily = events
      .select(col(group).as("g"), (tsSec - pmod(tsSec, lit(86400L)))
        .as("day"), valueCents.as("y"))
      .groupBy("g", "day").agg(sum("y").as("y"))
    val based = daily
      .join(daily.groupBy("g").agg(min("day").as("d0")), "g")
      .select(col("g"), expr("(day - d0) div 86400").as("x"), col("y"))
    based.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .filter(col("n") >= 2L)
      .select(col("g"), col("n").as("n_days"), col("sy").as("sum_y_c"),
        expr("((n * sxy - sx * sy) * 10000) div (n * sxx - sx * sx)")
          .as("slope_bp"))
  }

  /** Subsampling BOOTSTRAP confidence interval for a mean (Politis &
    * Romano 1994 subsampling inference, deterministic-replicate form):
    * B half-rate replicates drawn by the md5-membership device
    * (replicate b keeps rows with even md5-digit of "bs:b:id" — exact,
    * engine-portable pseudo-randomness), each replicate's mean computed
    * in exact cents (sum div n), and the interval read off order
    * statistics of the B replicate means (ranks loRank/hiRank of the
    * sorted means, ties on replicate id). Everything integer after the
    * md5; the full-population mean rides along as the point estimate.
    *
    * One corpus pass with a B-way Expand (B is a small constant);
    * every aggregate after is B-bounded. Production swaps the salt for
    * real entropy exactly like [[Analytics.dpNoisyCounts]]. */
  def bootstrapMeanCI(df: DataFrame, id: String, valueCents: Column,
      b: Int = 32, loRank: Int = 2, hiRank: Int = 31): DataFrame = {
    require(b >= 2 && loRank >= 1 && hiRank <= b && loRank <= hiRank)
    val base = df.select(col(id).as("_id"), valueCents.as("v"))
    val reps = base
      .select(col("_id"), col("v"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .filter(conv(substring(md5(concat(lit("bs:"), col("rep").cast("string"),
        lit(":"), col("_id").cast("string"))), 1, 1), 16, 10)
        .cast("long") % 2 === 0L)
      .groupBy("rep").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .select(col("rep"), expr("s div c").as("m"))
    val ranked = reps.withColumn("rk", row_number().over(
      Window.orderBy(col("m"), col("rep"))))
    val full = base.agg(count(lit(1)).as("n"),
      expr("sum(v) div count(1)").as("mean_c"))
    full.crossJoin(broadcast(ranked
      .agg(max(when(col("rk") === loRank, col("m"))).as("ci_lo_c"),
        max(when(col("rk") === hiRank, col("m"))).as("ci_hi_c"),
        count(lit(1)).as("n_reps"))))
  }

  /** EWMA control chart (the classic sequential anomaly monitor) with a
    * DYADIC smoothing constant so the recurrence is exact integers:
    *
    *   e₁ = v₁,   e_k = (e_{k−1} + v_k) div 2        (α = 1/2)
    *   alert at k ⇔ |v_k − e_{k−1}| > threshold
    *
    * A sequential recurrence has no associative form, so it runs as a
    * row-LOCAL fold over each key's ordered value array (one key
    * shuffle, then per-element integer ops — the eventPaths per-user
    * array contract; per-key cardinality bounds the row size). The
    * identical left fold replays in the oracle via list_reduce, so the
    * whole trajectory hash-gates. Output per key: (n, ewma_c,
    * n_alerts). */
  def ewmaAlerts(events: DataFrame, user: String, tsSec: Column,
      tieBreak: Column, valueCents: Column, thresholdC: Long): DataFrame = {
    require(thresholdC >= 0)
    events
      .select(col(user).as("u"),
        struct(tsSec.as("t"), tieBreak.as("tb"), valueCents.as("v")).as("e"))
      .groupBy("u")
      .agg(array_sort(collect_list(col("e"))).as("arr"))
      .select(col("u"), expr("transform(arr, x -> x.v)").as("vals"))
      .filter(size(col("vals")) > 0)
      .withColumn("f", expr(
        s"""aggregate(slice(vals, 2, size(vals) - 1),
              named_struct('e', vals[0], 'a', 0L),
              (acc, x) -> named_struct(
                'e', (acc.e + x) div 2,
                'a', acc.a + IF(abs(x - acc.e) > ${thresholdC}L, 1L, 0L)))"""))
      .select(col("u"), size(col("vals")).cast("long").as("n"),
        col("f.e").as("ewma_c"), col("f.a").as("n_alerts"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test over INTEGER
    * values, via the histogram device: average ranks with ties are
    * half-integers, so the engine works in DOUBLED ranks —
    *
    *   avg2(v) = 2·C(v) + cnt(v) + 1      (C = count of smaller values)
    *   u2      = Σ_v n1(v)·avg2(v) − n1·(n1+1)   (= 2·U₁, exact)
    *   rb_bp   = (u2 − n1·n2)·10⁴ div (n1·n2)    (rank-biserial effect)
    *
    * — every quantity an exact integer, no normal approximation (the
    * caller compares u2/effect against tables; the χ² operator covers
    * the categorical case). The corpus aggregates ONCE into the value
    * histogram with per-group counts; the cumulative window runs over
    * the |distinct values|-bounded histogram, never the corpus — the
    * same never-sort-the-corpus contract as the quantile family. */
  def mannWhitney(df: DataFrame, inGroup1: Column,
      valueCol: Column): DataFrame = {
    val hist = Guard.domainBounded(
      df.select(inGroup1.as("g1"), valueCol.as("v"))
        .groupBy("v").agg(
          sum(when(col("g1"), 1L).otherwise(0L)).as("n1v"),
          sum(when(col("g1"), 0L).otherwise(1L)).as("n2v")),
      "mannWhitney")
    val wPrev = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = hist
      .withColumn("cprev",
        coalesce(sum(col("n1v") + col("n2v")).over(wPrev), lit(0L)))
      .withColumn("avg2",
        lit(2L) * col("cprev") + col("n1v") + col("n2v") + 1L)
    scored.agg(sum("n1v").as("n1"), sum("n2v").as("n2"),
        sum(col("n1v") * col("avg2")).as("r2"))
      .select(col("n1"), col("n2"),
        (col("r2") - col("n1") * (col("n1") + 1L)).as("u2"))
      .select(col("n1"), col("n2"), col("u2"),
        expr("CASE WHEN n1 = 0 OR n2 = 0 THEN 0 " +
          "ELSE ((u2 - n1 * n2) * 10000) div (n1 * n2) END").as("rb_bp"))
  }

  /** Kaplan-Meier survival with RIGHT CENSORING (the product-limit
    * estimator, Kaplan & Meier 1958) in the engine's quantized-LOG
    * form, over a prepared subject table (duration, event-observed):
    * per duration bin k,
    *
    *   n_risk(k)   = Σ_{j ≥ k} (events(j) + censored(j))
    *   factor_bp   = (n_risk − d)·10⁴ div n_risk          (exact; the
    *                 censored leave the risk set WITHOUT reducing S)
    *   log_surv_bp = Σ_{i ≤ k, d_i > 0 ∨ always} ln_bp(n_risk − d)
    *                                             − ln_bp(n_risk)
    *
    * — the product limit moved to log space so the cumulative is an
    * ASSOCIATIVE integer sum (ln_bp = floor(ln·10⁴), the quantized-ln
    * device). If a bin kills the entire remaining risk set the survival
    * is exactly zero and log_surv_bp is NULL from there on.
    *
    * Subjects aggregate to the |bins|-bounded life table in one pass;
    * the single-partition windows after that are DOMAIN-bounded (the
    * histogram-device contract — never a corpus sort). */
  def kaplanMeier(subjects: DataFrame, duration: String,
      died: String): DataFrame = {
    def lnBp(c: Column): Column =
      floor(log(c.cast("double")) * 10000).cast("long")
    val tab = Guard.domainBounded(
      subjects
        .select(col(duration).as("k"), col(died).as("e"))
        .groupBy("k").agg(
          sum(when(col("e"), 1L).otherwise(0L)).as("n_event"),
          sum(when(col("e"), 0L).otherwise(1L)).as("n_censored")),
      "kaplanMeier")
    val wRev = Window.orderBy(col("k"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tab
      .withColumn("n_risk",
        sum(col("n_event") + col("n_censored")).over(wRev))
      .withColumn("term",
        when(col("n_risk") > col("n_event"),
          lnBp(col("n_risk") - col("n_event")) - lnBp(col("n_risk"))))
      .withColumn("extinct",
        max(when(col("n_risk") === col("n_event"), 1L).otherwise(0L))
          .over(wCum))
      .select(col("k").as("duration"), col("n_risk"), col("n_event"),
        col("n_censored"),
        expr("((n_risk - n_event) * 10000) div n_risk").as("factor_bp"),
        when(col("extinct") === 1L, lit(null).cast("long"))
          .otherwise(sum("term").over(wCum)).as("log_surv_bp"))
  }

  /** Seasonal-naive forecast BACKTEST — the standard forecasting
    * baseline and its standard evaluation in one operator: forecast for
    * a day is the actual of `periodSec` earlier (same weekday for the
    * 7-day period); days with both an actual and a forecast score, and
    * the per-group error profile comes back as exact integers
    * (mae_milli = Σ|err|·1000 div n — one floor division). Any real
    * forecaster must beat this number; a pipeline that cannot compute
    * it cannot claim a baseline. Two |days|-bounded aggregates and one
    * (group, day)-keyed self-join — the events themselves aggregate
    * once, map-side-combined. */
  def snaiveBacktest(events: DataFrame, group: String, tsSec: Column,
      periodSec: Long = 7L * 86400L): DataFrame = {
    require(periodSec > 0)
    val daily = events
      .select(col(group).as("g"),
        (tsSec - pmod(tsSec, lit(86400L))).as("day"))
      .groupBy("g", "day").agg(count(lit(1)).as("actual"))
    val scored = daily
      .join(daily.select(col("g"), (col("day") + periodSec).as("day"),
        col("actual").as("forecast")), Seq("g", "day"))
      .select(col("g"), abs(col("actual") - col("forecast")).as("ae"))
    scored.groupBy("g")
      .agg(count(lit(1)).as("n_scored"), sum("ae").as("sum_abs_err"),
        max("ae").as("max_abs_err"))
      .select(col("g"), col("n_scored"),
        expr("(sum_abs_err * 1000) div n_scored").as("mae_milli"),
        col("max_abs_err"))
  }

  /** 2×2 contingency test for an A/B split, exact-integer form: counts
    * (a, b, c, d) = (A converted, A not, B converted, B not), the
    * conversion-rate lift in bp, and the χ² statistic in milli-units —
    *
    *   t1         = n·(ad − bc)·1000 div ((a+b)(c+d))
    *   chi2_milli = t1·(ad − bc)     div ((a+c)(b+d))
    *
    * the standard 2×2 χ² identity evaluated in a FIXED two-step
    * association (the single-division form n(ad−bc)²·1000 exceeds long
    * range already at ~1.5k users per cell; this association holds to
    * ~10⁵ — beyond that a production caller drops to doubles and the
    * statistic stops being hash-gateable, which is fine: at that n the
    * quantization error is far below any critical-value gap). No erf,
    * no p-value doubles — compare chi2_milli against the critical
    * value, e.g. 3841 for α=0.05. One pass to flag users, one
    * |users|-bounded aggregate. */
  def abTest(events: DataFrame, user: String, variantA: Column,
      converted: Column): DataFrame = {
    val users = events
      .groupBy(col(user).as("u"))
      .agg(bool_or(variantA).as("va"), bool_or(converted).as("conv"))
    users.agg(
        sum(when(col("va") && col("conv"), 1L).otherwise(0L)).as("a"),
        sum(when(col("va") && !col("conv"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("va") && col("conv"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("va") && !col("conv"), 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        // degenerate margins (an empty variant or a constant outcome)
        // have no measurable association: lift/chi2 define to 0 rather
        // than dividing by zero
        expr("CASE WHEN (a + b) = 0 OR (c + d) = 0 THEN 0 " +
          "ELSE (a * 10000) div (a + b) - (c * 10000) div (c + d) END")
          .as("lift_bp"),
        expr("CASE WHEN (a + b) = 0 OR (c + d) = 0 OR (a + c) = 0 " +
          "OR (b + d) = 0 THEN 0 " +
          "ELSE (((a + b + c + d) * (a * d - b * c) * 1000) " +
          "div ((a + b) * (c + d)) * (a * d - b * c)) " +
          "div ((a + c) * (b + d)) END").as("chi2_milli"))
  }

  /** Frequent event paths: the top-k length-`n` consecutive event-type
    * sequences across user timelines (funnel DISCOVERY — the
    * exploratory complement of [[funnel]]'s fixed-stage counting).
    * Each user's events order by (ts, tiebreak); length-n windows
    * shingle per user row-locally after ONE key shuffle; path counts
    * are a shingle-bounded aggregate and the top-k is a TakeOrdered.
    *
    * Event types must be non-null: a null type fails the query with an
    * error naming `eventPaths` (a row-level `raise_error` on the type
    * projection the query already runs — no extra job) instead of
    * joining into a path as "".
    */
  def eventPaths(events: DataFrame, user: String, tsSec: Column,
      tieBreak: Column, typ: Column, n: Int, k: Int): DataFrame = {
    require(n >= 2 && k >= 1)
    val seqs = events
      .select(col(user).as("u"), tsSec.as("t"), tieBreak.as("tb"),
        when(typ.isNull, raise_error(lit(
          "eventPaths: null event type (event types must be non-null)")))
          .otherwise(typ).as("y"))
      .groupBy("u")
      .agg(array_sort(collect_list(struct(col("t"), col("tb"), col("y"))))
        .as("evs"))
      .select(expr("transform(evs, e -> e.y)").as("ys"))
      .filter(size(col("ys")) >= n)
    // length-n windows as ONE native n-gram pass (" -> "-joined) per
    // user row — the transform/sequence/array_join HOF was interpreted
    // per window with a slice copy each (guide §4.1). Identical paths:
    // the types are non-null (checked above), so no window can hold a
    // null that would join as "".
    seqs
      .select(explode(graft.functions.wordNgrams(col("ys"), n, " -> "))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("path"))
      .limit(k)
  }

  /** Offline changepoint scan (CUSUM-style): for a day-bucketed count
    * series x₁..x_n, the centered cumulative walk
    * S_k = n·Σ_{i≤k} x_i − k·Σx — the mean-centered prefix sum scaled
    * by n so it stays an EXACT integer (Σ(x_i − μ)·n). |S| peaks at a
    * level-shift boundary (the classic offline CUSUM argmax); output is
    * the top-`k` days by |S| with the walk value.
    *
    * Scale: ONE corpus exchange (the day groupBy with map-side
    * combine); every window runs over the day-bounded series (≤ time
    * domain in days), and the top-k is a TakeOrdered.
    */
  def changepoints(events: DataFrame, tsSec: Column, k: Int = 5): DataFrame = {
    val daily = Guard.domainBounded(
      events.select((tsSec - (tsSec % 86400L)).as("day"))
        .groupBy("day").agg(count(lit(1)).as("x")),
      "changepoints")
    val w = Window.orderBy("day")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("pref", sum("x").over(cum))
      .withColumn("total", sum("x").over(all))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("kk", row_number().over(w).cast("long"))
      .withColumn("s", col("n") * col("pref") - col("kk") * col("total"))
      .select(col("day"), col("x"), col("s"))
      .orderBy(abs(col("s")).desc, col("day"))
      .limit(k)
  }

  /** Sweep-line concurrency profile over inclusive [start, end] second
    * intervals: seconds spent at each simultaneous-interval count.
    *
    * Classic device: +1 at start, −1 at end+1, cumulative sum over time;
    * the level holds on [t, next-t). The cumulative window runs over the
    * NET-DELTA-PER-DISTINCT-SECOND frame — bounded by the time DOMAIN
    * (≈31M rows for a year of seconds), never by the corpus: the
    * corpus-sized interval set contributes exactly one groupBy(t)
    * exchange with map-side combine. The trailing level (always 0 after
    * the last end) is dropped with the open segment.
    */
  def concurrency(intervals: DataFrame, start: String, end: String): DataFrame = {
    val deltas = intervals.select(col(start).cast("long").as("t"), lit(1L).as("d"))
      .unionByName(intervals.select((col(end).cast("long") + 1).as("t"),
        lit(-1L).as("d")))
      .groupBy("t").agg(sum("d").as("d"))
      // net-zero seconds don't change the level; dropping them BEFORE the
      // windows merges their neighboring segments (dropping after would
      // orphan the duration between them)
      .filter(col("d") =!= 0)
    // the documented contract is time-DOMAIN boundedness (≈31M rows for
    // a year of seconds) — the ceiling sits above that, not at the
    // histogram default
    val guarded = Guard.domainBounded(deltas, "concurrency",
      maxRows = 64000000L)
    val w = Window.orderBy("t")
    guarded
      .withColumn("level", sum("d").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dur", lead("t", 1).over(w) - col("t"))
      .filter(col("dur").isNotNull)
      .groupBy("level").agg(sum("dur").as("seconds"))
      // level-0 gaps between intervals are observation-window artifacts
      .filter(col("level") > 0)
  }
}
