package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Merge

/** Incrementally-maintained FREQUENCY SKETCH: a `foreachBatch` additive
  * upsert of the Count-Min counters (and the exact token counts that
  * audit them) so heavy-hitter queries serve from a sketch that follows
  * the livestream — the fifth maintained serving artifact, and the one
  * sketches were INVENTED for: CMS counters are additive, so the
  * maintained table is bit-identical to a batch rebuild at every
  * version (no approximation drift from incremental maintenance).
  *
  * ==One table, two row kinds==
  * Keys `s:<j>:<bucket>` hold the d·w sketch counters; keys `t:<tok>`
  * hold the exact per-token counts (vocabulary-bounded) that the
  * serving output's audit columns (exact, err) and candidate set read.
  * A pure-estimate consumer needs only the `s:` rows — at 100 TB the
  * `t:` rows are the optional audit sidecar, the `s:` rows are the
  * fixed-size sketch. Both kinds are ADDITIVE, so each micro-batch
  * reads current values for its touched keys, adds its delta, and
  * writes replacement totals — the [[StreamModel]] read-modify-write,
  * sound here for the same reason (state bounded by d·w + vocabulary,
  * never the corpus).
  *
  * Same admission contract as the model sink: each document at most
  * once over the stream's lifetime (compose with [[StreamDedup]]) — a
  * replay would double-count. */
object StreamSketch {

  val sketchEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("cnt"), frozen = Seq("author"))

  /** The counter-row schema: (idstr = kind-prefixed key, author, body, cnt). */
  val sketchSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("cnt", LongType)))

  private def emptyRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sketchSchema)

  def table(spark: SparkSession, path: String, nBuckets: Int = 16): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, sketchEntity, emptyRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch → (key, cnt_d) deltas for both row kinds. */
  private[graft] def batchDelta(batch: DataFrame, textCol: String,
      depth: Int, widthHex: Int): DataFrame = {
    val tc = graft.operators.Sketches.tokenCounts(batch, textCol)
    val vocabRows = tc.select(
      concat(lit("t:"), col("tok")).as("k"), col("exact").as("cnt_d"))
    val sketchRows = tc
      .select(col("tok"), col("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("b",
        substring(md5(concat(col("j").cast("string"), lit(":"), col("tok"))),
          1, widthHex))
      .groupBy("j", "b").agg(sum("exact").as("cnt_d"))
      .select(concat(lit("s:"), col("j").cast("string"), lit(":"), col("b")).as("k"),
        col("cnt_d"))
    vocabRows.unionByName(sketchRows)
  }

  /** Wire a document stream into the sketch table: per batch, delta +
    * current → replacement totals ([[Livestream.foldCounters]] through
    * [[Livestream.maintain]]); CDC off. */
  def sketchSink(stream: DataFrame, textCol: String,
      table: Livestream.UpsertTable, checkpoint: String,
      depth: Int, widthHex: Int,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(depth > 0 && depth <= 9 && widthHex > 0 && widthHex <= 8,
      s"depth 1-9 and widthHex 1-8 required: d=$depth w=$widthHex")
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => Livestream.foldCounters(table,
        batchDelta(b, textCol, depth, widthHex)))(_ => ())
  }

  /** One micro-batch of embeddings → second-moment deltas: keys
    * `m:<i>:<j>`, value = the batch's [[graft.operators.Linalg
    * .momentStats]] cell. The moment statistics are ADDITIVE integers
    * (n, Σqᵢ, Σqᵢqⱼ — sums of exact quantized values), so the same
    * counter-merge that maintains the CMS maintains the full covariance
    * input: the PCA/whitening/OPQ preprocessing stack becomes
    * stream-maintainable for free. */
  private[graft] def momentDelta(batch: DataFrame, vec: String,
      d: Int): DataFrame =
    graft.operators.Linalg.momentStats(batch, vec, d)
      .select(concat(lit("m:"), col("i").cast("string"), lit(":"),
        col("j").cast("string")).as("k"), col("s").as("cnt_d"))

  /** Wire an embedding stream into maintained moment statistics on the
    * counter table: per batch, additive delta + current → replacement
    * totals (the [[sketchSink]] algebra — a negative cell sum is a
    * counter like any other). `q_embed_cov_incremental` gates the
    * maintained table against q_embed_cov's RESCAN oracle verbatim, so
    * any maintenance leak hash-mismatches. Through
    * [[Livestream.maintain]]; CDC off. */
  def momentSink(stream: DataFrame, vec: String, d: Int,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(d >= 1 && d <= 4096, s"implausible dimension: $d")
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => Livestream.foldCounters(table, momentDelta(b, vec, d)))(_ => ())
  }

  /** Read maintained moment statistics back into [[graft.operators
    * .Linalg.covNumerators]]' (i, j, s) input shape. */
  def moments(table: Livestream.UpsertTable): DataFrame =
    table.current
      .filter(col(Merge.KeyCol).startsWith("m:"))
      .select(
        element_at(split(col(Merge.KeyCol), ":"), 2).cast("int").as("i"),
        element_at(split(col(Merge.KeyCol), ":"), 3).cast("int").as("j"),
        col("cnt").as("s"))

  /** One micro-batch → HLL register deltas: keys `h:<group>:<register>`,
    * value = the batch's max rank for that register. Groups must not
    * contain ':' (key codec constraint; enforced). */
  private[graft] def hllDelta(batch: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val regs = graft.operators.Sketches.hllRegisters(
      graft.operators.Sketches.bigramsOf(batch, groupCol, textCol))
    regs.select(
      concat(lit("h:"), col("g"), lit(":"), col("r").cast("string")).as("k"),
      col("mr").cast("long").as("cnt_d"))
  }

  /** Wire a document stream into HLL registers on the same table kind:
    * per batch, GREATEST(current, delta) — registers max-merge, so the
    * maintained sketch equals a batch rebuild at every version (the
    * other mergeable-sketch class next to [[sketchSink]]'s additive
    * counters). Through [[Livestream.maintain]]; CDC off. Unlike
    * the additive sinks, REPLAYING a document is harmless here (max is
    * idempotent) — HLL needs no upstream dedup. */
  def hllSink(stream: DataFrame, groupCol: String, textCol: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false)) {
      (b, _) =>
        Livestream.requireKeyCodec(b, groupCol, "group values")
        Livestream.foldCounters(table, hllDelta(b, groupCol, textCol),
          greatest(_, _))
    }(_ => ())

  /** The HLL-register VIEW: (g, r, mr) — what
    * [[graft.operators.Sketches.hllEstimate]] serves from. */
  def hllRegistersView(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("h:"))
      .select(split(col(Merge.KeyCol), ":").as("_p"), col("cnt"))
      .select(element_at(col("_p"), 2).as("g"),
        element_at(col("_p"), 3).cast("int").as("r"),
        col("cnt").cast("int").as("mr"))

  /** One micro-batch → Bloom word deltas: keys `w:<wordIdx>`, value =
    * the 64-bit word OR-folded over the batch keys' salted positions. */
  private[graft] def bloomDelta(batch: DataFrame, key: String,
      mBits: Int, k: Int): DataFrame = {
    val pos = batch.select(col(key).cast("string").as("s")).distinct()
      .select(explode(sequence(lit(0), lit(k - 1))).as("j"), col("s"))
      .select((conv(substring(md5(concat(col("j").cast("string"), lit(":"),
        col("s"))), 1, 8), 16, 10).cast("long") % mBits).as("p"))
    pos.select(expr("p div 64").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("cnt_d"))
      .select(concat(lit("w:"), col("w").cast("string")).as("k"), col("cnt_d"))
  }

  /** Wire a key stream into Bloom words through [[Livestream.maintain]]:
    * per batch, current | delta — bitwise OR merges are IDEMPOTENT
    * (replay-safe, like the HLL sink) and the state caps at mBits/64
    * rows. */
  def bloomSink(stream: DataFrame, key: String, mBits: Int, k: Int,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    require(mBits > 0 && mBits % 64 == 0 && k >= 1)
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => Livestream.foldCounters(table, bloomDelta(b, key, mBits, k),
        _ bitwiseOR _))(_ => ())
  }

  /** The Bloom bitmap VIEW, materialized to the driver array form
    * [[graft.operators.Sketches.bloomMightContain]] consumes — a
    * collect bounded by mBits/64 rows (the filter capacity). */
  def bloomBitsView(table: Livestream.UpsertTable, mBits: Int): Array[Long] = {
    val bits = new Array[Long](mBits / 64)
    table.current.filter(col(Merge.KeyCol).startsWith("w:"))
      .select(expr(s"cast(substring(${Merge.KeyCol}, 3) as int)").as("w"),
        col("cnt"))
      .collect().foreach(r => bits(r.getInt(0)) = r.getLong(1))
    bits
  }

  /** The exact-count VIEW: (tok, exact). */
  def counts(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("t:"))
      .select(expr(s"substring(${Merge.KeyCol}, 3)").as("tok"),
        col("cnt").as("exact"))

  /** The sketch-counter VIEW: (j, b, total). Keys are `s:<j>:<b>` with a
    * single-digit depth by construction (depth ≤ 9 enforced at sink
    * wiring — the published CMS depths are 3-5). */
  def sketch(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("s:"))
      .select(expr(s"cast(substring(${Merge.KeyCol}, 3, 1) as int)").as("j"),
        expr(s"substring(${Merge.KeyCol}, 5)").as("b"),
        col("cnt").as("total"))

  /** One micro-batch → (group, value) HISTOGRAM deltas: keys
    * `v:<group>:<value>`, additive counts. The maintained form of the
    * engine's histogram-device family — any statistic the devices
    * derive from a (group, value) histogram (exact quantiles, tertiles,
    * percentile thresholds, MAD) can be served from this table with
    * ZERO corpus passes at query time. Groups must not contain ':'
    * (key codec constraint; enforced at the sink). State bounded by
    * |group|·|value domain|, never the corpus. */
  private[graft] def histDelta(batch: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    batch.groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt_d"))
      .select(concat(lit("v:"), col("g"), lit(":"), col("v").cast("string"))
        .as("k"), col("cnt_d"))

  /** Wire a (group, value) stream into the histogram table — the
    * additive RMW of [[sketchSink]] through [[Livestream.maintain]], same
    * admission contract; groups' key codec checked per batch. */
  def histSink(stream: DataFrame, groupCol: String, valueCol: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false)) {
      (b, _) =>
        Livestream.requireKeyCodec(b, groupCol, "group values")
        Livestream.foldCounters(table, histDelta(b, groupCol, valueCol))
    }(_ => ())

  /** The histogram VIEW: (g, v, c) — what the histogram devices consume
    * in place of their own corpus aggregation. */
  def histView(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("v:"))
      .select(
        expr(s"split(substring(${Merge.KeyCol}, 3), ':')[0]").as("g"),
        expr(s"cast(split(substring(${Merge.KeyCol}, 3), ':')[1] as bigint)")
          .as("v"),
        col("cnt").as("c"))
}
