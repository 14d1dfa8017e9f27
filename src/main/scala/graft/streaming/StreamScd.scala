package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Merge

/** Incrementally-maintained SCD TYPE-2 dimension: a `foreachBatch` upsert
  * keeping, per entity key, (a) the full ordered change log and (b) the
  * COLLAPSED validity intervals — re-derived at merge time for exactly
  * the keys a batch touches. The "partial materialized-view maintenance"
  * incremental class, new next to the sink family's replace-by-doc
  * (postings/LSH), additive (DSIR/CMS), and max-merge (HLL) classes.
  *
  * ==Why keep the raw log==
  * SCD2 intervals are a function of the key's WHOLE ordered history: a
  * late event landing between two existing runs can split or merge them,
  * so no interval-only state machine survives out-of-order arrival.
  * Keeping the per-key ordered log makes maintenance correct under ANY
  * batch arrival order — the merge re-sorts the union and re-collapses —
  * and the re-collapse is a row-local native-expression pass over one
  * key's array (batch-touched keys only), never a shuffle.
  *
  * Per-key array state is bounded by that key's change-log length — the
  * same per-key-payload contract as [[StreamIndex]]'s tf maps; entities
  * with unbounded churn belong in a log-compacted variant (truncate to
  * the trailing N changes) before this bound matters.
  *
  * Serving explodes the PRE-COLLAPSED intervals: zero windows at serve
  * time. After any sequence of micro-batches covering the event set, the
  * served dimension is row-identical to the batch [[graft.operators.Scd
  * .buildType2]] — q_scd2_incremental shares q_scd2's oracle verbatim.
  */
object StreamScd {

  val scdEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("evs", "ivs"), frozen = Seq("author"))

  private val evType: DataType = ArrayType(StructType(Seq(
    StructField("ts", LongType), StructField("tb", LongType),
    StructField("attr", StringType))))

  private val ivType: DataType = ArrayType(StructType(Seq(
    StructField("version", LongType), StructField("attr", StringType),
    StructField("valid_from", LongType), StructField("valid_to", LongType))))

  val scdSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("evs", evType),
    StructField("ivs", ivType)))

  private def emptyRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], scdSchema)

  def table(spark: SparkSession, path: String, nBuckets: Int = 16): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, scdEntity, emptyRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** Run-head collapse of a SORTED (ts, tb, attr) log array into SCD2
    * intervals — row-local native expressions (no shuffle, no UDF):
    * head indices = positions whose attr differs from the predecessor;
    * each head becomes an interval closed by the next head (or left
    * open as -1). */
  private[graft] val collapseExpr: org.apache.spark.sql.Column = {
    expr(
      """transform(
           filter(sequence(1, size(evs)),
                  i -> i = 1 OR element_at(evs, i - 1).attr <> element_at(evs, i).attr),
           (h, j) -> named_struct(
             'version', CAST(j + 1 AS BIGINT),
             'attr', element_at(evs, h).attr,
             'valid_from', element_at(evs, h).ts,
             'valid_to', CAST(-1 AS BIGINT)))""")
  }

  /** Wire a change-log stream (key, ts_sec, tb, attr) into the table:
    * per batch, union the batch's per-key events with the key's current
    * log, re-sort, re-collapse, replace — through
    * [[Livestream.maintain]]; CDC off. */
  def scdSink(stream: DataFrame, key: String, tsSec: String, tieBreak: String,
      attr: String, table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false)) {
      (batch, _) =>
        val delta = batch.groupBy(col(key).cast("string").as(Merge.KeyCol))
          .agg(collect_list(struct(col(tsSec).cast("long").as("ts"),
            col(tieBreak).cast("long").as("tb"),
            col(attr).cast("string").as("attr"))).as("evs_d"))
        val cur = table.current.select(col(Merge.KeyCol), col("evs").as("evs_0"))
        delta.join(cur, Seq(Merge.KeyCol), "left")
          .withColumn("evs", array_sort(concat(
            coalesce(col("evs_0"), expr(
              "CAST(array() AS array<struct<ts: bigint, tb: bigint, attr: string>>)")),
            col("evs_d"))))
          .withColumn("_ivs0", collapseExpr)
          // close each interval with the next head's start (second pass:
          // the head list must exist before successors can be read)
          .withColumn("ivs", expr(
            """transform(_ivs0, (v, j) ->
                 named_struct('version', v.version, 'attr', v.attr,
                   'valid_from', v.valid_from,
                   'valid_to', CASE WHEN j + 2 <= size(_ivs0)
                     THEN element_at(_ivs0, j + 2).valid_from
                     ELSE CAST(-1 AS BIGINT) END))"""))
          .select(col(Merge.KeyCol),
            lit(null).cast("string").as("author"),
            lit(null).cast("string").as("body"),
            col("evs"), col("ivs"))
    }(_ => ())

  /** The served dimension: (key, version, attr, valid_from, valid_to)
    * exploded from the pre-collapsed intervals — zero serve-time
    * windows. */
  def scd2(table: Livestream.UpsertTable, keyOut: String): DataFrame =
    table.current
      .select(col(Merge.KeyCol).cast("long").as(keyOut),
        explode(col("ivs")).as("iv"))
      .select(col(keyOut), col("iv.version").as("version"),
        col("iv.attr").as("attr"), col("iv.valid_from").as("valid_from"),
        col("iv.valid_to").as("valid_to"))
}
