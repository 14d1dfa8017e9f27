package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Importance, Merge}

/** Incrementally-maintained DSIR MODEL: a `foreachBatch` upsert of
  * (bucket, tcnt, rcnt) rows so importance scoring serves from a model
  * table that follows the livestream — the third maintained serving
  * artifact next to [[StreamIndex]] (lexical postings) and
  * [[StreamClusters]] (vector assignments): the engine's data-selection
  * models are stream products too, not batch rebuilds.
  *
  * ==Additive state over replace-by-key machinery==
  * Bucket counts are ADDITIVE across micro-batches (feature counting is
  * a pure per-doc aggregation, so per-batch bucket sums add to the
  * whole-corpus sums as long as each doc arrives exactly once — the
  * at-most-once-per-batch contract of the sink family, extended to the
  * stream's lifetime by upstream dedup, e.g. [[StreamDedup]]). The
  * merge layer is replace-by-key, so each batch reads the CURRENT
  * counts for its touched buckets, adds its delta, and writes the new
  * totals as replacement rows. That read-modify-write is sound at ANY
  * corpus scale because the model table is bounded by the feature space
  * (≤ 65536 rows — [[Importance.B]]), never by the corpus: the "table
  * scan" per batch is a broadcast-sized join, and the versioned-table
  * machinery (key-bucketed pruned merges, atomic publish, time travel,
  * compaction) is inherited wholesale.
  *
  * Unlike the postings/assignment tables there is no per-doc row to
  * replace: a re-arrived document would DOUBLE-COUNT its features. The
  * admission contract therefore composes with streaming dedup upstream
  * (first-arrival-wins), exactly as `q_dedup_stream` serves it. */
object StreamModel {

  val modelEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("tcnt", "rcnt"), frozen = Seq("author"))

  /** The model-row schema: (idstr = bucket, author, body, tcnt, rcnt). */
  val modelSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("tcnt", LongType),
    StructField("rcnt", LongType)))

  private def emptyModelRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], modelSchema)

  /** A fresh (or reopened) model table at `path`. 16 key buckets: the
    * table caps at 65536 rows, so bucketing is about pruned merges, not
    * size. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 16): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, modelEntity, emptyModelRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch of documents → the batch's per-bucket count DELTA,
    * keyed `k` = bucket. */
  private[graft] def batchDelta(batch: DataFrame, id: String, text: String,
      isTarget: Column): DataFrame =
    Importance.featureCounts(batch, id, text, isTarget)
      .groupBy(col("b").as("k")).agg(
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("tcnt_d"),
        sum(col("c")).as("rcnt_d"))

  /** Wire a document stream into the model table: per batch, delta +
    * current → replacement totals ([[Livestream.foldCounters]] over
    * both counters, through [[Livestream.maintain]]); CDC off. */
  def modelSink(stream: DataFrame, id: String, text: String,
      isTarget: Column, table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => Livestream.foldCounters(table,
        batchDelta(b, id, text, isTarget)))(_ => ())

  /** The model VIEW of the maintained table: (b, tcnt, rcnt) — what
    * [[Importance.dsirWeightsFromModel]] serves from. */
  def model(table: Livestream.UpsertTable): DataFrame =
    table.current.select(col(Merge.KeyCol).as("b"), col("tcnt"), col("rcnt"))
}
