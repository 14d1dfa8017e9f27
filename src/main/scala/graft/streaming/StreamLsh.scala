package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Merge}

/** Incrementally-maintained MINHASH-LSH STATE: a `foreachBatch` upsert of
  * each document's (shingle set, band buckets) so near-duplicate pair
  * detection serves from state that follows the livestream — the fourth
  * maintained serving artifact (postings → BM25, cluster assignments →
  * topic ops, DSIR model → importance weights, and now LSH state →
  * near-dup detection). Without it, checking a day's arrivals for
  * near-dups against a 100 TB archive means re-shingling the archive;
  * with it, the archive side is at-rest state and only the batch is new
  * work.
  *
  * ==Design: one row per document, replace-by-doc==
  * Stored unit: (idstr = doc, arr = array<string> shingles, bands =
  * array<long> buckets) in a [[Livestream.UpsertTable]] — a re-arrived
  * doc's new shingles/buckets replace the old ones via the merge layer's
  * last-non-null column semantics, so the table inherits key-bucketed
  * partition-pruned merges, atomic version publish, time travel, vacuum,
  * compaction. Docs too short to shingle store EMPTY arrays (their
  * arrival must still overwrite stale state), and [[state]] filters them
  * out of serving exactly as the batch path's `size(words) >= n` gate.
  *
  * ==Same contracts as the sibling sinks==
  * Per-batch doc uniqueness (dedupe upstream), batchId-ordered merges
  * via the checkpointed query, CDC off. The LSH geometry (n, numHashes,
  * bands) is FIXED at table build — state built under one geometry is
  * meaningless under another; retuning is a batch rebuild, exactly like
  * [[StreamClusters]]' codebook.
  */
object StreamLsh {

  val lshEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("arr", "bands"), frozen = Seq("author"))

  /** The LSH-state-row schema: (idstr, author, body, arr, bands). */
  val lshSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("arr", ArrayType(StringType)),
    StructField("bands", ArrayType(LongType))))

  private def emptyLshRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], lshSchema)

  /** A fresh (or reopened) LSH-state table at `path`, key-bucketed so
    * each micro-batch merge touches only the buckets its docs hash
    * into. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 64): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, lshEntity, emptyLshRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch → LSH-state rows: the fused shingle+band native
    * pass, map-only; shingle-less docs as empty arrays. */
  private[graft] def lshRows(batch: DataFrame, id: String, text: String,
      n: Int, numHashes: Int, bands: Int): DataFrame = {
    val st = Dedup.shingleSet(batch, id, text, n)
      .select(col("doc").cast("string").as(Merge.KeyCol), col("_arr"),
        graft.functions.minhashBands(col("_arr"), numHashes, bands).as("_bands"))
    batch.select(col(id).cast("string").as(Merge.KeyCol)).distinct()
      .join(st, Seq(Merge.KeyCol), "left")
      .select(col(Merge.KeyCol),
        lit(null).cast("string").as("author"),
        lit(null).cast("string").as("body"),
        coalesce(col("_arr"), typedLit(Seq.empty[String])).as("arr"),
        coalesce(col("_bands"), typedLit(Seq.empty[Long])).as("bands"))
  }

  /** Wire a document stream (id, text) into the LSH-state table through
    * [[Livestream.maintain]]; CDC off. */
  def lshSink(stream: DataFrame, id: String, text: String,
      table: Livestream.UpsertTable, checkpoint: String,
      n: Int, numHashes: Int = 128, bands: Int = 32,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => lshRows(b, id, text, n, numHashes, bands))(_ => ())

  /** The LSH-state VIEW of the maintained table: (doc, _arr, _bands) —
    * what [[Dedup.minhashLshPairsFromState]] consumes. Shingle-less docs
    * contribute no rows (the batch path's short-doc gate). `doc` stays
    * the string key; numeric-id callers cast it back. */
  def state(table: Livestream.UpsertTable): DataFrame =
    table.current
      .select(col(Merge.KeyCol).as("doc"),
        col("arr").as("_arr"), col("bands").as("_bands"))
      .filter(size(col("_arr")) > 0)
}
