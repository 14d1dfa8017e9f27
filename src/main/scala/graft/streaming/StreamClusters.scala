package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Merge, Similarity}

/** Incrementally-maintained EMBEDDING CLUSTER ASSIGNMENT: a `foreachBatch`
  * upsert of (doc, cid, sim_bp) rows so the semantic-clustering consumers
  * (topic balancing, SemDeDup scoping, per-topic stats) serve from an
  * assignment table that follows the livestream — the embedding analog of
  * [[StreamIndex]] (which maintains the lexical postings; this maintains
  * the vector-side bucketing, closing the two-modality symmetry).
  *
  * ==The codebook is a FIXED artifact==
  * Assignment streams against a codebook trained up front (in production,
  * a model artifact; here [[Similarity.md5Codebook]] or a k-means-refined
  * derivative) — the incremental invariant "a vector's cluster never
  * changes because OTHER vectors arrived" only holds for a fixed
  * codebook, exactly as IVF serving fixes its quantizer. Re-training the
  * codebook is a BATCH act that rebuilds the table (new table path, atomic
  * swap), not a streaming one.
  *
  * ==Design: one row per vector, replace-by-doc==
  * The stored unit is (idstr = doc, cid, sim_bp) in a
  * [[Livestream.UpsertTable]]: a re-arrived vector's new assignment must
  * replace its old one, which is the merge layer's last-non-null column
  * semantics on both columns — so the table inherits the machinery
  * wholesale: key-bucketed partition-pruned merges (a micro-batch of B
  * vectors touches ≤ B buckets, never the table), atomic version publish,
  * time travel, vacuum, compaction. `author`/`body` exist only because
  * the merge fold's tombstone guard reads them; always null here — an
  * assignment table is DERIVED data, nothing archival to protect.
  *
  * ==Per-batch uniqueness contract==
  * Like [[StreamIndex]]/[[Livestream.upsertSink]], a vector id must
  * appear at most once per micro-batch (dedupe upstream); across batches
  * the last MERGE wins — `_seq` orders rows only WITHIN one merge (the
  * existing table always enters at −1; see the merge layer's docs), so
  * batches must arrive through one sink in batchId order, which the
  * checkpointed streaming query guarantees. `_seq` totality is NOT a
  * cross-merge guarantee: replaying an old batch out of band would
  * overwrite newer assignments regardless of its lower `_seq`.
  *
  * Zero-norm vectors carry no direction: [[Similarity.normalized]] drops
  * them, so they neither gain nor overwrite an assignment (callers that
  * need tombstoning for degenerate vectors should filter them to an
  * explicit quarantine stream — same policy as the ingest type
  * discriminators). */
object StreamClusters {

  val clusterEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("cid", "sim_bp"), frozen = Seq("author"))

  /** The assignment-row schema: (idstr, author, body, cid, sim_bp). */
  val clusterSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("cid", IntegerType),
    StructField("sim_bp", LongType)))

  private def emptyClusterRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], clusterSchema)

  /** A fresh (or reopened) assignment table at `path`, key-bucketed so
    * each micro-batch merge touches only the buckets its vectors hash
    * into. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 64): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, clusterEntity, emptyClusterRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch → assignment rows: map-only
    * [[Similarity.assignToCodebook]] against the fixed codebook. */
  private[graft] def assignRows(batch: DataFrame, id: String, vec: String,
      codebook: Seq[Seq[Double]]): DataFrame =
    Similarity.assignToCodebook(batch, id, vec, codebook)
      .select(col("doc").cast("string").as(Merge.KeyCol),
        lit(null).cast("string").as("author"),
        lit(null).cast("string").as("body"),
        col("cid").cast("int").as("cid"),
        col("sim_bp"))

  /** Wire a vector stream (id, vec) into the assignment table through
    * [[Livestream.maintain]]; CDC off (time travel over versions covers
    * audit). */
  def assignSink(stream: DataFrame, id: String, vec: String,
      codebook: Seq[Seq[Double]], table: Livestream.UpsertTable,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => assignRows(b, id, vec, codebook))(_ => ())

  /** The assignment VIEW of the maintained table: (doc, cid, sim_bp) —
    * what the cluster consumers read. `doc` is the string key; numeric-id
    * callers cast it back. */
  def assignments(table: Livestream.UpsertTable): DataFrame =
    table.current.select(col(Merge.KeyCol).as("doc"), col("cid"), col("sim_bp"))
}
