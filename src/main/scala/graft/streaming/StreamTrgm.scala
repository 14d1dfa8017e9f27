package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Merge, Search}

/** Incrementally-maintained TRIGRAM postings — the substring-search
  * index ([[graft.operators.Search.substringSearch]]'s prefilter) kept
  * current by the stream: the twelfth maintained serving artifact, and
  * the character-level sibling of [[StreamIndex]]'s token postings.
  *
  * Same one-row-per-document design and rationale as [[StreamIndex]]:
  * the stored unit is (idstr = doc, grams = array<trigram>), so
  * replace-by-doc — a re-arrived doc's OLD trigrams must vanish, even
  * ones its new text no longer contains — is the merge layer's
  * last-non-null column semantics applied to the whole array, and the
  * index inherits the versioned table machinery wholesale (key-bucketed
  * pruned merges, atomic publish, time travel, vacuum). Docs shorter
  * than 3 chars store an EMPTY array (not no row): their arrival still
  * overwrites previous grams.
  *
  * Per-batch uniqueness contract as [[StreamIndex]]: one row per doc id
  * per micro-batch; dedupe upstream for at-least-once sources.
  */
object StreamTrgm {

  /** The grams array is the single updatable payload (last arrival wins
    * = replace-by-doc); author/body exist only for the merge fold's
    * tombstone guard, always null here. */
  val trgmEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("grams"), frozen = Seq("author"))

  /** The index-row schema: (idstr, author, body, grams). */
  val trgmSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("grams", ArrayType(StringType))))

  private def emptyRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], trgmSchema)

  /** A fresh (or reopened) trigram-index table at `path`, key-bucketed
    * so each micro-batch merge touches only the buckets its docs hash
    * into. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 64): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, trgmEntity, emptyRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch → index rows: per-doc distinct trigram arrays over
    * [[Search.gramRows]]' exact gram definition (ONE definition for
    * batch and maintained — the drift-proofing rule), short docs as
    * empty arrays. */
  private[streaming] def trgmRows(batch: DataFrame, id: String,
      text: String): DataFrame = {
    val arrs = Search.gramRows(batch, id, text)
      .groupBy(col("doc_id").cast("string").as(Merge.KeyCol))
      .agg(collect_list(col("g")).as("grams"))
    batch.select(col(id).cast("string").as(Merge.KeyCol)).distinct()
      .join(arrs, Seq(Merge.KeyCol), "left")
      .select(col(Merge.KeyCol),
        lit(null).cast("string").as("author"),
        lit(null).cast("string").as("body"),
        coalesce(col("grams"), typedLit(Seq.empty[String])).as("grams"))
  }

  /** Wire a document stream (id, text) into the trigram table through
    * [[Livestream.maintain]]; CDC off (derived data). */
  def trgmSink(stream: DataFrame, id: String, text: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => trgmRows(b, id, text))(_ => ())

  /** The (doc_id, g) gram-postings VIEW of the maintained index — what
    * [[Search.substringSearchFromGrams]] consumes. Empty arrays (short
    * docs) contribute no rows, matching [[Search.gramRows]]. `doc_id`
    * is the string key; numeric-id callers cast it back. */
  def grams(table: Livestream.UpsertTable): DataFrame =
    table.current.select(col(Merge.KeyCol).as("doc_id"),
      explode(col("grams")).as("g"))
}
