package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Merge, TextAnalysis}

/** Incrementally-maintained LEXICAL INDEX: a `foreachBatch` upsert of the
  * (doc, tok, tf) postings so BM25/keywords serve from an index that
  * follows the livestream — the lexical analog of [[StreamDedup]] (which
  * keeps duplicates out at ingest; this keeps the index current at
  * ingest, instead of rebuilding postings per query over a corpus that
  * already moved on).
  *
  * ==Design: one index ROW per document, not per posting==
  * The stored unit is (idstr = doc, toks = map<token, tf>) inside a
  * [[Livestream.UpsertTable]]. Replace-by-doc — the invariant index
  * maintenance needs (a re-arrived doc's OLD postings must vanish, even
  * for tokens the new text no longer contains) — is exactly the merge
  * layer's last-non-null column semantics applied to the whole map, so
  * the index inherits the table machinery wholesale: key-bucketed
  * partition-pruned merges (a micro-batch of B docs touches ≤ B buckets,
  * never the index), atomic version publish, time travel, vacuum,
  * batched compaction. A (doc, tok)-keyed layout would instead need
  * delete support for vanished tokens — machinery the merge layer does
  * not have and an index does not otherwise want.
  *
  * Token-less documents store an EMPTY map (not no row): their arrival
  * must still overwrite any previous postings for the same doc.
  *
  * ==Per-batch uniqueness contract==
  * Like [[Livestream.upsertSink]], a doc id must appear at most once per
  * micro-batch: [[indexRows]] aggregates term frequencies over the whole
  * batch, so two versions of one doc in ONE batch would merge their
  * counts rather than last-wins. Dedupe upstream ([[StreamDedup]] /
  * `Merge.dedupeLatest`) — every current caller does.
  */
object StreamIndex {

  /** Entity roles for an index row: the tf map is the single updatable
    * payload (last arrival wins = replace-by-doc). `author`/`body` exist
    * only because the merge fold's tombstone guard reads those columns —
    * for index rows they are always null and the guard is inert (an
    * index is DERIVED data; nothing archival to protect). */
  val indexEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("toks"), frozen = Seq("author"))

  /** The index-row schema: (idstr, author, body, toks). */
  val indexSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("toks", MapType(StringType, LongType))))

  private def emptyIndexRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], indexSchema)

  /** A fresh (or reopened) postings-index table at `path`, key-bucketed
    * so each micro-batch merge reads and rewrites only the buckets its
    * docs hash into. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 64): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, indexEntity, emptyIndexRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch → index rows: per-doc term-frequency maps over the
    * shared tokenization contract, token-less docs as empty maps. */
  private[streaming] def indexRows(batch: DataFrame, id: String, text: String): DataFrame = {
    val tf = TextAnalysis.termFrequencies(batch, col(id).cast("string"), col(text))
    val maps = tf.groupBy("doc")
      .agg(map_from_entries(collect_list(struct(col("tok"), col("tf")))).as("toks"))
      .withColumnRenamed("doc", Merge.KeyCol)
    batch.select(col(id).cast("string").as(Merge.KeyCol)).distinct()
      .join(maps, Seq(Merge.KeyCol), "left")
      .select(col(Merge.KeyCol),
        lit(null).cast("string").as("author"),
        lit(null).cast("string").as("body"),
        coalesce(col("toks"), typedLit(Map.empty[String, Long])).as("toks"))
  }

  /** Wire a document stream (id, text) into the index table through
    * [[Livestream.maintain]]; CDC is off (an index has no edit history
    * worth archiving — time travel over versions covers audit). */
  def indexSink(stream: DataFrame, id: String, text: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => indexRows(b, id, text))(_ => ())

  /** The postings VIEW of the maintained index: (doc, tok, tf) — what
    * [[graft.operators.Search.bm25TopKFromPostings]] and the keyword/
    * surprisal family consume. Empty maps (token-less docs) contribute
    * no rows, matching the batch postings contract. `doc` is the string
    * key; numeric-id callers cast it back. */
  def postings(table: Livestream.UpsertTable): DataFrame =
    table.current.select(col(Merge.KeyCol).as("doc"),
      explode(col("toks")).as(Seq("tok", "tf")))
}
