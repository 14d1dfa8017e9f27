package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Merge

/** Incrementally-maintained NAIVE BAYES model: additive upserts of
  * per-(class, token) counts and per-class document counts, so the
  * classifier serves from a model table that FOLLOWS the stream — the
  * supervised-learning member of the maintained-artifact family
  * (postings, assignments, DSIR model, LSH state, sketches, histogram,
  * graph, SCD2 dimension). Labeled data arrives; the classifier is
  * always current; no batch retrain.
  *
  * Row classes over the additive sketch-table kind
  * ([[StreamSketch.table]]'s (idstr, cnt) shape):
  *  - `t:<class>:<tok>` — token count within the class,
  *  - `d:<class>`      — documents observed for the class.
  * Both are ADDITIVE across micro-batches under the each-doc-exactly-
  * once admission contract (the [[StreamModel]] contract: compose with
  * upstream streaming dedup for at-least-once sources). State is
  * vocab·|classes| + |classes| rows — the postings regime, inheriting
  * the versioned table's key-bucketed pruned merges wholesale.
  *
  * Class names must not contain ':' (the key separator); tokens are
  * `[a-z0-9]+` by the tokenizer so the LAST ':' splits unambiguously
  * anyway.
  */
object StreamNb {

  def table(spark: SparkSession, path: String, nBuckets: Int = 16): Livestream.UpsertTable =
    StreamSketch.table(spark, path, nBuckets)

  private def toks(text: String) =
    filter(split(lower(col(text)), "[^a-z0-9]+"), t => length(t) > 0)

  /** One labeled micro-batch → additive count deltas for both row
    * classes. Token-less docs (empty text, no [a-z0-9] runs) are dropped
    * BEFORE counting: batch [[graft.operators.NaiveBayes]] derives class
    * doc counts from the postings — only docs contributing ≥1 token — so
    * the maintained priors must use the same doc definition or the
    * incremental model drifts from its batch twin. */
  private[graft] def nbDelta(batch: DataFrame, id: String, text: String,
      label: String): DataFrame = {
    val base = batch.select(col(id).as("doc"), col(label).as("lbl"),
      toks(text).as("_t"))
      .filter(size(col("_t")) > 0)
    val tokRows = base
      .select(col("lbl"), explode(col("_t")).as("tok"))
      .groupBy("lbl", "tok").agg(count(lit(1)).as("cnt_d"))
      .select(concat(lit("t:"), col("lbl"), lit(":"), col("tok")).as("k"),
        col("cnt_d"))
    val docRows = base.groupBy("lbl").agg(count(lit(1)).as("cnt_d"))
      .select(concat(lit("d:"), col("lbl")).as("k"), col("cnt_d"))
    tokRows.unionByName(docRows)
  }

  /** The additive read-modify-write shared by ingest ([[nbSink]]) and
    * retraction ([[retract]]): fold a (k, cnt_d) delta into the counter
    * table's current counts and merge-publish. */
  private def applyCounts(table: Livestream.UpsertTable, delta: DataFrame,
      seqBase: Long): Unit =
    Livestream.publish(table, Livestream.foldCounters(table, delta), seqBase,
      storeEdits = Some(false))

  /** Batch-shaped ingest: fold one ALREADY-ADMITTED document batch's
    * counts into the model table — the composite-pipeline entry for
    * foreachBatch sinks that gate admission themselves (e.g. the CCNet
    * pipeline's dedup-gated per-language LM: only newly-admitted
    * distinct contents count). Same each-doc-exactly-once admission
    * contract as [[nbSink]]; the caller owns it. */
  def ingest(table: Livestream.UpsertTable, docs: DataFrame, id: String,
      text: String, label: String, seqBase: Long): Unit =
    applyCounts(table, nbDelta(docs, id, text, label), seqBase)

  /** Wire a labeled document stream into the model table — the additive
    * [[Livestream.foldCounters]] through [[Livestream.maintain]], with
    * the labels' key codec checked per batch. */
  def nbSink(stream: DataFrame, id: String, text: String, label: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false)) {
      (b, _) =>
        // the `t:<class>:<tok>` key splits on ':' — enforced per batch,
        // not just in the scaladoc
        Livestream.requireKeyCodec(b, label, "label values")
        Livestream.foldCounters(table, nbDelta(b, id, text, label))
    }(_ => ())

  /** TAKEDOWN propagation into the COUNTER-type artifact — DECREMENTAL
    * learning: the replace-by-doc fleet purges rows
    * ([[Livestream.UpsertTable.purgeKeys]]), but an additive model has
    * no per-doc rows to purge — a retracted doc's contribution is
    * SUBTRACTED instead (the additive inverse of the ingest delta),
    * and keys whose count reaches zero are then PURGED so the model
    * equals a batch train over corpus-minus-docs EXACTLY: a zero-count
    * token row left behind would still inflate the add-one-smoothing
    * vocabulary and drift every likelihood.
    *
    * Retraction needs the docs' TEXT (the features being subtracted) —
    * consume the CDC before-image, or retract BEFORE erasing the
    * document store; the erasure-ordering contract is
    * [[Livestream.UpsertTable.purge]]'s. Each doc must be retracted
    * exactly once (the ingest admission contract, inverted); a doc
    * never ingested drives counts negative, which fails LOUDLY here
    * rather than serving a silently-corrupt model. */
  def retract(table: Livestream.UpsertTable, docs: DataFrame,
      id: String, text: String, label: String, seqBase: Long = 0L): Unit = {
    val delta = nbDelta(docs, id, text, label)
      .select(col("k"), (-col("cnt_d")).as("cnt_d"))
    applyCounts(table, delta, seqBase)
    val neg = table.current.filter(col("cnt") < 0L).limit(1).count()
    require(neg == 0L,
      "retract drove a model count NEGATIVE — a doc was retracted that " +
        "was never ingested (or retracted twice); the model table is " +
        "versioned: roll back by reopening the previous version")
    table.purgeKeys(table.current.filter(col("cnt") === 0L)
      .select(col(Merge.KeyCol)))
  }

  /** The maintained (tok, c, cnt) token-count view —
    * [[graft.operators.NaiveBayes.classifyFromModel]]'s first input. */
  def tokenCounts(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("t:"))
      .select(
        expr(s"split(substring(${Merge.KeyCol}, 3), ':')[0]").as("c"),
        expr(s"split(substring(${Merge.KeyCol}, 3), ':')[1]").as("tok"),
        col("cnt"))
      .select(col("tok"), col("c"), col("cnt"))

  /** The maintained (c, nc) class-document view. */
  def classDocs(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("d:"))
      .select(expr(s"substring(${Merge.KeyCol}, 3)").as("c"),
        col("cnt").as("nc"))
}
