package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.{Merge, TextAnalysis}

/** Incrementally-maintained LANGUAGE-ID model: additive upserts of
  * per-(language, char-trigram) counts, so the CCNet-shape first filter
  * ([[TextAnalysis.langidByProfiles]]) classifies against a model that
  * FOLLOWS the labeled stream — the 16th maintained serving artifact,
  * and the character-level sibling of [[StreamNb]]'s token-count model.
  *
  * Rows ride the additive sketch-table kind ([[StreamSketch.table]]'s
  * (idstr, cnt) shape) under the key class `g:<lang>:<hex(gram)>` —
  * the gram is HEX-ENCODED because char trigrams are arbitrary text
  * (they may contain ':', the key separator, or whitespace the key
  * codec must not see); languages must not contain ':' (enforced per
  * batch, the [[StreamNb]] device). Counts are additive integers under
  * the each-doc-exactly-once admission contract, so the maintained
  * counts equal the batch trainer's counts EXACTLY and the rank
  * profiles derived from them ([[TextAnalysis.trigramProfilesFromCounts]]
  * — shared code with the batch route) follow: `q_langid_incremental`
  * hash-gates serving from this table against q_langid's oracle
  * VERBATIM. State is |languages|·|distinct grams| rows — the postings
  * regime, inheriting the versioned table's key-bucketed pruned merges.
  */
object StreamLangid {

  def table(spark: SparkSession, path: String, nBuckets: Int = 16): Livestream.UpsertTable =
    StreamSketch.table(spark, path, nBuckets)

  /** One labeled micro-batch → additive (lang, gram) count deltas,
    * keyed with the hex-gram codec. */
  private[graft] def langidDelta(batch: DataFrame, text: String,
      label: String): DataFrame =
    batch.select(col(label).as("lang"),
        explode(TextAnalysis.charTrigrams(col(text))).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("cnt_d"))
      .select(concat(lit("g:"), col("lang"), lit(":"),
        lower(hex(encode(col("gram"), "UTF-8")))).as("k"), col("cnt_d"))

  /** Wire a labeled document stream into the model table — the additive
    * [[Livestream.foldCounters]] through [[Livestream.maintain]], with
    * the labels' key codec checked per batch. */
  def langidSink(stream: DataFrame, text: String, label: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false)) {
      (b, _) =>
        Livestream.requireKeyCodec(b, label, "language labels")
        Livestream.foldCounters(table, langidDelta(b, text, label))
    }(_ => ())

  /** The maintained (lang, gram, c) count view — what
    * [[TextAnalysis.trigramProfilesFromCounts]] ranks into serving
    * profiles (the hex codec decoded back to the raw gram). */
  def gramCounts(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("g:"))
      .select(
        expr(s"split(substring(${Merge.KeyCol}, 3), ':')[0]").as("lang"),
        decode(unhex(expr(s"split(substring(${Merge.KeyCol}, 3), ':')[1]")),
          "UTF-8").as("gram"),
        col("cnt").as("c"))

  /** Serving profiles from the maintained counts — shared derivation
    * with the batch trainer ([[TextAnalysis.trigramProfiles]] routes
    * through the same FromCounts code), so maintained ≡ batch holds
    * structurally once the counts agree. */
  def profiles(table: Livestream.UpsertTable, k: Int = 64): DataFrame =
    TextAnalysis.trigramProfilesFromCounts(gramCounts(table), k)
}
