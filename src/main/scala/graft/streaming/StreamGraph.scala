package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Merge

/** Incrementally-maintained CO-OCCURRENCE GRAPH: additive upserts of
  * within-basket pair counts (and node presence counts), so the graph
  * query family (BFS, communities, link prediction, triangles) serves
  * from an edge table that follows the stream instead of re-running the
  * corpus self-join per query — the ninth maintained serving artifact,
  * and the first whose state is CORPUS-bounded rather than
  * domain-bounded (distinct co-occurring pairs). That is the postings
  * table's regime, and it is sound for the same reason: the versioned
  * store's key-bucketed merges rewrite only the buckets a batch
  * touches, so per-batch work is delta-sized, not state-sized.
  *
  * ==Admission contract: basket-atomic batches==
  * Pair emission is a self-join WITHIN a basket (order); a basket split
  * across two micro-batches would silently lose its cross-batch pairs,
  * because per-batch deltas only see their own rows. Streams must
  * therefore deliver each basket entirely within one batch (partition
  * the source by basket key) — the graph analog of the model sink's
  * each-doc-exactly-once contract. Enforced probabilistically at the
  * sink by construction of the fixtures; a production wiring would
  * bucket the upstream topic by basket key.
  *
  * Row kinds: `e:<u>:<v>` pair counts (u < v), `n:<node>` node presence
  * counts. Support thresholds are applied AT SERVE TIME from the
  * maintained raw counts — the same threshold serves any cut-off
  * without rebuilding.
  */
object StreamGraph {

  /** Reuses the sketch table kind (idstr, author, body, cnt — additive
    * cnt): the graph rows are just two more additive row classes. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 16): Livestream.UpsertTable =
    StreamSketch.table(spark, path, nBuckets)

  /** One micro-batch of (basket, item) rows → pair + node count deltas.
    * Pairs are generated within the batch (basket-atomic contract). */
  private[graft] def graphDelta(batch: DataFrame, basket: String,
      item: String): DataFrame = {
    val b = batch.select(col(basket).cast("long").as("bk"),
      col(item).cast("long").as("it")).distinct()
    val pairs = b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("u"), col("b.it").as("v"))
      .agg(count(lit(1)).as("cnt_d"))
      .select(concat(lit("e:"), col("u").cast("string"), lit(":"),
        col("v").cast("string")).as("k"), col("cnt_d"))
    val nodes = b.groupBy(col("it")).agg(count(lit(1)).as("cnt_d"))
      .select(concat(lit("n:"), col("it").cast("string")).as("k"),
        col("cnt_d"))
    pairs.unionByName(nodes)
  }

  /** Wire a (basket, item) stream into the graph table — the additive
    * [[Livestream.foldCounters]] through [[Livestream.maintain]]. */
  def graphSink(stream: DataFrame, basket: String, item: String,
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => Livestream.foldCounters(table,
        graphDelta(b, basket, item)))(_ => ())

  /** The EDGE view at a support threshold: (u, v) pairs with maintained
    * count ≥ `minSupport`. */
  def edges(table: Livestream.UpsertTable, minSupport: Long): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("e:"))
      .filter(col("cnt") >= minSupport)
      .select(
        expr(s"cast(split(substring(${Merge.KeyCol}, 3), ':')[0] as bigint)")
          .as("u"),
        expr(s"cast(split(substring(${Merge.KeyCol}, 3), ':')[1] as bigint)")
          .as("v"))

  /** The WEIGHTED edge view: (u, v, cnt) maintained pair counts — the
    * c_ij side of the CF serving path ([[graft.operators.Recommend
    * .itemNeighborsFrom]]); [[nodes]] provides the marginals. */
  def edgeCounts(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("e:"))
      .select(
        expr(s"cast(split(substring(${Merge.KeyCol}, 3), ':')[0] as bigint)")
          .as("u"),
        expr(s"cast(split(substring(${Merge.KeyCol}, 3), ':')[1] as bigint)")
          .as("v"),
        col("cnt"))

  /** The NODE view: (node, n_baskets). */
  def nodes(table: Livestream.UpsertTable): DataFrame =
    table.current.filter(col(Merge.KeyCol).startsWith("n:"))
      .select(expr(s"cast(substring(${Merge.KeyCol}, 3) as bigint)").as("node"),
        col("cnt").as("n_baskets"))
}
