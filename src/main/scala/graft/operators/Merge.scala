package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType}

/** Batch upsert/merge engine (SURVEY §2.3 J1/J2, §2.4 A5, §2.2 P5, §2.9 T8).
  *
  * The reference mutates SQLite row-by-row (tsdb.py:389-509): probe by
  * `idstr`, INSERT if absent, else per-column `coalesce` UPDATE, with a
  * tombstone guard on the text column (tsdb.py:527-545) and an edit-history
  * CDC append (tsdb.py:303-324, 361-387). We re-express the *final state* of
  * that sequential process as one keyed fold built from low-level plan
  * operators:
  *
  *   union(existing tagged seq=-1, incoming tagged seq=0..n)
  *     → ONE exchange on the cluster column (else `idstr`)
  *     → one sortWithinPartitions(cluster, idstr, seq)
  *     → one linear pass per key run: first row's frozen columns,
  *       last non-null per updatable column, the tombstone-guarded
  *       stored-text chain, and the edit rows — all in the same pass
  *
  * No window operators: a stack of Window nodes over the same sort
  * evaluates the run once per window function, while the pass reads
  * each row once and emits the final row plus its edits, tagged apart.
  * Keys are unique, so the exchange has no skew, and both outputs come
  * off the same shuffled scan. The alternative full-outer-join design
  * shuffles twice.
  *
  * Within-batch order: the reference applies rows sequentially in input
  * order (dummy-then-live precedence, pushshift.py:224-243); callers encode
  * that precedence in `seqCol` (e.g. file offset, retrieval time, batch id).
  */
object Merge {

  /** The merge key column. Every entity table carries it: the upsert
    * fold (below), [[graft.streaming.Livestream.keyBucket]], and the
    * versioned store's compaction salt all key on this one name — it is
    * a structural invariant of the layer, not per-entity config. */
  val KeyCol = "idstr"

  /** Column roles for one entity table. */
  final case class Entity(
      textCol: String,              // selftext | body
      editTextCol: String,          // previous_selftext | previous_body
      updatable: Seq[String],       // coalesce(new, old) on UPDATE
      frozen: Seq[String])          // set at INSERT, never updated

  /** submissions — UPDATE list tsdb.py:438-451. `textlen` is intentionally
    * frozen: the reference never refreshes it after insert, so it can go
    * stale relative to an edited selftext; we reproduce that contract. */
  val submissions: Entity = Entity(
    textCol = "selftext", editTextCol = "previous_selftext",
    updatable = Seq("nsfw", "score", "distinguish", "num_comments",
      "flair_text", "flair_css_class"),
    frozen = Seq("idint", "created", "self", "author", "title", "url",
      "subreddit", "textlen", "augmented_at", "augmented_count"))

  /** comments — UPDATE list tsdb.py:494-501. */
  val comments: Entity = Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("score", "distinguish"),
    frozen = Seq("idint", "created", "author", "parent", "submission",
      "subreddit", "textlen"))

  /** @param staged the shared folded intermediate both outputs derive
    *        from: table rows and edit rows, tagged apart by `_edit`. A
    *        caller that executes BOTH `table` and `edits` (e.g. a
    *        versioned-store publish) can persist it so the union +
    *        exchange + fold runs once instead of per output;
    *        single-output consumers ignore it (no cost — it is a lazy
    *        plan). */
  final case class MergeResult(table: DataFrame, edits: DataFrame,
      staged: DataFrame)

  /** Tombstone guard (tsdb.py:527-545 should_keep_existing_text): deleted
    * rows and greasy overwrite bots must not clobber archived text.
    * `text` is non-null: a null text never lands anyway. */
  def keepExistingText(author: String, text: String): Boolean =
    (author == null || author == "[DELETED]") &&
      (text == "[removed]" || text == "[deleted]") ||
      text.contains("has been overwritten") ||
      text.contains("pastebin.com/64GuVi2F")

  /** Upsert `incoming` into `existing`.
    *
    * @param incoming normalized rows; must carry `seqCol` (within-batch
    *                 precedence, non-negative: −1 marks the existing
    *                 side) and may carry `_edited` (epoch of the edit,
    *                 tsdb.py:374-377) which times the CDC record.
    * @param nowEpoch timestamp for CDC rows whose `_edited` is unknown.
    * @param storeEdits the reference's `store_edits` config (tsdb.py:204-215).
    * @param clusterCol a column (present in both frames, constant within
    *                 each key group — the versioned store's key-stable
    *                 partition value) to exchange the union on: the fold
    *                 runs over (cluster, key) runs of that same
    *                 partitioning, so the ONE exchange both feeds the
    *                 fold AND leaves the output aligned for a partitioned
    *                 write — no second per-publish exchange.
    * @param clusterSlots with `clusterCol`: the exchange's explicit task
    *                 count k and each row's task, an int column in
    *                 [0, k) that is constant per cluster value (so each
    *                 cluster value stays in one task). None = hash the
    *                 cluster column over the shuffle partitions.
    * @param name     the table `existing` was read from, for errors.
    * @throws IllegalStateException (as the job's cause) when a key run
    *         carries more than one existing row: the store holds at most
    *         one row per key, and the fold checks it on the pass it
    *         already runs — no extra job.
    */
  def upsert(
      existing: DataFrame,
      incoming: DataFrame,
      entity: Entity,
      seqCol: String,
      nowEpoch: Column = unix_timestamp(current_timestamp()),
      storeEdits: Boolean = true,
      clusterCol: Option[String] = None,
      clusterSlots: Option[(Int, Column)] = None,
      name: String = "existing"): MergeResult = {

    val hasEdited = incoming.columns.contains("_edited")
    val in = (if (hasEdited) incoming else incoming.withColumn("_edited", lit(null)))
      .withColumn("_edited", col("_edited").cast("long"))
      .withColumn("_seq", col(seqCol).cast("long"))
    val ex = existing
      .withColumn("_edited", lit(null).cast("long"))
      .withColumn("_seq", lit(-1L))

    val cols = existing.columns.toSeq
    val unioned = ex.select((cols.map(col) :+ col("_edited") :+ col("_seq")): _*)
      .unionByName(in.select((cols.map(col) :+ col("_edited") :+ col("_seq")): _*))
    val runKey = clusterCol.toSeq :+ KeyCol
    val exchanged = clusterSlots match {
      case Some((k, slot)) => unioned.repartitionById(k, slot)
      case None => unioned.repartition(col(clusterCol.getOrElse(KeyCol)))
    }
    val sorted = exchanged
      .sortWithinPartitions((runKey :+ "_seq").map(col): _*)

    val stagedSchema = StructType(existing.schema.map(_.copy(nullable = true)))
      .add("_prev_text", StringType)
      .add("_edited", LongType)
      .add("_edit", BooleanType, nullable = false)
    val fold = new Fold(cols, entity, runKey, storeEdits, name)
    val staged = sorted.mapPartitions(fold.apply)(Encoders.row(stagedSchema))

    // Final state: one row per key, straight off the fold.
    val merged = staged.filter(!col("_edit")).select(cols.map(col): _*)

    // Edit-CDC (T8): a non-first, non-tombstone row whose text differs from
    // the previously stored text archives that previous text.
    val spark = existing.sparkSession
    val emptyEdits = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Schemas.edits(entity.editTextCol))
    val edits =
      if (!storeEdits) emptyEdits
      else staged
        .filter(col("_edit"))
        .select(
          col(KeyCol),
          col("_prev_text").as(entity.editTextCol),
          coalesce(col("_edited"), nowEpoch).cast("long").as("replaced_at"))

    MergeResult(merged, edits, staged)
  }

  /** The upsert's per-partition pass over rows sorted by (run key, seq):
    * each run of one key folds to its final row, preceded by its edit
    * rows. Rows carry `cols ++ (_edited, _seq)`; the output is the staged
    * schema `cols ++ (_prev_text, _edited, _edit)`. */
  private final class Fold(cols: Seq[String], entity: Entity,
      runKey: Seq[String], storeEdits: Boolean, name: String)
      extends Serializable {
    private val n = cols.length
    private val key = cols.indexOf(KeyCol)
    private val text = cols.indexOf(entity.textCol)
    private val author = cols.indexOf("author")
    private val edited = n
    private val seq = n + 1
    private val run = runKey.map(cols.indexOf).toArray
    private val frozen = entity.frozen.map(cols.indexOf).toArray
    private val updatable = entity.updatable.map(cols.indexOf).toArray
    locally {
      val roles = (KeyCol +: entity.textCol +: "author" +: entity.frozen) ++
        entity.updatable
      val missing = roles.filterNot(cols.contains)
      require(missing.isEmpty,
        s"Merge.upsert: $name lacks entity column(s) ${missing.mkString(", ")}")
      val roleless = cols.filterNot(roles.contains)
      require(roleless.isEmpty,
        s"Merge.upsert: $name column(s) ${roleless.mkString(", ")} have no " +
          "merge role (key, text, frozen or updatable)")
    }

    private def sameRun(a: Row, b: Row): Boolean =
      run.forall(i => a.get(i) == b.get(i))

    def apply(rows: Iterator[Row]): Iterator[Row] = {
      val it = rows.buffered
      new Iterator[Iterator[Row]] {
        def hasNext: Boolean = it.hasNext
        def next(): Iterator[Row] = {
          val head = it.next()
          val runRows = ArrayBuffer(head)
          while (it.hasNext && sameRun(it.head, head)) runRows += it.next()
          foldRun(runRows)
        }
      }.flatten
    }

    private def foldRun(runRows: ArrayBuffer[Row]): Iterator[Row] = {
      val first = runRows.head
      val existingRows = runRows.count(_.get(seq) == -1L)
      if (existingRows > 1)
        throw new IllegalStateException(
          s"Merge.upsert: key '${first.get(key)}' has $existingRows rows in " +
            s"$name; the existing side must hold at most one row per key")
      val out = ArrayBuffer.empty[Row]
      val last = new Array[Any](n)
      var stored: String = null
      var i = 0
      while (i < runRows.length) {
        val r = runRows(i)
        updatable.foreach(c => if (!r.isNullAt(c)) last(c) = r.get(c))
        val t = r.getString(text)
        // Stored text after each row: the newest text allowed to land.
        // The first row (insert) always lands, tombstones never do, and a
        // null text leaves the stored text as it was (tsdb.py:303-324).
        if (t != null) {
          if (i == 0) stored = t
          else if (!keepExistingText(r.getString(author), t)) {
            if (storeEdits && t != stored) {
              val e = new Array[Any](n + 3)
              e(key) = r.get(key)
              e(n) = stored
              e(n + 1) = r.get(edited)
              e(n + 2) = true
              out += new GenericRow(e)
            }
            stored = t
          }
        }
        i += 1
      }
      // Final state: frozen columns from the first row, updatable ones as
      // last-non-null (≡ the chain of coalesce(new, old) UPDATEs).
      val row = new Array[Any](n + 3)
      row(key) = first.get(key)
      frozen.foreach(c => row(c) = first.get(c))
      updatable.foreach(c => row(c) = last(c))
      row(text) = stored
      row(n + 2) = false
      out += new GenericRow(row)
      out.iterator
    }
  }

  /** J1 — merge_db.py:7-23: copy rows absent from `mine`; never update
    * existing rows. Broadcast the anti-join when `other` is small; at scale
    * both sides are large → AQE picks shuffled hash join on the unique key. */
  def mergeDb(mine: DataFrame, other: DataFrame): DataFrame =
    mine.unionByName(other.join(mine.select("idint"), Seq("idint"), "left_anti"))

  /** S3/S5 batch dedupe: newest version per id wins (page-overlap refetch +
    * dummy-then-live interleave both collapse here). */
  def dedupeLatest(df: DataFrame, key: String, seqCol: String): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(key).orderBy(col(seqCol).desc)))
      .filter(col("_rn") === 1).drop("_rn")
}
