package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge

class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (idstr, created, author, body, score, distinguish) comment-shaped frames
  private def comments(rows: (String, Long, String, String, java.lang.Long, String)*): DataFrame =
    rows.toDF("idstr", "created", "author", "body", "score", "distinguish")
      .select(
        graft.functions.b36decode(regexp_replace($"idstr", "^t1_", "")).as("idint"),
        $"idstr", $"created", $"author",
        lit("t3_root").as("parent"), lit("t3_root").as("submission"),
        $"body", $"score", lit("test").as("subreddit"), $"distinguish",
        length($"body").cast("long").as("textlen"))

  private def withSeq(df: DataFrame, start: Long = 0): DataFrame =
    df.withColumn("_seq", monotonically_increasing_id() + start)
      .withColumn("_edited", lit(null).cast("long"))

  private val now = lit(9999L)

  test("J2 insert: new keys land with full row") {
    val ex = comments().limit(0)
    val in = withSeq(comments(("t1_a", 1L, "alice", "hi", 5L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    assert(r.table.count() === 1)
    val row = r.table.head()
    assert(row.getAs[String]("body") === "hi")
    assert(row.getAs[Long]("score") === 5L)
    assert(r.edits.count() === 0)
  }

  test("J2+A5 update: coalesce(new, old) per updatable column; frozen cols keep insert values") {
    val ex = comments(("t1_a", 1L, "alice", "old body", 5L, "mod"))
    val in = withSeq(comments(("t1_a", 2L, "HACKED", "new body", 7L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    val row = r.table.head()
    assert(row.getAs[Long]("score") === 7L)            // updated
    assert(row.getAs[String]("body") === "new body")   // updated
    assert(row.getAs[String]("distinguish") === "mod") // null new → keep old
    assert(row.getAs[String]("author") === "alice")    // frozen
    assert(row.getAs[Long]("created") === 1L)          // frozen
    assert(row.getAs[Long]("textlen") === 8L)          // frozen (reference quirk)
  }

  test("T8 edit-CDC: changed text archives previous body with edit epoch") {
    val ex = comments(("t1_a", 1L, "alice", "v0", 5L, null))
    val in = withSeq(comments(("t1_a", 2L, "alice", "v1", 6L, null)))
      .withColumn("_edited", lit(1234L))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    val e = r.edits.collect()
    assert(e.length === 1)
    assert(e(0).getAs[String]("previous_body") === "v0")
    assert(e(0).getAs[Long]("replaced_at") === 1234L)
    assert(r.table.head().getAs[String]("body") === "v1")
  }

  test("T8: unchanged text emits no edit row") {
    val ex = comments(("t1_a", 1L, "alice", "same", 5L, null))
    val in = withSeq(comments(("t1_a", 2L, "alice", "same", 6L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    assert(r.edits.count() === 0)
  }

  test("P5 tombstone: deleted author + [removed] keeps old text, no edit (tsdb.py:527-545)") {
    val ex = comments(("t1_a", 1L, "alice", "precious text", 5L, null))
    val in = withSeq(comments(("t1_a", 2L, "[DELETED]", "[removed]", 0L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    assert(r.table.head().getAs[String]("body") === "precious text")
    assert(r.edits.count() === 0)
    assert(r.table.head().getAs[Long]("score") === 0L) // other cols still update
  }

  test("P5 greasy overwrite markers keep old text") {
    val ex = comments(("t1_a", 1L, "alice", "precious", 5L, null))
    val in = withSeq(comments(
      ("t1_a", 2L, "alice", "this post has been overwritten by a script", 5L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    assert(r.table.head().getAs[String]("body") === "precious")
  }

  test("P5: tombstone-looking text on first INSERT does land (update-only guard)") {
    val ex = comments().limit(0)
    val in = withSeq(comments(("t1_a", 1L, "[DELETED]", "[removed]", 0L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    assert(r.table.head().getAs[String]("body") === "[removed]")
  }

  test("within-batch sequential chain: v1 then tombstone then v2 (dummy-then-live order)") {
    val ex = comments(("t1_a", 1L, "alice", "v0", 1L, null))
    val in = withSeq(comments(
      ("t1_a", 2L, "alice", "v1", 2L, null),
      ("t1_a", 2L, "[DELETED]", "[deleted]", 3L, null),
      ("t1_a", 2L, "alice", "v2", 4L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    assert(r.table.head().getAs[String]("body") === "v2")
    assert(r.table.head().getAs[Long]("score") === 4L)
    val prevs = r.edits.select("previous_body").as[String].collect().sorted
    assert(prevs === Array("v0", "v1")) // v0→v1, v1→v2; tombstone step archived nothing
  }

  test("idempotence: upsert(upsert(t,b),b) == upsert(t,b)") {
    val ex = comments(("t1_a", 1L, "alice", "v0", 1L, null))
    val in = withSeq(comments(
      ("t1_a", 2L, "alice", "v1", 2L, null),
      ("t1_b", 3L, "bob", "new", 1L, null)))
    val once = Merge.upsert(ex, in, Merge.comments, "_seq", now).table
    val twice = Merge.upsert(once, in, Merge.comments, "_seq", now).table
    assert(once.exceptAll(twice).count() === 0)
    assert(twice.exceptAll(once).count() === 0)
  }

  test("storeEdits=false suppresses CDC but still updates text (config table)") {
    val ex = comments(("t1_a", 1L, "alice", "v0", 5L, null))
    val in = withSeq(comments(("t1_a", 2L, "alice", "v1", 6L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now, storeEdits = false)
    assert(r.edits.count() === 0)
    assert(r.table.head().getAs[String]("body") === "v1")
  }

  test("J1 mergeDb: anti-join insert, existing rows never updated (merge_db.py:7-23)") {
    val mine = comments(("t1_a", 1L, "alice", "mine", 5L, null))
    val other = comments(
      ("t1_a", 9L, "evil", "theirs", 9L, null),
      ("t1_b", 2L, "bob", "only-other", 1L, null))
    val merged = Merge.mergeDb(mine, other)
    assert(merged.count() === 2)
    assert(merged.filter($"idstr" === "t1_a").head().getAs[String]("body") === "mine")
  }

  test("property: upsert is idempotent — merge(merge(t,b), b) == merge(t,b)") {
    val ex = comments(
      ("t1_a", 1L, "alice", "v0", 5L, null),
      ("t1_b", 2L, "bob", "keep", 1L, null))
    val in = withSeq(comments(
      ("t1_a", 1L, "alice", "v1", 6L, null),
      ("t1_c", 3L, "carol", "new", 2L, null)))
    val once = Merge.upsert(ex, in, Merge.comments, "_seq", now).table
    val twice = Merge.upsert(once, in, Merge.comments, "_seq", now).table
    assert(once.orderBy("idstr").collect() === twice.orderBy("idstr").collect())
    // and the replay produces no NEW edits (text already matches)
    assert(Merge.upsert(once, in, Merge.comments, "_seq", now).edits.count() === 0)
  }

  test("property: batch boundaries don't matter — merge(merge(t,b1),b2) == merge(t, b1++b2)") {
    // THE invariant behind the streaming path: however the stream slices
    // into micro-batches, the final table (and CDC stream) match the
    // one-shot merge. Seeded random batches over a small key space with
    // edits, tombstones, score bumps, and brand-new keys.
    val rng = new scala.util.Random(4242)
    def randRows(seqBase: Long, n: Int) = (0 until n).map { i =>
      val id = rng.nextInt(6)                       // collisions guaranteed
      val tomb = rng.nextInt(5) == 0
      (s"t1_$id", id.toLong,
        if (tomb) "[DELETED]" else s"u$id",
        if (tomb) "[removed]" else s"body-${rng.nextInt(4)}",
        rng.nextInt(100).toLong,
        seqBase + i)
    }
    for (trial <- 1 to 5) {
      val existing = comments(("t1_0", 0L, "alice", "v0", 1L, null),
        ("t1_1", 1L, "bob", "w0", 2L, null))
      val b1 = randRows(0, 6); val b2 = randRows(100, 6)
      def df(rows: Seq[(String, Long, String, String, Long, Long)]) = {
        import spark.implicits._
        rows.toDF("idstr", "created", "author", "body", "score", "_seq")
          .withColumn("idint", $"created")
          .withColumn("parent", lit("p")).withColumn("submission", lit("s"))
          .withColumn("subreddit", lit("sub"))
          .withColumn("distinguish", lit(null).cast("string"))
          .withColumn("textlen", length($"body").cast("long"))
      }
      val now = lit(9L)
      val stepped = {
        val s1 = Merge.upsert(existing, df(b1), Merge.comments, "_seq", now)
        val s2 = Merge.upsert(s1.table, df(b2), Merge.comments, "_seq", now)
        (s2.table.orderBy("idstr").collect().toSeq,
          s1.edits.unionByName(s2.edits)
            .orderBy("idstr", "replaced_at", "previous_body").collect().toSeq)
      }
      val oneShot = {
        val r = Merge.upsert(existing, df(b1 ++ b2), Merge.comments, "_seq", now)
        (r.table.orderBy("idstr").collect().toSeq,
          r.edits.orderBy("idstr", "replaced_at", "previous_body").collect().toSeq)
      }
      assert(stepped._1 === oneShot._1, s"trial $trial: tables diverge")
      assert(stepped._2 === oneShot._2, s"trial $trial: CDC streams diverge")
    }
  }

  test("property: mergeDb commutes on disjoint key sets") {
    val a = comments(("t1_a", 1L, "alice", "x", 1L, null))
    val b = comments(("t1_b", 2L, "bob", "y", 2L, null))
    val ab = Merge.mergeDb(a, b).orderBy("idstr").collect()
    val ba = Merge.mergeDb(b, a).orderBy("idstr").collect()
    assert(ab === ba)
  }

  test("S3/S5 dedupeLatest keeps newest version per key") {
    val df = withSeq(comments(
      ("t1_a", 1L, "alice", "v1", 1L, null),
      ("t1_a", 2L, "alice", "v2", 2L, null),
      ("t1_b", 1L, "bob", "x", 1L, null)))
    val d = Merge.dedupeLatest(df, "idstr", "_seq")
    assert(d.count() === 2)
    assert(d.filter($"idstr" === "t1_a").head().getAs[String]("body") === "v2")
  }

  test("upsert plans ONE data exchange, ONE sort and no window: a single pass per key run") {
    // the engine's headline merge shape (SCALE.md row 1): union → one
    // Exchange hashpartitioning(idstr) → one Sort → the linear fold. A
    // full-outer-join formulation would shuffle both sides; a regression
    // to stacked window functions or a second exchange shows up here.
    val ex = comments(("t1_a", 1L, "alice", "v1", 1L, null))
    val in = withSeq(comments(("t1_a", 2L, "alice", "v2", 2L, null),
      ("t1_b", 3L, "bob", "x", 1L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now)
    for (df <- Seq(r.table, r.edits)) {
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = plan.split("Exchange hashpartitioning").length - 1
      assert(exchanges === 1, s"expected exactly one hash exchange:\n$plan")
      assert(plan.split("\\bSort\\b").length - 1 === 1, s"one sort:\n$plan")
      assert(!plan.contains("Window"), s"no window operator:\n$plan")
    }
  }

  test("existing side with a repeated key fails loudly, naming the table and the key") {
    val ex = comments(("t1_a", 1L, "alice", "v0", 1L, null),
      ("t1_a", 2L, "alice", "v0b", 2L, null),
      ("t1_b", 3L, "bob", "x", 1L, null))
    val in = withSeq(comments(("t1_b", 4L, "bob", "y", 2L, null)))
    val r = Merge.upsert(ex, in, Merge.comments, "_seq", now, name = "tbl_dup")
    val e = intercept[Exception](r.table.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("key 't1_a' has 2 rows in tbl_dup"), msgs)
  }

  /** Sequential replay of the reference's upsert rules (tsdb.py:389-509,
    * 527-545, 303-324): rows applied one at a time in `_seq` order —
    * INSERT when the key is absent, else coalesce(new, old) per updatable
    * column, frozen columns untouched, and new text stored unless it is
    * null or a tombstone; a stored-text change archives the old text.
    * Row = (idstr, created, author, body, score, distinguish, textlen). */
  private type CRow = (String, Long, String, String, java.lang.Long, String, java.lang.Long)

  private def replay(existing: Seq[CRow], incoming: Seq[(CRow, Long, Option[Long])],
      nowEpoch: Long): (Map[String, CRow], Seq[(String, String, Long)]) = {
    def tomb(author: String, text: String) =
      (author == null || author == "[DELETED]") && Set("[removed]", "[deleted]")(text) ||
        text.contains("has been overwritten") || text.contains("pastebin.com/64GuVi2F")
    val table = scala.collection.mutable.Map(existing.map(r => r._1 -> r): _*)
    val edits = Seq.newBuilder[(String, String, Long)]
    for ((r, _, edited) <- incoming.sortBy(_._2)) table.get(r._1) match {
      case None => table(r._1) = r
      case Some(old) =>
        val keep = r._4 == null || tomb(r._3, r._4)
        if (!keep && r._4 != old._4) edits += ((r._1, old._4, edited.getOrElse(nowEpoch)))
        table(r._1) = old.copy(_4 = if (keep) old._4 else r._4,
          _5 = if (r._5 != null) r._5 else old._5,
          _6 = if (r._6 != null) r._6 else old._6)
    }
    (table.toMap, edits.result())
  }

  test("property: the one-pass fold equals a sequential replay of the upsert rules") {
    // key runs of 3+ rows, tombstone chains (null / [DELETED] author with
    // [deleted] / [removed] text — and a lower-case [deleted] author,
    // which is not the tombstone sentinel), null texts, null updatable
    // columns, and `_edited` present (some null) and absent
    val rng = new scala.util.Random(20261018)
    def pick[T](xs: T*): T = xs(rng.nextInt(xs.length))
    def row(id: Int): CRow = {
      val author = pick("alice", "bob", null, "[DELETED]", "[deleted]")
      val body = pick("a", "b", "c", null, "[deleted]", "[removed]",
        "this has been overwritten", "see pastebin.com/64GuVi2F")
      (s"t1_$id", rng.nextInt(50).toLong, author, body,
        if (rng.nextInt(3) == 0) null else java.lang.Long.valueOf(rng.nextInt(100)),
        pick(null, null, "mod", "admin"),
        if (body == null) null else java.lang.Long.valueOf(body.length))
    }
    val cCols = Seq("idstr", "created", "author", "body", "score", "distinguish", "textlen")
    def shape(df: DataFrame, extra: String*) =
      df.select(Seq($"created".as("idint"), $"idstr", $"created", $"author",
        lit("t3_root").as("parent"), lit("t3_root").as("submission"),
        $"body", $"score", lit("test").as("subreddit"), $"distinguish", $"textlen") ++
        extra.map(col): _*)
    for (trial <- 1 to 6; withEdited <- Seq(true, false)) {
      val nKeys = 12
      val existing = (0 until nKeys).filter(_ => rng.nextInt(3) > 0).map(row)
      // 0..5 incoming rows per key: most runs carry 3+ rows with the existing one
      val seqs = rng.shuffle((0 until 200).toList).iterator
      val incoming = (0 until nKeys).flatMap(id => Seq.fill(rng.nextInt(6))(row(id)))
        .map(r => (r, seqs.next().toLong,
          if (withEdited && rng.nextBoolean()) Some(1000L + rng.nextInt(9)) else None))
      val inDF = shape(incoming.map { case (r, sq, ed) =>
          (r._1, r._2, r._3, r._4, r._5, r._6, r._7, sq, ed) }
        .toDF(cCols :+ "_seq" :+ "_edited": _*),
        (if (withEdited) Seq("_seq", "_edited") else Seq("_seq")): _*)
      val r = Merge.upsert(shape(existing.toDF(cCols: _*)), inDF, Merge.comments,
        "_seq", now)
      val (wantTable, wantEdits) = replay(existing, incoming, 9999L)
      val gotTable = r.table.collect().map(x => x.getAs[String]("idstr") ->
        ((x.getAs[String]("idstr"), x.getAs[Long]("created"), x.getAs[String]("author"),
          x.getAs[String]("body"), x.getAs[java.lang.Long]("score"),
          x.getAs[String]("distinguish"), x.getAs[java.lang.Long]("textlen")))).toMap
      assert(gotTable === wantTable, s"trial $trial edited=$withEdited: table")
      val gotEdits = r.edits.collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
        .toSeq.sortBy(_.toString)
      assert(gotEdits === wantEdits.sortBy(_.toString),
        s"trial $trial edited=$withEdited: edits")
      assert(incoming.groupBy(_._1._1).values.exists(_.length >= 3), "3+ row runs")
    }
  }
}
