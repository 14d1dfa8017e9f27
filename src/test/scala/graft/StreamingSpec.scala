package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge
import graft.streaming.{BasisView, Livestream, StreamSketch}

// comment-shaped rows as a case class for MemoryStream (top-level: Spark
// cannot build encoders for classes nested inside the suite instance)
case class C(idint: Long, idstr: String, created: Long, author: String,
    parent: String, submission: String, body: String, score: Long,
    subreddit: String, distinguish: String, textlen: Long)

// doc-shaped rows for the StreamDedup tests
case class D(ts: java.sql.Timestamp, body: String)

// (id, text) rows for the StreamIndex tests
case class IxDoc(doc_id: Long, text: String)

// (id, vector) rows for the StreamClusters tests
case class VecRow(vec_id: Long, embedding: Array[Double])

// (id, text, target-flag) rows for the StreamModel tests
case class MDoc(doc_id: Long, text: String, is_t: Boolean)

// (id, text, label) rows for the StreamNb tests
case class LDoc(doc_id: Long, text: String, lang: String)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def c(id: Long, body: String, score: Long) =
    C(id, s"t1_$id", id, s"u$id", "t3_r", "t3_r", body, score, "sub", null, body.length.toLong)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("T1-T4 livestream upsert: micro-batches merge into versioned table") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[C]
    val table = new Livestream.UpsertTable(spark, tmp("tbl"),
      Merge.comments, Seq.empty[C].toDF())
    val q = Livestream.upsertSink(mem.toDF(), table, tmp("ckp"),
      Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(c(1, "v1", 10), c(2, "x", 5))
      q.processAllAvailable()
      assert(table.current.count() === 2)
      mem.addData(c(1, "v2", 11), c(3, "y", 1))   // edit + new row
      q.processAllAvailable()
      val rows = table.current.collect().map(r =>
        r.getAs[String]("idstr") -> r.getAs[String]("body")).toMap
      assert(rows === Map("t1_1" -> "v2", "t1_2" -> "x", "t1_3" -> "y"))
      // T8: the edit was archived
      val ed = table.edits.collect()
      assert(ed.length === 1 && ed.head.getAs[String]("previous_body") === "v1")
      // A4: per-batch observe() counters surfaced in query progress
      val observed = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_batch")))
      assert(observed.nonEmpty)
      assert(observed.map(_.getAs[Long]("rows")).sum === 4L) // 2 + 2 rows
    } finally q.stop()
  }

  test("UpsertTable requires the merge key at construction, not mid-optimize") {
    // a schema without Merge.KeyCol used to surface only as an
    // AnalysisException inside optimize(maxFiles > 1)'s salt expression;
    // it must fail at construction with the key named
    val keyless = Seq((1L, "x")).toDF("idint", "body")
    val e = intercept[IllegalArgumentException] {
      new Livestream.UpsertTable(spark, tmp("nokey"), Merge.comments, keyless)
    }
    assert(e.getMessage.contains(Merge.KeyCol))
  }

  test("StreamTrgm: maintained grams equal batch-built, replace-by-doc, substring serves identical") {
    import graft.streaming.StreamTrgm
    import graft.operators.Search
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IxDoc]
    val table = StreamTrgm.table(spark, tmp("trgm"), nBuckets = 8)
    val q = StreamTrgm.trgmSink(mem.toDF(), "doc_id", "text", table,
      tmp("trgmckp"), Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(IxDoc(1, "sparkling join"), IxDoc(2, "table"))
      q.processAllAvailable()
      mem.addData(IxDoc(3, "spark join table"))
      q.processAllAvailable()
      // doc 1 UPDATED (drops 'spark' grams — they must VANISH); doc 2
      // shrinks under 3 chars (empty array must still overwrite)
      mem.addData(IxDoc(1, "merge batch"), IxDoc(2, "ab"))
      q.processAllAvailable()
    } finally q.stop()
    val latest = Seq(1L -> "merge batch", 2L -> "ab", 3L -> "spark join table")
      .toDF("doc_id", "text")
    val got = StreamTrgm.grams(table)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = Search.gramRows(latest, "doc_id", "text")
      .collect().map(r => (r.getLong(0).toString, r.getString(1))).toSet
    assert(got === want)
    assert(!got.exists(p => p._1 == "1" && p._2 == "spa"),
      "stale gram of a replaced doc survived")
    assert(!got.exists(_._1 == "2"), "short-doc update left stale grams")
    assert(table.currentVersion === 2L)
    // end to end: substring search from the maintained grams equals the
    // batch-built path — the q_substring_incremental contract
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val pats = Seq(0L -> "spark join", 1L -> "merge", 2L -> "zebra")
    assert(rows(Search.substringSearchFromGrams(
        StreamTrgm.grams(table)
          .select(col("doc_id").cast("long").as("doc_id"), col("g")),
        latest, "doc_id", "text", pats)) ===
      rows(Search.substringSearch(latest, "doc_id", "text", pats)))
  }

  test("StreamIndex: incremental postings equal batch-built, replace-by-doc across micro-batches") {
    import graft.streaming.StreamIndex
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IxDoc]
    val table = StreamIndex.table(spark, tmp("idx"), nBuckets = 8)
    val q = StreamIndex.indexSink(mem.toDF(), "doc_id", "text", table,
      tmp("idxckp"), Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(IxDoc(1, "alpha beta alpha"), IxDoc(2, "gamma"))
      q.processAllAvailable()
      mem.addData(IxDoc(3, "beta beta delta"))
      q.processAllAvailable()
      // doc 1 UPDATED (drops 'beta' — its old posting must VANISH, the
      // case an append-only index gets wrong); doc 2 updated to
      // token-less (empty map must still overwrite its old postings)
      mem.addData(IxDoc(1, "alpha zeta"), IxDoc(2, "!!!"))
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamIndex.postings(table)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // ground truth: batch term frequencies over each doc's LATEST version
    val latest = Seq(1L -> "alpha zeta", 2L -> "!!!", 3L -> "beta beta delta")
      .toDF("doc_id", "text")
    val want = TextAnalysis.termFrequencies(latest,
        col("doc_id").cast("string"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
    assert(!got.exists(p => p._1 == "1" && p._2 == "beta"),
      "stale posting of a replaced doc survived")
    assert(!got.exists(_._1 == "2"), "token-less update left stale postings")
    // three non-empty micro-batches → three published versions (0, 1, 2)
    assert(table.currentVersion === 2L)
    // the whole lexical family serves from the maintained index: keywords
    // and LM surprisal from the index postings must equal their batch
    // forms over the docs' latest versions (same contract as
    // q_bm25_incremental's oracle, asserted here for the other two)
    val served = StreamIndex.postings(table)
      .select(col("doc").cast("long").as("doc"), col("tok"), col("tf"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextAnalysis.keywordsFromPostings(served, k = 2)) ===
      rows(TextAnalysis.keywords(latest, "doc_id", "text", k = 2)))
    assert(rows(TextAnalysis.unigramSurprisalFromPostings(served)) ===
      rows(TextAnalysis.unigramSurprisal(latest, "doc_id", "text")))
    // inherited table machinery works on the index: time travel reads the
    // post-batch-0 state (doc 1's ORIGINAL postings, doc 3 not yet seen)
    val v0 = table.at(0)
      .select(col(graft.operators.Merge.KeyCol).as("doc"),
        explode(col("toks")).as(Seq("tok", "tf")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(v0.contains(("1", "beta")) && !v0.exists(_._1 == "3"))
  }

  test("StreamSketch: maintained CMS equals batch sketch bit-for-bit; counters add across batches") {
    import graft.streaming.StreamSketch
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IxDoc]
    val table = StreamSketch.table(spark, tmp("cms"), nBuckets = 4)
    val q = StreamSketch.sketchSink(mem.toDF(), "text", table,
      tmp("cmsckp"), depth = 3, widthHex = 1,
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(IxDoc(1, "alpha beta alpha gamma"), IxDoc(2, "beta beta"))
      q.processAllAvailable()
      // 'alpha' recurs in a LATER batch — its counter rows must ADD
      mem.addData(IxDoc(3, "alpha delta"))
      q.processAllAvailable()
    } finally q.stop()
    val all = Seq(1L -> "alpha beta alpha gamma", 2L -> "beta beta",
      3L -> "alpha delta").toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // serving from the maintained state equals the batch operator
    assert(rows(Sketches.cmsServe(StreamSketch.counts(table),
        StreamSketch.sketch(table), depth = 3, widthHex = 1, minEst = 0L)) ===
      rows(Sketches.cmsHeavyHitters(all, "text", depth = 3, widthHex = 1,
        minEst = 0L)))
    // cross-batch addition: alpha's exact count is 2 (batch 0) + 1 (batch 1)
    val alpha = StreamSketch.counts(table).filter(col("tok") === "alpha")
      .select("exact").collect().head.getLong(0)
    assert(alpha === 3L)
    // the sketch rows are a FIXED-size table regardless of corpus size
    assert(StreamSketch.sketch(table).count() <= 3 * 16)
    // time travel reads the partial (batch-0-only) counters
    val v0 = table.at(0).filter(col(graft.operators.Merge.KeyCol) === "t:alpha")
      .select("cnt").collect().head.getLong(0)
    assert(v0 === 2L)
  }

test("StreamSketch Bloom: maintained OR-merge words equal the batch bitmap; replay idempotent") {
    import graft.streaming.StreamSketch
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IxDoc]
    val table = StreamSketch.table(spark, tmp("bloom"), nBuckets = 4)
    val m = 4096; val k = 3
    val q = StreamSketch.bloomSink(mem.toDF().select(col("doc_id")),
      "doc_id", m, k, table, tmp("bloomckp"),
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1L to 40L).map(i => IxDoc(i * 3, "")): _*)
      q.processAllAvailable()
      mem.addData((41L to 80L).map(i => IxDoc(i * 3, "")): _*)
      q.processAllAvailable()
      // replay batch-1 keys: OR is idempotent, words must not move
      mem.addData((1L to 40L).map(i => IxDoc(i * 3, "")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val maintained = StreamSketch.bloomBitsView(table, m)
    val batch = Sketches.bloomBits(
      (1L to 80L).map(i => Tuple1(i * 3)).toDF("doc_id"), "doc_id", m, k)
    assert(maintained.toSeq === batch.toSeq)
  }

  test("StreamSketch HLL: maintained registers equal batch; replay is idempotent (max-merge)") {
    import graft.streaming.StreamSketch
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MDoc]
    val table = StreamSketch.table(spark, tmp("hll"), nBuckets = 4)
    val q = StreamSketch.hllSink(mem.toDF().withColumnRenamed("is_t", "unused")
        .withColumn("source", concat(lit("g"), (col("doc_id") % 2).cast("string"))),
      "source", "text", table, tmp("hllckp"),
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(MDoc(1, "aa bb cc dd ee ff", true), MDoc(2, "gg hh ii jj", true))
      q.processAllAvailable()
      mem.addData(MDoc(3, "aa bb kk ll mm nn", true))
      q.processAllAvailable()
      // REPLAY batch-1 content under a new doc id: max is idempotent,
      // registers must not move (unlike the additive CMS rows)
      mem.addData(MDoc(5, "aa bb kk ll mm nn", true))
      q.processAllAvailable()
    } finally q.stop()
    val maintained = StreamSketch.hllRegistersView(table)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val all = Seq((1L, "aa bb cc dd ee ff"), (2L, "gg hh ii jj"),
      (3L, "aa bb kk ll mm nn"), (5L, "aa bb kk ll mm nn"))
      .map { case (id, t) => (s"g${id % 2}", t) }.toDF("source", "text")
    val batch = Sketches.hllRegisters(Sketches.bigramsOf(all, "source", "text"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(maintained === batch)
    // estimates served from the maintained registers match the batch op
    val servedEst = Sketches.hllEstimate(StreamSketch.hllRegistersView(table))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batchEst = Sketches.hllEstimate(
        Sketches.hllRegisters(Sketches.bigramsOf(all, "source", "text")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(servedEst === batchEst)
  }

  test("StreamLsh: incremental LSH state equals batch pairs; re-arrival replaces; shrunken docs drop out") {
    import graft.streaming.StreamLsh
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IxDoc]
    val table = StreamLsh.table(spark, tmp("lsh"), nBuckets = 8)
    val q = StreamLsh.lshSink(mem.toDF(), "doc_id", "text", table,
      tmp("lshckp"), n = 2, trigger = Trigger.ProcessingTime(0)).start()
    try {
      // docs 1/2 near-identical; doc 3 unrelated
      mem.addData(
        IxDoc(1, "the quick brown fox jumps over the lazy dog"),
        IxDoc(2, "the quick brown fox jumps over the lazy cat"),
        IxDoc(3, "completely different words entirely here now"))
      q.processAllAvailable()
      // doc 4 arrives near-identical to 3 in a LATER batch — the
      // cross-batch pair the maintained state exists to find
      mem.addData(IxDoc(4, "completely different words entirely here today"))
      q.processAllAvailable()
      // doc 2 REWRITTEN away from doc 1 (its old state must vanish);
      // doc 3 shrinks below the shingle gate (must drop from serving)
      mem.addData(IxDoc(2, "unrelated replacement text with nothing shared"),
        IxDoc(3, "x"))
      q.processAllAvailable()
    } finally q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = pairs(Dedup.minhashLshPairsFromState(
      StreamLsh.state(table).withColumn("doc", col("doc").cast("long")),
      thresholdBp = 3000).select("i", "j"))
    // ground truth: batch LSH over each doc's LATEST version (doc 3's
    // latest is sub-shingle, so it cannot pair)
    val latest = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "unrelated replacement text with nothing shared",
      3L -> "x",
      4L -> "completely different words entirely here today").toDF("doc_id", "text")
    val batch = pairs(Dedup.minhashLshPairs(latest, "doc_id", "text",
      n = 2, thresholdBp = 3000).select("i", "j"))
    assert(served === batch)
    // the stale 1-2 pair is gone; 3 no longer serves at all
    assert(!served.contains((1L, 2L)), "stale pair from replaced doc survived")
    assert(!served.exists(p => p._1 == 3L || p._2 == 3L),
      "sub-shingle doc still serving state")
    // but BEFORE the rewrite (time travel to v1) both 1-2 and 3-4 paired
    val v1 = table.at(1)
      .select(col(graft.operators.Merge.KeyCol).cast("long").as("doc"),
        col("arr").as("_arr"), col("bands").as("_bands"))
      .filter(size(col("_arr")) > 0)
    val historic = pairs(Dedup.minhashLshPairsFromState(v1, thresholdBp = 3000)
      .select("i", "j"))
    assert(historic.contains((1L, 2L)) && historic.contains((3L, 4L)))
  }

  test("StreamClusters: incremental assignment equals batch, re-arrived vector moves cluster") {
    import graft.streaming.StreamClusters
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // FIXED codebook (the streaming invariant: a vector's cluster never
    // changes because other vectors arrived): two unit axes
    val codebook: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val mem = MemoryStream[VecRow]
    val table = StreamClusters.table(spark, tmp("clu"), nBuckets = 8)
    val q = StreamClusters.assignSink(mem.toDF(), "vec_id", "embedding",
      codebook, table, tmp("cluckp"), Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(VecRow(1, Array(2.0, 0.0)), VecRow(2, Array(0.0, 3.0)))
      q.processAllAvailable()
      // argmax tie (cos .7071 to both axes) → strict-> scan keeps cid 0
      mem.addData(VecRow(3, Array(1.0, 1.0)))
      q.processAllAvailable()
      // vector 1 RE-ARRIVES pointing the other way: its assignment must
      // move to cid 1 (replace-by-doc — the case an append-only
      // assignment log gets wrong)
      mem.addData(VecRow(1, Array(0.0, 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamClusters.assignments(table)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // ground truth: batch assignment of each vector's LATEST version
    // against the same codebook
    val latest = Seq(1L -> Seq(0.0, 1.0), 2L -> Seq(0.0, 3.0),
        3L -> Seq(1.0, 1.0)).toDF("vec_id", "embedding")
    val want = Similarity.assignToCodebook(latest, "vec_id", "embedding", codebook)
      .collect().map(r => (r.getLong(0).toString, r.getInt(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got === Set(("1", 1, 10000L), ("2", 1, 10000L), ("3", 0, 7071L)))
    // three non-empty micro-batches → three published versions, and time
    // travel reads vector 1's ORIGINAL assignment at version 0
    assert(table.currentVersion === 2L)
    val v0 = table.at(0).select(col(graft.operators.Merge.KeyCol), col("cid"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(v0 === Set(("1", 0), ("2", 1)))
  }

  test("StreamAnn: maintained codes equal batch encode; re-arrival moves cells; time travel") {
    import graft.streaming.StreamAnn
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // FROZEN artifact (the streaming invariant: a vector's cell/codes
    // never change because other vectors arrived): two coarse cells on
    // the first two axes, two residual codewords per subspace
    val coarse: IndexedSeq[IndexedSeq[Double]] =
      IndexedSeq(IndexedSeq(1.0, 0.0, 0.0, 0.0), IndexedSeq(0.0, 1.0, 0.0, 0.0))
    val cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      IndexedSeq(
        IndexedSeq(IndexedSeq(0.0, 0.0), IndexedSeq(-0.2, 0.1)),
        IndexedSeq(IndexedSeq(0.0, 0.0), IndexedSeq(0.3, 0.3)))
    val mem = MemoryStream[VecRow]
    val table = StreamAnn.table(spark, tmp("ann"), nBuckets = 8)
    val q = StreamAnn.encodeSink(mem.toDF(), "vec_id", "embedding", coarse,
      cbRes, table, tmp("annckp"), Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(VecRow(1, Array(2.0, 0.1, 0.0, 0.0)),
        VecRow(2, Array(0.1, 3.0, 0.3, 0.0)))
      q.processAllAvailable()
      mem.addData(VecRow(3, Array(0.5, 0.1, 0.2, 0.1)),
        VecRow(4, Array(0.0, 1.0, 0.5, 0.0)))
      q.processAllAvailable()
      // vector 1 RE-ARRIVES pointing at the other cell: its row must
      // move cells and re-encode (replace-by-doc — the case an
      // append-only codes log gets wrong)
      mem.addData(VecRow(1, Array(0.0, 2.0, 0.4, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val latest = Seq(
      1L -> Seq(0.0, 2.0, 0.4, 0.0), 2L -> Seq(0.1, 3.0, 0.3, 0.0),
      3L -> Seq(0.5, 0.1, 0.2, 0.1), 4L -> Seq(0.0, 1.0, 0.5, 0.0))
      .toDF("vec_id", "embedding")
    // maintained codes == batch encode of each vector's LATEST version
    val got = StreamAnn.codes(table).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val want = Similarity.encodeResidual(
        Similarity.normalized(latest, "vec_id", "embedding"), coarse, cbRes)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(got === want)
    // vector 1 moved from cell 0 to cell 1
    assert(got.collectFirst { case (1L, cid, _) => cid } === Some(1))
    // maintained-index serving == the verbatim batch tail
    val gotServe = StreamAnn.serve(table, latest, "vec_id", "embedding",
        coarse, cbRes, queryIds = Seq(1L, 2L), k = 2, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val n = Similarity.normalized(latest, "vec_id", "embedding")
    val wantServe = Similarity.adcServeCodes(
        Similarity.encodeResidual(n, coarse, cbRes), n, coarse, cbRes,
        Seq(1L, 2L), 2, 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotServe === wantServe && gotServe.nonEmpty)
    // refined serving through the maintained codes == the inline batch
    // composition over the same frozen artifact (shared refine tail)
    val gotRef = StreamAnn.serveRefine(table, latest, "vec_id", "embedding",
        coarse, cbRes, queryIds = Seq(1L, 2L), kCand = 3, k = 2, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val wantRef = Similarity.refineTail(
        Similarity.adcServeCodes(
            Similarity.encodeResidual(n, coarse, cbRes), n,
            coarse, cbRes, Seq(1L, 2L), 3, 2)
          .select(col("query_id").as("qid"), col("neighbor_id").as("nid")),
        n, Seq(1L, 2L), 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotRef === wantRef && gotRef.nonEmpty)
    // time travel: version 0 still serves vector 1's ORIGINAL cell
    assert(table.currentVersion === 2L)
    val v0 = StreamAnn.codes(table, version = Some(0L))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(v0(1L) === 0)
  }

  test("StreamAnn generations: rebuild publishes atomically, readers flip, old gen intact") {
    import graft.streaming.StreamAnn
    import graft.operators.Similarity
    val root = tmp("annroot")
    val corpus = (0L until 40L).map(i =>
      (i, Seq.tabulate(4)(j => math.sin(i * 1.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    // generation 0: trained, bulk-encoded, pointer published
    val (t0, c0, r0) = StreamAnn.rebuild(spark, root, "gen0", corpus,
      "vec_id", "embedding", nlist = 2, m = 2, ksub = 4, iters = 1,
      nBuckets = 4)
    assert(StreamAnn.activeGeneration(root) === Some("gen0"))
    // a reader resolves the pointer: the artifact round-trips EXACTLY
    // (Double.toString shortest-repr) and serving equals the inline
    // batch pipeline over the same artifact
    val (ta, ca, ra) = StreamAnn.openActive(spark, root)
    assert(ca === c0 && ra === r0)
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val served0 = rs(StreamAnn.serve(ta, corpus, "vec_id", "embedding",
      ca, ra, Seq(0L, 1L), k = 3, nprobe = 2))
    val n = Similarity.normalized(corpus, "vec_id", "embedding")
    val want0 = rs(Similarity.adcServeCodes(
      Similarity.encodeResidual(n, c0, r0), n, c0, r0, Seq(0L, 1L), 3, 2))
    assert(served0 === want0 && served0.nonEmpty)
    // REBUILD at different sizing: new generation, pointer flips
    val (_, c1, _) = StreamAnn.rebuild(spark, root, "gen1", corpus,
      "vec_id", "embedding", nlist = 4, m = 2, ksub = 4, iters = 1,
      nBuckets = 4)
    assert(StreamAnn.activeGeneration(root) === Some("gen1"))
    assert(c0.length === 2 && c1.length === 4)
    val (_, cb, _) = StreamAnn.openActive(spark, root)
    assert(cb === c1)
    // the superseded generation stays fully readable (rollback/audit)
    val (cOld, rOld, nbOld) = StreamAnn.readArtifact(s"$root/gen0")
    assert(cOld === c0 && rOld === r0 && nbOld === 4)
    assert(StreamAnn.codes(t0).count() === 40)
    // the ACTIVE generation cannot be dropped; a superseded one can,
    // and the drop is idempotent
    val e = intercept[IllegalArgumentException](
      StreamAnn.dropGeneration(root, "gen1"))
    assert(e.getMessage.contains("ACTIVE"))
    StreamAnn.dropGeneration(root, "gen0")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "gen0")))
    StreamAnn.dropGeneration(root, "gen0") // no-op
    val (_, cStill, _) = StreamAnn.openActive(spark, root)
    assert(cStill === c1)
  }

  test("StreamAnn generations: traversal-unsafe names rejected; crashed rebuild is retryable") {
    import graft.streaming.StreamAnn
    val root = tmp("annsafe")
    val corpus = (0L until 20L).map(i =>
      (i, Seq.tabulate(4)(j => math.cos(i * 1.3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    // generation names become path segments: separators and dot dirs
    // must be refused at EVERY entry point (a "../x" drop would delete
    // outside the index root)
    for (bad <- Seq("../x", "a/b", "..", ".", "", "a\nb")) {
      intercept[IllegalArgumentException](StreamAnn.publishGeneration(root, bad))
      intercept[IllegalArgumentException](StreamAnn.dropGeneration(root, bad))
      intercept[IllegalArgumentException](StreamAnn.rebuild(spark, root, bad,
        corpus, "vec_id", "embedding", nlist = 2, m = 2, ksub = 4,
        iters = 1, nBuckets = 2))
    }
    // crash-retry: simulate a rebuild that died between seed and
    // publish — a half-built gen dir exists, the pointer never flipped
    StreamAnn.rebuild(spark, root, "gen0", corpus, "vec_id", "embedding",
      nlist = 2, m = 2, ksub = 4, iters = 1, nBuckets = 2)
    val halfDir = java.nio.file.Paths.get(root, "gen1", "codes")
    java.nio.file.Files.createDirectories(halfDir)
    java.nio.file.Files.write(halfDir.resolve("_VERSION"), "0".getBytes)
    // re-running the SAME rebuild completes instead of throwing from
    // seed ("already has published versions")
    val (t1, _, _) = StreamAnn.rebuild(spark, root, "gen1", corpus,
      "vec_id", "embedding", nlist = 2, m = 2, ksub = 4, iters = 1,
      nBuckets = 2)
    assert(StreamAnn.activeGeneration(root) === Some("gen1"))
    assert(StreamAnn.codes(t1).count() === 20)
    // the ACTIVE generation refuses a rebuild (live readers hold it)
    val e = intercept[IllegalArgumentException](StreamAnn.rebuild(spark,
      root, "gen1", corpus, "vec_id", "embedding", nlist = 2, m = 2,
      ksub = 4, iters = 1, nBuckets = 2))
    assert(e.getMessage.contains("ACTIVE"))
  }

  test("schema evolution: widened reopen + evolving merge; old files null-fill, CDC crosses the boundary, time travel keeps shapes, narrowing fails loudly") {
    val dir = tmp("sevolve")
    val part = Some(Livestream.keyBucket(nBuckets = 8))
    val t1 = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1), partitioning = part)
    t1.seed((0 until 12).map(i => c(i.toLong, s"b$i", i.toLong)).toDF()) // v0
    t1.merge(Seq(c(1, "b1-v2", 11)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                                // v1
    val filesV1 = t1.current.inputFiles.toSet
    // REOPEN widened: nullable lang, updatable in the merge fold
    val entityV2 = Merge.comments.copy(
      updatable = Merge.comments.updatable :+ "lang")
    val emptyV2 = Seq.empty[C].toDF()
      .withColumn("lang", lit(null).cast("string"))
    val t2 = new Livestream.UpsertTable(spark, dir, entityV2, emptyV2,
      outputPartitions = Some(1), partitioning = part)
    // pending widening: reads still serve the RECORDED generation
    assert(!t2.currentSchema.fieldNames.contains("lang"))
    // the evolving merge publishes generation v2
    t2.merge(Seq(c(2, "b2", 2L)).toDF().withColumn("lang", lit("en"))
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))  // v2
    assert(t2.currentSchema.fieldNames.contains("lang"))
    // old rows null-fill; the batch's row carries its value; NOTHING
    // pre-evolution rewrote beyond the batch's own touched bucket
    val byId = t2.current.select("idstr", "lang").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(byId("t1_2") === Some("en"))
    assert(byId("t1_1") === None && byId("t1_0") === None)
    assert((filesV1 & t2.current.inputFiles.toSet).nonEmpty,
      "untouched pre-evolution buckets were rewritten instead of carried")
    // time travel returns the SHAPE as of the version
    assert(!t2.at(1L).schema.fieldNames.contains("lang"))
    assert(t2.at(2L).schema.fieldNames.contains("lang"))
    // CDC across the boundary: the widened key is an update with a
    // null before-image for the new column
    val ch = t2.changes(1L, 2L)
      .select("kind", "idstr", "before_lang", "after_lang").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)))).toSeq
    assert(ch === Seq(("update", "t1_2", None, Some("en"))))
    // a later merge under the SAME schema is not an evolution (one
    // generation recorded per widening, not per merge)
    t2.merge(Seq(c(3, "b3", 3L)).toDF().withColumn("lang", lit("fr"))
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))  // v3
    assert(t2.schemaAt(2L).fieldNames.sameElements(
      t2.schemaAt(3L).fieldNames))
    // NARROWING refuses loudly: reopening without a recorded column
    val tNarrow = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1), partitioning = part)
    val eN = intercept[IllegalArgumentException](tNarrow.current)
    assert(eN.getMessage.contains("WIDEN-ONLY"))
    // TYPE CHANGE refuses loudly
    val emptyBadType = Seq.empty[C].toDF()
      .withColumn("lang", lit(null).cast("long"))
    val tBad = new Livestream.UpsertTable(spark, dir, entityV2, emptyBadType,
      outputPartitions = Some(1), partitioning = part)
    val eT = intercept[IllegalArgumentException](tBad.current)
    assert(eT.getMessage.contains("type"))
    // a NON-NULLABLE new column refuses loudly (pre-evolution files
    // must be able to read it as null)
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val badNullable = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(emptyV2.schema.fields :+
        StructField("flags", LongType, nullable = false)))
    val tNn = new Livestream.UpsertTable(spark, dir, entityV2, badNullable,
      outputPartitions = Some(1), partitioning = part)
    val eNn = intercept[IllegalArgumentException](tNn.current)
    assert(eNn.getMessage.contains("NULLABLE"))
  }

  test("vacuumRetain: age-based retention on the injectable clock; pinned artifact bases refuse loudly") {
    import graft.streaming.StreamTopK
    var now = 1000000L
    val dir = tmp("retain")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)),
      clock = () => now)
    table.seed(Seq(c(1, "a", 1)).toDF())                             // v0 @ t0
    now += 10000
    table.merge(Seq(c(2, "b", 2)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v1 @ t0+10s
    now += 10000
    table.merge(Seq(c(3, "d", 3)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v2 @ t0+20s
    assert(table.publishTimes.keySet === Set(0L, 1L, 2L))
    // a wide horizon retires nothing
    table.vacuumRetain(3600 * 1000L)
    assert(table.versionAvailable(0L) && table.versionAvailable(1L))
    // v0 (age 35 s) ages past a 30 s horizon; v1 (age 25 s) stays —
    // version count is irrelevant, only publish age (the
    // variable-cadence contract)
    now += 15000
    table.vacuumRetain(30000L)
    assert(!table.versionAvailable(0L))
    assert(table.versionAvailable(1L) && table.versionAvailable(2L))
    assert(table.current.count() === 3L)   // carried leaves intact
    // a pinned basis inside the horizon's victims refuses LOUDLY and
    // deletes nothing
    val e = intercept[IllegalArgumentException](
      table.vacuumRetain(1000L, pinned = Seq(1L)))
    assert(e.getMessage.contains("basis"))
    assert(table.versionAvailable(1L))
    // unpinned, the same horizon retires it
    table.vacuumRetain(1000L)
    assert(!table.versionAvailable(1L) && table.versionAvailable(2L))
    // the CURRENT version never ages out (superseded-only eligibility)
    now += 10000000
    table.vacuumRetain(1L)
    assert(table.versionAvailable(2L) && table.current.count() === 3L)
    // StreamTopK integration: the leaderboard's recorded basis pins
    // retention until a refresh advances it past the horizon
    val root = tmp("retain_view")
    StreamTopK.seedView(table, root, "subreddit", "idstr", "score", 2)
    now += 10000
    table.merge(Seq(c(4, "e", 9)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v3
    now += 10000000
    val b = BasisView.basis(root)
    assert(b === 2L)
    intercept[IllegalArgumentException](
      table.vacuumRetain(1000L, pinned = Seq(b)))
    assert(table.versionAvailable(2L), "refusal must delete nothing")
    StreamTopK.refresh(spark, table, root, "subreddit", "idstr", "score", 2)
    table.vacuumRetain(1000L, pinned = Seq(BasisView.basis(root)))
    assert(!table.versionAvailable(2L) && table.versionAvailable(3L))
    assert(StreamTopK.view(spark, root).count() > 0L)
  }

  test("purgeKeys takedown: pruned bucket rewrite, CDC deletes, empty-bucket manifest drop, erasure, idempotence") {
    val dir = tmp("purge")
    val nB = 8
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nB)))
    val rows = (0 until 64).map(i => c(i.toLong, s"b$i", i.toLong))
    table.seed(rows.toDF())                                          // v0
    // a CDC-on merge so the edits log quotes text for later-purged keys
    table.merge(rows.take(16).map(r => r.copy(body = r.body + "-v2"))
      .toDF().withColumn("_seq", lit(0L)), "_seq")                   // v1
    val filesBefore = table.current.inputFiles.toSet
    val purged = Seq("t1_3", "t1_7", "t1_11")
    val n = table.purgeKeys(purged.toDF("idstr"))                    // v2
    assert(n === 3L)
    assert(table.currentVersion === 2L)
    assert(table.current.filter(col("idstr").isin(purged: _*)).count() === 0L)
    assert(table.current.count() === 61L)
    // pruned rewrite: only the purged keys' buckets got new files;
    // every other bucket is carried BY REFERENCE (same physical files)
    val touchedBuckets = purged
      .map(k => Livestream.keyBucketValue(k, nB)).toSet
    val newFiles = table.current.inputFiles.toSet -- filesBefore
    assert(newFiles.size <= touchedBuckets.size,
      s"rewrote ${newFiles.size} files for ${touchedBuckets.size} buckets")
    assert((filesBefore & table.current.inputFiles.toSet).nonEmpty,
      "untouched buckets were rewritten instead of carried")
    // the purge reads as ordinary CDC: every purged key is a `delete`
    val ch = table.changes(1L, 2L).select("kind", "idstr").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(ch.toSet === purged.map("delete" -> _).toSet)
    // idempotent: re-purging finds nothing and publishes nothing
    assert(table.purgeKeys(purged.toDF("idstr")) === 0L)
    assert(table.currentVersion === 2L)
    // purging EVERY remaining key of one bucket drops the bucket from
    // the manifest entirely
    val b0Keys = (0 until 64).map(i => s"t1_$i")
      .filter(k => Livestream.keyBucketValue(k, nB) == 0L)
      .filterNot(purged.contains)
    assert(b0Keys.nonEmpty)
    assert(table.purgeKeys(b0Keys.toDF("idstr")) === b0Keys.size.toLong)
    assert(!table.manifest(table.currentVersion).contains("0"),
      "fully-purged bucket still in the manifest")
    assert(table.current.count() === 61L - b0Keys.size)
    // FULL erasure: history becomes unreadable and the CDC log stops
    // quoting the purged keys' previous text
    assert(table.edits.filter(col("idstr") === "t1_1").count() === 1L)
    val n2 = table.purge(Seq("t1_1", "t1_2"), eraseHistory = true)
    assert(n2 === 2L)
    assert(!table.versionAvailable(0L) && !table.versionAvailable(1L))
    intercept[IllegalArgumentException](table.changes(0L, table.currentVersion))
    assert(table.edits.filter(col("idstr").isin("t1_1", "t1_2")).count() === 0L)
    // non-purged edit rows survive the scrub
    assert(table.edits.count() > 0L)
    // the purged keys' bytes are gone from every surviving data file
    val leftover = spark.read.parquet(table.current.inputFiles: _*)
      .filter(col("idstr").isin("t1_1", "t1_2", "t1_3")).count()
    assert(leftover === 0L)
    // end-to-end idempotence of the composed act
    assert(table.purge(Seq("t1_1", "t1_2"), eraseHistory = true) === 0L)
  }

  test("deletion-vector purge: sidecar-sized bytes, suppressed on every read path, ordinary CDC deletes, materialized by rewrites") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    def treeBytes(p: java.nio.file.Path): Long = {
      if (!JFiles.exists(p)) return 0L
      val s = JFiles.walk(p)
      try s.filter(JFiles.isRegularFile(_))
        .mapToLong(JFiles.size(_)).sum
      finally s.close()
    }
    val dir = tmp("dvp")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    val rows = (0 until 64).map(i => c(i.toLong, s"b$i", i.toLong))
    table.seed(rows.toDF())                                          // v0
    val purged = Seq("t1_3", "t1_7")
    val n = table.purgeKeys(purged.toDF("idstr"), dv = true)         // v1
    assert(n === 2L && table.currentVersion === 1L)
    // NO data files written: the manifest carries every bucket by
    // reference; bytes written are sidecar-sized
    assert(!JFiles.exists(JPaths.get(dir, "v=1")))
    assert(table.manifest(1L) === table.manifest(0L))
    val dvBytes = JFiles.size(JPaths.get(dir, "_dv", "d=1"))
    // vs the REWRITE purge of the same keys on an identical table
    val dir2 = tmp("dvp_rw")
    val table2 = new Livestream.UpsertTable(spark, dir2, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    table2.seed(rows.toDF())
    assert(table2.purgeKeys(purged.toDF("idstr")) === 2L)
    val rewriteBytes = treeBytes(JPaths.get(dir2, "v=1"))
    assert(dvBytes * 5 < rewriteBytes,
      s"dv purge wrote $dvBytes B vs rewrite $rewriteBytes B — not small")
    // suppressed on EVERY read path
    assert(table.current.filter(col("idstr").isin(purged: _*)).count() === 0L)
    assert(table.current.count() === 62L)
    assert(table.scanForKeys(purged.toDF("idstr"))
      .filter(col("idstr").isin(purged: _*)).count() === 0L)
    assert(table.scanAuto()._1
      .filter(col("idstr").isin(purged: _*)).count() === 0L)
    // time travel: the pre-purge version still serves them
    assert(table.at(0L).filter(col("idstr").isin(purged: _*)).count() === 2L)
    // the purge reads as ordinary CDC deletes (manifests identical —
    // the delta lives in the vector)
    val ch = table.changes(0L, 1L).select("kind", "idstr").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(ch.toSet === purged.map("delete" -> _).toSet)
    // idempotent: the suppressed keys resolve no live rows
    assert(table.purgeKeys(purged.toDF("idstr"), dv = true) === 0L)
    assert(table.currentVersion === 1L)
    // a MERGE touching a suppressed key's bucket materializes its
    // entry — and a re-added key is a genuine re-insert (the merge
    // read is vector-filtered, so the old row does not resurrect
    // alongside)
    table.merge(Seq(c(3, "b3-back", 99)).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false)) // v2
    val back = table.current.filter(col("idstr") === "t1_3").collect()
    assert(back.length === 1 && back.head.getAs[String]("body") === "b3-back")
    assert(!table.dvAt(2L).exists(_._2 ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("t1_3")),
      "materialized entry still in the carried vector")
    // the untouched suppressed key carries — still suppressed
    assert(table.current.filter(col("idstr") === "t1_7").count() === 0L)
    // OPTIMIZE ZORDER rewrites every leaf: the whole vector
    // materializes and the suppressed bytes leave the data files
    table.optimize(zorderBy = Some(("idint", "score")))               // v3
    assert(table.dvAt(table.currentVersion).isEmpty)
    assert(table.current.filter(col("idstr") === "t1_7").count() === 0L)
    assert(spark.read.parquet(table.current.inputFiles: _*)
      .filter(col("idstr") === "t1_7").count() === 0L,
      "suppressed bytes survived the materializing rewrite")
    // flat tables refuse the dv mode loudly
    val flat = new Livestream.UpsertTable(spark, tmp("dvflat"), Merge.comments,
      Seq.empty[C].toDF())
    flat.seed(rows.take(4).toDF())
    val e = intercept[IllegalArgumentException](
      flat.purgeKeys(Seq("t1_0").toDF("idstr"), dv = true))
    assert(e.getMessage.contains("unpartitioned"))
  }

  test("a deletion-vector purge maintains downstream IVM views through ordinary CDC deletes") {
    import graft.operators.Scd
    val dir = tmp("dvivm")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    val rows = (0 until 12).map(i =>
      c(i.toLong, s"b$i", (i * 3).toLong).copy(subreddit = s"g${i % 3}"))
    table.seed(rows.toDF())                                          // v0
    val base = Scd.cdcBaseAgg(table.at(0L), "subreddit", "score",
      "n_docs", "sum_c")
    assert(table.purgeKeys(Seq("t1_3", "t1_4").toDF("idstr"),
      dv = true) === 2L)                                             // v1
    // the DV purge rode changes() as ordinary deletes — the maintained
    // view lands on the post-purge rescan without dv-specific code
    val view = Scd.cdcApply(base, table.changes(0L, 1L), "subreddit",
        "score", "n_docs", "sum_c")
      .orderBy("subreddit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val rescan = Scd.cdcBaseAgg(table.current, "subreddit", "score",
        "n_docs", "sum_c")
      .orderBy("subreddit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(view === rescan)
  }

  test("schema evolution feeds IVM as ordinary updates: a maintained view crosses the boundary unmodified") {
    import graft.operators.Scd
    val dir = tmp("sevivm")
    val part = Some(Livestream.keyBucket(nBuckets = 8))
    val t1 = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1), partitioning = part)
    val rows = (0 until 10).map(i =>
      c(i.toLong, s"b$i", (i * 2).toLong).copy(subreddit = s"g${i % 2}"))
    t1.seed(rows.toDF())                                             // v0
    val base = Scd.cdcBaseAgg(t1.at(0L), "subreddit", "score",
      "n_docs", "sum_c")
    // the widened reopen + evolving merge (score bumps ride along)
    val entityV2 = Merge.comments.copy(
      updatable = Merge.comments.updatable :+ "lang")
    val t2 = new Livestream.UpsertTable(spark, dir, entityV2,
      Seq.empty[C].toDF().withColumn("lang", lit(null).cast("string")),
      outputPartitions = Some(1), partitioning = part)
    t2.merge(Seq(c(1, "b1", 100), c(2, "b2", 200)).toDF()
      .withColumn("lang", lit("en")).withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v1
    // the boundary CDC (wide schema, null before-images for lang)
    // feeds the UNMODIFIED applier; the maintained view lands on the
    // post-evolution rescan
    val view = Scd.cdcApply(base, t2.changes(0L, 1L), "subreddit",
        "score", "n_docs", "sum_c")
      .orderBy("subreddit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val rescan = Scd.cdcBaseAgg(t2.current, "subreddit", "score",
        "n_docs", "sum_c")
      .orderBy("subreddit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(view === rescan)
  }

  test("purgeWhereDv: predicate resolution + sidecar-sized suppress; the rewrite path composes after it") {
    val dir = tmp("pwdv")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    table.seed((0 until 20).map(i => c(i.toLong, s"b$i", i.toLong)).toDF())
    val v0 = table.currentVersion
    assert(table.purgeWhereDv(col("author") === "u7") === 1L)        // v1
    assert(table.currentVersion === v0 + 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"v=${v0 + 1}")),
      "dv predicate purge wrote data files")
    assert(table.current.filter(col("author") === "u7").count() === 0L)
    // idempotent: the suppressed row no longer resolves
    assert(table.purgeWhereDv(col("author") === "u7") === 0L)
    // a later COMPLIANCE purge (rewrite + erasure) composes on top of
    // the live vector; the untouched suppressed key stays suppressed
    assert(table.purgeWhere(col("author") === "u3") === 1L)
    assert(table.current.filter(col("author").isin("u3", "u7")).count() === 0L)
  }

  test("purgeWhere: predicate takedown resolves keys, erases, and is idempotent") {
    val dir = tmp("purgew")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    val rows = (0 until 40).map(i => c(i.toLong, s"b$i", (i % 7).toLong))
    table.seed(rows.toDF())                                          // v0
    table.merge(rows.take(10).map(r => r.copy(body = r.body + "-v2"))
      .toDF().withColumn("_seq", lit(0L)), "_seq")                   // v1
    // erase one author's documents — key resolution from the snapshot,
    // then the full act (author is NOT the table key; the resolved
    // frame carries the key + partitioning columns by construction)
    val n = table.purgeWhere(col("author") === "u7")                 // v2
    assert(n === 1L)
    assert(table.current.filter(col("author") === "u7").count() === 0L)
    assert(table.current.count() === 39L)
    // erasure ran: pre-purge versions are unreadable
    assert(!table.versionAvailable(0L) && !table.versionAvailable(1L))
    // the edits log no longer quotes the purged author's key
    assert(table.edits.filter(col("idstr") === "t1_7").count() === 0L)
    assert(table.edits.count() > 0L)
    // bytes gone from every surviving data file
    assert(spark.read.parquet(table.current.inputFiles: _*)
      .filter(col("idstr") === "t1_7").count() === 0L)
    // idempotent: the predicate now resolves zero rows, nothing publishes
    val v = table.currentVersion
    assert(table.purgeWhere(col("author") === "u7") === 0L)
    assert(table.currentVersion === v)
    // a multi-row predicate (score class) purges the whole class — with
    // the sidecars refreshed first, so the resolution scan exercises
    // the zone-map/bloom-pruned scanAuto path purgeWhere reads through
    table.refreshZoneMap(Seq("score"))
    table.refreshBloom(Seq("author"))
    val cls = table.current.filter(col("score") === 3L).count()
    assert(cls > 1L)
    assert(table.purgeWhere(col("score") === 3L) === cls)
    assert(table.current.filter(col("score") === 3L).count() === 0L)
    // matching-zero predicate is a clean no-op, not an empty publish
    assert(table.purgeWhere(col("author") === "nobody") === 0L)
  }

  test("purgeWhere editsPred: a quoted before-image matching the predicate scrubs even when the current value no longer does") {
    val dir = tmp("purgewe")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    table.seed(Seq(c(1, "secret-alpha", 1), c(2, "secret-beta", 2),
      c(3, "benign", 3)).toDF())                                     // v0
    // key 1's body rewrites to a clean value: the SNAPSHOT no longer
    // matches the predicate, but the edits log QUOTES the secret text
    table.merge(Seq(c(1, "clean", 1)).toDF().withColumn("_seq", lit(0L)),
      "_seq")                                                        // v1
    assert(table.edits
      .filter(col("previous_body").contains("secret")).count() === 1L)
    // key 2 still matches in the snapshot; key 1 only in the log's
    // before-image — the erasure-completeness gap editsPred closes
    val n = table.purgeWhere(col("body").contains("secret"),
      editsPred = Some(col("previous_body").contains("secret")))
    assert(n === 1L)
    assert(table.current.filter(col("idstr") === "t1_2").count() === 0L)
    // key 1's ROW survives (its current state is clean) ...
    assert(table.current.filter(col("idstr") === "t1_1").count() === 1L)
    // ... but no edit row quotes the secret text anymore — neither by
    // content nor by the resolved key
    assert(table.edits
      .filter(col("previous_body").contains("secret")).count() === 0L)
    assert(table.edits.filter(col("idstr") === "t1_1").count() === 0L)
    // idempotent end to end
    assert(table.purgeWhere(col("body").contains("secret"),
      editsPred = Some(col("previous_body").contains("secret"))) === 0L)
  }

  test("StreamTopK refresh reseeds when the recorded basis was erased from the fact history") {
    import graft.streaming.StreamTopK
    val base = tmp("topk_erase")
    val table = new Livestream.UpsertTable(spark, s"$base/tbl",
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    table.seed(Seq(c(1, "a", 10), c(2, "b", 20), c(3, "d", 5)).toDF()) // v0
    val root = s"$base/view"
    StreamTopK.seedView(table, root, "subreddit", "idstr", "score", 2)
    assert(BasisView.basis(root) === 0L)
    // an erasure act between triggers: purge with eraseHistory runs
    // vacuum(keep = 1), so the recorded basis version 0 is unreadable
    assert(table.purge(Seq("t1_2"), eraseHistory = true) === 1L)
    assert(!table.versionAvailable(0L))
    // the pre-fix contract threw from changes(0, cur) on every later
    // trigger, failing the sink permanently; refresh now falls back to
    // the documented post-erasure reseed — which also retires the
    // purged row the stale view still served
    StreamTopK.refresh(spark, table, root, "subreddit", "idstr", "score", 2)
    assert(BasisView.basis(root) === table.currentVersion)
    val served = StreamTopK.view(spark, root).collect()
      .map(_.getString(1)).toSet
    assert(served === Set("t1_1", "t1_3"))
  }

  test("StreamTopK: maintained leaderboard equals the batch top-k after every trigger; refresh is idempotent") {
    import graft.streaming.StreamTopK
    import graft.operators.Scd
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[C]
    val base = tmp("topk")
    val table = new Livestream.UpsertTable(spark, s"$base/tbl",
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    val root = s"$base/view"
    // group by score-class (score % 3 via construction), top-2 by created
    def served() = StreamTopK.view(spark, root)
      .orderBy("subreddit", "rk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSeq
    def rescan() = Scd.cdcBaseTopK(table.current, "subreddit", "idstr",
        "score", 2)
      .orderBy("subreddit", "rk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSeq
    val q = StreamTopK.leaderboardSink(mem.toDF(), table, root,
      "subreddit", "idstr", "score", 2, s"$base/ckp",
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      // rows with two groups (subreddit field repurposed as the group)
      def row(id: Long, g: String, score: Long) =
        c(id, s"b$id", score).copy(subreddit = g)
      mem.addData(row(1, "g1", 10), row(2, "g1", 20), row(3, "g2", 5))
      q.processAllAvailable()
      assert(served() === rescan())
      // evictions + an update that dethrones a leader + a new group
      mem.addData(row(4, "g1", 30),        // evicts id 1 from g1's top-2
        row(2, "g1", 1),                   // leader falls out entirely
        row(5, "g3", 7))
      q.processAllAvailable()
      assert(served() === rescan())
      assert(served().exists { case (g, k, _, _) => g == "g1" && k == "t1_4" })
      assert(!served().exists { case (_, k, _, _) => k == "t1_2" })
      // idempotent refresh: basis == current ⇒ nothing republishes
      val b = BasisView.basis(root)
      StreamTopK.refresh(spark, table, root, "subreddit", "idstr",
        "score", 2)
      assert(BasisView.basis(root) === b)
      // catch-up across MISSED versions: merge twice outside the sink,
      // then one refresh applies the whole range
      table.merge(Seq(row(6, "g2", 50)).toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
      table.merge(Seq(row(7, "g2", 60)).toDF()
        .withColumn("_seq", lit(1L)), "_seq", storeEdits = Some(false))
      StreamTopK.refresh(spark, table, root, "subreddit", "idstr",
        "score", 2)
      assert(served() === rescan())
      assert(BasisView.basis(root) === table.currentVersion)
      // vacuum keeps the basis view readable
      BasisView.vacuumView(root)
      assert(served() === rescan())
      // TAKEDOWN through the leaderboard: a purge publishes ordinary
      // CDC deletes, so the next refresh retires the erased leader
      // through the applier's existing dirty-group algebra — no
      // leaderboard-specific takedown code exists or is needed
      val leader = served().head._2                    // a current top row
      assert(table.purgeKeys(Seq(leader).toDF("idstr")) === 1L)
      StreamTopK.refresh(spark, table, root, "subreddit", "idstr",
        "score", 2)
      assert(!served().exists { case (_, k, _, _) => k == leader })
      assert(served() === rescan())
    } finally q.stop()
  }

  test("StreamWindow: maintained dashboard equals the windowed rescan after every trigger; moves, catch-up, erasure reseed") {
    import graft.streaming.StreamWindow
    import graft.operators.Scd
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[C]
    val base = tmp("winsink")
    val table = new Livestream.UpsertTable(spark, s"$base/tbl",
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    val root = s"$base/view"
    val gs = Seq("subreddit")
    def served() = StreamWindow.view(spark, root)
      .orderBy("w_start", "subreddit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    def rescan() = Scd.cdcBaseWindowed(table.current, gs, "textlen",
        "score", 20L, 10L)
      .orderBy("w_start", "subreddit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    def row(id: Long, g: String, score: Long) =
      c(id, s"b$id", score).copy(subreddit = g)
    val q = StreamWindow.windowSink(mem.toDF(), table, root, gs,
      "textlen", "score", 20L, 10L, s"$base/ckp",
      trigger = Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(row(1, "g1", 15), row(2, "g1", 35), row(3, "g2", 5))
      q.processAllAvailable()
      assert(served() === rescan())
      // an update whose score crosses a window boundary MOVES the row
      // between windows; a new group appears
      mem.addData(row(1, "g1", 25), row(4, "g3", 7))
      q.processAllAvailable()
      assert(served() === rescan())
      // idempotent refresh
      val b = BasisView.basis(root)
      StreamWindow.refresh(spark, table, root, gs, "textlen", "score",
        20L, 10L)
      assert(BasisView.basis(root) === b)
      // catch-up across missed versions in one apply
      table.merge(Seq(row(5, "g2", 50)).toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
      table.merge(Seq(row(6, "g2", 60)).toDF()
        .withColumn("_seq", lit(1L)), "_seq", storeEdits = Some(false))
      StreamWindow.refresh(spark, table, root, gs, "textlen", "score",
        20L, 10L)
      assert(served() === rescan())
      assert(BasisView.basis(root) === table.currentVersion)
      BasisView.vacuumView(root)
      assert(served() === rescan())
      // an erasure act between triggers: the basis dies, refresh
      // reseeds (the post-erasure catch-up) and the purged row's
      // window contributions retire
      assert(table.purge(Seq("t1_2"), eraseHistory = true) === 1L)
      StreamWindow.refresh(spark, table, root, gs, "textlen", "score",
        20L, 10L)
      assert(served() === rescan())
    } finally q.stop()
  }

  test("takedown propagates uniformly through the maintained artifacts (codes, assignments, postings, LSH state)") {
    import graft.streaming.{StreamAnn, StreamClusters, StreamIndex, StreamLsh}
    import graft.operators.Similarity
    // ANN codes table (array<int> payload through the pruned rewrite)
    val vecs = (0L until 12L).map(i =>
      (i, Seq.tabulate(4)(j => math.sin(i * 1.1 + j)))).toDF("vec_id", "embedding")
    val nrm = Similarity.normalized(vecs, "vec_id", "embedding")
    val (coarse, cbRes) = Similarity.trainAnnArtifact(nrm, nlist = 2,
      m = 2, ksub = 4, iters = 1)
    val annT = StreamAnn.table(spark, tmp("pg_ann"), nBuckets = 4)
    annT.seed(StreamAnn.encodeRows(vecs, "vec_id", "embedding", coarse, cbRes))
    assert(StreamAnn.purge(annT, Seq(5L)) === 1L)
    assert(StreamAnn.codes(annT).filter(col("vid") === 5L).count() === 0L)
    assert(StreamAnn.codes(annT).count() === 11L)
    // serving never returns the purged vid again
    val served = StreamAnn.serve(annT, vecs, "vec_id", "embedding",
      coarse, cbRes, queryIds = Seq(0L, 1L), k = 11, nprobe = 2)
    assert(served.filter(col("neighbor_id") === 5L).count() === 0L)
    // cluster assignments
    val cb = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val clT = StreamClusters.table(spark, tmp("pg_cl"), nBuckets = 4)
    clT.seed(StreamClusters.assignRows(vecs, "vec_id", "embedding", cb))
    assert(clT.purge(Seq("5")) === 1L)
    assert(StreamClusters.assignments(clT).filter(col("doc") === "5").count() === 0L)
    assert(StreamClusters.assignments(clT).count() === 11L)
    // BM25 postings (map<string,long> payload): rows built by hand —
    // purge is indifferent to how rows arrived
    val ixT = StreamIndex.table(spark, tmp("pg_ix"), nBuckets = 4)
    ixT.seed(Seq(("1", "a b a"), ("2", "b c"), ("3", "a c"))
      .toDF("idstr", "t")
      .select(col("idstr"), lit(null).cast("string").as("author"),
        lit(null).cast("string").as("body"),
        map(lit("tok"), length(col("t")).cast("long")).as("toks")))
    assert(ixT.purge(Seq("2")) === 1L)
    assert(StreamIndex.postings(ixT).filter(col("doc") === "2").count() === 0L)
    assert(StreamIndex.postings(ixT).select("doc").distinct().count() === 2L)
    // LSH band state (two array payloads)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow now")).toDF("doc_id", "text")
    val lshT = StreamLsh.table(spark, tmp("pg_lsh"), nBuckets = 4)
    lshT.seed(graft.streaming.StreamLsh.lshRows(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4))
    assert(lshT.purge(Seq("3")) === 1L)
    assert(StreamLsh.state(lshT).filter(col("doc") === "3").count() === 0L)
    assert(StreamLsh.state(lshT).count() === 2L)
  }

  test("purge between micro-batches: the stream keeps merging, a purged key can legitimately re-arrive") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[C]
    val table = new Livestream.UpsertTable(spark, tmp("pstr"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    val q = Livestream.upsertSink(mem.toDF(), table, tmp("pstrck"),
      Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(c(1, "a", 1), c(2, "b", 2), c(3, "c", 3))
      q.processAllAvailable()
      // takedown lands between triggers — the operational reality
      assert(table.purge(Seq("t1_2"), eraseHistory = true) === 1L)
      assert(table.current.count() === 2L)
      // the stream continues: new keys merge, and the purged key may
      // legitimately RE-ARRIVE (a new document with a recycled id is a
      // fresh row, not a resurrection — takedown is not a tombstone)
      mem.addData(c(4, "d", 4), c(2, "b2", 20))
      q.processAllAvailable()
      val rows = table.current.collect()
        .map(r => r.getAs[String]("idstr") -> r.getAs[String]("body")).toMap
      assert(rows === Map("t1_1" -> "a", "t1_2" -> "b2", "t1_3" -> "c",
        "t1_4" -> "d"))
      // the purged generation of t1_2's text is still GONE from history:
      // erasure vacuumed to the purge, so only post-purge versions exist
      // and none of their files carry the purged body
      val leftover = spark.read.parquet(table.current.inputFiles: _*)
        .filter(col("body") === "b").count()
      assert(leftover === 0L)
    } finally q.stop()
  }

  test("takedown flows through the join IVM: fact purge retires view rows, dim purge drops (inner) or null-flips (outer)") {
    import graft.operators.Scd
    // purge publishes ordinary CDC deletes — so the joined views the
    // cdcApplyJoin family maintains retire takedown rows through their
    // EXISTING delta algebra, no special path. Facts keyed t1_i with
    // shared authors u0..u3; dim keyed by author with one attribute.
    val facts = new Livestream.UpsertTable(spark, tmp("tj_f"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    facts.seed((0 until 12).map(i => C(i.toLong, s"t1_$i", i.toLong,
      s"u${i % 4}", "t3_r", "t3_r", s"b$i", i.toLong * 10, "sub", null,
      2L)).toDF())                                                    // v0
    val dimEnt = Merge.Entity(textCol = "body", editTextCol = "previous_body",
      updatable = Seq("tier"), frozen = Seq("author"))
    val dim = new Livestream.UpsertTable(spark, tmp("tj_d"), dimEnt,
      Seq.empty[(String, String, String, String)]
        .toDF("idstr", "author", "body", "tier"),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    dim.seed((0 until 4).map(i => (s"u$i", null: String, null: String,
      s"t$i")).toDF("idstr", "author", "body", "tier"))               // v0
    def factsSel(df: org.apache.spark.sql.DataFrame) =
      df.select(col("idstr"), col("author"), col("score"))
    def dimSel(df: org.apache.spark.sql.DataFrame) =
      df.select(col("idstr").as("author"), col("tier"))
    val fc = Seq("score"); val dc = Seq("tier")
    val baseI = Scd.cdcBaseJoin(factsSel(facts.current), dimSel(dim.current),
      "idstr", "author", fc, dc)
    val baseO = Scd.cdcBaseJoinOuter(factsSel(facts.current),
      dimSel(dim.current), "idstr", "author", fc, dc)
    val noDimCh = dim.changes(0L, 0L).select(col("idstr").as("author"),
      col("kind")).limit(0)
    // STEP 1 — fact takedown: purge two fact keys; the purge's CDC
    // deletes retire exactly those view rows in both variants.
    // eraseHistory=false here: the IVM consumer reads changes(0,1), so
    // the pre-purge version must stay readable until it has consumed —
    // the vacuum-then-consume ordering hazard is exactly why purge
    // documents "vacuum AFTER downstream consumers advance".
    assert(facts.purge(Seq("t1_3", "t1_7"), eraseHistory = false) === 2L)
    val fCh = facts.changes(0L, 1L)
    val vI1 = Scd.cdcApplyJoin(baseI, fCh, noDimCh,
      factsSel(facts.current), dimSel(dim.current), "idstr", "author", fc, dc)
    val vO1 = Scd.cdcApplyJoinOuter(baseO, fCh, noDimCh,
      dimSel(dim.current), "idstr", "author", fc, dc)
    assert(vI1.filter(col("idstr").isin("t1_3", "t1_7")).count() === 0L)
    assert(vO1.filter(col("idstr").isin("t1_3", "t1_7")).count() === 0L)
    assert(vI1.count() === 10L && vO1.count() === 10L)
    // STEP 2 — dim takedown (an author erased): inner view drops the
    // author's rows; outer view KEEPS the facts, dims flipped to null
    assert(dim.purge(Seq("u1"), eraseHistory = false) === 1L)
    val dCh = dim.changes(0L, 1L).select(col("idstr").as("author"), col("kind"))
    val noFactCh = fCh.limit(0)
    val vI2 = Scd.cdcApplyJoin(vI1, noFactCh, dCh,
      factsSel(facts.current), dimSel(dim.current), "idstr", "author", fc, dc)
    val vO2 = Scd.cdcApplyJoinOuter(vO1, noFactCh, dCh,
      dimSel(dim.current), "idstr", "author", fc, dc)
    // both land exactly on the rescan of the post-takedown tables
    val wantI = Scd.cdcBaseJoin(factsSel(facts.current), dimSel(dim.current),
      "idstr", "author", fc, dc)
    val wantO = Scd.cdcBaseJoinOuter(factsSel(facts.current),
      dimSel(dim.current), "idstr", "author", fc, dc)
    assert(vI2.orderBy("idstr").collect().toSeq ===
      wantI.orderBy("idstr").collect().toSeq)
    assert(vO2.orderBy("idstr").collect().toSeq ===
      wantO.orderBy("idstr").collect().toSeq)
    assert(vI2.filter(col("author") === "u1").count() === 0L)
    val flipped = vO2.filter(col("author") === "u1")
    assert(flipped.count() === 3L, "outer view lost the purged author's facts")
    assert(flipped.filter(col("tier").isNull).count() === 3L,
      "dim purge did not null-flip the outer rows")
  }

  test("StreamNb.retract: decremental takedown — subtract + purge-zeroed equals the model trained without the docs") {
    import graft.streaming.StreamNb
    implicit val sqlCtx = spark.sqlContext
    val keep = Seq(LDoc(1L, "alpha beta alpha", "en"),
      LDoc(2L, "beta gamma", "fr"), LDoc(3L, "alpha delta", "en"))
    val drop = Seq(LDoc(4L, "epsilon zeta beta", "fr"),
      LDoc(5L, "alpha alpha", "en"))
    def modelOf(docs: Seq[LDoc]): (Map[(String, String), Long], Map[String, Long], Livestream.UpsertTable) = {
      val mem = MemoryStream[LDoc]
      val t = StreamNb.table(spark, tmp("nbr"), nBuckets = 4)
      val q = StreamNb.nbSink(mem.toDF(), "doc_id", "text", "lang", t,
        tmp("nbrck"), Trigger.ProcessingTime(0)).start()
      try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
      (StreamNb.tokenCounts(t).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
        StreamNb.classDocs(t).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap, t)
    }
    val (_, _, full) = modelOf(keep ++ drop)
    StreamNb.retract(full, drop.toDF(), "doc_id", "text", "lang")
    val gotTok = StreamNb.tokenCounts(full).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotCls = StreamNb.classDocs(full).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (wantTok, wantCls, _) = modelOf(keep)
    assert(gotTok === wantTok, "retracted token counts != train-without model")
    assert(gotCls === wantCls)
    // zeroed keys are PURGED, not left at zero: the smoothing vocabulary
    // must equal the without-model's ('epsilon'/'zeta'/'delta' edges)
    assert(full.current.filter(col("cnt") === 0L).count() === 0L)
    assert(!gotTok.keySet.exists(_._1 == "epsilon"))
    // retracting a doc that was never ingested fails LOUDLY
    val e = intercept[IllegalArgumentException](StreamNb.retract(full,
      Seq(LDoc(9L, "neverseen neverseen", "en")).toDF(),
      "doc_id", "text", "lang", seqBase = 7L))
    assert(e.getMessage.toLowerCase.contains("negative"))
  }

  test("StreamLangid: maintained gram counts equal the batch trainer's; hex key codec round-trips hostile grams") {
    import graft.streaming.{StreamLangid, Livestream => _}
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    // grams containing the key separator and whitespace — the codec's
    // hostile cases
    val docs = Seq(LDoc(1L, "a:b c", "en"), LDoc(2L, "x y:z", "fr"),
      LDoc(3L, "a:b a:b", "en"))
    val mem = MemoryStream[LDoc]
    val t = StreamLangid.table(spark, tmp("lgt"), nBuckets = 4)
    val q = StreamLangid.langidSink(mem.toDF(), "text", "lang", t,
      tmp("lgck"), Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(docs.take(2): _*); q.processAllAvailable()
      mem.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamLangid.gramCounts(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = docs.toDF("doc_id", "text", "lang")
      .select(col("lang"), explode(TextAnalysis.charTrigrams(col("text"))).as("gram"))
      .groupBy("lang", "gram").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === want, "maintained gram counts drifted from batch")
    assert(got.keySet.exists(_._2.contains(":")), "no hostile gram exercised")
    // profiles from the maintained counts == the batch trainer's
    val gotProf = StreamLangid.profiles(t, k = 8).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val wantProf = TextAnalysis.trigramProfiles(
        docs.toDF("doc_id", "text", "lang"), "lang", "text", k = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotProf === wantProf)
  }

  test("StreamModel: incrementally-maintained DSIR model equals the batch model; buckets sum across batches") {
    import graft.streaming.StreamModel
    import graft.operators.Importance
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MDoc]
    val table = StreamModel.table(spark, tmp("mdl"), nBuckets = 4)
    val q = StreamModel.modelSink(mem.toDF(), "doc_id", "text", col("is_t"),
      table, tmp("mdlckp"), Trigger.ProcessingTime(0)).start()
    val allDocs = Seq(
      MDoc(1, "alpha beta alpha", true),
      MDoc(2, "gamma beta", false),
      MDoc(3, "alpha beta", true),    // shares buckets with batch 1 →
      MDoc(4, "delta delta", false))  // counts must ADD, not replace
    try {
      mem.addData(allDocs(0), allDocs(1))
      q.processAllAvailable()
      mem.addData(allDocs(2), allDocs(3))
      q.processAllAvailable()
    } finally q.stop()
    val got = StreamModel.model(table)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: the batch model over the same corpus
    val want = Importance.featureCounts(
        allDocs.toDF("doc_id", "text", "is_t"), "doc_id", "text", col("is_t"))
      .groupBy("b").agg(
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("tcnt"),
        sum(col("c")).as("rcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    // scoring from the maintained model equals scoring from the batch
    // model — end to end, the q_dsir_incremental contract
    val docsDf = allDocs.toDF("doc_id", "text", "is_t")
    val fc = Importance.featureCounts(docsDf, "doc_id", "text", col("is_t"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Importance.dsirWeightsFromModel(fc, StreamModel.model(table))) ===
      rows(Importance.dsirWeights(docsDf, "doc_id", "text", col("is_t"))))
    // two non-empty micro-batches → two published versions; time travel
    // reads the PARTIAL counts after batch 0 (beta seen twice, not 3×)
    assert(table.currentVersion === 1L)
    // beta spans both batches: tcnt = 2 (docs 1, 3), rcnt = 3 (docs 1-3)
    assert(got.exists(t => t._2 == 2L && t._3 == 3L), s"beta bucket wrong: $got")
    val v0 = table.at(0).select(col(Merge.KeyCol), col("rcnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // after batch 0 only docs 1-2 counted: 5 unigram + 3 bigram events
    assert(v0.values.sum === 8L)
  }

  test("StreamNb: maintained counts equal the batch counts; classification serves batch-identical") {
    import graft.streaming.StreamNb
    import graft.operators.NaiveBayes
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[LDoc]
    val table = StreamNb.table(spark, tmp("nbm"), nBuckets = 4)
    val q = StreamNb.nbSink(mem.toDF(), "doc_id", "text", "lang",
      table, tmp("nbmckp"), Trigger.ProcessingTime(0)).start()
    val allDocs = Seq(
      LDoc(1, "ham ham eggs", "a"), LDoc(2, "spam link", "b"),
      LDoc(3, "ham toast", "a"),     // 'ham' spans batches: counts ADD
      LDoc(4, "spam spam win", "b"))
    try {
      mem.addData(allDocs(0), allDocs(1))
      q.processAllAvailable()
      mem.addData(allDocs(2), allDocs(3))
      q.processAllAvailable()
    } finally q.stop()
    val docsDf = allDocs.toDF("doc_id", "text", "lang")
    // maintained token counts == batch counts (cross-batch addition)
    val got = StreamNb.tokenCounts(table)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got(("ham", "a")) === 3L) // 2 in batch 1 + 1 in batch 2
    assert(got(("spam", "b")) === 3L)
    val cd = StreamNb.classDocs(table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cd === Map("a" -> 2L, "b" -> 2L))
    // end to end: classification from the maintained model equals the
    // batch train-and-score — the q_nb_incremental contract
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(NaiveBayes.classifyFromModel(docsDf, "doc_id", "text",
        "lang", StreamNb.tokenCounts(table), StreamNb.classDocs(table))) ===
      rows(NaiveBayes.classify(docsDf, "doc_id", "text", "lang")))
    // time travel reads the partial model after batch 0
    assert(table.currentVersion === 1L)
    val v0 = table.at(0).select(col(Merge.KeyCol), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(v0("t:a:ham") === 2L && v0("d:a") === 1L)
    assert(!v0.contains("t:a:toast"))
  }

  test("StreamNb: token-less docs don't count toward class docs; ':' labels rejected") {
    import graft.streaming.StreamNb
    import graft.operators.NaiveBayes
    // a labeled doc with no [a-z0-9] tokens must NOT bump d:<class> —
    // batch NaiveBayes derives class doc counts from the postings, so
    // counting it would drift the maintained priors from the batch twin
    val batch = Seq(
      LDoc(1, "ham eggs", "a"), LDoc(2, "!!! ...", "a"), LDoc(3, "", "b"))
      .toDF("doc_id", "text", "lang")
    val delta = StreamNb.nbDelta(batch, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(delta("d:a") === 1L)       // doc 2 (emoji-only) excluded
    assert(!delta.contains("d:b"))    // doc 3 (empty) excluded entirely
    // end to end: a stream containing token-less docs still serves
    // batch-identical classification
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[LDoc]
    val table = StreamNb.table(spark, tmp("nbtl"), nBuckets = 4)
    val q = StreamNb.nbSink(mem.toDF(), "doc_id", "text", "lang",
      table, tmp("nbtlckp"), Trigger.ProcessingTime(0)).start()
    val allDocs = Seq(LDoc(1, "ham eggs", "a"), LDoc(2, "!!! ...", "a"),
      LDoc(3, "spam win", "b"), LDoc(4, "", "b"))
    try { mem.addData(allDocs: _*); q.processAllAvailable() }
    finally q.stop()
    val cd = StreamNb.classDocs(table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cd === Map("a" -> 1L, "b" -> 1L))
    val docsDf = allDocs.toDF("doc_id", "text", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(NaiveBayes.classifyFromModel(docsDf, "doc_id", "text",
        "lang", StreamNb.tokenCounts(table), StreamNb.classDocs(table))) ===
      rows(NaiveBayes.classify(docsDf, "doc_id", "text", "lang")))
    // the `<class>:<rest>` key codec splits on ':' — a ':' class or
    // group must fail LOUDLY per batch, not corrupt the counters; every
    // sink that checks the codec, fed the same bad row
    import graft.streaming.{StreamLangid, StreamSketch}
    val checked: Seq[(String, (org.apache.spark.sql.DataFrame,
        Livestream.UpsertTable, String) => org.apache.spark.sql.streaming
        .DataStreamWriter[org.apache.spark.sql.Row])] = Seq(
      "nbSink" -> ((s, t, ckp) => StreamNb.nbSink(s, "doc_id", "text", "lang",
        t, ckp, Trigger.ProcessingTime(0))),
      "langidSink" -> ((s, t, ckp) => StreamLangid.langidSink(s, "text",
        "lang", t, ckp, Trigger.ProcessingTime(0))),
      "hllSink" -> ((s, t, ckp) => StreamSketch.hllSink(s, "lang", "text", t,
        ckp, Trigger.ProcessingTime(0))),
      "histSink" -> ((s, t, ckp) => StreamSketch.histSink(s, "lang", "doc_id",
        t, ckp, Trigger.ProcessingTime(0))))
    for ((name, sink) <- checked) {
      val mem2 = MemoryStream[LDoc]
      val table2 = StreamSketch.table(spark, tmp("codecbad"), nBuckets = 4)
      val q2 = sink(mem2.toDF(), table2, tmp("codecbadckp")).start()
      mem2.addData(LDoc(1, "ham", "a:b"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      try assert(ex.getMessage.contains("key codec") ||
        Option(ex.getCause).exists(_.getMessage.contains("key codec")), name)
      finally q2.stop()
      assert(table2.currentVersion === -1L, name)
    }
  }

  test("StreamClusters T3/T5: a redelivered batch (same _seq) leaves assignments unchanged") {
    import graft.streaming.StreamClusters
    // crash-redelivery contract: foreachBatch re-runs a batch with the
    // SAME batchId after a mid-merge failure → same batchId-derived _seq
    // → the merge must converge to the same table state, not duplicate
    // or flip assignments (the invariant the checkpointed sink rests on)
    val codebook: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val table = StreamClusters.table(spark, tmp("clurep"), nBuckets = 4)
    val batch = Seq(1L -> Seq(2.0, 0.0), 2L -> Seq(0.0, 3.0))
      .toDF("vec_id", "embedding")
    def mkRows() = StreamClusters.assignRows(batch, "vec_id", "embedding", codebook)
      .withColumn("_seq", lit(0L))
    table.merge(mkRows(), "_seq", storeEdits = Some(false))
    val first = StreamClusters.assignments(table).collect().map(_.toSeq).toSet
    table.merge(mkRows(), "_seq", storeEdits = Some(false))   // redelivery
    val replayed = StreamClusters.assignments(table).collect().map(_.toSeq).toSet
    assert(replayed === first)
    assert(first.map(_(1)) === Set(0, 1))   // sanity: both axes assigned
  }

  test("streaming exact dedup: normalized re-arrivals within the horizon are dropped, first arrival wins") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[D]
    val q = StreamDedup.distinctContent(mem.toDF(), "body", "ts", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sdd_out")
      .start()
    try {
      // 'a  b' and ' A b ' normalize identically — the second is a dup
      mem.addData(D(t(100), "a  b"), D(t(101), " A b "), D(t(102), "unique"))
      q.processAllAvailable()
      val b1 = spark.table("sdd_out").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ts").getTime / 1000, r.getAs[String]("body")))
      assert(b1.toSet === Set((100L, "a  b"), (102L, "unique")),
        s"first arrival must win: ${b1.toSeq}")
      // a later micro-batch replaying seen content inside the horizon
      mem.addData(D(t(200), "A B"), D(t(201), "fresh"))
      q.processAllAvailable()
      val all = spark.table("sdd_out").collect().map(_.getAs[String]("body"))
      assert(all.length === 3 && all.contains("fresh"),
        s"replayed content must be dropped: ${all.toSeq}")
    } finally q.stop()
  }

  test("_seq within-batch precedence: a key duplicated in ONE micro-batch resolves to the last occurrence") {
    // pins the documented contract (upsertSink scaladoc): for a
    // single-split micro-batch, monotonically_increasing_id follows input
    // order, so the LAST copy of a duplicated key wins — the reference's
    // sequential-apply order (dummy-then-live, pushshift.py:224-243)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[C]
    val table = new Livestream.UpsertTable(spark, tmp("tbldup"),
      Merge.comments, Seq.empty[C].toDF())
    val q = Livestream.upsertSink(mem.toDF(), table, tmp("ckpdup"),
      Trigger.ProcessingTime(0)).start()
    try {
      // dummy-then-live: same key three times in one batch
      mem.addData(c(7, "dummy", 0), c(7, "better", 1), c(7, "live", 2))
      q.processAllAvailable()
      val row = table.current.collect()
      assert(row.length === 1)
      assert(row.head.getAs[String]("body") === "live")
      assert(row.head.getAs[Long]("score") === 2L)
      // both superseded versions were archived as CDC in order
      val ed = table.edits.orderBy("replaced_at").collect()
        .map(_.getAs[String]("previous_body")).toSeq
      assert(ed === Seq("dummy", "better"))
    } finally q.stop()
  }

  test("T3 idempotence: replaying the same batch changes nothing") {
    val table = new Livestream.UpsertTable(spark, tmp("tbl2"),
      Merge.comments, Seq.empty[C].toDF())
    val batch = Seq(c(1, "a", 1), c(2, "b", 2)).toDF()
      .withColumn("_seq", monotonically_increasing_id())
    table.merge(batch, "_seq")
    val v1 = table.current.collect().sortBy(_.getAs[String]("idstr"))
    table.merge(batch, "_seq")                    // replay
    val v2 = table.current.collect().sortBy(_.getAs[String]("idstr"))
    assert(v1 === v2)
    assert(table.edits.isEmpty || table.edits.count() === 0) // same text → no CDC
  }

  test("edits on a fresh table carries the CDC schema, not zero columns") {
    val table = new Livestream.UpsertTable(spark, tmp("tbl3"),
      Merge.comments, Seq.empty[C].toDF())
    assert(table.edits.columns.toSeq === Seq("idstr", "previous_body", "replaced_at"))
    assert(table.edits.count() === 0)
    // downstream union/select on the empty frame must resolve
    assert(table.edits.select("idstr").count() === 0)
  }

  test("T3 CDC retry idempotence: replay after a mid-merge crash does not duplicate edits") {
    val dir = tmp("tbl4")
    val table = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF())
    table.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    val editBatch = Seq(c(1, "b", 2)).toDF().withColumn("_seq", lit(0L))
    table.merge(editBatch, "_seq")
    assert(table.edits.count() === 1)
    // simulate a crash AFTER the v=1/ev=1 stage writes but BEFORE the
    // pointer move: roll the pointer back...
    Files.writeString(java.nio.file.Paths.get(dir, "_VERSION"), "0")
    // ...staged-but-unpublished edits must be invisible...
    assert(table.edits.count() === 0)
    // ...and the foreachBatch replay must overwrite the stage, not
    // append — mergeReplay rolls the dead attempt's commit claim back
    // first (the checkpointed-sink replay path; a plain merge() would
    // conflict LOUDLY on the orphan, which is right for other writers)
    table.mergeReplay(editBatch, "_seq")
    assert(table.edits.count() === 1)
    assert(table.current.collect().map(_.getAs[String]("body")).toSeq === Seq("b"))
  }

  test("time travel: at(v) reads historical versions; missing → empty") {
    val table = new Livestream.UpsertTable(spark, tmp("tbl6"),
      Merge.comments, Seq.empty[C].toDF())
    table.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    table.merge(Seq(c(1, "b", 2)).toDF().withColumn("_seq", lit(0L)), "_seq")
    assert(table.at(0).head().getAs[String]("body") === "a")
    assert(table.at(1).head().getAs[String]("body") === "b")
    assert(table.at(99).count() === 0 && table.at(-1).count() === 0)
  }

  test("changes(v1, v2): version-range CDC — kinds, net-of-range, endpoints, flat + partitioned") {
    for (part <- Seq(None, Some(Livestream.keyBucket(nBuckets = 4)))) {
      val table = new Livestream.UpsertTable(spark, tmp("cdc1"),
        Merge.comments, Seq.empty[C].toDF(), partitioning = part)
      def m(rows: C*): Unit = table.merge(rows.toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
      m(c(1, "a", 1), c(2, "b", 2))                     // v0
      m(c(2, "b2", 3), c(3, "x", 1))                    // v1
      m(c(2, "b3", 4))                                   // v2
      def kinds(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("idstr"), r.getAs[String]("kind"))).toMap
      // one step: key 2 updated, key 3 inserted, key 1 untouched
      val k01 = kinds(table.changes(0, 1))
      assert(k01 === Map("t1_2" -> "update", "t1_3" -> "insert"))
      // before/after carry the snapshots
      val u = table.changes(0, 1).filter(col("idstr") === "t1_2").head()
      assert(u.getAs[String]("before_body") === "b" &&
        u.getAs[String]("after_body") === "b2")
      assert(u.getAs[Long]("before_score") === 2L &&
        u.getAs[Long]("after_score") === 3L)
      // multi-batch range nets to the ENDPOINTS: key 2 is ONE update
      // a→b3 (not a replay of b→b2→b3), key 3 one insert at final state
      val k02 = kinds(table.changes(0, 2))
      assert(k02 === Map("t1_2" -> "update", "t1_3" -> "insert"))
      assert(table.changes(0, 2).filter(col("idstr") === "t1_2").head()
        .getAs[String]("after_body") === "b3")
      // full-snapshot baseline and empty range
      assert(kinds(table.changes(-1, 0)).values.toSet === Set("insert"))
      assert(table.changes(-1, 0).count() === 2)
      assert(table.changes(1, 1).count() === 0)
      // upsert tables never drop keys: delete is structurally absent
      assert(kinds(table.changes(-1, 2)).values.toSet.subsetOf(Set("insert", "update")))
      // descending range refused
      intercept[IllegalArgumentException](table.changes(2, 0))
    }
  }

  test("changes is manifest-pruned: only re-pointed buckets are read") {
    val table = new Livestream.UpsertTable(spark, tmp("cdc2"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    // seed spreads 64 keys over all 8 buckets
    table.seed((1L to 64L).map(i => c(i, s"b$i", i)).toDF())     // v0
    // one-key batch touches exactly ONE bucket
    table.merge(Seq(c(7, "edited", 99)).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false)) // v1
    val touched = Livestream.keyBucketValue("t1_7", 8)
    val ch = table.changes(0, 1)
    // physical read set: both endpoint leaves of the touched bucket ONLY
    // — not 2 × 8 buckets (the manifest-pruned scale contract)
    val files = ch.inputFiles.toSeq
    assert(files.nonEmpty &&
      files.forall(_.contains(s"pt=$touched")),
      s"expected only bucket pt=$touched, read:\n${files.mkString("\n")}")
    assert(files.exists(_.contains("v=0")) && files.exists(_.contains("v=1")))
    // and the result is still exactly the one update
    val rows = ch.collect()
    assert(rows.length === 1 && rows.head.getAs[String]("kind") === "update" &&
      rows.head.getAs[String]("after_body") === "edited")
  }

  test("changes across a compaction version is empty; vacuumed base throws, never misreports") {
    val table = new Livestream.UpsertTable(spark, tmp("cdc3"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    def m(rows: C*): Unit = table.merge(rows.toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
    m(c(1, "a", 1)); m(c(2, "b", 2)); m(c(1, "a2", 3))   // v0, v1, v2
    // compaction republishes identical DATA under a new version: the
    // manifest re-points (so buckets are re-read) but the row diff is
    // empty — CDC over an optimize step reports no changes
    table.optimize(maxFiles = 1)
    val vAfter = table.currentVersion
    if (vAfter > 2) assert(table.changes(2, vAfter).count() === 0)
    // vacuum the early versions: a CDC read from a vacuumed base must
    // throw (a silent empty base would misclassify the table as inserts)
    table.vacuum(keep = 1)
    assert(!table.versionAvailable(0))
    val e = intercept[IllegalArgumentException](table.changes(0, vAfter))
    assert(e.getMessage.contains("vacuumed"))
    // re-baselining from scratch still works
    assert(table.changes(-1, vAfter).count() === 2)
  }

  test("UpsertTable zone maps: range-partitioned layout skips buckets; incremental refresh") {
    // range partitioning (key-derived, key-stable) is the layout where
    // file stats align with the data — a key-range scan skips whole
    // buckets' files; the hash-bucket default scatters ranges and the
    // map degrades to a documented no-op (correctness unaffected)
    val dir = tmp("zmt")
    val table = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some((col("idint") / lit(16L)).cast("long")))
    table.seed((1L to 64L).map(i => c(i, s"b$i", i)).toDF())
    table.refreshZoneMap(Seq("idint"))
    val total = table.current.inputFiles.length
    val pruned = table.scanRange("idint", 20L, 30L)
    assert(pruned.inputFiles.length < total,
      s"no pruning: ${pruned.inputFiles.length} of $total")
    assert(pruned.collect().map(_.getAs[Long]("idint")).sorted.toSeq ===
      (20L to 30L).toSeq)
    // incremental refresh: one-bucket merge adds stats only for the new
    // leaf; superseded file's entry is dropped (sidecar stays live-sized)
    table.merge(Seq(c(21, "edited", 99)).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
    table.refreshZoneMap(Seq("idint"))
    val live = table.current.inputFiles.toSet
    val statFiles = graft.sources.ZoneMap.read(dir)
    assert(statFiles.map(_.file).toSet === live)
    // scan over the refreshed map still exact
    assert(table.scanRange("idint", 21L, 21L).head().getAs[String]("body")
      === "edited")
    // without stats (fresh same-layout table, no refresh): conservative
    val bare = new Livestream.UpsertTable(spark, tmp("zmt2"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some((col("idint") / lit(16L)).cast("long")))
    bare.seed((1L to 32L).map(i => c(i, s"b$i", i)).toDF())
    val unpruned = bare.scanRange("idint", 1L, 4L)
    assert(unpruned.inputFiles.length === bare.current.inputFiles.length)
    assert(unpruned.count() === 4)
  }

  test("UpsertTable bloom sidecar: point lookup skips buckets the zone map cannot; incremental refresh") {
    // hash-bucket layout: idint [min, max] straddles every file, so the
    // zone map prunes NOTHING for a point lookup — the bloom does
    val dir = tmp("blt")
    val table = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    table.seed((1L to 256L).map(i => c(i, s"b$i", i)).toDF())
    table.refreshZoneMap(Seq("idint"))
    table.refreshBloom(Seq("idint"), mBits = 8192, k = 3)
    val (df, idx) = table.scanAuto()
    val hit = df.filter(col("idint") === 137L).collect()
    val listed = idx.lastListed
    assert(listed > 2 && idx.lastKept < listed,
      s"bloom skipped nothing (${idx.lastKept}/$listed)")
    assert(hit.length === 1 && hit.head.getAs[String]("body") === "b137")
    // incremental refresh after a one-bucket merge: only the new leaf's
    // files aggregate; dead files' blooms drop; the edited row is found
    table.merge(Seq(c(137, "edited", 1)).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
    table.refreshBloom(Seq("idint"), mBits = 8192, k = 3)
    assert(graft.sources.ZoneMap.readBloom(dir).map(_.file).toSet ===
      table.current.inputFiles.toSet)
    val (df2, idx2) = table.scanAuto()
    val hit2 = df2.filter(col("idint") === 137L).collect()
    assert(hit2.length === 1 && hit2.head.getAs[String]("body") === "edited")
    assert(idx2.lastKept < idx2.lastListed)
    // an absent key: zero rows regardless of false-positive keeps
    assert(df2.filter(col("idint") === 999999L).count() === 0L)
  }

  test("momentSink: stream-maintained covariance input == batch momentStats, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val d = 4
    case class E(vec_id: Long, embedding: Seq[Float])
    val mem = MemoryStream[(Long, Seq[Float])]
    val table = StreamSketch.table(spark, tmp("momtbl"), nBuckets = 4)
    val q = StreamSketch.momentSink(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", d, table,
      tmp("momckp"), Trigger.ProcessingTime(0)).start()
    val b1 = (0 until 6).map(i => (i.toLong,
      Seq(0.1f * i, -0.2f, 0.3f, 0.05f * (i % 3))))
    val b2 = (6 until 11).map(i => (i.toLong,
      Seq(-0.4f, 0.25f * (i % 2), 0.1f, 0.9f)))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val maintained = StreamSketch.moments(table)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Linalg.momentStats(
        (b1 ++ b2).toDF("vec_id", "embedding"), "embedding", d)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(maintained === batch,
      "additive moment maintenance drifted from the batch rescan")
    // and the downstream covariance consumer reads it directly
    val cov = graft.operators.Linalg.covNumerators(StreamSketch.moments(table))
    assert(cov.count() === d.toLong * (d + 1) / 2)
  }

  test("upsertSink zoneMapCols: streamed store keeps its skipping current, no operator action") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[C]
    val dir = tmp("zmstream")
    // range partitioning: the layout where stats align with the data
    val table = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some((col("idint") / lit(16L)).cast("long")))
    val q = Livestream.upsertSink(mem.toDF(), table, tmp("zmckp"),
      Trigger.ProcessingTime(0), zoneMapCols = Some(Seq("idint")),
      bloomCols = Some(Seq("idstr"))).start()
    try {
      mem.addData((1L to 40L).map(i => c(i, s"b$i", i)): _*)
      q.processAllAvailable()
      mem.addData((41L to 64L).map(i => c(i, s"b$i", i)): _*)
      q.processAllAvailable()
      // coverage is CURRENT after the stream alone — every live file has
      // sidecar stats without any manual refreshZoneMap call
      val live = table.current.inputFiles.toSet
      assert(live.nonEmpty)
      assert(graft.sources.ZoneMap.read(dir).map(_.file).toSet === live,
        "streamed sidecar does not cover the live files")
      assert(graft.sources.ZoneMap.readBloom(dir).map(_.file).toSet === live,
        "streamed bloom sidecar does not cover the live files")
      // and a selective pushed predicate on a store read skips files
      val (df, index) = table.scanAuto()
      assert(df.filter(col("idint") <= 10L).count() === 10L)
      assert(index.lastKept < index.lastListed,
        s"no files skipped (${index.lastKept} of ${index.lastListed})")
      // a point lookup on the KEY (min/max straddles nothing here, but
      // the bloom column is the key) stays exact through the bloom
      assert(df.filter(col("idstr") === "t1_7").count() === 1L)
    } finally q.stop()
  }

  test("UpsertTable scanAuto: ANY pushed predicate prunes store files via Catalyst") {
    val dir = tmp("zmta")
    val table = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some((col("idint") / lit(16L)).cast("long")))
    table.seed((1L to 64L).map(i => c(i, s"b$i", i)).toDF())
    table.refreshZoneMap(Seq("idint"))
    val total = table.current.inputFiles.length
    val (df, index) = table.scanAuto()
    // a plain consumer .filter — no scanRange, no bounds plumbing —
    // skips non-intersecting buckets' files at planning time
    val got = df.filter(col("idint").between(20L, 30L))
      .collect().map(_.getAs[Long]("idint")).sorted.toSeq
    assert(got === (20L to 30L).toSeq)
    assert(index.lastListed === total)
    assert(index.lastKept < total,
      s"no files skipped (${index.lastKept} of ${index.lastListed})")
    // equality and IN prune through the same frame; results stay exact
    assert(df.filter(col("idint") === 7L).count() === 1L)
    assert(index.lastKept < total)
    assert(df.filter(col("idint").isin(3L, 50L)).count() === 2L)
    // schema matches the entity (no v/partition columns leak through)
    assert(df.columns.toSeq === table.current.columns.toSeq)
    // after a merge + refresh, scanAuto serves the NEW version's rows
    table.merge(Seq(c(21, "edited", 99)).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
    table.refreshZoneMap(Seq("idint"))
    val (df2, idx2) = table.scanAuto()
    val row = df2.filter(col("idint") === 21L).collect()
    assert(row.length === 1 && row(0).getAs[String]("body") === "edited")
    assert(idx2.lastKept < df2.inputFiles.length ||
      idx2.lastKept === idx2.lastListed) // pruning engaged or map absent
    // no sidecar: behaves exactly like current (all files, right rows)
    val bare = new Livestream.UpsertTable(spark, tmp("zmta2"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some((col("idint") / lit(16L)).cast("long")))
    bare.seed((1L to 32L).map(i => c(i, s"b$i", i)).toDF())
    val (bdf, bidx) = bare.scanAuto()
    assert(bdf.filter(col("idint") <= 4L).count() === 4L)
    assert(bidx.lastKept === bidx.lastListed)
  }

  test("vacuum drops old table versions, keeps current + CDC history") {
    val dir = tmp("tbl5")
    val table = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF())
    table.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    table.merge(Seq(c(1, "b", 2)).toDF().withColumn("_seq", lit(0L)), "_seq")
    table.merge(Seq(c(1, "d", 3)).toDF().withColumn("_seq", lit(0L)), "_seq")
    table.vacuum(keep = 1)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val names = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.map(_.getFileName.toString).toSet
    } finally dirs.close()
    assert(names.filter(_.startsWith("v=")) === Set("v=2"))
    assert(table.current.head().getAs[String]("body") === "d")
    assert(table.edits.count() === 2)            // CDC history intact
  }

  // ==== partition-pruned incremental merge ============================

  private def listLeafFiles(dir: java.nio.file.Path): Set[String] = {
    if (!Files.exists(dir)) return Set.empty
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
    } finally s.close()
  }

  private def cSub(id: Long, sub: String, body: String, score: Long) =
    C(id, s"t1_$id", id, s"u$id", "t3_r", "t3_r", body, score, sub, null, body.length.toLong)

  test("partitioned merge rewrites only touched partitions; untouched files are identical") {
    val dir = tmp("ptbl")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    // v=0: two targets
    table.merge(Seq(cSub(1, "aa", "a1", 1), cSub(2, "bb", "b1", 1)).toDF()
      .withColumn("_seq", lit(0L)), "_seq")
    assert(table.manifest(0) === Map("aa" -> 0L, "bb" -> 0L))
    val bbFilesV0 = listLeafFiles(java.nio.file.Paths.get(dir, "v=0", "pt=bb"))
    assert(bbFilesV0.nonEmpty)
    // v=1: batch touches only target aa
    table.merge(Seq(cSub(1, "aa", "a2", 2), cSub(3, "aa", "a3", 1)).toDF()
      .withColumn("_seq", lit(0L)), "_seq")
    // manifest: aa rewritten at 1, bb still referenced AT VERSION 0
    assert(table.manifest(1) === Map("aa" -> 1L, "bb" -> 0L))
    // v=1 contains ONLY the touched partition
    assert(!Files.exists(java.nio.file.Paths.get(dir, "v=1", "pt=bb")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "v=1", "pt=aa")))
    // the untouched target's files are the SAME physical files (stronger
    // than byte-identical: carried by reference, zero write amplification)
    assert(listLeafFiles(java.nio.file.Paths.get(dir, "v=0", "pt=bb")) === bbFilesV0)
    // merged state is correct across both partitions
    val rows = table.current.collect()
      .map(r => r.getAs[String]("idstr") -> r.getAs[String]("body")).toMap
    assert(rows === Map("t1_1" -> "a2", "t1_2" -> "b1", "t1_3" -> "a3"))
    // pruned single-partition read
    assert(table.partition("bb").collect().map(_.getAs[String]("idstr")).toSeq
      === Seq("t1_2"))
  }

  test("partitioned (keyBucket) merge state equals the flat full-rewrite merge") {
    val flat = new Livestream.UpsertTable(spark, tmp("flat"), Merge.comments,
      Seq.empty[C].toDF())
    val parted = new Livestream.UpsertTable(spark, tmp("part"), Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    val b1 = (1L to 20L).map(i => c(i, s"v$i", i)).toDF()
      .withColumn("_seq", lit(0L))
    val b2 = (10L to 30L).map(i => c(i, s"w$i", i * 2)).toDF()
      .withColumn("_seq", lit(1L))
    Seq(flat, parted).foreach { t => t.merge(b1, "_seq"); t.merge(b2, "_seq") }
    val f = flat.current.orderBy("idstr").collect().toSeq
    val p = parted.current.select(flat.current.columns.toSeq.map(col(_)): _*)
      .orderBy("idstr").collect().toSeq
    assert(p === f)
    // replaced_at defaults to wall-clock now() — compare the stable columns
    assert(flat.edits.select("idstr", "previous_body").orderBy("idstr").collect().toSeq
      === parted.edits.select("idstr", "previous_body").orderBy("idstr").collect().toSeq)
  }

  test("partitioned merge batch-boundary invariance: one batch == two batches") {
    val one = new Livestream.UpsertTable(spark, tmp("pb1"), Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    val two = new Livestream.UpsertTable(spark, tmp("pb2"), Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    val rows = (1L to 12L).map(i => c(i, s"v$i", i))
    val edits = (1L to 12L).filter(_ % 3 == 0).map(i => c(i, s"e$i", i + 100))
    one.merge((rows ++ edits).toDF()
      .withColumn("_seq", monotonically_increasing_id()), "_seq")
    two.merge(rows.toDF().withColumn("_seq", monotonically_increasing_id()), "_seq")
    two.merge(edits.toDF().withColumn("_seq", monotonically_increasing_id()), "_seq")
    assert(one.current.orderBy("idstr").collect().toSeq
      === two.current.orderBy("idstr").collect().toSeq)
  }

  test("partitioned crash-replay: staged partitions invisible, replay overwrites") {
    val dir = tmp("ptbl2")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    table.merge(Seq(cSub(1, "aa", "a1", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    val editBatch = Seq(cSub(1, "aa", "a2", 2)).toDF().withColumn("_seq", lit(0L))
    table.merge(editBatch, "_seq")
    assert(table.edits.count() === 1)
    // crash between stage write and pointer move: roll the pointer back
    Files.writeString(java.nio.file.Paths.get(dir, "_VERSION"), "0")
    assert(table.current.head().getAs[String]("body") === "a1")   // v=1 invisible
    assert(table.edits.count() === 0)
    table.mergeReplay(editBatch, "_seq")                        // replay
    assert(table.current.head().getAs[String]("body") === "a2")
    assert(table.edits.count() === 1)
  }

  test("partitioned vacuum keeps leaves still referenced by kept manifests") {
    val dir = tmp("ptbl3")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    table.merge(Seq(cSub(1, "aa", "a1", 1), cSub(2, "bb", "b1", 1)).toDF()
      .withColumn("_seq", lit(0L)), "_seq")                     // v=0: aa, bb
    table.merge(Seq(cSub(1, "aa", "a2", 2)).toDF()
      .withColumn("_seq", lit(0L)), "_seq")                     // v=1: aa
    table.merge(Seq(cSub(1, "aa", "a3", 3)).toDF()
      .withColumn("_seq", lit(0L)), "_seq")                     // v=2: aa
    table.vacuum(keep = 1)
    // v=0/pt=aa superseded twice over → gone; v=0/pt=bb still live → kept
    assert(!Files.exists(java.nio.file.Paths.get(dir, "v=0", "pt=aa")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "v=0", "pt=bb")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "v=1")))  // fully superseded
    val rows = table.current.collect()
      .map(r => r.getAs[String]("idstr") -> r.getAs[String]("body")).toMap
    assert(rows === Map("t1_1" -> "a3", "t1_2" -> "b1"))
    assert(table.edits.count() === 2)                           // CDC intact
  }

  test("optimize compacts many files into few, preserving data (flat + partitioned)") {
    // seed with AQE partition-coalescing off so the merge writes several
    // small files — the fragmentation optimize exists to fix. The parted
    // table sets a files-per-bucket cap > 1 (intra-bucket write
    // parallelism), which is exactly the fragmentation optimize compacts.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val flat = new Livestream.UpsertTable(spark, tmp("opt1"), Merge.comments,
      Seq.empty[C].toDF())
    val parted = new Livestream.UpsertTable(spark, tmp("opt2"), Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(4),
      partitioning = Some(col("subreddit")))
    try {
      flat.merge((1L to 40L).map(i => c(i, s"v$i", i)).toDF()
        .withColumn("_seq", lit(0L)), "_seq")
      parted.merge((1L to 40L).map(i => cSub(i, s"s${i % 2}", s"v$i", i)).toDF()
        .withColumn("_seq", lit(0L)), "_seq")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val before = flat.current.inputFiles.length
    assert(before > 1)
    val data = flat.current.orderBy("idstr").collect().toSeq
    flat.optimize(maxFiles = 1)
    assert(flat.current.inputFiles.length === 1)
    assert(flat.current.orderBy("idstr").collect().toSeq === data)
    // partitioned table: each oversized partition compacts; manifest advances
    val pBefore = parted.current.inputFiles.length
    assert(pBefore > 2)
    val pData = parted.current.orderBy("idstr").collect().toSeq
    parted.optimize(maxFiles = 1)
    assert(parted.current.inputFiles.length === 2)   // one file per partition
    assert(parted.current.orderBy("idstr").collect().toSeq === pData)
    // idempotent: nothing left oversized → no new version
    val v = parted.currentVersion
    parted.optimize(maxFiles = 1)
    assert(parted.currentVersion === v)
  }

  test("partitioned optimize batches 3+ oversized buckets into ONE job") {
    // four fragmented buckets (outputPartitions=4 writes several files per
    // leaf), then one optimize pass must compact ALL of them in a single
    // Spark job — the per-leaf serialization would be 4 jobs here and
    // thousands at scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val parted = new Livestream.UpsertTable(spark, tmp("optb"), Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(4),
      partitioning = Some(col("subreddit")))
    try {
      parted.merge((1L to 80L).map(i => cSub(i, s"s${i % 4}", s"v$i", i)).toDF()
        .withColumn("_seq", lit(0L)), "_seq")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val data = parted.current.orderBy("idstr").collect().toSeq
    val perLeafBefore = parted.current.inputFiles
      .groupBy(f => f.split("/").find(_.startsWith("pt=")).get).view.mapValues(_.length)
    assert(perLeafBefore.size === 4 && perLeafBefore.values.forall(_ > 1))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      parted.optimize(maxFiles = 1)
      Thread.sleep(1000)   // listener events post asynchronously
      // AQE materializes the repartition exchange as its own job, so one
      // write action = 2 jobs — the point is the count is INDEPENDENT of
      // the bucket count (per-leaf serialization would be ≥ 4 here)
      assert(jobs.get() <= 2, s"optimize ran ${jobs.get()} jobs for 4 buckets")
    } finally spark.sparkContext.removeSparkListener(listener)
    // every leaf compacted to one file; data byte-identical
    val perLeafAfter = parted.current.inputFiles
      .groupBy(f => f.split("/").find(_.startsWith("pt=")).get).view.mapValues(_.length)
    assert(perLeafAfter.size === 4 && perLeafAfter.values.forall(_ === 1))
    assert(parted.current.orderBy("idstr").collect().toSeq === data)

    // mixed-version manifest: a second merge touches only SOME buckets, so
    // oversized leaves now live at different versions — the single
    // partitioned write must still read them all (basePath spans versions)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      parted.merge((81L to 120L).map(i => cSub(i, s"s${i % 2}", s"w$i", i)).toDF()
        .withColumn("_seq", lit(0L)), "_seq")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val mixedData = parted.current.orderBy("idstr").collect().toSeq
    val vs = parted.current.inputFiles
      .flatMap(_.split("/").find(_.startsWith("v="))).distinct
    assert(vs.length > 1, s"expected leaves spanning versions, got ${vs.toSeq}")
    parted.optimize(maxFiles = 1)
    val perLeafMixed = parted.current.inputFiles
      .groupBy(f => f.split("/").find(_.startsWith("pt=")).get).view.mapValues(_.length)
    assert(perLeafMixed.values.forall(_ === 1))
    assert(parted.current.orderBy("idstr").collect().toSeq === mixedData)
  }

  test("config KV persists across reopen; store_edits toggles CDC") {
    val dir = tmp("cfg")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF())
    assert(table.storeEditsEnabled)                  // reference default: on
    table.setConfig("store_edits", "false")
    table.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    table.merge(Seq(c(1, "b", 2)).toDF().withColumn("_seq", lit(0L)), "_seq")
    assert(table.edits.count() === 0)                // CDC suppressed by config
    table.setConfig("store_edits", "true")
    table.merge(Seq(c(1, "d", 3)).toDF().withColumn("_seq", lit(0L)), "_seq")
    assert(table.edits.count() === 1)                // CDC back on
    // reopened handle sees the same persisted config (merge also pins the
    // partitioning descriptor on first publish)
    val reopened = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF())
    assert(reopened.config === Map("store_edits" -> "true", "partitioning" -> "none"))
  }

  test("store_edits parses defensively: foreign values degrade to default") {
    val table = new Livestream.UpsertTable(spark, tmp("cfg2"), Merge.comments,
      Seq.empty[C].toDF())
    for (v <- Seq("1", "yes", "TRUE", "garbage")) {
      table.setConfig("store_edits", v)
      assert(table.storeEditsEnabled, s"'$v' should not disable CDC")
    }
    for (v <- Seq("false", "FALSE", "0", "no", "off", " False "))  {
      table.setConfig("store_edits", v)
      assert(!table.storeEditsEnabled, s"'$v' should disable CDC")
    }
  }

  test("partitioning descriptor is pinned at first publish; mismatched reopen fails fast") {
    val dir = tmp("pin")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    table.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    // same expression → reopen reads fine
    val same = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    assert(same.current.count() === 1)
    // reopened UNPARTITIONED: at()/merge() must throw, not read v=N directly
    val asFlat = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF())
    intercept[IllegalArgumentException](asFlat.current)
    intercept[IllegalArgumentException](
      asFlat.merge(Seq(c(2, "b", 1)).toDF().withColumn("_seq", lit(0L)), "_seq"))
    // reopened with a DIFFERENT bucket count: pruned read would miss keys
    val rebucketed = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    intercept[IllegalArgumentException](rebucketed.current)
    // and the flat table refuses a partitioned reopen symmetrically
    val flatDir = tmp("pinflat")
    val flat = new Livestream.UpsertTable(spark, flatDir, Merge.comments,
      Seq.empty[C].toDF())
    flat.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    val asParted = new Livestream.UpsertTable(spark, flatDir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    intercept[IllegalArgumentException](asParted.current)
  }

  test("legacy descriptor-less table: mismatched layout caught structurally, not pinned") {
    // simulate a pre-guard archive: publish partitioned, then strip the
    // descriptor from _config (tables written before the guard existed)
    val dir = tmp("legacy")
    val orig = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    orig.merge(Seq(cSub(1, "aa", "a1", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    val cfg = java.nio.file.Paths.get(dir, "_config")
    Files.writeString(cfg, Files.readString(cfg).linesIterator
      .filterNot(_.startsWith("partitioning=")).mkString("\n"))
    // flat reopen must fail on READ (not silently scan v=N) and must not
    // pin its own wrong descriptor via merge
    val asFlat = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF())
    intercept[IllegalArgumentException](asFlat.current)
    intercept[IllegalArgumentException](
      asFlat.merge(Seq(c(2, "b", 1)).toDF().withColumn("_seq", lit(0L)), "_seq"))
    assert(!Files.readString(cfg).contains("partitioning=none"))
    // the correct layout still opens, and its next merge re-pins the key
    val same = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    assert(same.current.count() === 1)
    same.merge(Seq(cSub(2, "bb", "b1", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    assert(same.config.get("partitioning").exists(_ != "none"))
    // symmetric: a legacy FLAT table refuses a partitioned reopen
    val fdir = tmp("legacyflat")
    val flat = new Livestream.UpsertTable(spark, fdir, Merge.comments,
      Seq.empty[C].toDF())
    flat.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    val fcfg = java.nio.file.Paths.get(fdir, "_config")
    Files.writeString(fcfg, Files.readString(fcfg).linesIterator
      .filterNot(_.startsWith("partitioning=")).mkString("\n"))
    val asParted = new Livestream.UpsertTable(spark, fdir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    intercept[IllegalArgumentException](asParted.current)
  }

  test("partition() on an unpartitioned table throws instead of returning all rows") {
    val table = new Livestream.UpsertTable(spark, tmp("nopart"), Merge.comments,
      Seq.empty[C].toDF())
    table.merge(Seq(c(1, "a", 1), c(2, "b", 2)).toDF()
      .withColumn("_seq", lit(0L)), "_seq")
    intercept[UnsupportedOperationException](table.partition("sub"))
  }

  test("manifest read skips malformed (tab-less) lines from a torn write") {
    val dir = tmp("torn")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(col("subreddit")))
    table.merge(Seq(cSub(1, "aa", "a1", 1)).toDF().withColumn("_seq", lit(0L)), "_seq")
    val m = java.nio.file.Paths.get(dir, "_manifest", "m=0")
    Files.writeString(m, Files.readString(m) + "\n0")   // truncated trailing line
    assert(table.manifest(0) === Map("aa" -> 0L))       // parses, skips the torn line
    assert(table.current.count() === 1)
  }

  test("keyBucketValue (driver-side eval) is in lockstep with keyBucket (plan-side)") {
    val n = 16
    val keys = Seq("t3_a", "t3_zz9", "t1_abc123", "", "t3_ünïcødé", "x" * 200)
    val planSide = keys.toDF("idstr")
      .select(col("idstr"), Livestream.keyBucket(nBuckets = n).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      assert(Livestream.keyBucketValue(k, n) === planSide(k),
        s"driver/plan bucket mismatch for key '$k'")
    }
  }

  test("T2 batch cap keeps the newest rows") {
    val capped = Livestream.capBatch(
      Seq(c(1, "a", 1), c(2, "b", 2), c(3, "c", 3)).toDF(), "created", 2)
    assert(capped.select("idstr").as[String].collect().toSet === Set("t1_2", "t1_3"))
  }

  test("T7 union of target streams tolerates missing columns") {
    val a = Seq((1L, "x")).toDF("id", "a_only")
    val b = Seq((2L, 9.0)).toDF("id", "b_only")
    val u = Livestream.unionTargets(Seq(a, b))
    assert(u.count() === 2 && u.columns.toSet === Set("id", "a_only", "b_only"))
  }

  test("flatMapGroupsWithState sessionization: data-driven close + watermark timeout") {
    import graft.streaming.Sessionize
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Sessionize.Ev]
    val q = Sessionize.streaming(mem.toDS(), gapSec = 10)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      def out() = spark.table("sess_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      mem.addData(Sessionize.Ev(1, ts(100)), Sessionize.Ev(1, ts(105)),
        Sessionize.Ev(2, ts(100)))
      q.processAllAvailable()
      assert(out().isEmpty)                      // nothing closed yet
      // a far-future event for user 1 closes their session DATA-DRIVEN
      mem.addData(Sessionize.Ev(1, ts(200)))
      q.processAllAvailable()
      assert(out().contains((1L, 100L, 105L, 2L)))
      // watermark advance times out user 2's idle session
      mem.addData(Sessionize.Ev(3, ts(300)))
      q.processAllAvailable()
      mem.addData(Sessionize.Ev(99, ts(400)))    // advance again → user 1's 2nd closes
      q.processAllAvailable()
      val o = out()
      assert(o.contains((2L, 100L, 100L, 1L)))
      assert(o.contains((1L, 200L, 200L, 1L)))
      assert(!o.exists(_._1 == 99L))             // newest session still open
    } finally q.stop()
  }

  test("windowed aggregation with watermark over a replayed stream (T3 windows)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "kind", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"kind")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      mem.addData((t(0), "a", 1.0), (t(1), "a", 2.0), (t(6), "a", 4.0))
      q.processAllAvailable()
      val out = spark.table("win_out").collect()
        .map(r => (r.getStruct(0).getTimestamp(0).toString, r.getLong(2), r.getDouble(3)))
      assert(out.toSet === Set(
        ("2024-01-01 10:00:00.0", 2L, 3.0),
        ("2024-01-01 10:05:00.0", 1L, 4.0)))
    } finally q.stop()
  }

  test("a compaction that writes no leaf for a fully-DV-suppressed bucket carries its entries — no resurrection") {
    val nB = 4
    val dir = tmp("dvcarry")
    // outputPartitions=3 (NOT 4): the write salt is xxhash64(key) mod n,
    // the bucket xxhash64(key) mod nB — equal moduli would make salt ≡
    // bucket and collapse every leaf to one file, leaving compaction
    // nothing to attempt
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(3),
      partitioning = Some(Livestream.keyBucket(nBuckets = nB)))
    // AQE coalesces this test-sized shuffle to one task (one file per
    // leaf — nothing for compaction to attempt); hold it off for the
    // seed so the leaves really carry several files each
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try table.seed(
      (0 until 64).map(i => c(i.toLong, s"b$i", i.toLong)).toDF()) // v0
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // every key of ONE bucket, suppressed via the deletion vector
    val b0Keys = (0 until 64).map(i => s"t1_$i")
      .filter(k => Livestream.keyBucketValue(k, nB) == 0L)
    assert(b0Keys.size > 1)
    assert(table.purgeKeys(b0Keys.toDF("idstr"), dv = true)
      === b0Keys.size.toLong)                                        // v1
    val vDv = table.currentVersion
    // the salted seed wrote several files per bucket, so compaction
    // attempts every bucket — including the fully-suppressed one, whose
    // dv-filtered read is EMPTY and writes no leaf
    table.optimize(maxFiles = 1)                                      // v2
    val vOpt = table.currentVersion
    assert(vOpt === vDv + 1)
    // the suppressed bucket kept its OLD leaf by reference...
    assert(table.manifest(vOpt)("0") === table.manifest(vDv)("0"))
    // ...so its vector entries must CARRY: nothing resurrects
    assert(table.current.filter(col("idstr").isin(b0Keys: _*)).count() === 0L)
    assert(table.dvAt(vOpt).count(_._1 == "0") === b0Keys.size,
      "empty-rewrite bucket's DV entries retired — suppressed rows resurrect")
    // other buckets DID rewrite (compaction did real work) and CDC
    // across the compaction emits nothing (data identical both sides)
    assert(table.manifest(vOpt).exists { case (pt, v) => pt != "0" && v == vOpt })
    assert(table.changes(vDv, vOpt).count() === 0L)
    // the ZORDER path shares the caveat: still nothing resurrects
    table.optimize(zorderBy = Some(("idint", "score")))               // v3
    assert(table.current.filter(col("idstr").isin(b0Keys: _*)).count() === 0L)
    assert(table.changes(vOpt, table.currentVersion).count() === 0L)
  }

  test("vacuumRetain: an untimed version blocks the cutoff; pins compare against the cutoff itself") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    var now = 1000000L
    val dir = tmp("retain_untimed")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)),
      clock = () => now)
    table.seed(Seq(c(1, "a", 1)).toDF())                             // v0
    (2 to 4).foreach { i =>
      now += 10000
      table.merge(Seq(c(i.toLong, s"b$i", i.toLong)).toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
    }                                                                // v1-v3
    // simulate a pre-publish-time-recording store upgraded in place:
    // v1's history line vanishes (the shape the scaladoc promises
    // "never ages out")
    val hist = JPaths.get(dir, "_history")
    val kept = JFiles.readAllLines(hist).asScala
      .filterNot(_.startsWith("1\t")).toSeq
    JFiles.write(hist, kept.mkString("\n").getBytes)
    assert(!table.publishTimes.contains(1L))
    now += 10000000
    // a pin BELOW the cutoff refuses even though v0 is the only
    // eligible victim (the old guard compared against eligibility and
    // let untimed pins below the cutoff through)
    val e = intercept[IllegalArgumentException](
      table.vacuumRetain(1000L, pinned = Seq(0L)))
    assert(e.getMessage.contains("pinned"))
    assert(table.versionAvailable(0L), "refusal must delete nothing")
    // unpinned: the cutoff stops AT the untimed version — v0 retires,
    // v1 (untimed) and everything above it survive even though v2's
    // recorded time is far past the horizon
    table.vacuumRetain(1000L)
    assert(!table.versionAvailable(0L))
    assert(table.versionAvailable(1L), "untimed version aged out")
    assert(table.versionAvailable(2L),
      "version above an untimed blocker was deleted below the cutoff")
    assert(table.current.count() === 4L)
  }

  test("DV suppression is bucket-scoped: a key re-inserted into a different bucket is not swallowed") {
    val dir = tmp("dvbucket")
    // a NON-key-derived (but key-stable by contract) partitioning: the
    // vector must couple (bucket, hash), not trust the expression
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(col("subreddit")))
    val rows = (0 until 8).map(i =>
      c(i.toLong, s"b$i", i.toLong).copy(subreddit = s"g${i % 2}"))
    table.seed(rows.toDF())                                          // v0
    assert(table.purgeKeys(
      Seq(("t1_3", "g1")).toDF("idstr", "subreddit"), dv = true) === 1L) // v1
    assert(table.current.filter(col("idstr") === "t1_3").count() === 0L)
    // the key re-arrives in a DIFFERENT bucket (g9): the merge touches
    // only g9, so the g1 entry carries — and must not suppress the new
    // row, whose recomputed bucket differs from the entry's
    table.merge(Seq(c(3, "b3-new", 30).copy(subreddit = "g9")).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false)) // v2
    val back = table.current.filter(col("idstr") === "t1_3").collect()
    assert(back.length === 1, "re-inserted key swallowed by a stale " +
      "DV entry from another bucket")
    assert(back.head.getAs[String]("subreddit") === "g9")
    // the old row's bucket entry still suppresses AT ITS bucket: time
    // travel to v1 shows the key gone, and the entry itself carried
    assert(table.at(1L).filter(col("idstr") === "t1_3").count() === 0L)
    assert(table.dvAt(table.currentVersion).exists(_._1 == "g1"))
  }

  test("materializeDv: rewrites exactly the named buckets, retires the vector; vacuum retires unreachable _dv files") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = tmp("dvmat")
    val nB = 8
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nB)))
    table.seed((0 until 64).map(i => c(i.toLong, s"b$i", i.toLong)).toDF()) // v0
    // an untouched-bucket witness: a key in a bucket the purge misses
    val purged = Seq("t1_3", "t1_7")
    val purgedBuckets = purged
      .map(k => Livestream.keyBucketValue(k, nB).toString).toSet
    assert(table.purgeKeys(purged.toDF("idstr"), dv = true) === 2L)   // v1
    assert(table.dvAt(1L).nonEmpty)
    val m1 = table.manifest(1L)
    val n = table.materializeDv()                                     // v2
    assert(n === purgedBuckets.size)
    // (a) the carried d-file shrinks to the un-rewritten remainder —
    // here empty: every named bucket rewrote
    assert(table.dvAt(table.currentVersion).isEmpty)
    // (b) bytes rewritten = the named buckets only: every other bucket
    // carries BY REFERENCE (same manifest entry)
    val m2 = table.manifest(2L)
    m1.keys.foreach { pt =>
      if (purgedBuckets(pt)) assert(m2(pt) === 2L)
      else assert(m2(pt) === m1(pt), s"untouched bucket $pt rewritten")
    }
    // the suppressed bytes left the data files
    assert(spark.read.parquet(table.current.inputFiles: _*)
      .filter(col("idstr").isin(purged: _*)).count() === 0L)
    assert(table.current.count() === 62L)
    // (c) old versions still read correctly through retained files and
    // their own vector resolution
    assert(table.at(0L).count() === 64L)
    assert(table.at(1L).filter(col("idstr").isin(purged: _*)).count() === 0L)
    assert(table.at(1L).count() === 62L)
    // idempotent: no vector, nothing published
    assert(table.materializeDv() === 0)
    assert(table.currentVersion === 2L)
    // a FULLY-suppressed bucket drops from the manifest on materialize
    val b0Keys = (0 until 64).map(i => s"t1_$i")
      .filter(k => Livestream.keyBucketValue(k, nB) == 0L)
    assert(table.purgeKeys(b0Keys.toDF("idstr"), dv = true)
      === b0Keys.size.toLong)                                         // v3
    // the fully-suppressed bucket writes NO leaf — it drops from the
    // manifest rather than rewriting, so the "buckets rewritten" count
    // is 0 even though a (metadata-only) version still published and
    // the vector retired
    assert(table.materializeDv() === 0)                               // v4
    assert(table.currentVersion === 4L)
    assert(!table.manifest(4L).contains("0"))
    assert(table.dvAt(4L).isEmpty)
    // _dv retirement: d-files live at 1 (purge), 2 (empty carry),
    // 3 (purge), 4 (empty carry); vacuum to the current version keeps
    // only the newest d ≤ cutoff and everything above
    table.vacuum(keep = 1)   // cutoff = 4
    val dvFiles = {
      import scala.jdk.CollectionConverters._
      val s = JFiles.list(JPaths.get(dir, "_dv"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(dvFiles === Set("d=4"),
      s"unreachable _dv files survived vacuum: $dvFiles")
    assert(table.current.count() === 64L - 2L - b0Keys.size)
  }

  test("dvAutoMaterialize: past the bound, the purge compacts its own suppressed buckets immediately") {
    val dir = tmp("dvauto")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)),
      dvAutoMaterialize = Some(3))
    table.seed((0 until 32).map(i => c(i.toLong, s"b$i", i.toLong)).toDF()) // v0
    // 2 entries ≤ bound 3: the sidecar carries, nothing materializes
    assert(table.purgeKeys(Seq("t1_3", "t1_7").toDF("idstr"), dv = true)
      === 2L)                                                        // v1
    assert(table.currentVersion === 1L)
    assert(table.dvAt(1L).size === 2)
    // 2 more → 4 > 3: the purge publishes the vector (v2) and then
    // materializes it (v3) — the sidecar resets, the bytes leave
    assert(table.purgeKeys(Seq("t1_11", "t1_13").toDF("idstr"), dv = true)
      === 2L)                                                        // v2+v3
    assert(table.currentVersion === 3L)
    assert(table.dvAt(table.currentVersion).isEmpty)
    val gone = Seq("t1_3", "t1_7", "t1_11", "t1_13")
    assert(table.current.filter(col("idstr").isin(gone: _*)).count() === 0L)
    assert(spark.read.parquet(table.current.inputFiles: _*)
      .filter(col("idstr").isin(gone: _*)).count() === 0L,
      "auto-materialize left suppressed bytes in the data files")
    assert(table.current.count() === 28L)
    // the intermediate vector version still time-travels correctly
    assert(table.at(2L).count() === 28L)
  }

  test("savepoint pins an artifact basis: the pinned view version survives vacuumView(keep) and still serves") {
    import graft.streaming.{Savepoint, StreamTopK}
    val dir = tmp("sp_art"); val root = tmp("sp_art_view")
    val spRoot = tmp("sp_art_root")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    table.seed(Seq(c(1, "a", 10), c(2, "b", 20)).toDF())             // v0
    StreamTopK.seedView(table, root, "subreddit", "idstr", "score", 2)
    val sp = Savepoint.create(spRoot, "w", Seq(table), Seq(root))
    assert(sp.basisOf(root) === 0L)
    // the artifact advances past the pin
    table.merge(Seq(c(3, "d", 30)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v1
    StreamTopK.refresh(spark, table, root, "subreddit", "idstr", "score", 2)
    assert(BasisView.basis(root) === 1L)
    // vacuumView with the savepoint's basis kept: the pinned dir
    // survives and still serves the pinned world (top-2 without the
    // later score-30 arrival; the refreshed view leads with it)
    BasisView.vacuumView(root, keep = Set(sp.basisOf(root)))
    val pinnedView = spark.read.parquet(
      java.nio.file.Paths.get(root, s"v=${sp.basisOf(root)}").toString)
    assert(pinnedView.agg(max("m")).head().getLong(0) === 20L)
    assert(StreamTopK.view(spark, root)
      .agg(max("m")).head().getLong(0) === 30L)
    // without the keep, the superseded pinned dir reclaims
    BasisView.vacuumView(root)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, s"v=${sp.basisOf(root)}")))
  }

  test("savepoint: a consistent multi-table world — merges between reads change nothing; vacuum refuses pinned components") {
    import graft.streaming.Savepoint
    val dir1 = tmp("sp_t1"); val dir2 = tmp("sp_t2"); val root = tmp("sp_root")
    def mk(dir: String) = new Livestream.UpsertTable(spark, dir,
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    val facts = mk(dir1); val dim = mk(dir2)
    facts.seed(Seq(c(1, "f1", 10), c(2, "f2", 20)).toDF())           // v0
    dim.seed(Seq(c(1, "d1", 1)).toDF())                              // v0
    facts.merge(Seq(c(3, "f3", 30)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v1
    val sp = Savepoint.create(root, "w1", Seq(facts, dim))
    assert(sp.tables.values.toSet === Set(1L, 0L))
    // read ONE side, then a merge publishes, then the other side: the
    // composed world is still the pinned one
    val factsAtSp = sp.read(facts).select("idstr").collect()
      .map(_.getString(0)).toSet
    dim.merge(Seq(c(9, "d9", 9)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // dim v1
    facts.merge(Seq(c(4, "f4", 40)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // facts v2
    val dimAtSp = sp.read(dim).select("idstr").collect()
      .map(_.getString(0)).toSet
    assert(factsAtSp === Set("t1_1", "t1_2", "t1_3"))
    assert(dimAtSp === Set("t1_1"), "post-savepoint dim merge leaked " +
      "into the pinned read")
    // load() resolves the published vector; an unknown table refuses
    val sp2 = Savepoint.load(root, "w1")
    assert(sp2 === sp)
    intercept[RuntimeException](sp2.versionOfPath("/nope"))
    // vacuum REFUSES to erase a pinned component (facts pin = v1 < the
    // keep-1 cutoff v2)...
    val e = intercept[IllegalArgumentException](facts.vacuum(keep = 1))
    assert(e.getMessage.contains("savepoint"))
    assert(facts.versionAvailable(1L), "refusal must delete nothing")
    // ...purge's erasure vacuum hits the same refusal (erasure must
    // consciously outrank the snapshot — by dropping it). The purge
    // VERSION still publishes (the snapshot stops serving the keys)
    // before the history vacuum refuses — the act completes on retry
    // after the drop, which is the safe partial order (suppress now,
    // reclaim bytes after the operator decides).
    val e2 = intercept[IllegalArgumentException](
      facts.purge(Seq("t1_1"), eraseHistory = true))
    assert(e2.getMessage.contains("savepoint"))
    assert(facts.currentVersion === 3L)   // the purge version landed
    assert(facts.current.filter(col("idstr") === "t1_1").count() === 0L)
    // vacuum ABOVE the pin proceeds (facts v0 < pin v1 is reclaimable)
    facts.vacuum(keep = 3)
    assert(!facts.versionAvailable(0L) && facts.versionAvailable(1L))
    // drop retires the vector first, then the pins — vacuum unblocks
    Savepoint.drop(root, "w1", Seq(facts, dim))
    assert(Savepoint.list(root).isEmpty)
    facts.vacuum(keep = 1)
    assert(!facts.versionAvailable(1L) && facts.versionAvailable(3L))
    // a TORN create (pins written, vector crash): load refuses — no
    // half-pinned world ever resolves — and drop() is the recovery
    facts.asInstanceOf[Livestream.UpsertTable]
    val torn = Savepoint.create(root, "torn", Seq(facts))
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "sp=torn"))
    intercept[IllegalArgumentException](Savepoint.load(root, "torn"))
    assert(facts.savepointPins.contains("torn"), "orphan pin must hold")
    Savepoint.drop(root, "torn", Seq(facts))
    assert(!facts.savepointPins.contains("torn"))
    assert(torn.name === "torn")
  }

  test("optimistic concurrency: a second writer conflicts LOUDLY before writing; recoverCommit rolls the orphan back; a failed attempt self-releases") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = tmp("occ")
    def mk() = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    val a = mk()
    a.seed(Seq(c(1, "a1", 10)).toDF())                                // v0
    // simulate a writer that CLAIMED v1 and crashed before the pointer
    // move: claim file + half-staged data dir, pointer still at 0
    JFiles.createDirectories(JPaths.get(dir, "_commits"))
    JFiles.createFile(JPaths.get(dir, "_commits", "c=1"))
    JFiles.createDirectories(JPaths.get(dir, "v=1", "pt=9"))
    val b = mk()
    val batch = Seq(c(2, "b2", 20)).toDF().withColumn("_seq", lit(0L))
    // the second writer detects the claim BEFORE writing a byte — a
    // typed conflict, never a silent last-writer-wins
    val e = intercept[Livestream.ConcurrentWriteException](
      b.merge(batch, "_seq", storeEdits = Some(false)))
    assert(e.version === 1L && e.getMessage.contains("claimed"))
    assert(b.currentVersion === 0L, "conflict must publish nothing")
    assert(b.current.count() === 1L)
    // the orphan blocks until the OPERATOR rolls it back: claim and
    // invisible staging clear, the table is back at its published state
    assert(b.recoverCommit())
    assert(!JFiles.exists(JPaths.get(dir, "v=1")))
    assert(!JFiles.exists(JPaths.get(dir, "_commits", "c=1")))
    assert(!b.recoverCommit(), "recovery is idempotent")
    b.merge(batch, "_seq", storeEdits = Some(false))                  // v1
    assert(b.current.count() === 2L)
    // a FAILED (non-crash) attempt releases its own claim: a batch that
    // dies mid-job leaves no claim behind, so plain retry works
    val bad = Seq(c(3, "x", 30)).toDF()
      .withColumn("body", raise_error(lit("boom")).cast("string"))
      .withColumn("_seq", lit(0L))
    intercept[Exception](b.merge(bad, "_seq", storeEdits = Some(false)))
    assert(!JFiles.exists(JPaths.get(dir, "_commits", "c=2")),
      "failed attempt must release its claim")
    b.merge(Seq(c(3, "b3", 30)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                               // v2
    assert(b.current.count() === 3L)
    // successful publishes keep their commit records; vacuum retires
    // the ones below the cutoff
    assert(JFiles.exists(JPaths.get(dir, "_commits", "c=2")))
    b.vacuum(keep = 1)
    assert(!JFiles.exists(JPaths.get(dir, "_commits", "c=1")))
    assert(JFiles.exists(JPaths.get(dir, "_commits", "c=2")))
  }

  test("optimistic concurrency: interleaved publishers — every loser retries via mergeRetry and ALL batches land") {
    val dir = tmp("occ_threads")
    def mk() = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    mk().seed(Seq(c(0, "seed", 0)).toDF())                            // v0
    val nWriters = 4
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nWriters).map { w =>
      val th = new Thread(() => {
        try {
          start.await()
          // each pipeline its own handle, all racing on one table: the
          // claim serializes them; every loser re-merges against the
          // winner's published state, so no batch is ever lost
          mk().mergeRetry(
            Seq(c(100L + w, s"w$w", w.toLong)).toDF()
              .withColumn("_seq", lit(0L)),
            "_seq", storeEdits = Some(false), maxAttempts = 40)
        } catch { case t: Throwable => errs.add(t) }
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    val t = mk()
    // one version per successful merge — the claim made them serial
    assert(t.currentVersion === nWriters.toLong)
    val keys = t.current.select("idstr").collect().map(_.getString(0)).toSet
    assert(keys === (Set("t1_0") ++
      (0 until nWriters).map(w => s"t1_${100 + w}")),
      "a concurrent writer's batch was lost")
  }

  test("autoCompact: a merge past the bound compacts its own oversized buckets — version sequence, file-count drop, identical reads, DV carry") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = tmp("autoc")
    val nB = 2
    // intra-bucket write parallelism (outputPartitions = 5 > bound = 2)
    // is what makes leaves wide; AQE would coalesce the test-sized
    // salted repartition to one task, hiding the width — off for writes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
        Seq.empty[C].toDF(), outputPartitions = Some(5),
        partitioning = Some(Livestream.keyBucket(nBuckets = nB)),
        autoCompact = Some(2))
      def leafFiles(v: Long, pt: String): Int = {
        val d = JPaths.get(dir, s"v=$v", s"pt=$pt")
        if (!JFiles.exists(d)) 0
        else {
          val s = JFiles.list(d)
          try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .count().toInt
          finally s.close()
        }
      }
      table.seed((0 until 64).map(i => c(i.toLong, s"b$i", i.toLong)).toDF()) // v0
      assert(table.manifest(0L).exists { case (pt, v) => leafFiles(v, pt) > 2 },
        "seed did not produce an oversized leaf — fixture broken")
      // a DV purge before the compaction: its entries must RETIRE only
      // through rewrites, and suppressed rows must never resurface
      val gone = "t1_7"
      val bGone = Livestream.keyBucketValue(gone, nB)
      assert(table.purgeKeys(Seq(gone).toDF("idstr"), dv = true) === 1L) // v1
      assert(table.dvAt(1L).nonEmpty)
      val want = table.current.orderBy("idstr").collect()
        .map(_.getAs[String]("idstr")).toSeq
      // a merge key hashing to the OTHER bucket: the merge rewrites that
      // bucket narrow, so the auto-compaction's oversized set is exactly
      // gone's (still seed-wide) bucket — whose dv-filtered rewrite must
      // retire the entry and drop the suppressed bytes
      val mergeK = (100 until 200)
        .find(i => Livestream.keyBucketValue(s"t1_$i", nB) != bGone).get
      // ONE merge → TWO versions: the merge publish (v2), then the
      // auto-compaction it triggered (v3)
      table.merge(Seq(c(mergeK.toLong, "new", 1)).toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false)) // v2+v3
      assert(table.currentVersion === 3L,
        "merge past the bound must publish merge + auto-compaction")
      // the file-count drop: every live leaf is now within the bound
      table.manifest(3L).foreach { case (pt, v) =>
        assert(leafFiles(v, pt) <= 2, s"bucket $pt still oversized")
      }
      // reads identical (plus the merged row), the suppressed key still
      // suppressed — and since the entry's bucket rewrote dv-filtered,
      // the vector retired and the bytes left the files
      val got = table.current.orderBy("idstr").collect()
        .map(_.getAs[String]("idstr")).toSeq
      assert(got === (want :+ s"t1_$mergeK").sorted)
      assert(!got.contains(gone))
      assert(table.dvAt(3L).isEmpty,
        "rewritten buckets must retire their DV entries")
      assert(spark.read.parquet(table.current.inputFiles: _*)
        .filter(col("idstr") === gone).count() === 0L)
      // CARRY half: suppress a key, then merge keys that all hash into
      // the OTHER bucket — only that bucket oversizes and rewrites, so
      // the suppressed key's entry (other bucket) must carry verbatim
      val gone2 = "t1_9"
      val b2 = Livestream.keyBucketValue(gone2, nB)
      assert(table.purgeKeys(Seq(gone2).toDF("idstr"), dv = true) === 1L) // v4
      val widen = (200 until 300)
        .filter(i => Livestream.keyBucketValue(s"t1_$i", nB) != b2)
        .take(12)
      table.merge(widen.map(i => c(i.toLong, s"w$i", 1)).toDF()
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false)) // v5+v6
      assert(table.currentVersion === 6L)
      val dvNow = table.dvAt(table.currentVersion)
      assert(dvNow.map(_._1).toSet === Set(b2.toString),
        s"un-rewritten bucket's DV entry must carry: $dvNow")
      assert(table.current.filter(col("idstr") === gone2).count() === 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("savepoint hardening: tab-safe vector parse, vector-resolved drop, re-create tightens pins, read refuses a vacuumed pin") {
    import graft.streaming.Savepoint
    val root = tmp("sp_hard_root")
    // a table PATH carrying a literal tab must not shift the version
    // field of its vector line: the parse splits at the LAST tab (the
    // registerBasis discipline) — asserted on a hand-written vector
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "sp=tabby"),
      "T\t/x/with\ttab\t7".getBytes)
    assert(Savepoint.load(root, "tabby").tables === Map("/x/with\ttab" -> 7L))
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "sp=tabby"))
    val tabDir = tmp("sp_hard_tbl")
    val t = new Livestream.UpsertTable(spark, tabDir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    t.seed(Seq(c(1, "a", 10)).toDF())                                 // v0
    val sp = Savepoint.create(root, "w", Seq(t))
    assert(Savepoint.load(root, "w").versionOf(t) === 0L)
    // drop() resolves the pin set FROM THE VECTOR: a caller passing a
    // DIFFERENT (here: empty) table list still retires every recorded
    // pin — no orphan pin blocking vacuum forever under an omitted root
    t.merge(Seq(c(2, "b", 20)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                               // v1
    Savepoint.drop(root, "w", Nil)
    assert(t.savepointPins.isEmpty, "vector-recorded pin not retired")
    t.vacuum(keep = 1)
    assert(!t.versionAvailable(0L))
    // re-create under an existing name: the committed pin tightens to
    // the new version (the min(old, new) hold exists only inside the
    // create window — over-retain, never under-pin)
    val sp1 = Savepoint.create(root, "w", Seq(t))
    assert(sp1.versionOf(t) === 1L)
    t.merge(Seq(c(3, "d", 30)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                               // v2
    val sp2 = Savepoint.create(root, "w", Seq(t))
    assert(sp2.versionOf(t) === 2L)
    assert(t.savepointPins("w") === 2L, "pin must tighten to the new " +
      "vector's version after the commit")
    // Snapshot.read REFUSES a pin whose version was erased out-of-band
    // (at() would silently serve the empty frame as the pinned world);
    // the out-of-band act: delete the pin file directly, then vacuum
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(tabDir, "_savepoints", "w"))
    t.merge(Seq(c(4, "e", 40)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                               // v3
    t.vacuum(keep = 1)
    assert(!t.versionAvailable(2L))
    val e = intercept[IllegalArgumentException](sp2.read(t))
    assert(e.getMessage.contains("no longer readable"))
    assert(sp.name === "w")
  }

  test("savepoint pins an ANN generation: the pinned world serves the old generation; dropGeneration refuses until the savepoint drops") {
    import graft.streaming.{Savepoint, StreamAnn}
    val root = tmp("sp_ann_root"); val annRoot = tmp("sp_ann_idx")
    val facts = new Livestream.UpsertTable(spark, tmp("sp_ann_f"),
      Merge.comments, Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    facts.seed(Seq(c(1, "f1", 10)).toDF())                            // v0
    val corpus = (0L until 24L).map(i =>
      (i, Seq.tabulate(4)(j => math.sin(i * 1.9 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val (_, c0, r0) = StreamAnn.rebuild(spark, annRoot, "gen0", corpus,
      "vec_id", "embedding", nlist = 2, m = 2, ksub = 4, iters = 1,
      nBuckets = 4)
    // the savepointed world: facts + the ANN index at its ACTIVE gen
    val sp = Savepoint.create(root, "w", Seq(facts),
      generationRoots = Seq(annRoot))
    assert(sp.generationOf(annRoot) === "gen0")
    assert(Savepoint.load(root, "w").generationOf(annRoot) === "gen0")
    // the index re-trains past the pin: pointer flips to gen1
    StreamAnn.rebuild(spark, annRoot, "gen1", corpus, "vec_id",
      "embedding", nlist = 4, m = 2, ksub = 4, iters = 1, nBuckets = 4)
    assert(StreamAnn.activeGeneration(annRoot) === Some("gen1"))
    // the pinned world still opens (and serves) the OLD generation
    val (tPin, cPin, rPin) = StreamAnn.openGeneration(spark, annRoot,
      sp.generationOf(annRoot))
    assert(cPin === c0 && rPin === r0)
    assert(StreamAnn.serve(tPin, corpus, "vec_id", "embedding", cPin,
      rPin, Seq(0L, 1L), k = 3, nprobe = 2).count() > 0L)
    // generation retirement REFUSES the pinned generation
    val e = intercept[IllegalArgumentException](
      StreamAnn.dropGeneration(annRoot, "gen0"))
    assert(e.getMessage.contains("savepoint"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(annRoot, "gen0")), "refusal deleted data")
    // Savepoint.drop retires the generation pin too (recorded in the
    // vector) — then retirement proceeds
    Savepoint.drop(root, "w", Seq(facts))
    StreamAnn.dropGeneration(annRoot, "gen0")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(annRoot, "gen0")))
  }

  test("migrate: rename/retype/drop rewrite under a new generation — stale handle refuses, CDC crosses at own shapes, crash leaves old serving") {
    import org.apache.spark.sql.types._
    val dir = tmp("migrate")
    val part = Some(Livestream.keyBucket(nBuckets = 4))
    val t1 = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1), partitioning = part)
    t1.seed(Seq(c(1, "b1", 10), c(2, "b2", 20), c(3, "b3", 30)).toDF()) // v0
    val to = StructType(Seq(
      StructField("idstr", StringType), StructField("author", StringType),
      StructField("body", StringType),
      StructField("score_s", StringType), StructField("body_len", LongType)))
    // same-schema rewrite refused (that is optimize's job)
    val e0 = intercept[IllegalArgumentException](
      t1.migrate(t1.currentSchema, identity))
    assert(e0.getMessage.contains("same-schema"))
    // a transform missing a target column fails loudly
    val eM = intercept[IllegalArgumentException](
      t1.migrate(to, df => df.drop("textlen")))
    assert(eM.getMessage.contains("score_s"))
    // the migration: rename textlen→body_len, retype score→string,
    // drop everything else; one row filtered out (a delete across CDC)
    t1.migrate(to, df => df
      .filter(col("idstr") =!= "t1_3")
      .withColumnRenamed("textlen", "body_len")
      .withColumn("score_s", concat(lit("s"), col("score"))))          // v1
    // the OLD handle is done — the widen-only validator refuses it
    val eStale = intercept[IllegalArgumentException](t1.current)
    assert(eStale.getMessage.contains("WIDEN-ONLY") ||
      eStale.getMessage.contains("type"))
    // reopen with the new shape
    val entity2 = Merge.Entity(textCol = "body",
      editTextCol = "previous_body", updatable = Seq("score_s"),
      frozen = Seq("author", "body_len"))
    val t2 = new Livestream.UpsertTable(spark, dir, entity2,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(to.fields.map(_.copy(nullable = true)))),
      outputPartitions = Some(1), partitioning = part)
    val rows = t2.current.collect()
      .map(r => r.getAs[String]("idstr") -> r.getAs[String]("score_s")).toMap
    assert(rows === Map("t1_1" -> "s10", "t1_2" -> "s20"))
    // time travel returns the shape AS OF the version
    assert(t2.at(0L).columns.contains("textlen"))
    assert(!t2.at(0L).columns.contains("body_len"))
    assert(t2.migrations === Seq(1L))
    // CDC across the boundary: every surviving key an update with
    // before at the OLD generation and after at the NEW; the filtered
    // key a delete
    val ch = t2.changes(0L, 1L)
    assert(ch.columns.contains("before_textlen") &&
      ch.columns.contains("after_body_len") &&
      ch.columns.contains("before_score") &&
      ch.columns.contains("after_score_s"))
    val kinds = ch.select("kind", "idstr").collect()
      .map(r => r.getString(1) -> r.getString(0)).toMap
    assert(kinds === Map("t1_1" -> "update", "t1_2" -> "update",
      "t1_3" -> "delete"))
    // a post-migration merge with the NEW handle works
    t2.merge(Seq(("t1_4", null: String, null: String, "s40", 2L))
      .toDF("idstr", "author", "body", "score_s", "body_len")
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))  // v2
    assert(t2.current.count() === 3L)
    // non-crossing ranges still use the aligned-read CDC
    assert(t2.changes(1L, 2L).filter(col("kind") === "insert").count() === 1L)
    // CRASH REHEARSAL: stage a fake half-migration for v3 (schema file
    // written, pointer never moved) — the old version keeps serving and
    // a plain merge REFUSES to adopt the orphan generation
    val orphan = StructType(Seq(StructField("idstr", StringType),
      StructField("renamed_again", LongType)))
    val d = java.nio.file.Paths.get(dir, "_schema")
    java.nio.file.Files.write(d.resolve("s=3"), orphan.json.getBytes)
    assert(t2.current.count() === 3L, "staged migration must not serve")
    val eOrphan = intercept[IllegalArgumentException](
      t2.merge(Seq(("t1_5", null: String, null: String, "s50", 2L))
        .toDF("idstr", "author", "body", "score_s", "body_len")
        .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false)))
    assert(eOrphan.getMessage.contains("STAGED"))
    // the documented recovery: re-run the migration that staged it
    // (here: retire the orphan instead) — merges proceed again
    java.nio.file.Files.delete(d.resolve("s=3"))
    t2.merge(Seq(("t1_5", null: String, null: String, "s50", 2L))
      .toDF("idstr", "author", "body", "score_s", "body_len")
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))  // v3
    assert(t2.current.count() === 4L)
  }

  test("migrate on a FLAT table; CDC across TWO boundaries; savepoint re-create re-points") {
    import org.apache.spark.sql.types._
    import graft.streaming.Savepoint
    val dir = tmp("migrate_flat")
    val t1 = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1))
    t1.seed(Seq(c(1, "b1", 10), c(2, "b2", 20)).toDF())              // v0
    // savepoint the pre-migration flat world (also proves the pin and
    // refusal machinery on the FLAT layout)
    val spRoot = tmp("migrate_flat_sp")
    val sp0 = Savepoint.create(spRoot, "w", Seq(t1))
    assert(sp0.versionOf(t1) === 0L)
    val to1 = StructType(Seq(
      StructField("idstr", StringType), StructField("author", StringType),
      StructField("body", StringType), StructField("score_s", StringType)))
    t1.migrate(to1, df => df
      .withColumn("score_s", concat(lit("s"), col("score"))))          // v1
    val mk1 = Merge.Entity("body", "previous_body", Seq("score_s"),
      Seq("author"))
    val t2 = new Livestream.UpsertTable(spark, dir, mk1,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(to1.fields.map(_.copy(nullable = true)))),
      outputPartitions = Some(1))
    assert(t2.current.collect().map(_.getAs[String]("score_s")).sorted
      .toSeq === Seq("s10", "s20"))
    // re-create the savepoint under the SAME name: it re-points
    val sp1 = Savepoint.create(spRoot, "w", Seq(t2))
    assert(sp1.versionOf(t2) === 1L)
    assert(Savepoint.load(spRoot, "w").versionOf(t2) === 1L)
    // a SECOND migration (drop author) — the range (0, 2) crosses TWO
    // boundaries; the diff still reads each endpoint at its own shape
    val to2 = StructType(Seq(
      StructField("idstr", StringType), StructField("body", StringType),
      StructField("score_s", StringType)))
    t2.migrate(to2, df => df.drop("author"))                           // v2
    val t3 = new Livestream.UpsertTable(spark, dir,
      Merge.Entity("body", "previous_body", Seq("score_s"), Nil),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(to2.fields.map(_.copy(nullable = true)))),
      outputPartitions = Some(1))
    assert(t3.migrations === Seq(1L, 2L))
    val ch = t3.changes(0L, 2L)
    assert(ch.columns.contains("before_score") &&     // v0's shape
      ch.columns.contains("before_author") &&
      ch.columns.contains("after_score_s") &&         // v2's shape
      !ch.columns.contains("after_author"))
    assert(ch.filter(col("kind") === "update").count() === 2L)
    // the flat savepoint still pins: vacuum refuses below the pin
    val e = intercept[IllegalArgumentException](t3.vacuum(keep = 1))
    assert(e.getMessage.contains("savepoint"))
    assert(t3.versionAvailable(1L))
    Savepoint.drop(spRoot, "w", Seq(t3))
    t3.vacuum(keep = 1)
    assert(!t3.versionAvailable(1L) && t3.versionAvailable(2L))
  }

  test("StreamSession: maintained table tracks session MERGE and SPLIT across trigger boundaries; untouched groups verbatim; erasure reseeds") {
    import graft.streaming.{Sessionize, StreamSession}
    import graft.operators.Scd
    val tmpD = tmp("streamsess")
    val dir = s"$tmpD/tbl"; val root = s"$tmpD/view"
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)))
    def row(id: Long, author: String, score: Long) =
      C(id, s"t1_$id", id, author, "p", "s", s"b$id", score, "sub", null, 2L)
    // author A: two sessions on the score axis at gap 150 ({0, 50} and
    // {300, 350}); author B: one session — the untouched-group witness
    table.seed(Seq(row(1, "A", 0), row(2, "A", 50), row(3, "A", 300),
      row(4, "A", 350), row(10, "B", 7), row(11, "B", 57)).toDF()) // v0
    StreamSession.seedView(table, root, "author", "score", 150L)
    def sessions(a: String) = StreamSession.view(spark, root)
      .filter(col("author") === a).orderBy("session_id").collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"),
        r.getAs[Long]("n_events"))).toSeq
    assert(sessions("A") === Seq((0L, 50L, 2L), (300L, 350L, 2L)))
    val b0 = sessions("B")
    // trigger 2 — MERGE: one arriving event (score 175) bridges both of
    // A's sessions (gaps 125 and 125 ≤ 150): the dirty-group rescan
    // fuses them into ONE session spanning the boundary
    table.merge(Seq(row(5, "A", 175)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                             // v1
    StreamSession.refresh(spark, table, root, "author", "score", 150L)
    assert(sessions("A") === Seq((0L, 350L, 5L)), "session MERGE failed")
    assert(sessions("B") === b0, "untouched group not served verbatim")
    // trigger 3 — SPLIT: the bridge row's score moves away (an UPDATE
    // through the merge layer): the fused session cuts back in two,
    // plus the moved event's own singleton
    table.merge(Seq(row(5, "A", 2000)).toDF().withColumn("_seq", lit(1L)),
      "_seq", storeEdits = Some(false))                             // v2
    StreamSession.refresh(spark, table, root, "author", "score", 150L)
    assert(sessions("A") ===
      Seq((0L, 50L, 2L), (300L, 350L, 2L), (2000L, 2000L, 1L)),
      "session SPLIT failed")
    // maintained ≡ batch structurally: the view equals the shared batch
    // sessionizer over the current snapshot, for every group
    val viewAll = StreamSession.view(spark, root)
      .orderBy("author", "session_id").collect().map(_.toSeq).toSeq
    val batchAll = Scd.cdcBaseSession(table.current, "author", "score", 150L)
      .orderBy("author", "session_id").collect().map(_.toSeq).toSeq
    assert(viewAll === batchAll)
    // refresh is idempotent at basis == current
    StreamSession.refresh(spark, table, root, "author", "score", 150L)
    assert(BasisView.basis(root) === table.currentVersion)
    // erasure between triggers: the recorded basis vanishes, refresh
    // RESEEDS from the current snapshot (the post-erasure contract)
    table.purge(Seq("t1_5"), eraseHistory = true)
    StreamSession.refresh(spark, table, root, "author", "score", 150L)
    assert(sessions("A") === Seq((0L, 50L, 2L), (300L, 350L, 2L)))
    assert(BasisView.basis(root) === table.currentVersion)
    // vacuumView reclaims superseded view dirs, keeps the basis
    BasisView.vacuumView(root)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root,
      s"v=${BasisView.basis(root)}")))
    assert(Sessionize.batch(table.current, "author",
      col("score").cast("long"), 150L).count() === 3L)
  }

  test("cdcApplySession: dirty-group rescan equals the batch rescan under inserts, score moves, and DV deletes") {
    import graft.operators.Scd
    val dir = tmp("cdcsess")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 8)))
    // authors g0/g1/g2, events on the score axis
    val rows = (0 until 24).map(i =>
      C(i.toLong, s"t1_$i", i.toLong, s"g${i % 3}", "p", "s",
        s"b$i", (i * 40).toLong, "sub", null, 2L))
    table.seed(rows.toDF())                                           // v0
    val base = Scd.cdcBaseSession(table.at(0L), "author", "score", 100L)
    // merge: score moves split/join sessions; one brand-new author
    val batch = Seq(
      C(3, "t1_3", 3, "g0", "p", "s", "b3", 1000L, "sub", null, 2L),
      C(100, "t1_100", 100, "g9", "p", "s", "x", 5L, "sub", null, 1L))
    table.merge(batch.toDF().withColumn("_seq", lit(0L)), "_seq",
      storeEdits = Some(false))                                       // v1
    val v1 = Scd.cdcApplySession(base, table.changes(0L, 1L),
      table.at(1L), "author", "score", 100L)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("author", "session_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    assert(canon(v1) === canon(
      Scd.cdcBaseSession(table.at(1L), "author", "score", 100L)))
    // a DV purge rides changes() as deletes; touched groups re-collapse
    assert(table.purgeKeys(Seq("t1_0", "t1_100").toDF("idstr"),
      dv = true) === 2L)                                              // v2
    val v2 = Scd.cdcApplySession(v1, table.changes(1L, 2L),
      table.at(2L), "author", "score", 100L)
    assert(canon(v2) === canon(
      Scd.cdcBaseSession(table.at(2L), "author", "score", 100L)))
    // the fully-purged new author's sessions vanished
    assert(!canon(v2).exists(_._1 == "g9"))
  }

  test("basis registry: vacuumRetain refuses from registered bases even when the caller pins nothing") {
    var now = 1000000L
    val dir = tmp("basereg")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = 4)),
      clock = () => now)
    table.seed(Seq(c(1, "a", 1), c(2, "b", 5)).toDF())               // v0
    val root = tmp("basereg_view")
    graft.streaming.StreamTopK.seedView(table, root, "subreddit",
      "idstr", "score", 2)
    // the artifact registered its basis on publish — visible to the store
    assert(table.registeredBases.get(root).contains(0L))
    now += 10000
    table.merge(Seq(c(3, "d", 9)).toDF().withColumn("_seq", lit(0L)),
      "_seq", storeEdits = Some(false))                              // v1
    now += 10000000
    // the caller FORGETS the pin — retention still refuses, because the
    // registry knows the recorded basis
    val e = intercept[IllegalArgumentException](table.vacuumRetain(1000L))
    assert(e.getMessage.contains("_bases"))
    assert(table.versionAvailable(0L), "refusal must delete nothing")
    // a refresh advances the registered basis; retention then proceeds
    graft.streaming.StreamTopK.refresh(spark, table, root, "subreddit",
      "idstr", "score", 2)
    assert(table.registeredBases.get(root).contains(1L))
    table.vacuumRetain(1000L)
    assert(!table.versionAvailable(0L) && table.versionAvailable(1L))
    // unregister retires the pin entirely
    table.unregisterBasis(root)
    assert(!table.registeredBases.contains(root))
  }

  test("flat merge of an empty batch returns false and publishes no version") {
    val table = new Livestream.UpsertTable(spark, tmp("flatEmpty"),
      Merge.comments, Seq.empty[C].toDF())
    assert(table.merge(Seq(c(1, "a", 1)).toDF().withColumn("_seq", lit(0L)), "_seq"))
    val v = table.currentVersion
    assert(!table.merge(Seq.empty[C].toDF().withColumn("_seq", lit(0L)), "_seq"))
    assert(table.currentVersion === v)
  }

  test("maintain sinks on a flat table: an empty trigger moves no version, no basis") {
    // every sink routed through Livestream.maintain, each on a FLAT
    // table: after a trigger that publishes, an AvailableNow trigger
    // that encodes no rows publishes no version, and the view sinks'
    // basis stays where it was
    import graft.streaming._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.DataStreamWriter
    import org.apache.spark.sql.types.StructType
    def flat(entity: Merge.Entity, schema: StructType) =
      new Livestream.UpsertTable(spark, tmp("emptyTrig"), entity,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    def facts() = new Livestream.UpsertTable(spark, tmp("emptyTrig"),
      Merge.comments, Seq.empty[C].toDF())
    def counters() = flat(StreamSketch.sketchEntity, StreamSketch.sketchSchema)
    type Sink = (DataFrame, Livestream.UpsertTable, String) => DataStreamWriter[Row]
    // (name, table, first trigger's rows, an input that encodes NO rows,
    //  the sink, its view root if it maintains one)
    final case class Case(name: String, table: Livestream.UpsertTable,
        rows: DataFrame, nothing: DataFrame, sink: Sink,
        root: Option[String] = None)
    def mk(name: String, table: Livestream.UpsertTable, rows: DataFrame,
        sink: Sink, root: Option[String] = None) =
      Case(name, table, rows, rows.limit(0), sink, root)
    val comments = Seq(c(1, "a", 10), c(2, "b", 20)).toDF()
    val docs = Seq(IxDoc(1, "the quick brown fox jumps"),
      IxDoc(2, "over the lazy dog again")).toDF()
    val labeled = Seq(LDoc(1, "ham eggs", "a"), LDoc(2, "spam win", "b")).toDF()
    val vecs = Seq(VecRow(1, Array(2.0, 0.1)), VecRow(2, Array(0.1, 3.0))).toDF()
    val coarse: IndexedSeq[IndexedSeq[Double]] =
      IndexedSeq(IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0))
    val cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      IndexedSeq(IndexedSeq(IndexedSeq(0.0), IndexedSeq(0.1)),
        IndexedSeq(IndexedSeq(0.0), IndexedSeq(0.1)))
    val views = Seq("topk", "window", "session").map(n => n -> tmp(n)).toMap
    val cases = Seq(
      mk("upsertSink", facts(), comments,
        (s, t, ckp) => Livestream.upsertSink(s, t, ckp)),
      mk("indexSink", flat(StreamIndex.indexEntity, StreamIndex.indexSchema),
        docs, (s, t, ckp) => StreamIndex.indexSink(s, "doc_id", "text", t, ckp)),
      mk("trgmSink", flat(StreamTrgm.trgmEntity, StreamTrgm.trgmSchema), docs,
        (s, t, ckp) => StreamTrgm.trgmSink(s, "doc_id", "text", t, ckp)),
      mk("lshSink", flat(StreamLsh.lshEntity, StreamLsh.lshSchema), docs,
        (s, t, ckp) => StreamLsh.lshSink(s, "doc_id", "text", t, ckp, n = 2)),
      // a zero vector has no direction: the trigger has a source row
      // but encodes none
      Case("encodeSink", flat(StreamAnn.annEntity, StreamAnn.annSchema), vecs,
        Seq(VecRow(3, Array(0.0, 0.0))).toDF(),
        (s, t, ckp) => StreamAnn.encodeSink(s, "vec_id", "embedding", coarse,
          cbRes, t, ckp)),
      mk("assignSink",
        flat(StreamClusters.clusterEntity, StreamClusters.clusterSchema), vecs,
        (s, t, ckp) => StreamClusters.assignSink(s, "vec_id", "embedding",
          Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), t, ckp)),
      mk("scdSink", flat(StreamScd.scdEntity, StreamScd.scdSchema),
        Seq((1L, 10L, 1L, "x"), (1L, 20L, 2L, "y")).toDF("k", "ts", "tb", "attr"),
        (s, t, ckp) => StreamScd.scdSink(s, "k", "ts", "tb", "attr", t, ckp)),
      mk("modelSink", flat(StreamModel.modelEntity, StreamModel.modelSchema),
        Seq(MDoc(1, "ham eggs", true), MDoc(2, "spam win", false)).toDF(),
        (s, t, ckp) => StreamModel.modelSink(s, "doc_id", "text", col("is_t"),
          t, ckp)),
      mk("nbSink", counters(), labeled,
        (s, t, ckp) => StreamNb.nbSink(s, "doc_id", "text", "lang", t, ckp)),
      mk("langidSink", counters(), labeled,
        (s, t, ckp) => StreamLangid.langidSink(s, "text", "lang", t, ckp)),
      mk("graphSink", counters(),
        Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("basket", "item"),
        (s, t, ckp) => StreamGraph.graphSink(s, "basket", "item", t, ckp)),
      mk("sketchSink", counters(), docs,
        (s, t, ckp) => StreamSketch.sketchSink(s, "text", t, ckp, 3, 2)),
      mk("momentSink", counters(), vecs,
        (s, t, ckp) => StreamSketch.momentSink(s, "embedding", 2, t, ckp)),
      mk("hllSink", counters(), labeled,
        (s, t, ckp) => StreamSketch.hllSink(s, "lang", "text", t, ckp)),
      mk("bloomSink", counters(), docs,
        (s, t, ckp) => StreamSketch.bloomSink(s, "doc_id", 1024, 3, t, ckp)),
      mk("histSink", counters(), labeled,
        (s, t, ckp) => StreamSketch.histSink(s, "lang", "doc_id", t, ckp)),
      mk("leaderboardSink", facts(), comments,
        (s, t, ckp) => StreamTopK.leaderboardSink(s, t, views("topk"),
          "subreddit", "idstr", "score", 2, ckp), Some(views("topk"))),
      mk("windowSink", facts(), comments,
        (s, t, ckp) => StreamWindow.windowSink(s, t, views("window"),
          Seq("subreddit"), "textlen", "score", 20L, 10L, ckp),
        Some(views("window"))),
      mk("sessionSink", facts(), comments,
        (s, t, ckp) => StreamSession.sessionSink(s, t, views("session"),
          "author", "score", 150L, ckp), Some(views("session"))))
    for (k <- cases) {
      val src = tmp("emptyTrigSrc"); val ckp = tmp("emptyTrigCkp")
      def trigger(rows: DataFrame, part: String) = {
        rows.write.parquet(s"$src/$part")
        val q = k.sink(spark.readStream.schema(k.rows.schema)
            .option("recursiveFileLookup", "true").parquet(src), k.table, ckp)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      trigger(k.rows, "a")
      assert(k.table.currentVersion === 0L, k.name)
      val basis = k.root.map(BasisView.basis)
      assert(basis.forall(_ === 0L), k.name)
      val q = trigger(k.nothing, "b")
      // the trigger ran: one micro-batch over the new input
      assert(q.recentProgress.exists(_.batchId == 1L), k.name)
      assert(k.table.currentVersion === 0L, s"${k.name} published on an empty trigger")
      assert(k.root.map(BasisView.basis) === basis, k.name)
    }
  }

  test("a seeded duplicate key fails later merges, naming table and key; purgeKeys repairs it") {
    def failure(table: Livestream.UpsertTable, batch: Seq[C]): String = {
      val e = intercept[Exception](
        table.merge(batch.toDF().withColumn("_seq", lit(0L)), "_seq"))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
    }
    for (part <- Seq(None, Some(Livestream.keyBucket(nBuckets = 4)))) {
      val dir = tmp("dupKey")
      val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
        Seq.empty[C].toDF(), partitioning = part)
      table.seed(Seq(c(1, "a", 1), c(1, "b", 2), c(2, "x", 3)).toDF())
      val named = s"key 't1_1' has 2 rows in UpsertTable at $dir"
      val msgs = failure(table, Seq(c(1, "z", 4)))
      assert(msgs.contains(named), msgs)
      // a flat merge folds the whole table: a batch that never names
      // the duplicated key fails all the same
      if (part.isEmpty) {
        val other = failure(table, Seq(c(2, "y", 5)))
        assert(other.contains(named), other)
      }
      assert(table.currentVersion === 0L, s"partitioning $part")
      // the repair path: purging the key drops every copy, and the
      // next merge of it publishes
      assert(table.purgeKeys(Seq("t1_1").toDF("idstr")) === 2L)
      assert(table.merge(Seq(c(1, "z", 4)).toDF().withColumn("_seq", lit(0L)),
        "_seq"), s"partitioning $part")
      assert(table.current.filter(col("idstr") === "t1_1")
        .select("body").as[String].collect().toSeq === Seq("z"),
        s"partitioning $part")
    }
  }

  test("keyBucket publishes spread whole buckets evenly over the write tasks: seed and merge") {
    import scala.jdk.CollectionConverters._
    val nB = 16
    val k = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val dir = tmp("balance")
    val table = new Livestream.UpsertTable(spark, dir, Merge.comments,
      Seq.empty[C].toDF(), partitioning = Some(Livestream.keyBucket(nBuckets = nB)))
    // the write task of each bucket a version wrote, from its one file's
    // part-NNNNN number; then the bucket count of every task that wrote
    def bucketsPerTask(v: Long): Seq[Int] = {
      val task = table.manifest(v).collect { case (pt, w) if w == v =>
        val s = Files.list(java.nio.file.Paths.get(dir, s"v=$v", s"pt=$pt"))
        val files = try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toList finally s.close()
        assert(files.size === 1, s"bucket $pt of v$v")   // one file per bucket
        pt -> files.head.stripPrefix("part-").take(5).toInt
      }
      task.values.groupBy(identity).values.map(_.size).toSeq.sorted
    }
    val keys = (1L to 320L)
    table.seed(keys.map(i => c(i, s"b$i", i)).toDF())
    assert(bucketsPerTask(0L) === Seq.fill(k)(nB / k))
    def merge(ids: Seq[Long]): Unit = table.merge(ids.map(i => c(i, s"e$i", i + 1)).toDF()
      .withColumn("_seq", lit(0L)), "_seq", storeEdits = Some(false))
    merge(keys.filter(_ % 3 == 0))                                   // every bucket
    assert(bucketsPerTask(1L) === Seq.fill(k)(nB / k))
    // k buckets that share one residue mod k: one bucket per task
    val sameResidue = keys.filter(i => Livestream.keyBucketValue(s"t1_$i", nB) % k == 1)
    merge(sameResidue)
    assert(bucketsPerTask(2L) === Seq.fill(k)(1))
    assert(table.current.count() === keys.size.toLong)
  }
}
