package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Search, Similarity, Sketches, TextAnalysis}
import graft.streaming.{Livestream, StreamAnn, StreamClusters, StreamIndex, StreamLsh, StreamSketch, StreamTrgm}

/** Scale-out training-data-pipeline operators (dedup, similarity search,
  * text analysis, multimodal plumbing) over documents/embeddings.
  *
  * Approximate operators (MinHash-LSH, SimHash banding) are made
  * oracle-checkable by exact verification of candidates — the oracle
  * computes ground truth relationally, the Spark side must find exactly
  * that set. Ratios/similarities are integer basis points throughout.
  */
object PipelineQueries {

  /** documents ∪ planted exact duplicates (every 10th doc re-inserted
    * under a shifted id) — the corpus for exact-dedup. */
  private def corpusWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000))
  }

  /** [[corpusWithDups]] ∪ the STITCH plants that force the blocked
    * substring-dedup's over-approximation to actually occur: for every
    * 25th doc (disjoint from the %10 full-copy plants) with ≥ 9
    * normalized tokens, plant one doc holding its first 8 tokens and one
    * holding tokens 2-9. In the original, the 8-grams at starts 0 AND 1
    * then both repeat corpus-wide, so the blocked form merges them into
    * one 9-token span whose FULL text occurs nowhere else — the span
    * q_dedup_spans_eval must count as unverified. */
  private def corpusWithStitch(s: SparkSession, dir: String): DataFrame = {
    val w = split(Dedup.normText(col("text")), " ")
    val eligible = Tables.load(s, dir, "documents").select("doc_id", "text")
      .filter(col("doc_id") % 25 === 3 && size(w) >= 9)
    val b = eligible.select((col("doc_id") + 2000000L).as("doc_id"),
      array_join(slice(w, 1, 8), " ").as("text"))
    val c = eligible.select((col("doc_id") + 2100000L).as("doc_id"),
      array_join(slice(w, 2, 8), " ").as("text"))
    corpusWithDups(s, dir).unionByName(b).unionByName(c)
  }

  /** embeddings ∪ deterministic near-duplicate PLANTS (every 20th vector
    * re-inserted under a shifted id with a mild per-index perturbation;
    * landed cosines 0.948-0.98 against their originals, no cross pair
    * reaches 0.9) — the near-dup corpus for the LSH scale-path queries.
    * All double math, expression shapes mirrored EXACTLY in the oracle's
    * `list_transform` (same association order → identical IEEE doubles;
    * DuckDB's lambda index is 1-based, hence its `(i-1)`). */
  private def embWithDups(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    e.unionByName(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + (lit(0.4) * ((i % 5).cast("double") - lit(2.0))) / lit(2.0)))
          .as("embedding")))
  }

  /** Fixed BM25 query set for q_bm25, mirrored literally in the oracle's
    * VALUES — corpus-vocabulary terms plus one absent term ('zebra') to
    * pin the dropped-term contract (a query term no document contains
    * contributes nothing, in both engines). */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark join merge",
    1L -> "hash table scan",
    2L -> "stream window batch zebra")

  /** Corpus-size memo for the √n codebook sizing rule (ivfTune): the
    * count is CORPUS METADATA, not query work — a production deployment
    * sizes its codebook from table stats — so it is computed once per
    * session per (corpus, dir) instead of adding a count scan to every
    * invocation of the cluster/semdedup/ivf queries (visible in the
    * driver's 1-rep bench tail). */
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Memo key scoped to the SESSION as well as the sf dir: a stopped
    * session followed by a new one in the same JVM gets a fresh
    * applicationId, so the memos never serve tables/counts bound to a
    * dead session (they rebuild under the new one). */
  private def memoKey(s: SparkSession, dir: String): String =
    s"${s.sparkContext.applicationId}:$dir"
  private def embCount(s: SparkSession, dir: String): Long =
    countMemo.computeIfAbsent(s"emb:${memoKey(s, dir)}",
      _ => Tables.load(s, dir, "embeddings").count())

  /** Trained BPE merge table, once per session per corpus — the
    * production shape: the tokenizer is a TRAINED ARTIFACT; q_bpe times
    * training, q_bpe_tokenize times serving with it (the same
    * build-once/serve-many split as the maintained indexes). */
  private val bpeRulesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def bpeRules(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeRulesMemo.computeIfAbsent(memoKey(s, dir), _ =>
      graft.operators.Bpe.learn(Tables.load(s, dir, "documents"), "text",
          merges = 12)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
  private def embWithDupsCount(s: SparkSession, dir: String): Long =
    countMemo.computeIfAbsent(s"embdup:${memoKey(s, dir)}",
      _ => embWithDups(s, dir).count())

  /** Delete a temp tree when the JVM exits — registered once per tree at
    * creation, so repeated bench invocations stop accumulating stream
    * corpus/table/checkpoint copies under /tmp. Shutdown hooks run
    * CONCURRENTLY (Spark's own temp-dir hooks may be racing over the
    * same files), so the walk stream is closed properly and any
    * mid-deletion surprise is swallowed — a best-effort cleanup must
    * never crash the hook and strand the rest of the tree. */
  private def deleteOnExit(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      try {
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach { p =>
              try Files.deleteIfExists(p)
              catch { case _: java.io.IOException => () }
            }
          finally walk.close()
        }
      } catch { case _: Exception => () }
    }))

  /** The streaming-maintained postings index for `dir`, built ONCE per
    * session (ConcurrentHashMap memo): writes the corpus as 4 parquet
    * files, streams them through [[StreamIndex.indexSink]] one file per
    * trigger (4 real micro-batch merge/publish cycles of the versioned
    * key-bucketed table), and hands back the table. Memoizing mirrors
    * production — the index is MAINTAINED by the stream, not rebuilt per
    * query — and makes repeated invocations time index SERVING. Keyed by
    * (session, sf dir) via [[memoKey]] so a restarted session rebuilds
    * instead of serving a table bound to a dead session. */
  private val builtIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  private def incrementalIndex(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtIndexes.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_index")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = StreamIndex.table(s, tmp.resolve("tbl").toString, nBuckets = 16)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamIndex.indexSink(stream, "doc_id", "text", table,
        tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  /** The streaming-maintained TRIGRAM index for `dir`, built ONCE per
    * session — [[incrementalIndex]]'s character-level sibling
    * ([[StreamTrgm]]): the corpus streams through 4 real micro-batch
    * merge/publish cycles and substring search serves from the
    * maintained gram postings. */
  private val builtTrgmTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  private def incrementalTrgm(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtTrgmTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_trgm")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = StreamTrgm.table(s, tmp.resolve("tbl").toString, nBuckets = 16)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamTrgm.trgmSink(stream, "doc_id", "text", table,
        tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  /** The streaming-maintained cluster-assignment table for `dir`, built
    * ONCE per session — the [[incrementalIndex]] analog for the vector
    * modality: codebook fixed up front from the corpus (the md5 seed
    * rule — a trained artifact in production), vectors stream through
    * [[StreamClusters.assignSink]] one file per trigger (4 real
    * micro-batch merge/publish cycles), assignments served from the
    * versioned table. */
  private val builtClusterTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  private def incrementalClusters(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtClusterTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_clusters")
      deleteOnExit(tmp)
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, _) = Similarity.ivfTune(embCount(s, dir))
      val codebook = Similarity.md5Codebook(
        Similarity.normalized(emb, "vec_id", "embedding"), nlist)
      val src = tmp.resolve("in").toString
      emb.repartition(4).write.parquet(src)
      val table = StreamClusters.table(s, tmp.resolve("tbl").toString, nBuckets = 16)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamClusters.assignSink(stream, "vec_id", "embedding", codebook,
        table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  /** q_pca_project's basis fixture: the driver-computed integer
    * eigenbasis (Pᶜᵢ = floor(vecs(i)(c)·2¹⁶)) as a csv the oracle reads
    * back as literals — the fixture-via-token device (the path is
    * per-sf; the oracle binds `__INGEST_SF__` via [[oraclesAt]]). The
    * basis is DATA-derived but deterministic (fixed Jacobi sweep order
    * + sign convention), so Verify's query run writes the identical
    * fixture every time before the driver's DuckDB pass reads it. */
  private def writePcaBasisFixture(dir: String,
      basis: Array[Array[Long]], fixture: String): Unit = {
    val out = java.nio.file.Paths.get(
      s"/tmp/$fixture/${new java.io.File(dir).getName}")
    val lines = "c,i,p" +: basis.zipWithIndex.flatMap { case (row, c) =>
      row.zipWithIndex.map { case (p, i) => s"$c,$i,$p" }
    }.toSeq
    writeFixtureAtomic(out.resolve("basis.csv"), lines)
  }

  /** Publish a fixture csv ATOMICALLY (temp file + ATOMIC_MOVE): the
    * fixture paths are fixed per-sf under /tmp and shared across
    * processes — two concurrent verify/bench runs on the same sf must
    * never observe a half-written csv. Same-basis writers racing is
    * harmless (both move identical bytes); the move makes the visible
    * file always complete. */
  private def writeFixtureAtomic(target: java.nio.file.Path,
      lines: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(target.getParent)
    val tmp = java.nio.file.Files.createTempFile(
      target.getParent, s".${target.getFileName}", ".tmp")
    java.nio.file.Files.write(tmp,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** q_ann_opq's rotation fixture: Pᵢⱼ = floor(R·2³⁰) integers, rows
    * (j, i, p) with rvⱼ = Σᵢ nvᵢ·pᵢⱼ/2³⁰ — same device and caveats as
    * [[writePcaBasisFixture]]. */
  private def writeOpqRotFixture(dir: String,
      rot: Array[Array[Long]], fixture: String = "graft_opq"): Unit = {
    val out = java.nio.file.Paths.get(
      s"/tmp/$fixture/${new java.io.File(dir).getName}")
    val d = rot.length
    val lines = "j,i,p" +: (for (j <- 0 until d; i <- 0 until d)
      yield s"$j,$i,${rot(i)(j)}")
    writeFixtureAtomic(out.resolve("rot.csv"), lines)
  }

  /** q_ann_pca's reduction basis fixture — same device and caveats as
    * [[writePcaBasisFixture]] (here the basis is over the NORMALIZED
    * corpus, at the 2^10 grid the double-cast scoring bound needs). */
  private def writeAnnPcaFixture(dir: String,
      basis: Array[Array[Long]]): Unit = {
    val out = java.nio.file.Paths.get(
      s"/tmp/graft_annpca/${new java.io.File(dir).getName}")
    val lines = "c,i,p" +: basis.zipWithIndex.flatMap { case (row, c) =>
      row.zipWithIndex.map { case (p, i) => s"$c,$i,$p" }
    }.toSeq
    writeFixtureAtomic(out.resolve("basis.csv"), lines)
  }

  /** q_mixture_plan's target weights — heavies every 4th source — kept
    * as ONE definition feeding both the Spark call and the oracle's
    * VALUES so they can never drift. */
  private val mixturePlanWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (if (i % 4 == 0) 400L else 100L)).toMap
  private def mixturePlanWeightValues: String =
    mixturePlanWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"('$s', $w)" }.mkString(", ")

  private val builtSketchTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained CMS sketch over the documents table: 4 real
    * micro-batches of additive counter upserts at the q_heavy_hitters
    * geometry (depth 4, width 16), built once per session. */
  private def incrementalSketch(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtSketchTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sketch")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = StreamSketch.table(s, tmp.resolve("tbl").toString, nBuckets = 8)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamSketch.sketchSink(stream, "text", table,
        tmp.resolve("ckp").toString, depth = 4, widthHex = 1).start()
      q.awaitTermination()
      table
    })

  /** The q_langid planted multilingual corpus: printable-ASCII text
    * (the t64 scrub) put through a PER-LANGUAGE character permutation
    * keyed by the real `lang` label — the documents text itself is
    * language-neutral (one shared vocabulary), so the permutations are
    * what give each label a distinct char-trigram distribution. Both
    * engines synthesize it relationally (`translate` has identical
    * semantics in Spark and DuckDB) — no fixture file. */
  private def langidPlanted(docs: DataFrame): DataFrame = {
    val t = regexp_replace(col("text"), "[^ -~]", "")
    docs.select(col("doc_id"), col("lang"),
      when(col("lang") === "es", translate(t, "aeiou", "eioua"))
        .when(col("lang") === "de", translate(t, "aeiou", "uoiea"))
        .when(col("lang") === "fr", translate(t, "nrst", "rstn"))
        .when(col("lang") === "zh", translate(t, "aeiou", "iouae"))
        .otherwise(t).as("text"))
  }

  private val builtMomentTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained second-moment statistics over the embeddings
    * table: 4 real micro-batches of additive counter upserts — the
    * covariance input (and so the whole PCA/whitening/OPQ stack)
    * maintained by the stream, built once per session. */
  private def incrementalMoments(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtMomentTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_moments")
      deleteOnExit(tmp)
      val emb = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val src = tmp.resolve("in").toString
      emb.repartition(4).write.parquet(src)
      val table = StreamSketch.table(s, tmp.resolve("tbl").toString, nBuckets = 8)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamSketch.momentSink(stream, "embedding", 64, table,
        tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtAnnTables =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Livestream.UpsertTable, IndexedSeq[IndexedSeq[Double]],
        IndexedSeq[IndexedSeq[IndexedSeq[Double]]])]()

  /** The streaming-maintained ANN codes table for `dir`, built ONCE per
    * session — the 14th maintained serving artifact: the trained coarse
    * + residual-PQ codebooks are frozen up front
    * ([[Similarity.trainAnnArtifact]], exactly q_ann_ivfpq_rtrained's
    * training at the same sizing), vectors stream through
    * [[StreamAnn.encodeSink]] one file per trigger (4 real micro-batch
    * merge/publish cycles), and ANN serving reads the maintained codes
    * through the verbatim ADC tail. */
  private def incrementalAnn(s: SparkSession, dir: String):
      (Livestream.UpsertTable, IndexedSeq[IndexedSeq[Double]],
        IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) =
    builtAnnTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ann")
      deleteOnExit(tmp)
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, _) = Similarity.ivfTune(embCount(s, dir))
      val n = Similarity.normalized(emb, "vec_id", "embedding")
      val (coarse, cbRes) = Similarity.trainAnnArtifact(n, nlist,
        m = 16, ksub = 32, iters = 2)
      val src = tmp.resolve("in").toString
      emb.repartition(4).write.parquet(src)
      val table = StreamAnn.table(s, tmp.resolve("tbl").toString, nBuckets = 16)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamAnn.encodeSink(stream, "vec_id", "embedding",
        coarse, cbRes, table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      (table, coarse, cbRes)
    })

  private val builtBloomTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained Bloom words over the P-order keys (the
    * q_bloom_join build side), 4 real micro-batches of OR-merge
    * upserts. */
  private def incrementalBloom(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtBloomTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_bloom")
      deleteOnExit(tmp)
      val keys = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "P").select("o_orderkey")
      val src = tmp.resolve("in").toString
      keys.repartition(4).write.parquet(src)
      val table = StreamSketch.table(s, tmp.resolve("tbl").toString, nBuckets = 8)
      val stream = s.readStream.schema(keys.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamSketch.bloomSink(stream, "o_orderkey", mBits = 262144,
        k = 3, table = table, checkpoint = tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtHllTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained HLL registers over the documents table (per-source
    * distinct-bigram sketch), 4 real micro-batches of max-merge upserts. */
  private def incrementalHll(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtHllTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_hll")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents").select("source", "text")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = StreamSketch.table(s, tmp.resolve("tbl").toString, nBuckets = 8)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamSketch.hllSink(stream, "source", "text", table,
        tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtLshTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained MinHash-LSH state over the documents table: 4 real
    * micro-batches through [[StreamLsh.lshSink]] at the q_dedup_minhash
    * geometry (n=3, 128 hashes, 32 bands), built once per session — the
    * near-dup analog of [[incrementalIndex]]. */
  private def incrementalLsh(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtLshTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_lsh")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = StreamLsh.table(s, tmp.resolve("tbl").toString, nBuckets = 16)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamLsh.lshSink(stream, "doc_id", "text", table,
        tmp.resolve("ckp").toString, n = 3).start()
      q.awaitTermination()
      table
    })

  private val builtModelTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained DSIR model over the documents table: 4 real
    * micro-batches through [[graft.streaming.StreamModel.modelSink]]
    * (each doc arrives exactly once — the sink's admission contract). */
  private def incrementalModel(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtModelTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_model")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "text", "lang")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = graft.streaming.StreamModel.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamModel.modelSink(stream, "doc_id", "text",
        col("lang") === "en", table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtNbTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained Naive Bayes model over the labeled documents: 4
    * real micro-batches through [[graft.streaming.StreamNb.nbSink]]
    * (each doc exactly once — the additive-sink admission contract). */
  private def incrementalNb(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtNbTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_nb")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "text", "lang")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = graft.streaming.StreamNb.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamNb.nbSink(stream, "doc_id", "text",
        "lang", table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtLangidTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained langid gram counts over the PLANTED multilingual
    * corpus's train split: 4 real micro-batches through
    * [[graft.streaming.StreamLangid.langidSink]] — built once per
    * session; serving derives rank profiles from the maintained counts
    * through the batch trainer's own FromCounts code. */
  private def incrementalLangid(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtLangidTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_langid")
      deleteOnExit(tmp)
      val train = langidPlanted(Tables.load(s, dir, "documents"))
        .filter(col("doc_id") % 5 =!= 0)
        .select("doc_id", "lang", "text")
      val src = tmp.resolve("in").toString
      train.repartition(4).write.parquet(src)
      val table = graft.streaming.StreamLangid.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamLangid.langidSink(stream, "text",
        "lang", table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtCcnetPipelines = new java.util.concurrent.ConcurrentHashMap[
    String, (Livestream.UpsertTable, Livestream.UpsertTable)]()

  /** The CCNet pipeline MAINTAINED BY THE STREAM — the r17 batch
    * composition's incremental twin, wiring three maintained artifacts
    * into one pipeline:
    *
    *  - PHASE 1 (model): the langid gram counts maintained over the
    *    train split ([[incrementalLangid]] — 4 real micro-batches;
    *    maintained counts ≡ batch counts is q_langid_incremental's
    *    proven gate, so the serving profiles are the batch trainer's).
    *  - PHASE 2 (corpus): the WHOLE planted corpus streams in 4 real
    *    micro-batches through a composite [[Livestream.maintain]]
    *    sink that per batch (a) ROUTES against the final phase-1
    *    profiles (training precedes routing in the batch plan too —
    *    scores are functionals of the FINAL model, which is why
    *    tertiles stay a serve-time device), (b) MIN-FOLDS the routed batch into the
    *    deduped-corpus store keyed `lang:md5(text)` — the fold is
    *    commutative, so admission is ORDER-INDEPENDENT and converges
    *    to batch dedup's min-doc_id survivor regardless of micro-batch
    *    arrival order, and the store read is bucket-pruned to the
    *    batch's keys ([[Livestream.UpsertTable.scanForKeys]]), (c)
    *    adds the NEWLY-admitted keys' token counts to the per-language
    *    LM ([[graft.streaming.StreamNb]]'s count table — duplicates
    *    share text, so the counts are survivor-independent and each
    *    distinct (lang, text) counts exactly once).
    *
    * Returns (deduped-corpus store, LM count table). Serving re-scores
    * the maintained corpus against the maintained counts through the
    * batch scorer's own FromCounts core, then tertiles + mixture-
    * samples — hash-equal to the batch plan by construction. */
  private def incrementalCcnet(s: SparkSession, dir: String):
      (Livestream.UpsertTable, Livestream.UpsertTable) =
    builtCcnetPipelines.computeIfAbsent(memoKey(s, dir), _ => {
      import graft.operators.Merge
      val langidTable = incrementalLangid(s, dir)          // phase 1
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ccnet")
      deleteOnExit(tmp)
      val dedupEntity = Merge.Entity(textCol = "body",
        editTextCol = "previous_body", updatable = Seq("doc_id"),
        frozen = Seq("author", "lang_pred", "text"))
      val emptyDedup = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("idstr",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("author",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("body",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang_pred",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      val dedup = new Livestream.UpsertTable(s, tmp.resolve("dedup").toString,
        dedupEntity, emptyDedup, outputPartitions = Some(1),
        partitioning = Some(Livestream.keyBucket(nBuckets = 16)))
      val lm = graft.streaming.StreamNb.table(s, tmp.resolve("lm").toString)
      val planted = langidPlanted(Tables.load(s, dir, "documents"))
        .select("doc_id", "text")
      val src = tmp.resolve("in").toString
      planted.repartition(4).write.parquet(src)
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = Livestream.maintain(stream, dedup, tmp.resolve("ckp").toString,
          org.apache.spark.sql.streaming.Trigger.AvailableNow(), Some(false)) {
        (batch, batchId) =>
          val profiles = graft.streaming.StreamLangid
            .profiles(langidTable, 64).localCheckpoint(false)
          val routed = TextAnalysis.langidByProfiles(batch, "doc_id",
              "text", profiles)
            .join(batch.select("doc_id", "text"), Seq("doc_id"))
          // per-key min-fold candidates (duplicates share text, so any
          // deterministic pick of the non-key columns is THE value)
          val cand = routed
            .withColumn("idstr",
              concat(col("lang_pred"), lit(":"), md5(col("text"))))
            .groupBy("idstr").agg(min("doc_id").as("doc_id"),
              min("lang_pred").as("lang_pred"), min("text").as("text"))
            .localCheckpoint(false)
          // bucket-pruned current rows for exactly this batch's keys
          val cur = dedup.scanForKeys(cand)
            .select(col("idstr"), col("doc_id").as("_doc0"))
          // newly-admitted contents feed the LM exactly once
          val fresh = cand.join(cur, Seq("idstr"), "left_anti")
            .localCheckpoint(false)
          if (!fresh.isEmpty)
            graft.streaming.StreamNb.ingest(lm, fresh, "idstr", "text",
              "lang_pred", seqBase = batchId)
          cand.join(cur, Seq("idstr"), "left")
            .select(col("idstr"),
              lit(null).cast("string").as("author"),
              lit(null).cast("string").as("body"),
              least(col("doc_id"),
                coalesce(col("_doc0"), col("doc_id"))).as("doc_id"),
              col("lang_pred"), col("text"))
      }(_ => ())
      .start()
      q.awaitTermination()
      (dedup, lm)
    })

  private val builtHistTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained (source, ntok) histogram over documents: 4 real
    * micro-batches through [[graft.streaming.StreamSketch.histSink]] —
    * the additive class serving the whole histogram-device family. */
  private def incrementalHist(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtHistTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_hist")
      deleteOnExit(tmp)
      val toks = size(filter(split(lower(col("text")), "[^a-z0-9]+"),
        t => length(t) > 0)).cast("long")
      val gv = Tables.load(s, dir, "documents")
        .select(col("source"), toks.as("ntok"))
      val src = tmp.resolve("in").toString
      gv.repartition(4).write.parquet(src)
      val table = graft.streaming.StreamSketch.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(gv.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamSketch.histSink(stream, "source", "ntok",
        table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtGraphTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained co-occurrence graph over (order, part) baskets:
    * 4 real micro-batches through [[graft.streaming.StreamGraph
    * .graphSink]]. The source is hash-partitioned BY ORDER KEY before
    * writing, so every basket lands entirely inside one file = one
    * micro-batch — the basket-atomic admission contract. */
  private def incrementalGraph(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtGraphTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_graph")
      deleteOnExit(tmp)
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val src = tmp.resolve("in").toString
      li.repartition(4, col("l_orderkey")).write.parquet(src)
      val table = graft.streaming.StreamGraph.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamGraph.graphSink(stream, "l_orderkey",
        "l_partkey", table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  private val builtScdTables =
    new java.util.concurrent.ConcurrentHashMap[String, Livestream.UpsertTable]()

  /** Stream-maintained SCD2 dimension over the events change log: 4 real
    * micro-batches through [[graft.streaming.StreamScd.scdSink]]. The
    * repartition(4) source split scatters each user's events ACROSS
    * batches in arbitrary order — exactly the out-of-order arrival the
    * per-key re-collapse exists to absorb. */
  private def incrementalScd(s: SparkSession, dir: String): Livestream.UpsertTable =
    builtScdTables.computeIfAbsent(memoKey(s, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_scd")
      deleteOnExit(tmp)
      val raw = Tables.load(s, dir, "events")
      val log = raw.select(col("user_id"),
        TimesearchQueries.tsSec(raw).as("ts_sec"),
        col("event_id"), col("event_type"))
      val src = tmp.resolve("in").toString
      log.repartition(4).write.parquet(src)
      val table = graft.streaming.StreamScd.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamScd.scdSink(stream, "user_id", "ts_sec",
        "event_id", "event_type", table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      table
    })

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BFS served from the INCREMENTALLY-MAINTAINED co-occurrence graph:
    // additive pair/node counts follow the basket stream (basket-atomic
    // batches); the support-2 edge view + frontier BFS at query time —
    // no corpus self-join per query. Hash-equals batch q_bfs (shared
    // oracle).
    "q_bfs_incremental" -> ((s, dir) => {
      val t = incrementalGraph(s, dir)
      val seeds = graft.streaming.StreamGraph.nodes(t)
        .filter(col("node") % 97 === 0).select("node")
      graft.operators.Graphs.bfs(
          graft.streaming.StreamGraph.edges(t, minSupport = 2L),
          seeds, maxHops = 4)
        .orderBy("node")
    }),

    // Item-item CF served from the INCREMENTALLY-MAINTAINED
    // co-occurrence graph: the maintained pair counts ARE c_ij and the
    // maintained node counts ARE the marginals, so recommendations
    // follow the basket stream with no per-query corpus self-join.
    // Hash-equals batch q_item_recs (shared oracle verbatim).
    "q_item_recs_incremental" -> ((s, dir) => {
      val t = incrementalGraph(s, dir)
      graft.operators.Recommend.itemNeighborsFrom(
          graft.streaming.StreamGraph.edgeCounts(t)
            .select(col("u").as("i"), col("v").as("j"),
              col("cnt").as("c_pair")),
          graft.streaming.StreamGraph.nodes(t)
            .select(col("node").as("i"), col("n_baskets").as("n_b")),
          k = 5)
        .orderBy("item", "rank")
    }),

    // Exact quantiles served from the INCREMENTALLY-MAINTAINED
    // histogram: the additive (group, value) count table follows the
    // stream; the rank device runs over it with ZERO corpus passes at
    // query time. Hash-equals batch q_quantiles (shared oracle) — and
    // by extension every histogram-device statistic (tertiles,
    // percentile thresholds, MAD) is stream-servable from this table.
    "q_quantiles_incremental" -> ((s, dir) => {
      TextAnalysis.histogramQuantilesFromHist(
          graft.streaming.StreamSketch.histView(incrementalHist(s, dir)),
          qsBp = Seq(2500L, 5000L, 7500L, 9500L))
        .withColumnRenamed("g", "source")
        .orderBy("source", "q_bp")
    }),

    // SCD2 served from the INCREMENTALLY-MAINTAINED dimension: per
    // micro-batch, touched users re-collapse their (raw log ∪ batch)
    // union row-locally; serving explodes the pre-collapsed intervals —
    // zero serve-time windows. Hash-equals batch q_scd2 (shared oracle):
    // the maintained dimension converges to the batch build under
    // arbitrary arrival order.
    "q_scd2_incremental" -> ((s, dir) => {
      graft.streaming.StreamScd.scd2(incrementalScd(s, dir), "user_id")
        .orderBy("user_id", "version")
    }),

    // Exact dedup: hash-groupBy on md5 of normalized text.
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(corpusWithDups(s, dir), "doc_id", "text")
        .orderBy("canonical_id")
    }),

    // Keep-one-canonical policy applied: rows surviving exact dedup.
    "q_dedup_keep" -> ((s, dir) => {
      Dedup.dropExactDuplicates(corpusWithDups(s, dir), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // BPE tokenizer TRAINING on-cluster (Sennrich et al. 2016): the
    // corpus collapses to the word-frequency table in ONE pass; every
    // merge iteration runs on the 31-word vocabulary table — pair count,
    // 1-row argmax collect (ties to the lexicographically smallest
    // pair), map-only greedy rewrite. Output = the learned merge table,
    // the tokenizer's trained artifact; all-integer/string, so the
    // oracle replays the full training loop step by step.
    "q_bpe" -> ((s, dir) => {
      graft.operators.Bpe.learn(Tables.load(s, dir, "documents"), "text",
          merges = 12)
        .orderBy("step")
    }),

    // BPE SERVING: train once (the vocabulary-sized loop above), collect
    // the ≤12-row merge table — driver-trivial, the tokenizer's artifact
    // — then tokenize the corpus MAP-ONLY: rules unroll into chained
    // native BpeMergeApply calls inside the scan's stage; zero shuffles,
    // zero iteration at serving time. Exactly how a trained tokenizer
    // deploys at 100 TB: the merge table is a broadcast-sized constant.
    "q_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val rules = bpeRules(s, dir)
      graft.operators.Bpe.tokenize(docs.select(col("doc_id"), col("text")), "text", rules)
        .select(col("doc_id"), size(col("tokens")).as("n_tokens"),
          concat_ws(" ", col("tokens")).as("token_text"))
        .orderBy("doc_id")
    }),

    // Dedup AT INGEST, end-to-end: a REAL Structured Streaming run
    // (file source → AvailableNow, one file per trigger → StreamDedup →
    // parquet sink). Production shape: the backfill is deduped AT REST
    // (batch dropExactDuplicates — batch 1), then the stream keeps the
    // corpus clean — batch 2 replays known content under shifted ids
    // (all dropped: first-arrival-wins against batch-1 state), batch 3
    // carries novel content (all admitted). Batch 1 is content-unique BY
    // CONSTRUCTION (the at-rest dedup), which is what makes the
    // surviving ids deterministic — within a micro-batch the "first"
    // arrival of two same-content rows is partition-order luck, so the
    // composition, not the stream operator, owns intra-batch ties (at
    // sf0.1 the raw corpus really has 8 same-content collisions).
    // The novel-content marker is an out-of-vocabulary token so no
    // planted text can collide with an existing document's content.
    "q_dedup_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dedup")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      val src = tmp.resolve("in").toString
      // three sequential single-file writes: the file source admits them
      // oldest-first (mtime order), one micro-batch each
      base.coalesce(1).write.mode("append").parquet(src)
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(src)
      base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zzgraftnovelzz")).as("text"))
        .coalesce(1).write.mode("append").parquet(src)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      // one fixed event time for every arrival: the watermark never
      // advances past anything, so nothing is late and no state evicts
      // mid-run — horizon/eviction behavior is StreamingSpec's subject
      val withTs = stream.withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      val out = tmp.resolve("out").toString
      val q = graft.streaming.StreamDedup.distinctContent(withTs, "text", "ts", "1 hour")
        .select(col("doc_id"), col("text"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", tmp.resolve("ckp").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out)
        .select(col("doc_id"), graft.functions.textlen(col("text")).as("text_len"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split by key hash (reproducible,
    // order-independent, stable under corpus growth).
    "q_split" -> ((s, dir) => {
      TextAnalysis.hashSplit(
          Tables.load(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id")
    }),

    // Leakage-safe split: split membership decided by each doc's exact-
    // dup CANONICAL id (window-min over the normalized-text hash), so
    // duplicates can never straddle train/val/test — the correct split
    // AFTER dedup policy, or BEFORE it if dedup is lossy-by-policy.
    "q_split_leakfree" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = corpusWithDups(s, dir)
      val w = Window.partitionBy(md5(Dedup.normText(col("text"))))
      TextAnalysis.hashSplit(
          corpus.withColumn("canon", min(col("doc_id")).over(w)),
          key = "canon")
        .select(col("doc_id"), col("canon"), col("split"))
        .orderBy("doc_id")
    }),

    // Curriculum export: deterministic global training order — easy
    // (low-surprisal) tertile first, md5-shuffled within phase. The
    // global position is the point of the operator (an EXPORT job, like
    // the Z-order writer: one range sort buys the downstream reader its
    // order).
    "q_curriculum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.unigramSurprisal(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      TextAnalysis.scoreTertiles(scored, "mean_surprisal_bp")
        .select(col("doc"),
          when(col("bucket") === "head", 0)
            .when(col("bucket") === "middle", 1).otherwise(2).as("phase"),
          md5(col("doc").cast("string")).as("_h"))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("phase"), col("_h"), col("doc"))).cast("long"))
        .select(col("pos"), col("doc").as("doc_id"), col("phase"))
        .orderBy("pos")
    }),

    // Lexical BM25 top-k search — the keyword-recall complement of the
    // embedding ANN queries, on the shared tokenization contract.
    "q_bm25" -> ((s, dir) => {
      Search.bm25TopK(Tables.load(s, dir, "documents"), "doc_id", "text",
          queries = bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    // BM25 served from the INCREMENTALLY-MAINTAINED postings index: the
    // corpus streams in as 4 micro-batches (file source, one file per
    // trigger) through StreamIndex's foreachBatch merge into the
    // key-bucketed versioned table, and the query scores from that
    // table's postings view. Must equal batch q_bm25 exactly — same
    // oracle — proving incremental index maintenance converges to the
    // batch-built index regardless of arrival batching. The index is
    // built ONCE per session per sf dir (memoized, like a maintained
    // index in production: the stream ran BEFORE the query arrived), so
    // bench reps past the first time the bm25TopKFromPostings SERVING
    // path; temp dirs are deleted on JVM exit.
    "q_bm25_incremental" -> ((s, dir) => {
      Search.bm25TopKFromPostings(
          StreamIndex.postings(incrementalIndex(s, dir))
            .select(col("doc").cast("long").as("doc"), col("tok"), col("tf")),
          queries = bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval: BM25 lexical candidates + brute-cosine semantic
    // candidates (vec_id == query_id pairing) fused by integer-quantized
    // Reciprocal Rank Fusion at candidate depth 20 — each half keeps its
    // audited plan, fusion touches only candidate-sized rows. The spec
    // pins absent-from-one-list, both-lists summation, and the doc-id
    // tiebreak on a hand-computed fixture.
    // Pseudo-relevance feedback: BM25 → mine top-3 expansion terms from
    // the top-5 docs (floor(idf·10⁴)·Σtf, original terms excluded) →
    // re-run BM25 on the expanded term set. The oracle replays both
    // passes and the mining in one chain — the full PRF loop hash-gates.
    "q_prf" -> ((s, dir) => {
      Search.prfTopK(Tables.load(s, dir, "documents"), "doc_id", "text",
          bm25Queries, k = 10, fbDocs = 5, expandTerms = 3)
        .orderBy("query_id", "rank")
    }),

    "q_hybrid" -> ((s, dir) => {
      Search.hybridTopK(Tables.load(s, dir, "documents"), "doc_id", "text",
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          queries = bm25Queries, k = 10, kCand = 20)
        .orderBy("query_id", "rank")
    }),

    // End-to-end pipeline COMPOSITION: exact dedup → LM-surprisal
    // quality filter (the unigram LM trains on the DEDUPED corpus) →
    // train split → sequence packing, one declarative plan — the path a
    // real curation run takes, proving the operators compose.
    "q_pipeline" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val deduped = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      val scored = TextAnalysis.unigramSurprisal(deduped, "doc_id", "text")
      val kept = scored.filter(col("mean_surprisal_bp") <= 34050L)
        .select(col("doc").as("doc_id"), col("n_tokens"))
      val train = TextAnalysis.hashSplit(kept, "doc_id")
        .filter(col("split") === "train")
      TextAnalysis.packSequences(train, "doc_id", col("n_tokens"),
          capacity = 256L)
        .orderBy("doc_id")
    }),

    // ARCHIVE-TO-CORPUS showcase — BOTH halves of the engine composed
    // end to end: the reference's archive lifecycle (NDJSON dump →
    // pinned-schema ingest → Normalize → versioned store seed + merge →
    // MID-STREAM TAKEDOWN with full erasure) feeding the LLM curation
    // chain (keep-canonical exact dedup → LM-surprisal quality filter
    // trained on the deduped archive → leak-free train split by
    // canonical id → sequence packing). Every stage is an
    // already-gated device; the composition is the proof they
    // interoperate — the oracle chains the SAME dedup/LM/split/pack
    // CTE fragments q_pipeline gates on, over the takedown-filtered
    // corpus (the store's net state), so a drift ANYWHERE in the
    // archive half (a lost ingest row, a merge casualty, an
    // under/over-purged key, a body mangled in the JSON round-trip)
    // or the curation half hash-mismatches.
    "q_pipeline_archive" -> ((s, dir) => {
      import graft.streaming.Livestream
      import graft.operators.{Merge, Normalize}
      val tmpD = java.nio.file.Files.createTempDirectory("graft_parch")
      deleteOnExit(tmpD)
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      // 1. the archive dump: comment-shaped NDJSON lines (created_utc
      //    carries doc_id so the curation half recovers it without a
      //    base36 round-trip)
      val src = tmpD.resolve("dump").toString
      docs.select(to_json(struct(
          col("doc_id").cast("string").as("id"),
          concat(lit("t1_"), col("doc_id")).as("name"),
          col("doc_id").as("created_utc"),
          concat(lit("u"), col("doc_id") % 50).as("author"),
          col("text").as("body"),
          lit("t3_0").as("link_id"),
          lit("sub").as("subreddit"))).as("line"))
        .coalesce(1).write.mode("overwrite").text(src)
      // 2. pinned-schema ingest + normalization (the reference's S1/S2
      //    path), split into a backfill batch and a streamed increment
      val normalized = Normalize.comments(
          graft.sources.Ndjson.commentsRaw(
            graft.sources.Ndjson.read(s, src)))
        .drop("_edited").withColumn("_seq", lit(0L))
      val table = new Livestream.UpsertTable(s, tmpD.resolve("tbl").toString,
        Merge.comments, normalized.drop("_seq").limit(0),
        outputPartitions = Some(1),
        partitioning = Some(Livestream.keyBucket(nBuckets = 16)))
      table.seed(normalized.filter(col("created") % 3 =!= 2).drop("_seq")) // v0
      table.merge(normalized.filter(col("created") % 3 === 2), "_seq",
        storeEdits = Some(false))                                     // v1
      // 3. MID-STREAM TAKEDOWN: a predicate erasure request lands
      //    between the archive half and the curation read — rewrite,
      //    history vacuum, the full act
      table.purgeWhere(col("created") % 13 === 0)                     // v2
      // 4. the curation chain over the store's NET state
      val corpus = table.current
        .select(col("created").as("doc_id"), col("body").as("text"))
      val deduped = Dedup.dropExactDuplicates(corpus, "doc_id", "text")
      val scored = TextAnalysis.unigramSurprisal(deduped, "doc_id", "text")
      val kept = scored.filter(col("mean_surprisal_bp") <= 34050L)
        .select(col("doc").as("doc_id"), col("n_tokens"))
      // the split key IS the canonical id (survivors of keep-canonical
      // dedup satisfy doc_id == canon), so duplicates can never
      // straddle train/val/test — the q_split_leakfree contract
      val train = TextAnalysis.hashSplit(kept, "doc_id")
        .filter(col("split") === "train")
      TextAnalysis.packSequences(train, "doc_id", col("n_tokens"),
          capacity = 256L)
        .orderBy("doc_id")
    }),

    // The CCNet pipeline COMPOSITION — what the langid operator exists
    // for, end to end in ONE declarative plan: langid shard routing
    // (the whole corpus classified against the trained trigram
    // profiles, 'und' included) → per-LANGUAGE exact dedup (first doc
    // per (lang, text) survives; the window keys on (lang, md5(text)),
    // one composite exchange) → per-LANGUAGE unigram-LM surprisal (one
    // model per shard, trained and scored in the same plan) →
    // head/middle/tail PERPLEXITY TERTILES per language (the
    // histogram-cumulative device — no corpus sort) → deterministic
    // mixture sample (head 80% / middle 50% / tail 10%, the md5-bucket
    // rule). Oracle: the full chain replayed as chained CTEs — five
    // already-gated devices composed, so a drift ANYWHERE in the chain
    // (a misrouted doc, a dedup survivor swap, a per-shard LM leak, a
    // tertile boundary off by one, a sample-rate slip) hash-mismatches.
    "q_pipeline_ccnet" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val planted = langidPlanted(Tables.load(s, dir, "documents"))
      val profiles = TextAnalysis.trigramProfiles(
        planted.filter(col("doc_id") % 5 =!= 0), "lang", "text", k = 64)
      val routed = TextAnalysis.langidByProfiles(planted, "doc_id", "text",
          profiles)
        .join(planted.select("doc_id", "text"), Seq("doc_id"))
      val dedupW = Window.partitionBy(col("lang_pred"), md5(col("text")))
        .orderBy(col("doc_id"))
      val deduped = routed.withColumn("_rn", row_number().over(dedupW))
        .filter(col("_rn") === 1).drop("_rn")
      val scored = TextAnalysis.unigramSurprisalBy(deduped, "doc_id",
        "text", "lang_pred")
      val tert = TextAnalysis.tertilesBy(scored, "lang_pred",
        "mean_surprisal_bp")
      TextAnalysis.stratifiedSample(tert, "doc", "tertile",
          Map("head" -> 80, "middle" -> 50, "tail" -> 10))
        .select(col("doc").as("doc_id"), col("lang_pred"), col("tertile"),
          col("mean_surprisal_bp"))
        .orderBy("doc_id")
    }),

    // The CCNet pipeline MAINTAINED BY THE STREAM (incrementalCcnet):
    // langid model + deduped corpus + per-language LM counts each
    // stream-maintained across real micro-batches; serving re-scores
    // the maintained corpus against the maintained counts through the
    // batch scorer's own FromCounts core, then tertiles + samples.
    // Shares q_pipeline_ccnet's oracle VERBATIM — a drift anywhere in
    // the maintained chain (a misrouted doc, a wrong dedup survivor, a
    // double-counted LM token, a moved tertile boundary) hash-
    // mismatches. Build runs as untimed setup (Bench.IncrementalSetup);
    // the timed body serves from the maintained artifacts.
    "q_pipeline_ccnet_incremental" -> ((s, dir) => {
      val (dedup, lm) = incrementalCcnet(s, dir)
      val corpus = dedup.current
        .select(col("doc_id"), col("lang_pred"), col("text"))
      val counts = graft.streaming.StreamNb.tokenCounts(lm)
        .select(col("c").as("lang_pred"), col("tok"), col("cnt"))
      val scored = TextAnalysis.unigramSurprisalByFromCounts(corpus,
        "doc_id", "text", "lang_pred", counts)
      val tert = TextAnalysis.tertilesBy(scored, "lang_pred",
        "mean_surprisal_bp")
      TextAnalysis.stratifiedSample(tert, "doc", "tertile",
          Map("head" -> 80, "middle" -> 50, "tail" -> 10))
        .select(col("doc").as("doc_id"), col("lang_pred"), col("tertile"),
          col("mean_surprisal_bp"))
        .orderBy("doc_id")
    }),

    // Fuzzy decontamination: corpus↔benchmark shingle-Jaccard pairs.
    // CONTRACT: the oracle does NOT model freqCap — this registration must
    // keep the cap above every shingle's corpus frequency at oracle scale
    // (the 1e6 default sheds nothing there), or the two sides silently
    // diverge. The shed path has its own ground truth in TextAnalysisSpec.
    "q_contamination_fuzzy" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      TextAnalysis.fuzzyContamination(
          d.filter(col("doc_id") % 17 =!= 0),
          d.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", 3, thresholdBp = 200L, freqCap = 1000000L)
        .orderBy("doc", "bench_doc")
    }),

    // SPAN-LEVEL decontamination: maximal corpus-doc runs whose every
    // 4-gram also appears in the benchmark subset — the surgical cut
    // complement of q_contamination (doc flags) / q_contamination_fuzzy
    // (pair scores). L=4 because eval leaks are short; at this corpus it
    // yields a dense span set (38 spans at sf0.01) vs 2 at L=8.
    "q_contamination_spans" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      TextAnalysis.contaminatedSpans(
          d.filter(col("doc_id") % 17 =!= 0),
          d.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", L = 4)
        .orderBy("doc", "span_start")
    }),

    // TF-IDF keyword extraction: top-3 tokens per document.
    "q_keywords" -> ((s, dir) => {
      TextAnalysis.keywords(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy("doc", "rank")
    }),

    // Unigram-LM surprisal quality scores (self-trained KenLM baseline).
    "q_lm_surprisal" -> ((s, dir) => {
      TextAnalysis.unigramSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc")
    }),

    // DSIR importance weights (Xie et al. 2023): every doc scored by
    // log p_target − log p_raw under hashed-ngram unigram models;
    // target = the English-labelled rows of the pool. Model ≤ 65536
    // rows (broadcast), corpus text never shuffles.
    "q_dsir" -> ((s, dir) => {
      graft.operators.Importance.dsirWeights(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

    // DSIR scoring served from the STREAM-MAINTAINED model (4 real
    // micro-batches of additive bucket-count upserts): must hash-equal
    // batch q_dsir — shares its oracle verbatim (the incremental-vs-
    // batch pairing device of q_bm25_incremental/q_cluster_incremental).
    "q_dsir_incremental" -> ((s, dir) => {
      val model = graft.streaming.StreamModel.model(incrementalModel(s, dir))
      val fc = graft.operators.Importance.featureCounts(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
      graft.operators.Importance.dsirWeightsFromModel(fc, model)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

    // DSIR's sampling step: Gumbel-top-k draw of 100 docs ∝ exp(weight),
    // with engine-neutral md5-derived noise — selection itself is a
    // TakeOrdered, never a global sort.
    "q_dsir_sample" -> ((s, dir) => {
      val w = graft.operators.Importance.dsirWeights(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
      graft.operators.Importance.dsirSample(w, "doc", k = 100)
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("key_bp").desc, col("doc_id"))
    }),

    // Bigram-LM surprisal quality scores (one Markov order above
    // q_lm_surprisal; <s>-conditioned first tokens, add-one smoothing).
    "q_lm_bigram" -> ((s, dir) => {
      TextAnalysis.bigramSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc")
    }),

    // Interpolated Kneser–Ney bigram surprisal — the smoothing KenLM
    // ships (continuation-count backoff), D = 0.75; self-scoring keeps
    // every probability positive without unseen-event smoothing.
    "q_lm_kn" -> ((s, dir) => {
      TextAnalysis.knBigramSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc")
    }),

    // Log-odds-with-prior corpus comparison (Fightin' Words): terms
    // distinguishing sources src0-2 from the rest; exact-integer ln
    // arguments make the bp-floored delta engine-independent.
    "q_log_odds" -> ((s, dir) => {
      TextAnalysis.logOddsTerms(Tables.load(s, dir, "documents"),
          "doc_id", "text",
          partA = col("source").isin("src0", "src1", "src2"))
        .orderBy(col("side"), desc("delta_bp"), col("tok"))
    }),

    // Collocations: top-30 adjacent-token pairs by support-floored PMI —
    // one corpus explode; marginals derive from the pair-count table.
    "q_collocations" -> ((s, dir) => {
      TextAnalysis.collocations(Tables.load(s, dir, "documents"),
        "doc_id", "text", minCount = 5L, k = 30)
    }),

    // Per-doc percentile rank of token count within its source — the
    // histogram-cumulative device SERVING the rank itself (corpus: one
    // aggregate + one broadcast join, never a cume_dist window).
    "q_percentile_rank" -> ((s, dir) => {
      val toks = size(filter(split(lower(col("text")), "[^a-z0-9]+"),
        t => length(t) > 0)).cast("long")
      graft.operators.Analytics.percentileRank(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("source"), toks.as("ntok")),
          "source", "doc_id", "ntok")
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney TRIGRAM surprisal — order 3 of the KN
    // recursion, lower order on continuation counts; same integer-bp
    // oracle device one level deeper.
    "q_lm_kn3" -> ((s, dir) => {
      TextAnalysis.knTrigramSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc")
    }),

    // CCNet-style perplexity-binned mixture: tertile-bucket docs by LM
    // surprisal (histogram thresholds, never a corpus sort), then sample
    // head 100% / middle 50% / tail 10% via the md5-rate rule.
    "q_perplexity_mix" -> ((s, dir) => {
      val scored = TextAnalysis.unigramSurprisal(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val bucketed = TextAnalysis.scoreTertiles(scored, "mean_surprisal_bp")
        .select(col("doc"), col("bucket"), col("mean_surprisal_bp"))
      TextAnalysis.stratifiedSample(bucketed, "doc", "bucket",
          Map("head" -> 100, "middle" -> 50, "tail" -> 10))
        .orderBy("doc")
    }),

    // Exact token-budget sampling: the deterministic md5-order prefix
    // whose running token total stays within 15k tokens — two bounded
    // passes (bucket histogram + one crossing-bucket window), never a
    // corpus-wide prefix sum.
    "q_token_budget" -> ((s, dir) => {
      TextAnalysis.tokenBudgetSample(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          budget = 15000L)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

    // Vocabulary building: top-100 tokens by corpus frequency.
    "q_vocab" -> ((s, dir) => {
      TextAnalysis.topTokens(Tables.load(s, dir, "documents"), "text", 100)
        .orderBy("pos")
    }),

    // Exact per-source quantiles of doc token counts — the histogram
    // device generalized to a quantile vector; exact and engine-portable
    // where approxQuantile is neither.
    "q_quantiles" -> ((s, dir) => {
      val toks = size(filter(split(lower(col("text")), "[^a-z0-9]+"),
        t => length(t) > 0)).cast("long")
      TextAnalysis.histogramQuantiles(
          Tables.load(s, dir, "documents").select(col("source"), toks.as("ntok")),
          "source", "ntok", qsBp = Seq(2500L, 5000L, 7500L, 9500L))
        .orderBy("source", "q_bp")
    }),

    // Token-budget mixture PLANNING (waterfilling/epoching): proportional
    // allocation until a source's inventory caps, freed budget re-flowing
    // — the decision step before q_mixture's sampling. All windows over
    // the |sources|-row inventory; corpus contributes ONE count agg.
    "q_mixture_plan" -> ((s, dir) => {
      val toks = size(filter(split(lower(col("text")), "[^a-z0-9]+"),
        t => length(t) > 0)).cast("long")
      val inv = Tables.load(s, dir, "documents")
        .select(col("source"), toks.as("tk"))
        .groupBy("source").agg(sum("tk").as("avail"))
      TextAnalysis.mixturePlan(inv, "source", "avail",
          mixturePlanWeights, budget = 12000L)
        .withColumnRenamed("src", "source")
        .orderBy("source")
    }),

    // Bloom-filter semi-join reduction: bitmap from the small side's
    // keys pre-filters the big side; false positives (deterministic,
    // md5-salted) are part of the hash-gated output — no false
    // negatives ever (spec-asserted too).
    "q_bloom_join" -> ((s, dir) => {
      val m = 262144; val k = 3
      val build = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "P").select("o_orderkey")
      val bits = Sketches.bloomBits(build, "o_orderkey", m, k)
      val probe = Tables.load(s, dir, "lineitem").select("l_orderkey")
        .withColumn("_bits", typedLit(bits.toSeq))
      val truth = build.distinct()
        .select(col("o_orderkey").as("l_orderkey"), lit(true).as("_true"))
      Sketches.bloomMightContain(probe, "l_orderkey", "_bits", m, k)
        .drop("_bits")
        .join(broadcast(truth), Seq("l_orderkey"), "left")
        .agg(count(lit(1)).as("n_probe"),
          sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("_true").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("bloom_pass") && col("_true").isNull, 1L).otherwise(0L))
            .as("n_false_pos"))
        .select(col("n_probe"), col("n_pass"), col("n_true"),
          col("n_false_pos"),
          expr("(n_false_pos * 10000) div (n_probe - n_true)").as("fp_bp"))
    }),

    // The same semi-join reduction served from the STREAM-MAINTAINED
    // Bloom words (OR-merge — idempotent like the HLL registers): must
    // hash-equal batch q_bloom_join (shared oracle verbatim).
    "q_bloom_incremental" -> ((s, dir) => {
      val m = 262144; val k = 3
      val bits = StreamSketch.bloomBitsView(incrementalBloom(s, dir), m)
      val probe = Tables.load(s, dir, "lineitem").select("l_orderkey")
        .withColumn("_bits", typedLit(bits.toSeq))
      val truth = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey").as("l_orderkey")).distinct()
        .withColumn("_true", lit(true))
      Sketches.bloomMightContain(probe, "l_orderkey", "_bits", m, k)
        .drop("_bits")
        .join(broadcast(truth), Seq("l_orderkey"), "left")
        .agg(count(lit(1)).as("n_probe"),
          sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("_true").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("bloom_pass") && col("_true").isNull, 1L).otherwise(0L))
            .as("n_false_pos"))
        .select(col("n_probe"), col("n_pass"), col("n_true"),
          col("n_false_pos"),
          expr("(n_false_pos * 10000) div (n_probe - n_true)").as("fp_bp"))
    }),

    // Count-Min heavy hitters: the frequency sketch ITSELF is hash-gated
    // (md5-salted counters, min-over-rows estimates); exact counts ride
    // along so the one-sided error is auditable (err >= 0 always).
    "q_heavy_hitters" -> ((s, dir) => {
      Sketches.cmsHeavyHitters(Tables.load(s, dir, "documents"), "text",
          depth = 4, widthHex = 1, minEst = 100L)
        .orderBy(desc("est"), col("tok"))
    }),

    // Heavy hitters served from the STREAM-MAINTAINED sketch (additive
    // counter upserts across 4 real micro-batches — counters add, so the
    // maintained sketch is bit-identical to a batch rebuild): must
    // hash-equal batch q_heavy_hitters (shared oracle verbatim).
    "q_heavy_hitters_incremental" -> ((s, dir) => {
      val t = incrementalSketch(s, dir)
      Sketches.cmsServe(StreamSketch.counts(t), StreamSketch.sketch(t),
          depth = 4, widthHex = 1, minEst = 100L)
        .orderBy(desc("est"), col("tok"))
    }),

    // HyperLogLog distinct-bigram estimate per source — ln-free raw
    // estimator (exact dyadic register sum, one audited division), so
    // the cardinality APPROXIMATION hash-gates against a full replay.
    "q_distinct_sketch" -> ((s, dir) => {
      Sketches.hllDistinctBigrams(
          Tables.load(s, dir, "documents"), "source", "text")
        .orderBy("source")
    }),

    // Unicode canonicalization (multilingual ingest): NFC composition +
    // accent folding over SYNTHESIZED unicode-rich rows (decomposed
    // sequences, precomposed forms, ß, combining ring) — the corpus
    // tables are ASCII, so the gate runs on literals that actually
    // exercise the Normalizer (the q_ingest_normalize device). Native
    // codegen expressions with an ASCII fast path.
    "q_normalize_unicode" -> ((s, dir) => {
      import s.implicits._
      val raw = Seq(
        (1L, "caf\u00e9 au lait"),   // precomposed \u00e9
        (2L, "cafe\u0301 au lait"),  // decomposed e+combining acute
        (3L, "na\u00efve r\u00e9sum\u00e9"),
        (4L, "\u00dcber stra\u00dfe"), // \u00df is NOT a mark - survives folding
        (5L, "plain ascii"),
        (6L, "A\u030a ring")         // A+combining ring
      ).toDF("id", "raw")
      val nfc = graft.functions.unicodeNfc(col("raw"))
      raw.select(col("id"), nfc.as("nfc"),
          graft.functions.stripAccents(nfc).as("folded"),
          (nfc =!= col("raw")).as("recomposed"))
        .orderBy("id")
    }),

    // Distinct estimates served from STREAM-MAINTAINED HLL registers
    // (max-merge upserts — idempotent under replay, the other mergeable
    // class next to the additive CMS): registers-only state, the
    // production shape (no exact sidecar — that audit is the batch
    // query's job).
    "q_distinct_incremental" -> ((s, dir) => {
      Sketches.hllEstimate(
          StreamSketch.hllRegistersView(incrementalHll(s, dir)))
        .select(col("g").as("source"), col("est_x100"))
        .orderBy("source")
    }),

    // Gopher-style repetition quality signals per document.
    "q_repetition" -> ((s, dir) => {
      TextAnalysis.repetition(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc")
    }),

    // Data mixing: deterministic per-source sampling rates (80% of src0,
    // 50% of src1, 10% of src2, drop the rest) — reproducible mixture.
    "q_mixture" -> ((s, dir) => {
      TextAnalysis.stratifiedSample(
          Tables.load(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", Map("src0" -> 80, "src1" -> 50, "src2" -> 10))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: corpus docs sharing any 3-gram with the
    // benchmark subset (every 17th doc), with contaminated-shingle counts.
    "q_contamination" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      TextAnalysis.contamination(
          d.filter(col("doc_id") % 17 =!= 0),
          d.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", 3)
        .orderBy("doc")
    }),

    // Split-leakage audit — the hashSplit ∘ contamination composition: a
    // train doc sharing any 3-gram with the TEST split is a leak (the
    // standard pre-release QA pass over a produced corpus; the split
    // and the contamination operator compose declaratively, one plan).
    // broadcastBench = false: the test split is a CORPUS FRACTION (~10%),
    // not an eval set — forcing its distinct-shingle set through a
    // broadcast would hit the broadcast/driver limits at scale; the
    // shuffled shingle join is the 100 TB-correct shape here.
    "q_split_leakage" -> ((s, dir) => {
      val d = TextAnalysis.hashSplit(Tables.load(s, dir, "documents"), "doc_id")
      TextAnalysis.contamination(
          d.filter(col("split") === "train"),
          d.filter(col("split") === "test"),
          "doc_id", "text", 3, broadcastBench = false)
        .orderBy("doc")
    }),

    // Per-source datasheet rollup: the numbers a mixture decision reads
    // (doc/token/char totals, quality spread), aggregated from the SAME
    // profile algebra q_text_profile serves — all-integer outputs, the
    // mean via integer division (div ↔ // mirror). profile() is a pure
    // projection, so keying it by SOURCE (instead of joining metrics
    // back to the corpus on doc_id — a corpus-sized shuffle join for
    // nothing) makes the whole rollup one map-only pass + one
    // map-side-combined agg of ~|sources| groups.
    "q_source_stats" -> ((s, dir) => {
      TextAnalysis.profile(Tables.load(s, dir, "documents"), "source", "text")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          expr("sum(quality_bp) div count(1)").as("mean_quality_bp"),
          min("quality_bp").as("min_quality_bp"),
          max("quality_bp").as("max_quality_bp"))
        .orderBy("source")
    }),

    // Connected-components dup clustering: min-label propagation over the
    // exact-dup pair graph; cluster = min reachable doc id (the keep-one
    // canonical policy). Oracle: groups of equal normalized text ARE the
    // components when every group is emitted as a clique.
    "q_dedup_clusters" -> ((s, dir) => {
      val corpus = corpusWithDups(s, dir)
      Dedup.clusters(corpus, "doc_id",
          Dedup.exactPairs(corpus, "doc_id", "text"))
        .orderBy("doc")
    }),

    // Exact duplicated-SPAN detection (Lee et al. 2022 substring dedup)
    // over the planted-duplicate corpus: planted full-doc copies yield
    // whole-document spans, natural verbatim repetition yields partial
    // spans — both recomputed exactly by the oracle.
    "q_dedup_spans" -> ((s, dir) => {
      TextAnalysis.duplicatedSpans(corpusWithDups(s, dir), "doc_id", "text",
          L = 8)
        .orderBy("doc", "span_start")
    }),

    // The enforcement half of substring dedup: duplicated spans REMOVED
    // from the text (drop-all-occurrences policy), with removal counts.
    "q_dedup_scrub" -> ((s, dir) => {
      TextAnalysis.removeDuplicatedSpans(corpusWithDups(s, dir),
          "doc_id", "text", L = 8)
        .orderBy("doc")
    }),

    // SPAN-LEVEL eval of the blocked over-approximation: how many
    // reported spans' FULL text actually occurs twice (Lee et al.'s
    // suffix-array semantics), measured on a corpus with planted
    // stitch cases (corpusWithStitch) so the gap is present, not
    // vacuous. Token COVERAGE has no gap (every covered position lies
    // under a repeated L-gram); the span list is where the
    // approximation lives, and this ships it as a hash-gated number.
    "q_dedup_spans_eval" -> ((s, dir) => {
      TextAnalysis.duplicatedSpansEval(corpusWithStitch(s, dir),
        "doc_id", "text", L = 8)
    }),

    // The SHIPPED positional fallback (unbounded span counts — see
    // SCALE.md): same semantics through a (doc, pos) anti-join instead
    // of the row-local span array; must hash-match the same oracle.
    "q_dedup_scrub_positional" -> ((s, dir) => {
      TextAnalysis.removeDuplicatedSpansPositional(corpusWithDups(s, dir),
          "doc_id", "text", L = 8)
        .orderBy("doc")
    }),

    // n-gram Jaccard near-dup: inverted-index block join, exact.
    "q_dedup_ngram" -> ((s, dir) => {
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, thresholdBp = 8000)
        .orderBy("i", "j")
    }),

    // Prefix-filtered set-similarity join (All-Pairs/PPJoin): the FOURTH
    // blocking paradigm — only the rarity-ordered PREFIX of each
    // shingle set is indexed, exact recall by the prefix-filter theorem.
    // Same inputs and output contract as q_dedup_ngram, so the exact
    // inverted-index join's oracle gates this one verbatim.
    "q_dedup_prefix" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, thresholdBp = 8000)
        .orderBy("i", "j")
    }),

    // Directional CONTAINMENT join over a corpus with planted truncated
    // copies (first half of every 10th doc): the asymmetric near-dup
    // Jaccard cannot see — a truncation contains ~fully in its source
    // while the symmetric overlap stays near 50%.
    "q_dedup_containment" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      val w = split(trim(col("text")), "\\s+")
      val half = greatest(lit(3), (size(w) / 2).cast("int"))
      val trunc = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          array_join(slice(w, lit(1), half), " ").as("text"))
      Dedup.containmentPairs(corpusWithDups(s, dir).unionByName(trunc),
          "doc_id", "text", n = 3, thresholdBp = 9000)
        .orderBy("src", "dst")
    }),

    // Sorted-neighborhood dedup: the THIRD blocking paradigm (global
    // sort order) next to hash blocking and LSH banding — O(n·w)
    // comparisons; rank via the two-phase range device, verify row-local.
    "q_dedup_snm" -> ((s, dir) => {
      Dedup.sortedNeighborhood(corpusWithDups(s, dir), "doc_id", "text",
          window = 8, thresholdBp = 8000L)
        .orderBy("i", "j")
    }),

    // Dedup-method EVALUATION: precision/recall/F1 of the
    // sorted-neighborhood pass against the exact all-pairs ground truth
    // over the SAME shingle definition — the window's recall/cost trade
    // measured as a hash-gated number instead of a scaladoc promise.
    "q_dedup_eval" -> ((s, dir) => {
      val corpus = corpusWithDups(s, dir)
      val found = Dedup.sortedNeighborhood(corpus, "doc_id", "text",
        window = 8, thresholdBp = 8000L)
      val truth = Dedup.snmTruthPairs(corpus, "doc_id", "text",
        thresholdBp = 8000L)
      Dedup.pairSetEval(found, truth)
    }),

    // SAMPLED dedup-method evaluation — q_dedup_eval's 100 TB route:
    // the exact gold standard stops being computable past ~10⁸ docs, so
    // the audit restricts its UNIVERSE to a deterministic md5 doc-sample
    // (denom 3 ⇒ the truth pass costs ~1/9 of the exact harness), builds
    // the exact ground truth only there, and scores the FULL-scale
    // method run on the same restricted universe. The estimates bracket
    // the exact metrics across the residue classes (DedupSpec pins it).
    "q_dedup_eval_sampled" -> ((s, dir) => {
      val corpus = corpusWithDups(s, dir)
      val found = Dedup.sortedNeighborhood(corpus, "doc_id", "text",
        window = 8, thresholdBp = 8000L)
      Dedup.sampledPairEval(found, corpus, "doc_id", "text",
        thresholdBp = 8000L, denom = 3, residue = 0L)
    }),

    // MinHash+LSH with exact candidate verification — must reproduce the
    // exact-Jaccard ground truth (banding makes misses ~1e-15 at J≥0.9).
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, thresholdBp = 8000)
        .orderBy("i", "j")
    }),

    // Near-dup pairs served from the STREAM-MAINTAINED LSH state table
    // (4 real micro-batches upserting per-doc shingle sets + band
    // buckets) — must hash-equal batch q_dedup_minhash (shared oracle
    // verbatim): the fourth maintained serving artifact.
    "q_dedup_stream_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairsFromState(
          StreamLsh.state(incrementalLsh(s, dir))
            .withColumn("doc", col("doc").cast("long")),
          thresholdBp = 8000)
        .orderBy("i", "j")
    }),

    // SimHash near-dup (pigeonhole banding, exact hamming verify). The
    // r8 md5-prefix hash basis makes the signature engine-portable, so
    // the oracle recomputes signatures + brute-force hamming pairs in
    // SQL — a full hash-checked row (formerly rows-only under the
    // engine-private FNV basis).
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxHamming = 3)
        .orderBy("i", "j")
    }),

    // Winnowing fingerprint near-dup candidates (Schleimer et al. local
    // fingerprinting — guarantees detection of shared runs ≥ w+k-1
    // tokens; that guarantee stays asserted in TextAnalysisSpec). The r8
    // md5-prefix gram hash makes the fingerprint set SQL-expressible —
    // the oracle replays k-gram hashing + full-window minima + the
    // short-doc global-min fallback relationally.
    "q_dedup_winnow" -> ((s, dir) => {
      TextAnalysis.winnowPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 3, w = 4, minShared = 3)
        .orderBy("i", "j")
    }),

    // Embedding-cosine near-dup pairs (exact quadratic baseline).
    "q_dedup_embed" -> ((s, dir) => {
      Similarity.cosinePairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", thresholdBp = 4500)
        .orderBy("i", "j")
    }),

    // SRP-LSH embedding near-dup in its PROPER regime: the 0.9 near-dup
    // threshold over the planted-duplicate corpus, where tuned banding is
    // SELECTIVE (wide 8-bit bands + Hamming-1 probes: ~20% noise pass vs
    // the ~100% a full-recall config needs at moderate thresholds — LSH
    // at cosine 0.45 is mathematically unselective, the r6-documented
    // trade, and the exact operator q_dedup_embed owns that regime). The
    // srpPairsVerified audit recomputes the exact baseline in-run and
    // throws on any banding miss, so the row either hash-matches the
    // exact relational oracle over the same constructed corpus or fails
    // loudly — never silently drifts.
    "q_dedup_embed_lsh" -> ((s, dir) => {
      val (bands, probeBits) = Similarity.srpTune(9000L, targetRecall = 0.999)
      Similarity.srpPairsVerified(embWithDups(s, dir),
          "vec_id", "embedding", thresholdBp = 9000L,
          bands = bands, probeBits = probeBits)
        .orderBy("i", "j")
    }),

    // End-to-end EMBEDDING pipeline composition — the q_pipeline analog
    // for the vector modality: tuned+verified SRP-LSH near-dup pairs over
    // the planted-duplicate corpus → connected-components clustering →
    // keep-one-canonical → hash split, one flow (the plants collapse back
    // onto their originals; 0.9-regime banding, same config as
    // q_dedup_embed_lsh). The oracle replays the identical composition
    // over the EXACT cosine pairs with WITH RECURSIVE min-label
    // components: identical survivors prove the dedup operators compose
    // across modalities (srpPairsVerified guarantees the pair stage
    // equals the baseline, so the whole composition must too).
    "q_pipeline_embed" -> ((s, dir) => {
      val emb = embWithDups(s, dir)
      val (bands, probeBits) = Similarity.srpTune(9000L, targetRecall = 0.999)
      val pairs = Similarity.srpPairsVerified(emb, "vec_id", "embedding",
        thresholdBp = 9000L, bands = bands, probeBits = probeBits)
      val clusters = Dedup.clusters(emb, "vec_id", pairs)
      val kept = clusters.filter(col("doc") === col("cluster"))
        .select(col("doc").as("vec_id"))
      TextAnalysis.hashSplit(kept, "vec_id").orderBy("vec_id")
    }),

    // Coarse semantic clustering — map-only centroid assignment with the
    // oracle-portable md5-seeded codebook (the bucketing primitive under
    // topic balancing and SemDeDup). nlist = round(√n), the IVF sizing;
    // iters=0 (a k-means fixpoint is not relationally replayable — the
    // refined path is spec-covered via kmeansRefine/SimilaritySpec).
    // k-means TRAINING with a hash-gated fixpoint: 4 exact integer Lloyd
    // iterations from the md5 seed — quantize → argmin-L2 assign (map-
    // only native expression) → associative integer centroid update —
    // then the final assignment serves. The oracle unrolls all 4
    // iterations as materialized stages and must match to the bit; this
    // closes clusterAssign's documented iters=0 limitation ("a k-means
    // fixpoint is not relationally replayable"): the INTEGER fixpoint is.
    "q_kmeans" -> ((s, dir) => {
      graft.operators.KMeans.trainAssign(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 4)
        .orderBy("vec_id")
    }),

    // Distributed linear algebra: the full 64×64 covariance-numerator
    // matrix of the embedding corpus in ONE map-side pass — each task
    // folds its rows into a 2,080-cell long accumulator and the only
    // exchange is |partitions|·d² stat rows (plus three broadcast joins
    // over the ≤d²-row stat frame). Integer-exact end to end: floats
    // quantize as clamp(floor(64·x)) — a power-of-two multiply is exact
    // in IEEE 754 — so the oracle replays the identical integers with
    // no float-sum-ordering hazard. This matrix is the input to PCA/
    // whitening/OPQ (LinalgSpec covers the eigensolver + projection).
    "q_embed_cov" -> ((s, dir) => {
      graft.operators.Linalg.covNumerators(
          graft.operators.Linalg.momentStats(
            Tables.load(s, dir, "embeddings"), "embedding", 64))
        .orderBy("i", "j")
    }),

    // PCA projection to the top-8 components, HASH-GATED end to end via
    // the basis-as-literal device: the driver-side Jacobi basis (fixed
    // sweep order + sign convention → deterministic) is scaled to
    // integers (floor(v·2¹⁶)) and written as a csv fixture the oracle
    // reads back as literals; the projection itself is pcaProjectExact —
    // centering as n·qᵢ − Sᵢ and the per-component fold all in longs, so
    // both engines reproduce every output bit (no float-sum ordering
    // hazard; outᶜ ≈ n·64·2¹⁶ × the double projection at identical
    // geometry). The oracle recomputes n and the Sᵢ from the data with
    // the same clamp(floor(64x)) quantizer q_embed_cov gates; ONLY the
    // eigenbasis rides the fixture. Serving shape: map-only, the 8×64
    // basis a closure constant, zero exchanges (PlanAuditSpec). The
    // double-precision pcaProject stays the 100 TB serving path,
    // spec-verified in LinalgSpec.
    "q_pca_project" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.operators.Linalg.pcaFit(emb, "embedding", 64)
      writePcaBasisFixture(dir, model.intBasis(8, 16), "graft_pca")
      val proj = graft.operators.Linalg.pcaProjectExact(
        emb, "vec_id", "embedding", model, k = 8)
      // flat scalar columns (driver-contract outputs are array-free)
      proj.select(col("vec_id") +:
          (0 until 8).map(i => element_at(col("proj"), i + 1).as(s"c$i")): _*)
        .orderBy("vec_id")
    }),

    // WHITENED projection — the same basis-as-literal gate with the
    // 1/√λ scaling folded INTO the integer basis (PcaModel.intBasis
    // whiten=true): outputs have ~equalized component variances, the
    // form k-means/Mahalanobis consumers take. The eigenvalue scaling
    // happens driver-side (like the basis itself); the oracle sees only
    // the whitened literals, so the gate pins the distributed
    // projection under the whitened basis exactly as q_pca_project
    // does under the plain one.
    "q_pca_whiten" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val model = graft.operators.Linalg.pcaFit(emb, "embedding", 64)
      val basis = model.intBasis(8, 16, whiten = true)
      writePcaBasisFixture(dir, basis, "graft_pcaw")
      val proj = graft.operators.Linalg.pcaProjectExact(
        emb, "vec_id", "embedding", model, k = 8, basis = Some(basis))
      proj.select(col("vec_id") +:
          (0 until 8).map(i => element_at(col("proj"), i + 1).as(s"c$i")): _*)
        .orderBy("vec_id")
    }),

    // The covariance input MAINTAINED BY THE STREAM: 4 real additive
    // micro-batch upserts into the counter table (moment cells are
    // exact integer sums — the same mergeable-counter class as the
    // CMS), read back through covNumerators. Must hash-equal batch
    // q_embed_cov (shared oracle VERBATIM — the oracle rescans, so any
    // maintenance leak mismatches). This makes the entire
    // PCA/whitening/OPQ preprocessing stack incrementally maintainable:
    // a 100 TB corpus's covariance refreshes at |batch| cost per
    // trigger, and the d²-sized table serves the eigensolver directly.
    "q_embed_cov_incremental" -> ((s, dir) => {
      val t = incrementalMoments(s, dir)
      graft.operators.Linalg.covNumerators(StreamSketch.moments(t))
        .orderBy("i", "j")
    }),

    "q_embed_cluster" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, _) = Similarity.ivfTune(embCount(s, dir))
      Similarity.clusterAssign(emb, "vec_id", "embedding", nlist)
        .select(col("doc").as("vec_id"), col("cid").cast("long").as("cid"),
          col("sim_bp"))
        .orderBy("vec_id")
    }),

    // Semantic-cluster LABELING — the cluster→text bridge a curation
    // pipeline needs to make its clusters legible: per embedding
    // cluster, the top-3 tokens of its members' documents by
    // cluster-tf·idf (idf over clusters, quantized-ln device; ties to
    // the token). doc_id ≡ vec_id by the testdata contract.
    "q_cluster_label" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, _) = Similarity.ivfTune(embCount(s, dir))
      val assign = Similarity.clusterAssign(emb, "vec_id", "embedding", nlist)
        .select(col("doc").as("doc_id"), col("cid").cast("long").as("cid"))
      val toksC = filter(split(lower(col("text")), "[^a-z0-9]+"),
        t => length(t) > 0)
      val ct = Tables.load(s, dir, "documents").select("doc_id", "text")
        .join(assign, "doc_id")
        .select(col("cid"), explode(toksC).as("tok"))
        .groupBy("cid", "tok").agg(count(lit(1)).as("ctc"))
      val dfc = ct.groupBy("tok").agg(count(lit(1)).as("dfc"))
      val cc = ct.select("cid").distinct().agg(count(lit(1)).as("cc"))
      def lnBp(c: org.apache.spark.sql.Column) =
        floor(log(c.cast("double")) * 10000).cast("long")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("cid")
        .orderBy(col("score").desc, col("tok").asc)
      ct.join(dfc, "tok").crossJoin(broadcast(cc))
        .select(col("cid"), col("tok"),
          (col("ctc") * (lnBp(col("cc")) - lnBp(col("dfc")))).as("score"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("cid"), col("rank"), col("tok"), col("score"))
        .orderBy("cid", "rank")
    }),

    // Cluster assignment served from the INCREMENTALLY-MAINTAINED table:
    // the codebook is fixed up front (md5 seed rule over the corpus — a
    // trained artifact in production), vectors arrive as 4 micro-batches
    // through StreamClusters' foreachBatch merge into the key-bucketed
    // versioned table, and the query reads the maintained assignments.
    // Must equal batch q_embed_cluster exactly — same oracle — proving
    // incremental assignment maintenance converges to the batch
    // assignment regardless of arrival batching (the StreamIndex/
    // q_bm25_incremental device, applied to the embedding modality).
    "q_cluster_incremental" -> ((s, dir) => {
      StreamClusters.assignments(incrementalClusters(s, dir))
        .select(col("doc").cast("long").as("vec_id"),
          col("cid").cast("long").as("cid"), col("sim_bp"))
        .orderBy("vec_id")
    }),

    // Cluster-balanced sampling: cap each semantic cluster's contribution
    // (topic re-balancing for a pre-training mix) — deterministic
    // md5-rank selection INSIDE each cluster, the hashSplit device
    // applied within clusterAssign's buckets. The row_number window
    // partitions by cid (≈√n rows per cluster at the IVF sizing — never
    // a global sort; the corpus shuffles once, on cid).
    "q_cluster_balance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, _) = Similarity.ivfTune(embCount(s, dir))
      val w = Window.partitionBy("cid")
        .orderBy(substring(md5(col("doc").cast("string")), 1, 8).asc,
          col("doc").asc)
      Similarity.clusterAssign(emb, "vec_id", "embedding", nlist)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 16)
        .select(col("doc").as("vec_id"), col("cid").cast("long").as("cid"))
        .orderBy("vec_id")
    }),

    // SemDeDup over the planted near-dup corpus: within-cluster exact
    // pairs at 0.9 → components → keep-canonical. The oracle replays the
    // identical composition relationally (same codebook rule, same
    // within-cluster pair scope, WITH RECURSIVE min-label) — survivors
    // must match exactly, co-clustered plants collapsing onto their
    // originals and cluster-boundary plants surviving BY DESIGN (the
    // SemDeDup recall trade; the spec pins removed == co-clustered
    // plants precisely). CONTRACT: default clusterCap (1e6) sheds
    // nothing at oracle scale — the oracle does not model the cap.
    "q_semdedup" -> ((s, dir) => {
      val emb = embWithDups(s, dir)
      val (nlist, _) = Similarity.ivfTune(embWithDupsCount(s, dir))
      Similarity.semDedup(emb, "vec_id", "embedding", nlist, thresholdBp = 9000L)
        .select(col("doc").as("vec_id"))
        .orderBy("vec_id")
    }),

    // Brute-force exact top-k cosine neighbors for 8 query vectors.
    "q_ann_topk" -> ((s, dir) => {
      Similarity.bruteTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", queryIds = (0L to 7L), k = 10)
        .orderBy("query_id", "rank")
    }),

    // IVF top-k through the full machinery (tuned nlist, k-means-refined
    // codebook, cell join, rank), served FULL-PROBE (nprobe = nlist):
    // probing every cell scores every vector, so the result is exact BY
    // CONSTRUCTION (spec: "nprobe = nlist degenerates to exact") and the
    // driver row hash-checks against the brute-force relational oracle;
    // the in-run ivfTopKVerified audit additionally certifies the
    // assignment/join/dedup/rank machinery against bruteTopK on every
    // run. Full-probe is the honest verification config HERE because the
    // synthetic embeddings are near-uniform — true neighbors scatter
    // across cells, so ANY nprobe < nlist loses rows (measured: 27/80 at
    // the ivfTune default). The pruning benefit IVF exists for is
    // data-dependent cluster structure; that path's recall/nprobe trade
    // is asserted in SimilaritySpec, not hash-gated here.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, _) = Similarity.ivfTune(embCount(s, dir))
      Similarity.ivfTopKVerified(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10, nlist = nlist, nprobe = nlist,
          kmeansIters = 1)
        .orderBy("query_id", "rank")
    }),

    // Product-quantization ADC top-k — the memory-side ANN scale path
    // (codes table ≪ raw vectors; per-pair scoring is m LUT lookups).
    // Deterministic end-to-end (md5-seeded codebooks, sequential folds,
    // left-associated cross-subspace sum), so the oracle replays the
    // SAME approximation exactly and the driver hash-checks it — the
    // quantization error vs the true cosine is the measured recall
    // trade in SimilaritySpec, not a correctness gap here.
    "q_ann_pq" -> ((s, dir) => {
      Similarity.pqTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10)
        .orderBy("query_id", "rank")
    }),

    // PQ with K-MEANS-TRAINED sub-codebooks: two integer-exact Lloyd
    // iterations per subspace from the same md5 seeds pqTopK slices
    // (KMeans.trainSubspaces — one job per iteration for ALL
    // subspaces), then the identical encode/LUT/ADC tail. Measured
    // recall@10 on this corpus: 0.46 sampled → 0.56 trained. The
    // TRAINING ITERATIONS replay relationally (the q_kmeans device
    // keyed by subspace), so the full composition hash-gates.
    "q_ann_pq_trained" -> ((s, dir) => {
      Similarity.pqTrainedTopK(Tables.load(s, dir, "embeddings"), "vec_id",
          "embedding", queryIds = (0L to 7L), k = 10, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // OPQ: PCA-eigenbasis rotation with eigenvalue-BALANCED subspace
    // assignment (Ge et al., CVPR 2013 — the production-Faiss OPQ
    // preprocessing), then the identical trained-codebook pipeline in
    // rotated space. Rotation preserves dot products ((Rᵀq)·(Rᵀx) =
    // q·x), so ADC still approximates the original cosine — only the
    // quantization cells move. The rotation rides a per-sf fixture as
    // 2⁻³⁰ integer literals (basis-as-literal device) and the oracle
    // composes rotation + the SAME training chain + the SAME serving
    // tail as q_ann_pq_trained: rotation is the entire diff. Recall
    // comparison vs unrotated trained PQ is SimilaritySpec's pin.
    "q_ann_opq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val rot = Similarity.opqRotationFor(emb, "vec_id", "embedding", m = 16)
      writeOpqRotFixture(dir, rot)
      Similarity.opqTrainedTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10, iters = 2, rot = Some(rot))
        .orderBy("query_id", "rank")
    }),

    // NON-PARAMETRIC OPQ: Ge et al.'s alternation (rotation ↔ Lloyd
    // codebook re-training, §3) at the trained bar — OPQ-P's one-shot
    // eigenbasis as init, two alternations of train → reconstruct →
    // Procrustes re-solve. The learned rotation stays on the 2^-30
    // integer grid every iteration and only the FINAL matrix leaves the
    // driver (its own fixture), so the oracle is q_ann_opq's chain
    // verbatim, re-rooted at the NP fixture. MEASURED NEGATIVE RESULT
    // pinned in SimilaritySpec: the alternation descends its MSE
    // objective as published AND loses recall vs OPQ-P on the
    // variance-concentrated corpus (0.275 → 0.163) — documented, served
    // for the flat-spectrum corpora where MSE and recall agree.
    "q_ann_opq_np" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val rot = Similarity.opqRotationNpFor(emb, "vec_id", "embedding",
        m = 16, npIters = 2)
      writeOpqRotFixture(dir, rot, fixture = "graft_opqnp")
      Similarity.opqTrainedTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10, iters = 2, rot = Some(rot))
        .orderBy("query_id", "rank")
    }),

    // PCA-REDUCED ANN serving: candidates rank in the top-8 PCA
    // subspace (integer-exact projection — the q_pca_project device
    // over the NORMALIZED corpus, basis as 2^10 fixture literals), then
    // the exact-cosine rerank recovers full-space scores — the
    // dimensionality-reduction member of the compression family,
    // composed from three already-gated devices (quantized statistics,
    // basis-as-literal, bruteTopK's sequential-fold scoring). Whitening
    // measured WORSE for dot-product recall (SimilaritySpec) — served
    // unwhitened.
    "q_ann_pca" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val n = Similarity.normalized(emb, "vec_id", "embedding")
      val model = graft.operators.Linalg.pcaFit(n, "nv", 64)
      val basis = model.intBasis(8, 10)
      writeAnnPcaFixture(dir, basis)
      Similarity.pcaReducedTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10,
          model = Some(model), basis = Some(basis))
        .orderBy("query_id", "rank")
    }),

    // Trigram-accelerated substring search (pg_trgm architecture):
    // gram-postings prefilter + exact contains verify on candidates
    // only; patterns span common, rare, and absent.
    "q_substring_search" -> ((s, dir) => {
      Search.substringSearch(Tables.load(s, dir, "documents"),
          "doc_id", "text", substringPatterns)
        .orderBy("pid", "doc_id")
    }),

    // Substring search served from the STREAM-MAINTAINED trigram index
    // (4 real micro-batch merge/publish cycles; the twelfth maintained
    // artifact) — must hash-equal batch q_substring_search (shared
    // oracle verbatim): candidate generation reads only the maintained
    // gram postings; the exact verify reads corpus text for candidates
    // alone.
    "q_substring_incremental" -> ((s, dir) => {
      Search.substringSearchFromGrams(
          StreamTrgm.grams(incrementalTrgm(s, dir))
            .select(col("doc_id").cast("long").as("doc_id"), col("g")),
          Tables.load(s, dir, "documents"), "doc_id", "text",
          substringPatterns)
        .orderBy("pid", "doc_id")
    }),

    // More-like-this: top-10 docs per seed by integer tf·idf dot over
    // shared terms — seed postings broadcast, corpus postings stream
    // through the broadcast join.
    "q_more_like_this" -> ((s, dir) => {
      Search.moreLikeThis(Tables.load(s, dir, "documents"),
          "doc_id", "text", seedIds = Seq(0L, 1L, 2L), k = 10)
        .orderBy("seed", "rank")
    }),

    // Autocomplete prefix index: top-3 terms per prefix (≤6 chars) by
    // frequency — prefix explosion multiplies the vocabulary, never the
    // corpus; per-prefix rank window over tiny groups.
    "q_autocomplete" -> ((s, dir) => {
      Search.prefixIndex(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxPrefix = 6, k = 3)
        .orderBy("prefix", "rank")
    }),

    // Positional-postings phrase search: exact consecutive token
    // sequence, map-only all-terms prune BEFORE the positional explode,
    // adjacency joins over candidate-sized posting lists only.
    "q_phrase_search" -> ((s, dir) => {
      Search.phraseSearch(Tables.load(s, dir, "documents"),
          "doc_id", "text", phrase = "table hash")
        .orderBy("doc_id")
    }),

    // MMR-diversified retrieval: greedy relevance-vs-redundancy re-rank
    // over the brute candidate list — integer-bp scores make the greedy
    // trajectory engine-independent; the unrolled recursion hash-gates.
    "q_mmr" -> ((s, dir) => {
      Search.mmrTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          queryIds = (0L to 7L), kCand = 20, k = 5, lambdaBp = 7000L)
        .orderBy("query_id", "step")
    }),

    // Binary (1-bit) quantization ANN — the 64×-shrink endpoint of the
    // compression family: sign-bit signatures packed to 8 bytes/vector,
    // Hamming (2 XOR + 2 POPCNT) candidate stage over-fetches 30, exact
    // cosine reranks only those. Deterministic end to end, hash-gated
    // against a full relational replay of signatures, Hamming ranks,
    // and the rerank.
    "q_ann_binary" -> ((s, dir) => {
      Similarity.binaryRerankTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", queryIds = (0L to 7L), kCand = 30, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Two-stage retrieve+rerank: SQ8 compressed first stage over-fetches
    // 30 candidates, exact cosine reranks only those — the production
    // hot-codes/cold-raw serving split, hash-gated end-to-end.
    "q_ann_rerank" -> ((s, dir) => {
      Similarity.sq8RerankTopK(Tables.load(s, dir, "embeddings"), "vec_id",
          "embedding", queryIds = (0L to 7L), kCand = 30, k = 10)
        .orderBy("query_id", "rank")
    }),

    // FILTERED vector search (pre-filter semantics): top-k among vectors
    // whose label differs from the query's — hard-negative mining / the
    // production attribute-constrained ANN shape; predicate fused into
    // the broadcast join, always k qualifying rows.
    "q_ann_filtered" -> ((s, dir) => {
      Similarity.labelFilteredTopK(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", "label", queryIds = (0L to 7L), k = 10)
        .orderBy("query_id", "rank")
    }),

    // Scalar-quantization (SQ8) ANN: 256-level per-dimension affine
    // codes — the 4×-shrink/near-exact-recall point of the compression
    // family (PQ is the 32× point). Train/encode/score are all fixed-
    // association double affine math, so the approximation itself
    // hash-gates against a full relational replay.
    "q_ann_sq8" -> ((s, dir) => {
      Similarity.sq8TopK(Tables.load(s, dir, "embeddings"), "vec_id",
          "embedding", queryIds = (0L to 7L), k = 10)
        .orderBy("query_id", "rank")
    }),

    // IVF coarse pruning composed with PQ ADC scoring — the production
    // ANN architecture (Faiss IVFPQ): probe nprobe of √n cells, score
    // only those candidates from the compressed codes. BOTH quantizers
    // use the md5 seed rule, so the full pipeline (assignment, probe
    // selection, codes, ADC, rank) replays relationally — hash-checked
    // WITH pruning live (unlike q_ann_ivf's full-probe exactness device:
    // here the oracle models the approximation itself).
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, nprobe) = Similarity.ivfTune(embCount(s, dir))
      Similarity.ivfpqTopK(emb, "vec_id", "embedding", queryIds = (0L to 7L),
          k = 10, nlist = nlist, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // IVFPQ with RESIDUAL encoding — the Faiss-default composition:
    // codes quantize x − centroid(cell), scores decompose as
    // q·centroid + ADC(residual LUT). Both seed rules (coarse +
    // 'r'-salted residual), the subtracts, and the left-associated sums
    // replay relationally — the oracle models the approximation itself,
    // hash-checked WITH pruning AND residual encoding live.
    "q_ann_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, nprobe) = Similarity.ivfTune(embCount(s, dir))
      Similarity.ivfpqResidualTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10, nlist = nlist, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // Residual IVFPQ with K-MEANS-TRAINED residual codebooks — the full
    // production-Faiss default (coarse quantizer + residual encoding +
    // Lloyd-trained PQ, trained ON the corpus residuals, the
    // distribution the codes quantize). Training is the integer
    // fixpoint device, so coarse assign + residuals + iterations +
    // codes + ADC ALL replay relationally and the composition
    // hash-gates end to end.
    "q_ann_ivfpq_rtrained" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, nprobe) = Similarity.ivfTune(embCount(s, dir))
      Similarity.ivfpqResidualTrainedTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10, nlist = nlist, nprobe = nprobe,
          iters = 2)
        .orderBy("query_id", "rank")
    }),

    // ANN served from the INCREMENTALLY-MAINTAINED codes table — the
    // production serving shape: codebooks frozen up front (trained
    // exactly as q_ann_ivfpq_rtrained trains them), vectors arrive as 4
    // micro-batches through StreamAnn's foreachBatch merge into the
    // key-bucketed versioned table, and serving reads the maintained
    // (vid, cell, codes) rows through the VERBATIM ADC tail. Must equal
    // batch q_ann_ivfpq_rtrained exactly — same oracle — proving the
    // maintained index converges to the batch index regardless of
    // arrival batching (the q_cluster_incremental device, extended from
    // coarse assignment to the full compressed index).
    "q_ann_incremental" -> ((s, dir) => {
      val (table, coarse, cbRes) = incrementalAnn(s, dir)
      val (_, nprobe) = Similarity.ivfTune(embCount(s, dir))
      StreamAnn.serve(table, Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", coarse, cbRes,
          queryIds = (0L to 7L), k = 10, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // REFINED serving from the maintained index: the ADC stage
    // over-fetches 30 candidates from the STREAM-MAINTAINED codes
    // table, only those pairs re-score exactly from the raw vectors
    // (hot compressed index / cold raw store — the production read
    // path). Must equal inline-batch q_ann_ivfpq_refine exactly —
    // shared oracle verbatim.
    "q_ann_incremental_refine" -> ((s, dir) => {
      val (table, coarse, cbRes) = incrementalAnn(s, dir)
      val (_, nprobe) = Similarity.ivfTune(embCount(s, dir))
      StreamAnn.serveRefine(table, Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", coarse, cbRes,
          queryIds = (0L to 7L), kCand = 30, k = 10, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // TAKEDOWN end-to-end on the maintained ANN index — the
    // right-to-erasure act an LLM training-data pipeline is legally
    // required to implement, run for real in the timed body: a fresh
    // codes table is built against q_ann_ivfpq_rtrained's frozen
    // trained artifact, a deterministic vid set is HARD-PURGED
    // (pruned bucket rewrite + history vacuum — superseded code bytes
    // actually reclaimed), and serving reads the post-purge table
    // through the verbatim ADC tail. Gate: the batch rtrained pipeline
    // with the purged vids removed from the served candidates ONLY
    // (codebooks trained on the FULL corpus — a takedown does not
    // retrain the frozen artifact; per-candidate ADC scores are
    // independent, so candidate removal is exactly table absence). A
    // purged vid still serving, or any non-purged rank disturbed,
    // hash-mismatches.
    "q_takedown" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, nprobe) = Similarity.ivfTune(embCount(s, dir))
      val n = Similarity.normalized(emb, "vec_id", "embedding")
      val (coarse, cbRes) = Similarity.trainAnnArtifact(n, nlist,
        m = 16, ksub = 32, iters = 2)
      val tmp = java.nio.file.Files.createTempDirectory("graft_takedown")
      deleteOnExit(tmp)
      val table = StreamAnn.table(s, tmp.resolve("tbl").toString, nBuckets = 16)
      table.seed(StreamAnn.encodeRows(emb, "vec_id", "embedding", coarse, cbRes))
      // the takedown request: driver-side vid list (requests are
      // request-sized by contract); queries 0..7 stay out of it
      val vids = emb.select("vec_id")
        .filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8)
        .collect().map(_.getLong(0)).toSeq
      StreamAnn.purge(table, vids)
      StreamAnn.serve(table, emb, "vec_id", "embedding", coarse, cbRes,
          queryIds = (0L to 7L), k = 10, nprobe = nprobe)
        .orderBy("query_id", "rank")
    }),

    // IVFPQ + REFINE (Faiss "IVFPQ,RFlat"): the trained-residual first
    // stage over-fetches 30 ADC candidates, and only those pairs are
    // re-scored with the exact cosine from the raw vectors — the
    // retrieve+rerank economics (codes hot, raw cold) on the IVFPQ
    // stage, completing the compression family's rerank matrix. Exact
    // scores at compressed-stage recall; the oracle shares the entire
    // residual chain and adds only the refine fragment.
    "q_ann_ivfpq_refine" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, nprobe) = Similarity.ivfTune(embCount(s, dir))
      Similarity.ivfpqRefineTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), kCand = 30, k = 10,
          nlist = nlist, nprobe = nprobe, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // OPQ + IVF + PQ — the COMPLETE production-Faiss index string
    // ("OPQ16,IVF·,PQ16"): balanced eigenbasis rotation, then the full
    // trained-residual pipeline in rotated space (coarse seeds, cell
    // assignment, probes, residuals, Lloyd training, ADC — all rotated;
    // rotation preserves dot products so the score still approximates
    // the original cosine). Shares q_ann_opq's rotation fixture (same
    // m ⇒ same matrix) and q_ann_ivfpq_rtrained's entire oracle chain
    // re-rooted at the rotated relation — across the four composed
    // stages, rotation is the only diff either engine sees.
    "q_ann_opq_ivfpq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (nlist, nprobe) = Similarity.ivfTune(embCount(s, dir))
      val rot = Similarity.opqRotationFor(emb, "vec_id", "embedding", m = 16)
      writeOpqRotFixture(dir, rot)
      Similarity.opqIvfpqTopK(emb, "vec_id", "embedding",
          queryIds = (0L to 7L), k = 10, nlist = nlist, nprobe = nprobe,
          iters = 2, rot = Some(rot))
        .orderBy("query_id", "rank")
    }),

    // PII-style redaction (pre-training hygiene): plant emails/URLs/digit
    // runs, scrub to typed placeholders, count replacements.
    "q_redact" -> ((s, dir) => {
      val planted = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@example.com or https://x.io/p?id="), col("doc_id"),
          lit(" tel 12345678")).as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.redact(col("text")).as("clean"),
          TextAnalysis.redactionCount(col("text")).as("n_redactions"))
        .orderBy("doc_id")
    }),

    // Training-sequence packing: fixed token windows with overlap.
    "q_chunk" -> ((s, dir) => {
      TextAnalysis.chunk(Tables.load(s, dir, "documents"),
          "doc_id", "text", window = 16, stride = 8)
        .orderBy("doc", "chunk_idx")
    }),

    // LANGUAGE IDENTIFICATION — the CCNet-shape FIRST filter of a
    // multilingual crawl pipeline (langid precedes every quality/dedup
    // stage): char-trigram integer profiles trained per language on a
    // PLANTED multilingual corpus (per-language character permutations
    // of the documents text keyed by the real `lang` labels — the base
    // text is language-neutral, so the transform is what MAKES the
    // trigram distributions distinct and the task non-vacuous), then
    // held-out docs (doc_id % 5 = 0) classified by integer dot-score
    // against the broadcast profiles. Output (doc, true, pred, score)
    // — the confusion surface, hash-gated: the oracle re-trains and
    // re-classifies relationally, so a drift in trigram extraction,
    // rank weighting, or the argmax tiebreak mismatches.
    "q_langid" -> ((s, dir) => {
      val planted = langidPlanted(Tables.load(s, dir, "documents"))
      val test = planted.filter(col("doc_id") % 5 === 0)
      val profiles = TextAnalysis.trigramProfiles(
        planted.filter(col("doc_id") % 5 =!= 0), "lang", "text", k = 64)
      TextAnalysis.langidByProfiles(test, "doc_id", "text", profiles)
        .join(test.select(col("doc_id"), col("lang").as("lang_true")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang_true"), col("lang_pred"), col("score"))
        .orderBy("doc_id")
    }),

    // The CCNet SHARD SPLIT — what langid is FOR: the whole corpus
    // (train + held-out) classifies against the trained profiles and
    // lands in per-language shards; the output is the shard manifest
    // (lang_pred, n_docs, sum_chars) a downstream per-language pipeline
    // consumes. Integer stats; the oracle re-runs the full
    // train-classify-shard chain.
    "q_langid_shard" -> ((s, dir) => {
      val planted = langidPlanted(Tables.load(s, dir, "documents"))
      val profiles = TextAnalysis.trigramProfiles(
        planted.filter(col("doc_id") % 5 =!= 0), "lang", "text", k = 64)
      TextAnalysis.langidByProfiles(planted, "doc_id", "text", profiles)
        .join(planted.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang_pred")
    }),

    // Langid served from the INCREMENTALLY-MAINTAINED gram-count model
    // (StreamLangid — the 16th maintained artifact): labeled planted
    // docs arrive as 4 micro-batches of additive (lang, gram) counter
    // upserts; serving derives the rank profiles from the maintained
    // counts through the batch trainer's own FromCounts code and
    // classifies the held-out split — must equal batch q_langid
    // exactly (shared oracle VERBATIM): counts are additive integers,
    // so any maintenance leak (a dropped batch, a double-counted gram,
    // a key-codec collision) shifts a rank and hash-mismatches.
    "q_langid_incremental" -> ((s, dir) => {
      val planted = langidPlanted(Tables.load(s, dir, "documents"))
      val test = planted.filter(col("doc_id") % 5 === 0)
      val profiles = graft.streaming.StreamLangid.profiles(
        incrementalLangid(s, dir), k = 64)
      TextAnalysis.langidByProfiles(test, "doc_id", "text", profiles)
        .join(test.select(col("doc_id"), col("lang").as("lang_true")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang_true"), col("lang_pred"), col("score"))
        .orderBy("doc_id")
    }),

    // Text analysis: token counts, quality, language-ID, fingerprint.
    // Multinomial Naive Bayes trained AND served in-engine: language
    // classification of the corpus, add-one smoothing, every ln floored
    // once (quantized-ln device) so the argmax replays relationally.
    // Output = the confusion matrix.
    "q_naive_bayes" -> ((s, dir) => {
      graft.operators.NaiveBayes.confusion(
          Tables.load(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("label", "predicted")
    }),

    // Naive Bayes served from the INCREMENTALLY-MAINTAINED model table:
    // labeled docs arrive as 4 micro-batches of additive (class, token)
    // and class-doc counters; classification against the maintained
    // model must equal the batch train-and-score exactly (shared oracle
    // verbatim) — the classifier follows the stream, no batch retrain.
    "q_nb_incremental" -> ((s, dir) => {
      val t = incrementalNb(s, dir)
      graft.operators.NaiveBayes.confusionFromModel(
          Tables.load(s, dir, "documents"), "doc_id", "text", "lang",
          graft.streaming.StreamNb.tokenCounts(t),
          graft.streaming.StreamNb.classDocs(t))
        .orderBy("label", "predicted")
    }),

    // TAKEDOWN on the COUNTER-type artifact — DECREMENTAL learning
    // (StreamNb.retract): the replace-by-doc fleet purges rows
    // (q_takedown); an additive model instead SUBTRACTS the retracted
    // docs' contributions and purges zeroed keys, so the maintained
    // model equals a batch train over corpus-minus-docs EXACTLY —
    // including the smoothing vocabulary (a zero-count row left behind
    // would shift every likelihood). Build: the real 4-micro-batch
    // sink, then retract doc_id % 7 = 3 in the timed body, classify
    // the remaining corpus from the maintained model. Oracle: the full
    // NB replay over documents WHERE doc_id % 7 != 3 — train and
    // classify on the post-takedown corpus.
    "q_takedown_nb" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_takedown_nb")
      deleteOnExit(tmp)
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "text", "lang")
      val src = tmp.resolve("in").toString
      docs.repartition(4).write.parquet(src)
      val table = graft.streaming.StreamNb.table(s, tmp.resolve("tbl").toString)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamNb.nbSink(stream, "doc_id", "text",
        "lang", table, tmp.resolve("ckp").toString).start()
      q.awaitTermination()
      graft.streaming.StreamNb.retract(table,
        docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", "lang",
        seqBase = 100L)
      graft.operators.NaiveBayes.confusionFromModel(
          docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text", "lang",
          graft.streaming.StreamNb.tokenCounts(table),
          graft.streaming.StreamNb.classDocs(table))
        .orderBy("label", "predicted")
    }),

    // Norvig-style spell correction: typos minted from the top-10 vocab
    // words (2nd char dropped), corrected against the frequency-weighted
    // vocabulary by (edit distance, -freq, word) — distance then the
    // language-model prior. Typos broadcast; vocab never shuffles.
    "q_spell_correct" -> ((s, dir) => {
      val vocab = Sketches.tokenCounts(
        Tables.load(s, dir, "documents"), "text")
      val typos = vocab.filter(length(col("tok")) >= 4)
        .orderBy(col("exact").desc, col("tok").asc).limit(10)
        .select(concat(substring(col("tok"), 1, 1),
          expr("substring(tok, 3)")).as("typo"))
      graft.operators.Fuzzy.spellCorrect(vocab, "tok", "exact",
          typos, "typo", maxDist = 2)
        .orderBy("typo")
    }),

    // Source-overlap audit: pairwise vocabulary Jaccard between sources
    // — the dataset-mixing planner's "how much do my sources repeat each
    // other" number. All work |vocab|-bounded after one distinct pass.
    "q_source_overlap" -> ((s, dir) => {
      val vt = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
            t => length(t) > 0)).as("tok"))
        .distinct().localCheckpoint(false)
      val sizes = vt.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = vt.as("a").join(vt.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("c"))
      inter
        .join(sizes.select(col("source").as("sa"), col("n").as("na")), "sa")
        .join(sizes.select(col("source").as("sb"), col("n").as("nb")), "sb")
        .select(col("sa"), col("sb"), col("c"),
          expr("(c * 10000) div (na + nb - c)").as("jac_bp"))
        .orderBy("sa", "sb")
    }),

    // Novelty scoring: the share of each doc's distinct shingles whose
    // corpus-wide FIRST occurrence (min doc_id) is this doc — the
    // freshness signal curriculum/dedup planners read. One shingle
    // aggregation + one join back, both shingle-bounded.
    "q_novelty" -> ((s, dir) => {
      val sh = Dedup.shingles(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 3).localCheckpoint(false)
      val first = sh.groupBy("s").agg(min("doc").as("first_doc"))
      sh.join(first, "s")
        .groupBy("doc")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc"), col("n_shingles"), col("n_novel"),
          expr("(n_novel * 10000) div n_shingles").as("novelty_bp"))
        .orderBy("doc")
    }),

    // Per-source Shannon token entropy (diversity profiling) in bp of
    // nats — the quantized-ln device, one ln per vocab row.
    "q_entropy" -> ((s, dir) => {
      TextAnalysis.tokenEntropy(Tables.load(s, dir, "documents"),
          "source", "text")
        .withColumnRenamed("g", "source")
        .orderBy("source")
    }),

    // Flesch reading-ease in exact-integer milli-points: words /
    // sentence-runs / floored vowel-group syllables, each ratio
    // floor-divided once. Map-only — fuses into the document scan.
    "q_readability" -> ((s, dir) => {
      TextAnalysis.readability(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc")
    }),

    // RAKE keyword extraction: stopword-free runs as candidate phrases
    // (the pos − row_number device), deg/freq word scores in bp, top-20
    // phrases by summed score. Stoplist shared with the oracle from ONE
    // Scala definition.
    "q_rake" -> ((s, dir) => {
      TextAnalysis.rakeKeywords(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 20)
    }),

    // Hashing-trick featurization: tokens into 4096 signed slots via the
    // portable md5 device; (doc, bucket) Σsign sparse triplets (zero-sum
    // slots dropped). Sampled docs keep the gate output bounded.
    "q_featurize" -> ((s, dir) => {
      TextAnalysis.hashFeatures(
          Tables.load(s, dir, "documents").filter(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 4096)
        .orderBy("doc", "bucket")
    }),

    "q_text_profile" -> ((s, dir) => {
      TextAnalysis.profile(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Sequence packing: token-counted docs streamed into 512-token
    // context-window bins, 32 independent shards (one exchange + per-shard
    // window cumsum).
    "q_pack" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.packSequences(docs, "doc_id",
          TextAnalysis.tokenCount(col("text")), capacity = 512L)
        .orderBy("doc_id")
    }),

    // Quality-percentile selection: keep the top 25% of docs by the
    // profile quality score — EXACT, via the bounded-domain histogram
    // threshold (selectTopPctByScore: no global sort; the only window
    // runs over the ≤10001-row score histogram). Ties at the threshold
    // all survive, so the cut is minimal and reproducible.
    "q_quality_select" -> ((s, dir) => {
      val prof = TextAnalysis.profile(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("quality_bp"))
      TextAnalysis.selectTopPctByScore(prof, "quality_bp", keepPct = 25)
        .orderBy("doc_id")
    }),

    // Gopher-style rule VERDICTS (keep/drop + per-rule booleans for
    // filter-ablation audits) — the published web-corpus filter family as
    // a map-only projection.
    "q_quality_rules" -> ((s, dir) => {
      TextAnalysis.gopherRules(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Multimodal plumbing: binary payload + metadata; stubbed decode via
    // partition-local mapPartitions; byte math exact-checked vs oracle.
    "q_multimodal" -> ((s, dir) => {
      val media = Multimodal.asMedia(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val feats = Multimodal.extractFeatures(media, stride = 1).toDF()
      feats.select(
          col("doc_id"), col("modality"), col("byte_len"), col("n_frames"),
          aggregate(col("frame_bytes"), lit(0L), (a, v) => a + v).as("byte_sum"))
        .withColumn("mean_byte_c", expr("byte_sum * 100 div byte_len"))
        .orderBy("doc_id")
    }),

    // REAL media decode at corpus scale: every document is minted into a
    // valid 8-bit PCM WAV (44-byte header + the text's first 100 bytes as
    // samples) and run through the sniff→decode path — the same
    // partition-local batch shape a codec-backed decoder uses. Spec-side
    // ground truth: MultimodalSpec decodes hand-built WAV/BMP/PPM
    // fixtures to exact sample counts and means.
    // Perceptual image near-dup (dHash): REAL P6 PPM payloads are minted
    // from corpus text bytes, run through the actual raster parser +
    // integer gray resample + gradient-bit hash; identical images land
    // in the same hash group (n_same counts them — the planted dups).
    // The full byte→gray→bit pipeline replays in the oracle.
    "q_image_phash" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hdr = "P6 9 8 255\n".getBytes("US-ASCII")
      val media = corpusWithDups(s, dir).select(
        col("doc_id"), lit("image").as("modality"),
        lit((hdr.length + 216).toLong).as("byte_len"),
        concat(lit(hdr),
          encode(rpad(substring(col("text"), 1, 216), 216, "x"), "UTF-8"))
          .as("payload"))
      Multimodal.imageDHash(media).toDF()
        .withColumn("n_same", count(lit(1)).over(
          Window.partitionBy("dhash_hi", "dhash_lo")))
        .select("doc_id", "width", "height", "dhash_hi", "dhash_lo", "n_same")
        .orderBy("doc_id")
    }),

    // Perceptual image NEAR-dup retrieval: the dHash corpus plus
    // PERTURBED plants (every 10th doc re-minted with one text byte
    // changed — one gray cell moves, ≤2 gradient bits flip), paired by
    // the pigeonhole Hamming banding (Dedup.hammingPairs on the packed
    // 64-bit hash — EXACT recall at ≤3 by construction). The oracle is
    // the brute-force Hamming join the banding replaces.
    "q_image_neardup" -> ((s, dir) => {
      val hdr = "P6 9 8 255\n".getBytes("US-ASCII")
      val perturbed = Tables.load(s, dir, "documents")
        .select("doc_id", "text").filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(substring(col("text"), 1, 4), lit("z"),
            substring(col("text"), 6, 1000000)).as("text"))
      val corpus = corpusWithDups(s, dir).unionByName(perturbed)
      val media = corpus.select(
        col("doc_id"), lit("image").as("modality"),
        lit((hdr.length + 216).toLong).as("byte_len"),
        concat(lit(hdr),
          encode(rpad(substring(col("text"), 1, 216), 216, "x"), "UTF-8"))
          .as("payload"))
      // pack (hi, lo) into ONE signed 64-bit value by reinterpreting
      // hi's top bit as the sign (hi·2³² overflows ANSI long for bit-31
      // hashes; the CASE keeps the product in-range with the identical
      // bit pattern — mirrored verbatim in the oracle)
      val hashed = Multimodal.imageDHash(media).toDF()
        .select(col("doc_id").as("doc"),
          (when(col("dhash_hi") >= 2147483648L,
            col("dhash_hi") - 4294967296L).otherwise(col("dhash_hi"))
            * 4294967296L + col("dhash_lo")).as("simhash"))
      Dedup.hammingPairs(hashed, maxHamming = 3)
        .orderBy("i", "j")
    }),

    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val hdr = Multimodal.wavHeaderPcm8Mono(dataLen = 100)
      // printable-ASCII projection BEFORE padding: the decoders count
      // BYTES where the oracle counts CHARS, and only ASCII makes those
      // the same thing (identity on this corpus; robustness contract)
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 100),
          100, "x").as("t100"))
      // doc_id % 5 picks the format — WAV, PNG, GIF, TIFF, FLAC — so the
      // sniff chain must route a genuinely MIXED corpus, not one format
      // per run; branch 4 exercises the COMPRESSED-audio decoder (rice +
      // fixed predictors + CRC), not just the raster family
      val wav = docs.filter(col("doc_id") % 5 === 0).select(
        col("doc_id"), lit("audio").as("modality"), lit(144L).as("byte_len"),
        concat(lit(hdr),
          // rpad to 100 CHARS then utf-8 encode: ≥100 bytes of samples;
          // the decoder reads the declared 100 (trailing bytes ignored,
          // as with real padded media files)
          encode(col("t100"), "UTF-8")).as("payload"))
      // media minting is partition-local (test-harness data gen, the
      // multimodal mapPartitions tier); decode is the served operator
      val minted = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("t100")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, t) =>
            val px = t.getBytes("US-ASCII").take(100).map(b => b & 0xff)
            val (modality, payload) = (id % 5) match {
              case 1 => ("image", graft.operators.Png.encodeGray(px, 100, 1))
              case 2 => ("image", graft.operators.Gif.encodeGray(px, 100, 1))
              case 3 => ("image", graft.operators.Tif.encodeGray(px, 100, 1))
              case _ => ("audio", graft.operators.Flac.encodeMono(px, 8000, 16))
            }
            (id, modality, payload)
          }
        }.toDF("doc_id", "modality", "payload")
        .select(col("doc_id"), col("modality"),
          octet_length(col("payload")).cast("long").as("byte_len"),
          col("payload"))
      Multimodal.decode(wav.unionByName(minted)).toDF()
        // n_samples = 100, so mean·100 is an exact integer (the sample
        // byte sum); round() recovers it from the double division
        .select(col("doc_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"),
          round(col("mean_value") * 100).cast("long").as("mean_c"))
        .orderBy("doc_id")
    }),

    // REAL baseline-JPEG decode at corpus scale: each doc's first 16
    // text bytes mint a 128×8 grayscale JPEG of sixteen CONSTANT 8×8
    // blocks at quality 100 (all-ones quant → DC-only blocks roundtrip
    // EXACTLY — Jpeg.scala's oracle device), and the full entropy
    // pipeline runs for real: JFIF marker walk, canonical Huffman DC
    // decode, dequant, IDCT, clamp. mean·16 = the exact byte sum, which
    // the oracle replays from the text — the WAV device for images.
    // Encoding is partition-local minting (test-harness data gen, the
    // multimodal mapPartitions tier); decode is the served operator.
    "q_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      // printable-ASCII projection BEFORE padding: the mint consumes
      // BYTES while the oracle sums per-CHAR ascii() — only ASCII makes
      // those equal (identity on this corpus; robustness contract)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val bytes = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          val px = Array.tabulate(8 * 128)(i => bytes((i % 128) / 8))
          (id, "image", graft.operators.Jpeg.encodeGray(px, 128, 8,
            quality = 100))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        // 1024 pixels; mean = byteSum/16 with power-of-two division —
        // exact in binary, so round(mean·16) is the exact byte sum
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_samples"),
          round(col("mean_value") * 16).cast("long").as("mean_c16"))
        .orderBy("doc_id")
    }),

    // REAL PNG decode at corpus scale — the q_jpeg_decode device on the
    // LOSSLESS codec: each doc's first 16 (ASCII-projected, padded) text
    // bytes mint a 16×1 grayscale PNG (Png.encodeGray: deflate + filter-0
    // scanline), and the full decode pipeline runs for real: signature +
    // chunk walk, CRC verification, Inflater, defilter. Lossless means
    // decoded pixels ARE the source bytes with no quality device needed;
    // mean·16 is the exact byte sum, which the oracle replays from text.
    "q_png_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val px = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          (id, "image", graft.operators.Png.encodeGray(px, 16, 1))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        // 16 pixels; mean = byteSum/16, a power-of-two division — exact
        // in binary, so round(mean·16) is the exact byte sum
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_samples"),
          round(col("mean_value") * 16).cast("long").as("mean_c16"))
        .orderBy("doc_id")
    }),

    // REAL FLAC decode at corpus scale — the lossless device on
    // COMPRESSED audio: each doc's first 16 (ASCII-projected, padded)
    // text bytes mint a 16-sample mono 16-bit FLAC (Flac.encodeMono:
    // fixed-predictor/rice or verbatim subframes, CRC-8/16), and the
    // full decode runs for real: metadata walk, frame-header parse,
    // CRC verification, rice decode, predictor reconstruction.
    // Lossless ⇒ decoded samples ARE the source bytes; mean·16 is the
    // exact byte sum, which the oracle replays from text.
    "q_flac_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val px = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          (id, "audio", graft.operators.Flac.encodeMono(px, 8000, 16))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        // 16 samples; mean = byteSum/16, a power-of-two division — exact
        // in binary, so round(mean·16) is the exact byte sum
        .select(col("doc_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"),
          round(col("mean_value") * 16).cast("long").as("mean_c16"))
        .orderBy("doc_id")
    }),

    // HTML → text extraction at corpus scale — the crawl-to-corpus step
    // before quality/dedup/tokenization: each doc's whitespace-free
    // 64-char projection mints a page (title kept; style/script/comment
    // dropped; attributes with embedded '>' quoted; entities escaped),
    // and the linear state machine extracts exactly the four content
    // slices joined by newlines — md5-pinned, no tag machinery in SQL.
    "q_html_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^!-~]", ""), 1, 64),
            64, "x").as("t64"))
      docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val txt = graft.operators.Html.extractText(
            graft.operators.Html.mintFixture(t))
          (id, txt.length.toLong, txt)
        }
      }.toDF("doc_id", "n_chars", "text_out")
        .select(col("doc_id"), col("n_chars"),
          md5(encode(col("text_out"), "UTF-8")).as("digest"))
        .orderBy("doc_id")
    }),

    // WARC crawl-container ingestion, end to end: each doc mints a
    // .warc.gz (one gzip member per record — the Common Crawl layout)
    // holding an HTML response and a text/plain response; the operator
    // chain is gunzip (capped) → WARC record walk → HTTP split → HTML
    // text extraction — every step the real pipeline runs, md5-pinned.
    "q_warc_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^!-~]", ""), 1, 64),
            64, "x").as("t64"))
      val warcs = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val html = graft.operators.Html.mintFixture(t)
          (id, graft.sources.Warc.mint(Seq(
            (s"http://ex.com/$id/0", "text/html",
              html.getBytes("ISO-8859-1")),
            (s"http://ex.com/$id/1", "text/plain",
              t.getBytes("ISO-8859-1"))), gzipPerRecord = true))
        }
      }.toDF("doc_id", "payload")
      graft.sources.Warc.explode(warcs, "doc_id", "payload")
        .mapPartitions { it =>
          it.map { r =>
            val content =
              if (r.http_content_type == "text/html")
                graft.operators.Html.extractText(
                  new String(r.body, "ISO-8859-1")).getBytes("UTF-8")
              else r.body
            (r.doc_id, r.ok, r.idx.toLong, r.target_uri, r.http_status,
              r.http_content_type, content)
          }
        }.toDF("doc_id", "ok", "idx", "target_uri", "http_status",
          "http_content_type", "content")
        .select(col("doc_id"), col("ok"), col("idx"), col("target_uri"),
          col("http_status"), col("http_content_type"),
          md5(col("content")).as("digest"))
        .orderBy("doc_id", "idx")
    }),

    // REAL PDF text extraction at corpus scale — the dominant document
    // format of any crawl: each doc's ASCII-projected 64-char text
    // mints a VALID single-page PDF (correct xref; FlateDecode content
    // stream on even doc_id, raw on odd — both decode paths live in one
    // corpus), and the extractor walks dictionaries → streams →
    // inflate-capped → text operators for real. Extraction is EXACT
    // here (escapes roundtrip), so md5 pins content end to end.
    "q_pdf_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 64),
            64, "x").as("t64"))
      val pdfs = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          (id, graft.operators.Pdf.minimal(Seq(t), flate = id % 2 == 0))
        }
      }.toDF("doc_id", "payload")
      pdfs.as[(Long, Array[Byte])].mapPartitions { it =>
        it.map { case (id, p) =>
          graft.operators.Pdf.extractText(p) match {
            case Some(t) => (id, true, t.length.toLong, t)
            case None => (id, false, 0L, "")
          }
        }
      }.toDF("doc_id", "ok", "n_chars", "text_out")
        .select(col("doc_id"), col("ok"), col("n_chars"),
          md5(encode(col("text_out"), "UTF-8")).as("digest"))
        .orderBy("doc_id")
    }),

    // REAL DOCX text extraction at corpus scale — the office-document
    // format (OOXML WordprocessingML): each doc's ASCII-projected
    // 64-char text mints a VALID .docx (zip + [Content_Types].xml +
    // word/document.xml; three paragraphs, the last with a tab-joined
    // run pair, escape roundtrip included), and the extractor walks
    // zip → document.xml → linear WordprocessingML scan for real, under
    // the archive bomb caps. Extraction is EXACT, so md5 pins content.
    "q_docx_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 64),
            64, "x").as("t64"))
      val minted = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          (id, graft.operators.Docx.mint(Seq(
            Seq(t.substring(0, 24)), Seq(t.substring(24, 48)),
            Seq(t.substring(48, 56), t.substring(56, 64)))))
        }
      }.toDF("doc_id", "payload")
      minted.as[(Long, Array[Byte])].mapPartitions { it =>
        it.map { case (id, p) =>
          graft.operators.Docx.extractText(p) match {
            case Some(t) => (id, true, t.length.toLong, t)
            case None => (id, false, 0L, "")
          }
        }
      }.toDF("doc_id", "ok", "n_chars", "text_out")
        .select(col("doc_id"), col("ok"), col("n_chars"),
          md5(encode(col("text_out"), "UTF-8")).as("digest"))
        .orderBy("doc_id")
    }),

    // Compressed-ARCHIVE explosion at corpus scale: each doc's
    // ASCII-projected 64-char text mints a real zip with two deflated
    // members; the served operator walks the container partition-locally
    // under the bomb caps and explodes to member rows. The md5-digest
    // projection makes extraction EXACT end to end (both engines hash
    // the same 32 ASCII bytes), not just length-consistent.
    "q_archive_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 64),
            64, "x").as("t64"))
      val zips = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val b = t.getBytes("US-ASCII")
          (id, graft.sources.Archives.zip(Seq(
            "a.txt" -> b.slice(0, 32), "b.txt" -> b.slice(32, 64))))
        }
      }.toDF("doc_id", "payload")
      graft.sources.Archives.explodeZip(zips, "doc_id", "payload").toDF()
        .select(col("doc_id"), col("ok"), col("member"),
          col("idx").cast("long").as("idx"), col("len"),
          md5(col("bytes")).as("digest"))
        .orderBy("doc_id", "idx")
    }),

    // Gzip payload decompression under the same bomb wall: gunzip is
    // the per-row decode (capped during inflation), digest pins content.
    "q_gzip_scan" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 64),
            64, "x").as("t64"))
      val gz = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          (id, graft.sources.Archives.gzip(t.getBytes("US-ASCII")))
        }
      }.toDF("doc_id", "payload")
      gz.as[(Long, Array[Byte])].mapPartitions { it =>
        it.map { case (id, p) =>
          graft.sources.Archives.gunzip(p) match {
            case Some(out) => (id, true, out.length.toLong, out)
            case None => (id, false, 0L, Array.emptyByteArray)
          }
        }
      }.toDF("doc_id", "ok", "len", "bytes")
        .select(col("doc_id"), col("ok"), col("len"),
          md5(col("bytes")).as("digest"))
        .orderBy("doc_id")
    }),

    // REAL G.711 decode at corpus scale — the compressed-telephony
    // branch of the WAV family: each doc's first 16 (ASCII-projected,
    // padded) text bytes ARE the data bytes of a minted µ-law (even
    // doc_id) or A-law (odd) mono WAV, and the decode expands each code
    // byte through the public companding formulas (Pcm.scala). The
    // decoded sample sum is then pure BIT ARITHMETIC over the text
    // bytes, which the oracle replays verbatim in SQL — the exactness
    // device for a compressed codec with a closed-form per-byte decode.
    "q_g711_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val codes = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          (id, "audio", graft.operators.Pcm.wavG711(codes, ulaw = id % 2 == 0))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        // 16 samples: mean·16 is the exact linear-sample sum (the mean's
        // /16 is a power-of-two division, exact in binary)
        .select(col("doc_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"),
          round(col("mean_value") * 16).cast("long").as("sum_c16"))
        .orderBy("doc_id")
    }),

    // REAL IMA ADPCM decode at corpus scale — the 4-bit adaptive-delta
    // state machine (WAVE tag 0x11). Exactness device: one block per
    // text byte with predictor = the byte, step index 0, and the FIXED
    // nibble pattern Pcm.OracleNibbles (all 16 quantizer codes, both
    // signs, index-table walk incl. the clamp at 0) — the per-block
    // decoded sum is then 17·byte − 1119 in closed form (deltas are
    // text-independent; no sample clamp for printable ASCII), so the
    // oracle is a linear function of the byte sum with no state machine.
    "q_adpcm_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val bytes = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          (id, "audio", graft.operators.Pcm.wavAdpcmOracleBlocks(bytes))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        // 16 blocks × 17 samples = 272; round(mean·272) recovers the
        // exact integer sum (values ≪ 2^53, fp round-trip safe)
        .select(col("doc_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"),
          round(col("mean_value") * 272).cast("long").as("sum_c"))
        .orderBy("doc_id")
    }),

    // REAL GIF decode at corpus scale — the lossless device on the third
    // dominant image format: each doc's first 16 (ASCII-projected,
    // padded) text bytes mint a 16×1 grayscale GIF (Gif.encodeGray:
    // 256-gray palette + uncompressed-trick LZW), and the full decode
    // runs for real: header walk, LZW dictionary decode, palette
    // resolution. Gray palette ⇒ every RGB channel equals the source
    // byte, so mean·16 is the exact byte sum the oracle replays.
    "q_gif_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val px = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          (id, "image", graft.operators.Gif.encodeGray(px, 16, 1))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_samples"),
          round(col("mean_value") * 16).cast("long").as("mean_c16"))
        .orderBy("doc_id")
    }),

    // REAL baseline-TIFF decode at corpus scale — the lossless device on
    // the fourth raster format: 16×1 gray TIFF per doc (Tif.encodeGray:
    // IFD + one uncompressed strip), full decode runs for real (byte
    // order, IFD tag walk, strip assembly). mean·16 = the byte sum.
    "q_tiff_decode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          rpad(substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 16),
            16, "x").as("t16"))
      val media = docs.as[(Long, String)].mapPartitions { it =>
        it.map { case (id, t) =>
          val px = t.getBytes("US-ASCII").take(16).map(b => b & 0xff)
          (id, "image", graft.operators.Tif.encodeGray(px, 16, 1))
        }
      }.toDF("doc_id", "modality", "payload")
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
      Multimodal.decode(media).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_samples"),
          round(col("mean_value") * 16).cast("long").as("mean_c16"))
        .orderBy("doc_id")
    })
  )

  /** The SQL shingle contract, ONE copy (the Scala twin is
    * Dedup.words/shingleExpr): whitespace words → DISTINCT trigrams.
    * Shared by every shingle-based oracle so an n or regex change can't
    * silently desynchronize one of them. */
  private val shingleCte =
    """WITH words AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id AS doc,
                unnest(list_transform(range(1, len(w)-1),
                                      i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS s
         FROM words)"""

  private val jaccardOracle = shingleCte +
    """,
       sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc AS i, b.doc AS j, count(*) AS c
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
         GROUP BY 1, 2)
       SELECT i, j,
              CAST(floor(c * 10000.0 / (x.n + y.n - c)) AS BIGINT) AS jac_bp
       FROM inter JOIN sizes x ON x.doc = i JOIN sizes y ON y.doc = j
       WHERE floor(c * 10000.0 / (x.n + y.n - c)) >= 8000
       ORDER BY i, j"""

  /** Duplicated-span ground truth over the planted-duplicate corpus:
    * positional 60-bit md5-prefix 8-gram hashes → corpus-wide count ≥ 2
    * → maximal covered runs (marked positions whose gap ≤ L merge: the
    * TextAnalysis.coveredSpans lag + cumulative-sum interval merge, so
    * spans are disjoint and no token has two covering spans) — shared by
    * the detection (q_dedup_spans) and enforcement (q_dedup_scrub)
    * oracles. */
  private def dupSpansCteFrom(corpusSql: String): String =
    s"""WITH corpus AS (
         $corpusSql),
       nw AS (
         SELECT doc_id AS doc,
                string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS wd
         FROM corpus),
       g AS (
         SELECT doc, i - 1 AS pos,
                CAST(('0x'||substring(
                  md5(array_to_string(wd[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h
         FROM (SELECT doc, wd, unnest(range(1, len(wd) - 8 + 2)) AS i
               FROM nw WHERE len(wd) >= 8) t),
       dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
       m AS (SELECT doc, pos FROM g JOIN dup USING (h)),
       runs AS (
         SELECT doc, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) <= 8
                     THEN 0 ELSE 1 END AS nw_flag
         FROM m),
       grps AS (
         SELECT doc, pos,
                sum(nw_flag) OVER (PARTITION BY doc ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
         FROM runs),
       spans AS (
         SELECT doc, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len
         FROM grps GROUP BY doc, grp)"""

  private val dupSpansCorpusSql =
    """SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0"""

  private val dupSpansCte = dupSpansCteFrom(dupSpansCorpusSql)

  /** the stitch-planted corpus (corpusWithStitch's SQL twin) for the
    * span-level eval. */
  private val dupSpansStitchCorpusSql = dupSpansCorpusSql +
    """
         UNION ALL
         SELECT doc_id + 2000000, array_to_string(wd[1:8], ' ') FROM (
           SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS wd
           FROM documents) z0
         WHERE doc_id % 25 = 3 AND len(wd) >= 9
         UNION ALL
         SELECT doc_id + 2100000, array_to_string(wd[2:9], ' ') FROM (
           SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS wd
           FROM documents) z1
         WHERE doc_id % 25 = 3 AND len(wd) >= 9"""

  /** Span-level eval replay: the stitched-corpus span chain, then each
    * span's full token run re-counted corpus-wide by the double-space
    * literal-replace device (adjacent matches non-overlapping by
    * construction — identical in both engines). */
  private val dupSpansEvalOracle = dupSpansCteFrom(dupSpansStitchCorpusSql) +
    """,
       sp AS (
         SELECT s.doc, s.span_start,
                ' '||array_to_string(
                  nw.wd[s.span_start+1 : s.span_start+s.span_len], '  ')||' '
                  AS needle
         FROM spans s JOIN nw ON nw.doc = s.doc),
       hays AS (SELECT ' '||array_to_string(wd, '  ')||' ' AS hay FROM nw),
       occ AS (
         SELECT doc, span_start,
                CAST(SUM((length(hay) - length(replace(hay, needle, '')))
                         / length(needle)) AS BIGINT) AS occ
         FROM sp CROSS JOIN hays GROUP BY doc, span_start)
       SELECT CAST(count(*) AS BIGINT) AS n_spans,
              CAST(count(*) FILTER (occ >= 2) AS BIGINT) AS n_verified,
              CAST(CASE WHEN count(*) > 0 THEN
                     (count(*) FILTER (occ >= 2)) * 10000 // count(*)
                   END AS BIGINT) AS precision_bp
       FROM occ"""

  /** Scrub ground truth (detection CTEs + token-level mark/re-concat) —
    * shared verbatim by the row-local (q_dedup_scrub) and positional
    * (q_dedup_scrub_positional) forms, which must emit identical rows. */
  private val scrubOracle = dupSpansCte + """,
         tok AS (
           SELECT doc, i - 1 AS pos, wd[i] AS tok
           FROM (SELECT doc, wd, unnest(range(1, len(wd) + 1)) AS i FROM nw) t),
         flt AS (
           SELECT t.doc, t.pos, t.tok, s.doc IS NOT NULL AS rm
           FROM tok t LEFT JOIN spans s
             ON s.doc = t.doc AND t.pos >= s.span_start
                AND t.pos < s.span_start + s.span_len)
         SELECT doc,
                coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY pos), '')
                  AS clean_text,
                CAST(count(*) FILTER (rm) AS BIGINT) AS n_removed
         FROM flt GROUP BY doc ORDER BY doc"""

  /** The BM25 scoring CTE chain (through `scored`) — shared by the
    * standalone BM25 oracles and the hybrid-fusion oracle, which keeps
    * ranking from it at candidate depth. */
  private val bm25ScoredCte =
    """WITH toks AS (
         SELECT doc_id AS doc,
                unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
         FROM documents),
       tf AS (SELECT doc, tok, count(*) AS tf
              FROM toks WHERE tok <> '' GROUP BY 1, 2),
       dl AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
       q(query_id, tok) AS (VALUES
         (CAST(0 AS BIGINT), 'spark'), (0, 'join'), (0, 'merge'),
         (1, 'hash'), (1, 'table'), (1, 'scan'),
         (2, 'stream'), (2, 'window'), (2, 'batch'), (2, 'zebra')),
       dfq AS (SELECT tok, count(*) AS df FROM tf
               WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
       scored AS (
         SELECT q.query_id, tf.doc,
                CAST(sum(
                  CAST(floor(ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 10000) AS BIGINT)
                  * CAST(floor((CAST(tf AS DOUBLE) * 2.2) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))) * 10000) AS BIGINT)
                ) AS BIGINT) AS score_bp
         FROM q
         JOIN tf  ON tf.tok = q.tok
         JOIN dfq ON dfq.tok = q.tok
         JOIN dl  ON dl.doc = tf.doc
         CROSS JOIN stats
         GROUP BY 1, 2)"""

  /** BM25 ground truth over the full documents corpus — shared by the
    * batch path (q_bm25) and the incrementally-indexed path
    * (q_bm25_incremental), which must serve identical rows. */
  private val bm25Oracle = bm25ScoredCte +
    """
       SELECT query_id, CAST(rank AS INT) AS rank, doc AS doc_id, score_bp
       FROM (SELECT query_id, doc, score_bp,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_bp DESC, doc ASC) AS rank
             FROM scored)
       WHERE rank <= 10 ORDER BY query_id, rank"""

  /** PRF ground truth: the bm25 chain, the term mining (same idf
    * expression floored once, original terms excluded via NOT EXISTS,
    * top-3 by (score, tok)), and the re-scored expanded term set —
    * the full two-pass loop in one replay. */
  private val prfOracle = bm25ScoredCte +
    """,
       fb AS (
         SELECT query_id, doc FROM (
           SELECT query_id, doc,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_bp DESC, doc ASC) AS rk
           FROM scored) WHERE rk <= 5),
       cand AS (
         SELECT f.query_id, tf.tok, CAST(sum(tf.tf) AS BIGINT) AS stf
         FROM fb f JOIN tf ON tf.doc = f.doc
         WHERE NOT EXISTS (SELECT 1 FROM q
                           WHERE q.query_id = f.query_id AND q.tok = tf.tok)
         GROUP BY 1, 2),
       dfall AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       mined AS (
         SELECT query_id, tok FROM (
           SELECT query_id, tok, ms,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY ms DESC, tok ASC) AS rk
           FROM (SELECT c.query_id, c.tok,
                        CAST(floor(ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 10000) AS BIGINT) * stf AS ms
                 FROM cand c JOIN dfall USING (tok) CROSS JOIN stats) z)
         WHERE rk <= 3),
       q2 AS (SELECT query_id, tok FROM q UNION
              SELECT query_id, tok FROM mined),
       dfq2 AS (SELECT tok, count(*) AS df FROM tf
                WHERE tok IN (SELECT tok FROM q2) GROUP BY tok),
       scored2 AS (
         SELECT q2.query_id, tf.doc,
                CAST(sum(
                  CAST(floor(ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) * 10000) AS BIGINT)
                  * CAST(floor((CAST(tf AS DOUBLE) * 2.2) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))) * 10000) AS BIGINT)
                ) AS BIGINT) AS score_bp
         FROM q2
         JOIN tf   ON tf.tok = q2.tok
         JOIN dfq2 ON dfq2.tok = q2.tok
         JOIN dl   ON dl.doc = tf.doc
         CROSS JOIN stats
         GROUP BY 1, 2)
       SELECT query_id, CAST(rank AS INT) AS rank, doc AS doc_id, score_bp
       FROM (SELECT query_id, doc, score_bp,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_bp DESC, doc ASC) AS rank
             FROM scored2)
       WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Hybrid-retrieval ground truth: the BM25 chain and the brute-cosine
    * chain each ranked to candidate depth 20, fused by integer RRF —
    * 10000 // (60 + rank), DuckDB integer division, which equals the
    * engine's floor(10000.0/(60+rank)) on positive ints — summed per
    * (query, doc), re-ranked (rrf desc, doc asc). Both halves reuse the
    * proven oracle algebra (bm25ScoredCte / the bruteTopK shape) and the
    * qid ↔ vec_id pairing mirrors Search.hybridTopK's contract. */
  private val hybridOracle = bm25ScoredCte +
    """,
       lexr AS (
         SELECT query_id, doc,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_bp DESC, doc ASC) AS rk
         FROM scored),
       lex AS (SELECT query_id, doc AS doc_id, 10000 // (60 + rk) AS rrf
               FROM lexr WHERE rk <= 20),
       nemb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nrm AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
               FROM nemb),
       qv AS (SELECT vec_id AS qid, nv AS qvec FROM nrm WHERE vec_id <= 2),
       sems AS (
         SELECT qid, vec_id AS nid,
                CAST(floor(list_dot_product(nv, qvec) * 10000) AS BIGINT) AS cos_bp
         FROM nrm, qv WHERE vec_id != qid),
       semr AS (
         SELECT qid, nid,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_bp DESC, nid ASC) AS rk
         FROM sems),
       sem AS (SELECT qid AS query_id, nid AS doc_id, 10000 // (60 + rk) AS rrf
               FROM semr WHERE rk <= 20),
       fused AS (
         SELECT query_id, doc_id, CAST(sum(rrf) AS BIGINT) AS rrf_bp
         FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
         GROUP BY 1, 2)
       SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_bp
       FROM (SELECT query_id, doc_id, rrf_bp,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf_bp DESC, doc_id ASC) AS rank
             FROM fused)
       WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Exact cosine-pair ground truth at threshold 4500 bp over the raw
    * embeddings — the quadratic baseline (q_dedup_embed). */
  private val cosinePairsOracle =
    """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nn0 AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
               FROM n)
       SELECT a.vec_id AS i, b.vec_id AS j,
              CAST(floor(list_dot_product(a.nv, b.nv) * 10000) AS BIGINT) AS cos_bp
       FROM nn0 a JOIN nn0 b ON a.vec_id < b.vec_id
       WHERE floor(list_dot_product(a.nv, b.nv) * 10000) >= 4500
       ORDER BY i, j"""

  /** The planted-duplicate corpus (embWithDups) as SQL CTEs — the
    * perturbation expression mirrors the Spark `transform` shape
    * association-order-exactly (DuckDB lambda index is 1-based). */
  private val embWithDupsCte =
    """WITH RECURSIVE base AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       pert AS (
         SELECT vec_id + 1000000 AS vec_id,
                list_transform(v, (x, i) ->
                  x * (1.0 + (0.4 * (CAST(((i-1)%5) AS DOUBLE) - 2.0)) / 2.0)) AS v
         FROM base WHERE vec_id % 20 = 0),
       n AS (SELECT * FROM base UNION ALL SELECT * FROM pert)"""

  /** Exact near-dup pairs at 9000 bp over the planted corpus — the
    * verified LSH scale path (q_dedup_embed_lsh) must equal this set. */
  private val nearDupPairsOracle = embWithDupsCte +
    """,
       nn0 AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
               FROM n)
       SELECT a.vec_id AS i, b.vec_id AS j,
              CAST(floor(list_dot_product(a.nv, b.nv) * 10000) AS BIGINT) AS cos_bp
       FROM nn0 a JOIN nn0 b ON a.vec_id < b.vec_id
       WHERE floor(list_dot_product(a.nv, b.nv) * 10000) >= 9000
       ORDER BY i, j"""

  /** Shared md5-seeded coarse-clustering fragment over the plain
    * embeddings table: nlist = round(√n), seed = the nlist vectors
    * smallest by (md5 prefix, id), centroid index = ascending seed id,
    * assignment = argmax cosine with ties to the smallest cid — mirrors
    * Similarity.md5Codebook + VectorOps.nearestCentroids exactly.
    *
    * The similarity is written EXACTLY in the engine's expression shape
    * — normalize each vector (x / sqrt(Σx²), sequential fold), then a
    * plain dot product — because DuckDB's list_dot_product is the same
    * left-to-right sequential double fold as graft VectorDot/
    * VectorNormalize (probed: [1.0,1e16,-1e16]·1⃗ = 0.0 L→R). The former
    * list_cosine_similarity(raw, raw) is mathematically equal but a
    * different IEEE shape (dot-then-divide; measured ulp drift on 84% of
    * pairs, max 5.6e-16): same association order → identical doubles →
    * round/argmax can never flip between engines. */
  private val clusterAssignCte =
    """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nn0 AS (
         SELECT vec_id,
                list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
         FROM n),
       p AS (SELECT CAST(round(sqrt(count(*))) AS BIGINT) AS nlist FROM nn0),
       seed AS (
         SELECT vec_id, nv FROM (
           SELECT vec_id, nv,
                  row_number() OVER (ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                     vec_id) AS rn
           FROM nn0)
         WHERE rn <= (SELECT nlist FROM p)),
       cents AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                nv AS cv
         FROM seed),
       best AS (
         SELECT vec_id, cid, sim FROM (
           SELECT nn.vec_id, c.cid, list_dot_product(nn.nv, c.cv) AS sim,
                  row_number() OVER (PARTITION BY nn.vec_id
                    ORDER BY list_dot_product(nn.nv, c.cv) DESC, c.cid ASC) AS rn
           FROM nn0 nn CROSS JOIN cents c)
         WHERE rn = 1)"""

  /** The full per-document profile algebra as a CTE chain ending in
    * `prof` — ONE copy shared by q_text_profile and the per-source
    * rollup (q_source_stats), so a formula change cannot silently
    * desynchronize them (the shingleCte rule). Mirrors
    * TextAnalysis.profile expression-for-expression. */
  private val profileCte =
    """WITH t AS (
         SELECT doc_id, text,
                string_split_regex(trim(text), '\s+') AS toks,
                string_split_regex(trim(lower(text)), '\s+') AS ltoks
         FROM documents),
       m AS (
         SELECT doc_id, text,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_subwords,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(floor(list_sum(list_transform(toks, x -> length(x))) * 10000.0 / len(toks)) AS BIGINT) AS mean_word_len_bp,
                CAST(floor(len(regexp_extract_all(text, '[.,;:!?]')) * 10000.0 / length(text)) AS BIGINT) AS punct_ratio_bp,
                CAST(floor(len(list_filter(ltoks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','from','that','this'], x))) * 10000.0 / len(ltoks)) AS BIGINT) AS stopword_ratio_bp,
                CAST(len(list_filter(ltoks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
                CAST(len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is'], x))) AS BIGINT) AS s_en,
                CAST(len(list_filter(ltoks, x -> list_contains(['el','la','de','que','es'], x))) AS BIGINT) AS s_es,
                CAST(len(list_filter(ltoks, x -> list_contains(['le','la','de','et','est'], x))) AS BIGINT) AS s_fr
         FROM t),
       prof AS (
         SELECT doc_id, n_tokens, n_subwords, n_chars, mean_word_len_bp,
                punct_ratio_bp, stopword_ratio_bp,
                greatest(0, least(10000,
                  5000 + CAST(floor(stopword_ratio_bp / 2.0) AS BIGINT)
                       - CAST(floor(abs(mean_word_len_bp - 50000) / 20.0) AS BIGINT)
                       - punct_ratio_bp)) AS quality_bp,
                CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                     WHEN (CASE WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 1 ELSE 0 END +
                           CASE WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 1 ELSE 0 END +
                           CASE WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 1 ELSE 0 END +
                           CASE WHEN s_fr = greatest(s_de,s_en,s_es,s_fr) THEN 1 ELSE 0 END) > 1 THEN 'und'
                     WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
                     WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
                     WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
                     ELSE 'fr' END AS lang_pred,
                md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
                CAST(('0x' || substring(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 4)) AS BIGINT) AS fp_bucket
         FROM m)"""

  /** Exact brute-force top-k ground truth — shared by q_ann_topk and the
    * verified IVF path (q_ann_ivf), which must serve identical rows. */
  private val bruteTopKOracle =
    """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nn0 AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
               FROM n),
       q AS (SELECT vec_id AS qid, nv AS qv FROM nn0 WHERE vec_id <= 7),
       s AS (
         SELECT qid, vec_id AS nid,
                CAST(floor(list_dot_product(nv, qv) * 10000) AS BIGINT) AS cos_bp
         FROM nn0, q WHERE vec_id != qid)
       SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, cos_bp
       FROM (SELECT *, ROW_NUMBER() OVER
               (PARTITION BY qid ORDER BY cos_bp DESC, nid ASC) AS rn FROM s)
       WHERE rn <= 10
       ORDER BY query_id, rank"""

  /** The served PQ geometry, shared by the engine registrations above
    * (via Similarity's defaults) and the SQL replay below: m subspaces ×
    * ksub codewords × 64/m dims over the 64-dim embeddings. */
  private val pqM = 16
  private val pqKsub = 32
  private val pqDsub = 64 / pqM

  /** Product-quantization replay, shared by q_ann_pq and q_ann_ivfpq.
    * Codewords = the ksub vectors smallest by (md5 prefix, id) —
    * Similarity.pqCodebooks' seed rule — sliced per subspace (DuckDB
    * slices are 1-based inclusive). Encode = argmax of x_j·c − ‖c‖²/2
    * (≡ argmin L2), ties to the smallest code — the row_number mirror
    * of PqOps.encode's strict-`>` scan. ADC = the per-subspace LUT dots
    * summed with EXPLICIT left association (((dp0+dp1)+dp2)+…)+dp15,
    * the exact IEEE shape of PqOps.adc's subspace-order accumulation;
    * every fold is DuckDB's sequential L→R list kernel = the engine's
    * VectorOps loops. */
  private val pqHead =
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nn0 AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
               FROM n),
       js AS (SELECT unnest(range(0, $pqM)) AS j)"""

  /** Sampled codebooks: the md5-order seed rows sliced per subspace
    * ([[graft.operators.Similarity.pqCodebooks]]). */
  private val pqSampledCb =
    s""",
       pseed AS (
         SELECT vec_id, nv FROM (
           SELECT vec_id, nv,
                  row_number() OVER (ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                     vec_id) AS rn
           FROM nn0)
         WHERE rn <= $pqKsub),
       cb AS (
         SELECT CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                j, nv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)] AS cs
         FROM pseed CROSS JOIN js)"""

  /** encode → LUT tail over whatever `cb(code, j, cs)` the variant
    * defined — shared verbatim by the sampled, trained, and OPQ
    * oracles, so the serving algebra cannot drift between them. `rel`
    * is the (vec_id, nv) corpus the variant serves from — nn0 for flat
    * PQ, the rotated rr for OPQ. */
  private def pqEncLutTailFrom(rel: String) =
    s""",
       sub AS (
         SELECT vec_id, j, nv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)] AS xs
         FROM $rel CROSS JOIN js),
       enc AS (
         SELECT vec_id, j, code FROM (
           SELECT s.vec_id, s.j, c.code,
                  row_number() OVER (PARTITION BY s.vec_id, s.j
                    ORDER BY list_dot_product(s.xs, c.cs)
                               - list_dot_product(c.cs, c.cs)/2 DESC,
                             c.code ASC) AS rn
           FROM sub s JOIN cb c ON c.j = s.j)
         WHERE rn = 1),
       lut AS (
         SELECT q.vec_id AS qid, q.j, c.code, list_dot_product(q.xs, c.cs) AS dp
         FROM sub q JOIN cb c ON c.j = q.j
         WHERE q.vec_id <= 7)"""

  private val pqEncLutTail = pqEncLutTailFrom("nn0")

  private val pqCte = pqHead + pqSampledCb + pqEncLutTail

  /** K-MEANS-TRAINED codebooks: the per-subspace integer Lloyd unroll
    * ([[graft.operators.KMeans.trainSubspaces]]) — kmeansOracle's
    * device with every CTE keyed by the subspace j. Quantization,
    * argmin tiebreak, floor division, empty-codeword carry, and the
    * final (c − offset)/scale dequantization all replay the engine's
    * exact integer/double steps. */
  /** The per-subspace integer Lloyd unroll over a `$src(vec_id, j, qv)`
    * relation of quantized subvectors — kmeansOracle's device with
    * every CTE keyed by the subspace j. Emits the tseed, tcentN,
    * tasgN, tupdN CTEs; the final codebook is `tcent$iters` (iters
    * from the caller). Shared by the trained
    * flat-PQ and trained residual-IVFPQ oracles — the training algebra
    * cannot drift between them. */
  private def pqKmeansChain(src: String, iters: Int): String = {
    val steps = (0 until iters).map { t =>
      s"""tasg$t AS MATERIALIZED (
           SELECT vec_id, j, qv, cid FROM (
             SELECT s.vec_id, s.j, s.qv, c.cid,
                    row_number() OVER (PARTITION BY s.vec_id, s.j
                      ORDER BY CAST(list_sum(list_transform(range(1, 1 + len(s.qv)),
                                 i -> (s.qv[i] - c.cv[i]) * (s.qv[i] - c.cv[i])))
                               AS BIGINT) ASC, c.cid ASC) AS rn
             FROM $src s JOIN tcent$t c ON c.j = s.j) z
           WHERE rn = 1),
         tupd$t AS MATERIALIZED (
           SELECT j, cid, i, CAST(sum(x) // count(*) AS BIGINT) AS cvi
           FROM (SELECT j, cid, unnest(qv) AS x,
                        unnest(range(1, 1 + len(qv))) AS i
                 FROM tasg$t) u
           GROUP BY j, cid, i),
         tcent${t + 1} AS MATERIALIZED (
           SELECT c.j, c.cid, coalesce(w.cv, c.cv) AS cv
           FROM tcent$t c LEFT JOIN
                (SELECT j, cid, list(cvi ORDER BY i) AS cv
                 FROM tupd$t GROUP BY j, cid) w USING (j, cid))"""
    }
    s"""tseed AS (
         SELECT vec_id FROM (
           SELECT vec_id,
                  row_number() OVER (ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                     vec_id) AS rn
           FROM nn0) WHERE rn <= $pqKsub),
       tcent0 AS MATERIALIZED (
         SELECT CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS cid,
                j, qv AS cv
         FROM $src WHERE vec_id IN (SELECT vec_id FROM tseed)),
       ${steps.mkString(",\n")}"""
  }

  private def pqTrainedCbFrom(iters: Int, rel: String): String =
    s""",
       qsub AS MATERIALIZED (
         SELECT vec_id, j,
                list_transform(
                  nv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)],
                  x -> CAST(floor(x * 10000) AS BIGINT) + 16384) AS qv
         FROM $rel CROSS JOIN js),
       ${pqKmeansChain("qsub", iters)},
       cb AS (
         SELECT cid AS code, j,
                list_transform(cv, c -> (c - 16384) / 10000.0) AS cs
         FROM tcent$iters)"""

  private def pqTrainedCb(iters: Int): String = pqTrainedCbFrom(iters, "nn0")

  /** The ADC score + rank tail over a `sc(qid, nid, j, dp)` relation —
    * shared by both PQ oracles. The cross-subspace sum is an explicit
    * left-associated chain (generated, one max(CASE) term per subspace):
    * aggregate SUM() has no ordering guarantee, and the engine
    * accumulates in subspace order — association must match for
    * bit-identical doubles. */
  private val pqAdcSum = (1 until pqM).foldLeft("max(CASE WHEN j=0 THEN dp END)")(
    (acc, j) => s"($acc + max(CASE WHEN j=$j THEN dp END))")
  private val pqRankTail =
    s""",
       scores AS (
         SELECT qid, nid,
                CAST(floor($pqAdcSum * 10000) AS BIGINT) AS adc_bp
         FROM sc GROUP BY 1, 2)
       SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, adc_bp
       FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY adc_bp DESC, nid ASC) AS rn
             FROM scores)
       WHERE rn <= 10
       ORDER BY query_id, rank"""

  private val pqScTail =
    """,
       sc AS (
         SELECT l.qid, e.vec_id AS nid, l.j, l.dp
         FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
         WHERE e.vec_id != l.qid)"""

  private val pqTopKOracle = pqCte + pqScTail + pqRankTail

  /** Covariance-numerator ground truth: the identical clamp(floor(64x))
    * quantization (power-of-two float multiply — exact in both
    * engines), then plain integer sums — n·Sij − Si·Sj replayed
    * relationally over the unnested upper triangle. Shared VERBATIM by
    * the batch (q_embed_cov) and stream-maintained
    * (q_embed_cov_incremental) forms: the oracle rescans, so any
    * maintenance leak in the additive counters hash-mismatches. */
  private val embCovOracle =
    """WITH q AS (
         SELECT vec_id,
                list_transform(embedding, x -> GREATEST(-127,
                  LEAST(127, CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))))
                  AS qv
         FROM embeddings),
       u AS (
         SELECT vec_id, t.i, qv[t.i + 1] AS x
         FROM q, range(64) t(i)),
       s AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sk FROM u GROUP BY i),
       n AS (SELECT COUNT(*) AS n FROM q),
       p AS (
         SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sij
         FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
         GROUP BY 1, 2)
       SELECT p.i, p.j,
              CAST(n.n * p.sij - sa.sk * sb.sk AS BIGINT) AS cov_num
       FROM p, n, s sa, s sb
       WHERE sa.i = p.i AND sb.i = p.j
       ORDER BY p.i, p.j"""

  /** Trained-PQ replay: the per-subspace k-means unroll supplies `cb`,
    * then the SAME enc/lut/sc/rank tail as q_ann_pq — codebook
    * provenance is the entire diff, in the oracle exactly as in the
    * engine. */
  private val pqTrainedOracle =
    pqHead + pqTrainedCb(iters = 2) + pqEncLutTail + pqScTail + pqRankTail

  /** OPQ replay: the rotation matrix rides the per-sf csv fixture as
    * 2⁻³⁰-scaled INTEGER literals (the basis-as-literal device —
    * p / 2³⁰ is a power-of-two divide, IEEE-exact in both engines, so
    * the rotation applies the bit-identical double matrix); rvⱼ =
    * list_dot_product(nv, rcolⱼ) is DuckDB's sequential L→R kernel =
    * the engine's left-associated rotation fold. The rotated corpus
    * `rr` then flows through the SAME trained-codebook chain and
    * enc/lut/sc/rank tail as q_ann_pq_trained — rotation is the entire
    * diff, in the oracle exactly as in the engine. */
  private def opqRotCteAt(fixture: String) =
    s""",
       rfix AS (
         SELECT j, i, p
         FROM read_csv('/tmp/$fixture/__INGEST_SF__/rot.csv', header=true,
              columns={'j': 'BIGINT', 'i': 'BIGINT', 'p': 'BIGINT'})),
       rcols AS (
         SELECT j, list(p / 1073741824.0 ORDER BY i) AS rc
         FROM rfix GROUP BY j),
       rr AS MATERIALIZED (
         SELECT vec_id, list(rv ORDER BY j) AS nv
         FROM (SELECT nn0.vec_id, rcols.j,
                      list_dot_product(nn0.nv, rcols.rc) AS rv
               FROM nn0 CROSS JOIN rcols) z
         GROUP BY vec_id)"""

  private val opqRotCte = opqRotCteAt("graft_opq")

  private val opqTrainedOracle =
    pqHead + opqRotCte + pqTrainedCbFrom(iters = 2, rel = "rr") +
      pqEncLutTailFrom("rr") + pqScTail + pqRankTail

  /** the NP-OPQ replay: the IDENTICAL rotated-training-serving chain,
    * re-rooted at the non-parametric rotation's own fixture — matrix
    * provenance is the entire diff the gate sees. */
  private val opqNpTrainedOracle =
    pqHead + opqRotCteAt("graft_opqnp") + pqTrainedCbFrom(iters = 2, rel = "rr") +
      pqEncLutTailFrom("rr") + pqScTail + pqRankTail

  /** PCA-reduced ANN replay: the q_pca_project integer-projection
    * device over the NORMALIZED corpus (quantize → exact n/Sᵢ → fixture
    * basis → all-long fold), candidates by the double-cast reduced dot
    * (products of exactly-representable longs; DuckDB's sequential
    * list kernel = the engine's fold), then bruteTopK's exact-cosine
    * rerank on the candidate pairs only. */
  private val annPcaOracle =
    pqHead +
    """,
       qz AS (
         SELECT vec_id, list_transform(nv, x -> GREATEST(-127,
           LEAST(127, CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)))) AS qv
         FROM nn0
         WHERE nv IS NOT NULL AND len(nv) = 64),
       uz AS (SELECT vec_id, t.i, qv[t.i + 1] AS x FROM qz, range(64) t(i)),
       sz AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sk FROM uz GROUP BY i),
       nz AS (SELECT COUNT(*) AS n FROM qz),
       pz AS (
         SELECT c, i, p
         FROM read_csv('/tmp/graft_annpca/__INGEST_SF__/basis.csv',
              header=true,
              columns={'c': 'BIGINT', 'i': 'BIGINT', 'p': 'BIGINT'})),
       oz AS MATERIALIZED (
         SELECT uz.vec_id, pz.c,
                CAST(SUM((nz.n * uz.x - sz.sk) * pz.p) AS BIGINT) AS v
         FROM uz JOIN sz ON sz.i = uz.i JOIN pz ON pz.i = uz.i CROSS JOIN nz
         GROUP BY 1, 2),
       rv AS MATERIALIZED (
         SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY c) AS rv
         FROM oz GROUP BY vec_id),
       cand AS (
         SELECT qid, vid FROM (
           SELECT q.vec_id AS qid, x.vec_id AS vid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_dot_product(x.rv, q.rv) DESC,
                             x.vec_id ASC) AS crn
           FROM rv x JOIN rv q ON q.vec_id <= 7 AND x.vec_id != q.vec_id) z
         WHERE crn <= 40),
       csc AS (
         SELECT c.qid, c.vid,
                CAST(floor(list_dot_product(xn.nv, qn.nv) * 10000) AS BIGINT)
                  AS cos_bp
         FROM cand c
         JOIN nn0 xn ON xn.vec_id = c.vid
         JOIN nn0 qn ON qn.vec_id = c.qid)
       SELECT qid AS query_id, CAST(rn AS INT) AS rank,
              vid AS neighbor_id, cos_bp
       FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY cos_bp DESC, vid ASC) AS rn
             FROM csc)
       WHERE rn <= 10
       ORDER BY query_id, rank"""

  /** IVFPQ replay: the coarse quantizer CTEs (ivfTune sizing — nlist =
    * round(√n), nprobe = (nlist+3)//4 — seed/assign/probe identical to
    * clusterAssignCte's algebra) restrict the ADC scoring to candidates
    * in the query's probed cells. */
  private val ivfpqTopKOracle = pqCte +
    """,
       pp AS (SELECT greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)) AS nlist,
                     greatest(1, (greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)) + 3) // 4)
                       AS nprobe
              FROM nn0),
       cseed AS (
         SELECT vec_id, nv FROM (
           SELECT vec_id, nv,
                  row_number() OVER (ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                     vec_id) AS rn
           FROM nn0)
         WHERE rn <= (SELECT nlist FROM pp)),
       cents AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, nv AS cv
         FROM cseed),
       assign AS (
         SELECT vec_id, cid FROM (
           SELECT nn.vec_id, c.cid,
                  row_number() OVER (PARTITION BY nn.vec_id
                    ORDER BY list_dot_product(nn.nv, c.cv) DESC, c.cid ASC) AS rn
           FROM nn0 nn CROSS JOIN cents c)
         WHERE rn = 1),
       probes AS (
         SELECT qid, cid FROM (
           SELECT nn.vec_id AS qid, c.cid,
                  row_number() OVER (PARTITION BY nn.vec_id
                    ORDER BY list_dot_product(nn.nv, c.cv) DESC, c.cid ASC) AS rn
           FROM nn0 nn CROSS JOIN cents c
           WHERE nn.vec_id <= 7)
         WHERE rn <= (SELECT nprobe FROM pp)),
       cand AS (
         SELECT p2.qid, a.vec_id AS nid
         FROM assign a JOIN probes p2 ON a.cid = p2.cid
         WHERE a.vec_id != p2.qid),
       sc AS (
         SELECT l.qid, e.vec_id AS nid, l.j, l.dp
         FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
         JOIN cand ON cand.qid = l.qid AND cand.nid = e.vec_id)""" + pqRankTail

  /** Residual IVFPQ replay (Similarity.ivfpqResidualTopK): the same
    * coarse CTEs, then (a) the 'r'-SALTED md5 seed rule draws the PQ
    * sample, (b) each seed's and each corpus vector's residual is the
    * indexed-lambda element-wise subtract of its own nearest centroid
    * (exact, no association), (c) encode/LUT run against the RESIDUAL
    * codewords (the LUT from the FULL query subvectors — q·r̂ term),
    * and (d) the score adds q·centroid(cell) AFTER the left-associated
    * ADC chain, mirroring the engine's `pqAdc + qc` order. */
  /** Shared head of both residual oracles: normalize, coarse quantizer,
    * corpus assignment, query probes, and the corpus residual frame. */
  /** The coarse-quantizer + residual chain over a `(vec_id, nv)`
    * relation `rel` — shared by the flat residual oracles (rel = nn0)
    * and the OPQ composition (rel = the rotated rr): the relation is
    * the entire diff. */
  private def ivfpqResChainFrom(rel: String) =
    s""",
       pp AS (SELECT greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)) AS nlist,
                     greatest(1, (greatest(1, CAST(round(sqrt(count(*))) AS BIGINT)) + 3) // 4)
                       AS nprobe
              FROM $rel),
       cseed AS (
         SELECT vec_id, nv FROM (
           SELECT vec_id, nv,
                  row_number() OVER (ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                     vec_id) AS rn
           FROM $rel)
         WHERE rn <= (SELECT nlist FROM pp)),
       cents AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, nv AS cv
         FROM cseed),
       assign AS (
         SELECT vec_id, cid FROM (
           SELECT nn.vec_id, c.cid,
                  row_number() OVER (PARTITION BY nn.vec_id
                    ORDER BY list_dot_product(nn.nv, c.cv) DESC, c.cid ASC) AS rn
           FROM $rel nn CROSS JOIN cents c)
         WHERE rn = 1),
       probes AS (
         SELECT qid, cid FROM (
           SELECT nn.vec_id AS qid, c.cid,
                  row_number() OVER (PARTITION BY nn.vec_id
                    ORDER BY list_dot_product(nn.nv, c.cv) DESC, c.cid ASC) AS rn
           FROM $rel nn CROSS JOIN cents c
           WHERE nn.vec_id <= 7)
         WHERE rn <= (SELECT nprobe FROM pp)),
       cres AS (
         SELECT nn.vec_id, list_transform(nn.nv, (x, i) -> x - c.cv[i]) AS rv
         FROM $rel nn JOIN assign a ON a.vec_id = nn.vec_id
         JOIN cents c ON c.cid = a.cid)"""

  private val ivfpqResHead = pqHead + ivfpqResChainFrom("nn0")

  /** Salted-seed residual codebook (ivfpqResidualTopK's sampling rule). */
  private val ivfpqSaltedRcb =
    s""",
       rseed AS (
         SELECT vec_id, nv FROM (
           SELECT vec_id, nv,
                  row_number() OVER (ORDER BY substr(md5('r' || CAST(vec_id AS VARCHAR)), 1, 8),
                                     vec_id) AS rn
           FROM nn0)
         WHERE rn <= $pqKsub),
       rres AS (
         SELECT r.vec_id, list_transform(r.nv, (x, i) -> x - c.cv[i]) AS rv
         FROM rseed r
         JOIN (SELECT vec_id, cid FROM (
                 SELECT r2.vec_id, c2.cid,
                        row_number() OVER (PARTITION BY r2.vec_id
                          ORDER BY list_dot_product(r2.nv, c2.cv) DESC, c2.cid ASC) AS rn
                 FROM rseed r2 CROSS JOIN cents c2) t WHERE rn = 1) a
           ON a.vec_id = r.vec_id
         JOIN cents c ON c.cid = a.cid),
       rcb AS (
         SELECT CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS code,
                j, rv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)] AS cs
         FROM rres CROSS JOIN js)"""

  /** K-means-trained residual codebook: the shared Lloyd chain over the
    * quantized CORPUS-residual subvectors (the distribution the codes
    * quantize), then the dequantized `rcb`. */
  private def ivfpqTrainedRcb(iters: Int): String =
    s""",
       rqsub AS MATERIALIZED (
         SELECT vec_id, j,
                list_transform(
                  rv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)],
                  x -> CAST(floor(x * 10000) AS BIGINT) + 16384) AS qv
         FROM cres CROSS JOIN js),
       ${pqKmeansChain("rqsub", iters)},
       rcb AS (
         SELECT cid AS code, j,
                list_transform(cv, c -> (c - 16384) / 10000.0) AS cs
         FROM tcent$iters)"""

  /** Serving CTEs through the joined (qid, nid, j, dp, qc) relation
    * `sc` — the shared front of the residual serving tails: corpus-
    * residual encode, query LUT + q·centroid term, probed-cell
    * candidates. */
  private def ivfpqResScFrom(rel: String) =
    s""",
       csub AS (
         SELECT vec_id, j, rv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)] AS xs
         FROM cres CROSS JOIN js),
       renc AS (
         SELECT vec_id, j, code FROM (
           SELECT s.vec_id, s.j, c.code,
                  row_number() OVER (PARTITION BY s.vec_id, s.j
                    ORDER BY list_dot_product(s.xs, c.cs)
                               - list_dot_product(c.cs, c.cs)/2 DESC,
                             c.code ASC) AS rn
           FROM csub s JOIN rcb c ON c.j = s.j) t
         WHERE rn = 1),
       qsub AS (
         SELECT vec_id, j, nv[CAST(j*$pqDsub+1 AS BIGINT):CAST((j+1)*$pqDsub AS BIGINT)] AS xs
         FROM $rel CROSS JOIN js WHERE vec_id <= 7),
       rlut AS (
         SELECT q.vec_id AS qid, q.j, c.code, list_dot_product(q.xs, c.cs) AS dp
         FROM qsub q JOIN rcb c ON c.j = q.j),
       cand AS (
         SELECT p2.qid, a.vec_id AS nid, list_dot_product(qn.nv, c.cv) AS qc
         FROM assign a JOIN probes p2 ON a.cid = p2.cid
         JOIN $rel qn ON qn.vec_id = p2.qid
         JOIN cents c ON c.cid = a.cid
         WHERE a.vec_id != p2.qid),
       sc AS (
         SELECT l.qid, e.vec_id AS nid, l.j, l.dp, cand.qc
         FROM renc e JOIN rlut l ON l.j = e.j AND l.code = e.code
         JOIN cand ON cand.qid = l.qid AND cand.nid = e.vec_id),
       rscores AS (
         SELECT qid, nid,
                CAST(floor(($pqAdcSum + max(qc)) * 10000) AS BIGINT) AS adc_bp
         FROM sc GROUP BY 1, 2)"""

  /** Final ADC rank over `rscores` — the plain residual-IVFPQ output. */
  private val ivfpqResRankTail =
    """
       SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, adc_bp
       FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY adc_bp DESC, nid ASC) AS rn
             FROM rscores)
       WHERE rn <= 10
       ORDER BY query_id, rank"""

  private def ivfpqResTailFrom(rel: String) =
    ivfpqResScFrom(rel) + ivfpqResRankTail

  private val ivfpqResTail = ivfpqResTailFrom("nn0")

  /** REFINE tail: top-kCand ADC candidates re-scored with the EXACT
    * cosine from the raw normalized vectors (Faiss's "IVFPQ,RFlat"
    * refine stage) — the bruteTopK scoring device over candidate pairs
    * only. */
  private def ivfpqRefineTail(rel: String, kCand: Int) =
    s""",
       rcand AS (
         SELECT qid, nid FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY adc_bp DESC, nid ASC) AS rn
           FROM rscores)
         WHERE rn <= $kCand),
       rexact AS (
         SELECT c.qid, c.nid,
                CAST(floor(list_dot_product(xn.nv, qn.nv) * 10000) AS BIGINT)
                  AS cos_bp
         FROM rcand c
         JOIN $rel xn ON xn.vec_id = c.nid
         JOIN $rel qn ON qn.vec_id = c.qid)
       SELECT qid AS query_id, CAST(rn AS INT) AS rank,
              nid AS neighbor_id, cos_bp
       FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY cos_bp DESC, nid ASC) AS rn
             FROM rexact)
       WHERE rn <= 10
       ORDER BY query_id, rank"""

  private val ivfpqResidualOracle =
    ivfpqResHead + ivfpqSaltedRcb + ivfpqResTail

  /** Trained-residual IVFPQ: coarse + residuals + the SHARED Lloyd
    * chain over corpus residuals + the VERBATIM-shared serving tail —
    * the full production-Faiss default, training included, replayed. */
  private val ivfpqResidualTrainedOracle =
    ivfpqResHead + ivfpqTrainedRcb(iters = 2) + ivfpqResTail

  /** IVFPQ + REFINE: the trained-residual chain through rscores, then
    * the exact-cosine refine over the top-30 ADC candidates — shared
    * fragments end to end, the refine stage the only addition. */
  private val ivfpqRefineOracle =
    ivfpqResHead + ivfpqTrainedRcb(iters = 2) + ivfpqResScFrom("nn0") +
      ivfpqRefineTail("nn0", kCand = 30)

  /** TAKEDOWN oracle: the VERBATIM rtrained chain (training on the full
    * corpus — the frozen artifact does not retrain on takedown) with the
    * purged vids removed from the scored candidates before the rank.
    * Per-candidate ADC scores are independent of other candidates, so
    * filtering `rscores` is EXACTLY what absence from the codes table
    * serves — the only diff the gate tolerates. */
  private val takedownOracle =
    ivfpqResHead + ivfpqTrainedRcb(iters = 2) + ivfpqResScFrom("nn0") +
      """,
       kept AS (SELECT * FROM rscores
                WHERE NOT (nid % 7 = 3 AND nid >= 8))
       SELECT qid AS query_id, CAST(rn AS INT) AS rank,
              nid AS neighbor_id, adc_bp
       FROM (SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY adc_bp DESC, nid ASC) AS rn
             FROM kept)
       WHERE rn <= 10
       ORDER BY query_id, rank"""

  /** OPQ+IVF+PQ — the complete Faiss index-string composition: the
    * rotation fixture + rotated corpus `rr`, then the SAME coarse/
    * residual chain, the SAME Lloyd training chain, and the SAME
    * serving tail as q_ann_ivfpq_rtrained, all re-rooted at `rr` —
    * rotation is the entire diff across four composed stages. */
  private val opqIvfpqOracle =
    pqHead + opqRotCte + ivfpqResChainFrom("rr") +
      ivfpqTrainedRcb(iters = 2) + ivfpqResTailFrom("rr")

  /** BPE training replay: the word-frequency CTE once, then one
    * GENERATED stage per merge step — pair counts from adjacent symbols,
    * the (count DESC, l ASC, r ASC) argmax, and the greedy left-to-right
    * rewrite via `list_reduce` over singleton-wrapped symbols (the
    * accumulator merges its last element with the incoming symbol when
    * they match the step's rule; equivalent to the engine's skip-2 scan
    * — a merged symbol can only re-match as `lhs` if lhs+rhs == lhs,
    * impossible for non-empty rhs). All integers and byte-exact string
    * compares — no IEEE mirroring needed in this family. */
  // Every stage CTE is AS MATERIALIZED: s_i is referenced twice (pair
  // count + next rewrite) and each win_i chains through all stages below
  // it, so inlining re-expands the chain combinatorially — measured
  // >9.6 min inlined vs 1.0 s materialized at sf0.01.
  private val bpeMerges = 12
  // carryW threads the word key through the rewrite stages so the
  // tokenize oracle can join each document's word sequence to its final
  // symbol sequence; the training oracle drops it (pair counts only
  // need freq + syms).
  private def bpeStage(i: Int, carryW: Boolean = false): String = {
    val w = if (carryW) "w, " else ""
    s""",
       p$i AS MATERIALIZED (
         SELECT l, r, sum(freq) AS c FROM (
           SELECT freq, syms[k] AS l, syms[k+1] AS r
           FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS k FROM s$i) t0)
         GROUP BY l, r),
       win$i AS MATERIALIZED (SELECT l, r, l || r AS m, c FROM p$i
                 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
       s${i + 1} AS MATERIALIZED (
         SELECT $w freq, list_reduce(list_transform(syms, x -> [x]),
           (acc, b) -> CASE WHEN acc[-1] = wl AND b[1] = wr
                       THEN list_append(acc[:-2], wm)
                       ELSE list_concat(acc, b) END) AS syms
         FROM s$i CROSS JOIN (SELECT l AS wl, r AS wr, m AS wm FROM win$i) w$i)"""
  }

  /** Keep-canonical exact-dedup CTE over source relation `src` — the
    * q_dedup_exact window-min device, parameterized so q_pipeline (raw
    * documents) and q_pipeline_archive (the takedown-filtered store
    * state) share the fragment verbatim. */
  private def pipelineDedupCte(src: String): String =
    """dd AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
                    min(doc_id) OVER (
                      PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                    ) AS keep
             FROM """ + src + """) WHERE doc_id = keep)"""

  /** The curation tail over the `dd` CTE: unigram-LM surprisal trained
    * on the deduped corpus, the 34050 bp quality gate, the md5 train
    * split (leak-free: survivors satisfy doc_id == canon), and
    * capacity-256 sequence packing — shared verbatim by q_pipeline and
    * q_pipeline_archive. */
  private val pipelineTail: String =
    """,
         toks AS (
           SELECT doc_id AS doc,
                  unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
           FROM dd),
         tf AS (SELECT doc, tok, count(*) AS tf
                FROM toks WHERE tok <> '' GROUP BY 1, 2),
         cnt AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cnt),
         per AS (
           SELECT tf.doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  CAST(sum(tf * CAST(floor(ln(CAST(t AS DOUBLE) / cnt) * 10000) AS BIGINT)) AS BIGINT)
                    AS total_bp
           FROM tf JOIN cnt USING (tok) CROSS JOIN tot
           GROUP BY 1),
         kept AS (
           SELECT doc, n_tokens FROM per
           WHERE CAST(floor(CAST(total_bp AS DOUBLE) / n_tokens) AS BIGINT) <= 34050),
         train AS (
           SELECT doc AS doc_id, CAST(doc % 32 AS BIGINT) AS shard, n_tokens
           FROM kept
           WHERE substr(md5(CAST(doc AS VARCHAR)), 1, 4) < 'cccc')
         SELECT doc_id, shard,
                CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) // 256
                     AS BIGINT) AS bin,
                n_tokens
         FROM train ORDER BY doc_id"""

  private def bpeTrainingCtes(carryW: Boolean): String = {
    val w = if (carryW) "w, " else ""
    s"""WITH w0 AS MATERIALIZED (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
           FROM documents) t
         WHERE length(w) > 0 GROUP BY w),
       s0 AS MATERIALIZED (SELECT $w freq, list_append(string_split(w, ''), '</w>') AS syms FROM w0)""" +
      (0 until bpeMerges).map(bpeStage(_, carryW)).mkString
  }

  private val bpeOracle =
    bpeTrainingCtes(carryW = false) +
      "\n       SELECT * FROM (" +
      (0 until bpeMerges).map(i =>
        s"SELECT ${i + 1} AS step, l AS lhs, r AS rhs, m AS merged, " +
          s"CAST(c AS BIGINT) AS pair_count FROM win$i").mkString(" UNION ALL ") +
      ") ORDER BY step"

  /** Tokenize-serving replay: the same training chain CARRYING the word
    * key, then each document's word sequence (in order) joins its final
    * symbol sequence from s{12} — per-word tokenization is deterministic,
    * so distinct-word replay ≡ the engine's per-occurrence map. Empty-text
    * docs survive via the LEFT JOIN (zero tokens, empty text). */
  private val bpeTokenizeOracle =
    bpeTrainingCtes(carryW = true) +
      s""",
       docw AS MATERIALIZED (
         SELECT doc_id, k, words[k] AS w FROM (
           SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS k FROM (
             SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                        x -> length(x) > 0) AS words
             FROM documents) t0) t1),
       toks AS (
         SELECT doc_id, CAST(sum(len(syms)) AS INT) AS n_tokens,
                string_agg(array_to_string(syms, ' '), ' ' ORDER BY k) AS token_text
         FROM docw JOIN s$bpeMerges USING (w) GROUP BY doc_id)
       SELECT d.doc_id, coalesce(t.n_tokens, 0) AS n_tokens,
              coalesce(t.token_text, '') AS token_text
       FROM documents d LEFT JOIN toks t ON d.doc_id = t.doc_id
       ORDER BY d.doc_id"""

  /** Unigram-surprisal replay shared by q_lm_surprisal and
    * q_perplexity_mix: the scored (doc, n_tokens, total_surprisal_bp,
    * mean_surprisal_bp) table as a terminal CTE. */
  private val lmCtes =
    """WITH toks AS (
           SELECT doc_id AS doc,
                  unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
           FROM documents),
         tf AS (SELECT doc, tok, count(*) AS tf
                FROM toks WHERE tok <> '' GROUP BY 1, 2),
         cnt AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cnt),
         per AS (
           SELECT tf.doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  CAST(sum(tf * CAST(floor(ln(CAST(t AS DOUBLE) / cnt) * 10000) AS BIGINT)) AS BIGINT)
                    AS total_surprisal_bp
           FROM tf JOIN cnt USING (tok) CROSS JOIN tot
           GROUP BY 1),
         lm_scored AS MATERIALIZED (
           SELECT doc, n_tokens, total_surprisal_bp,
                  CAST(floor(CAST(total_surprisal_bp AS DOUBLE) / n_tokens) AS BIGINT)
                    AS mean_surprisal_bp
           FROM per)"""

  /** DSIR scoring replay shared by q_dsir and q_dsir_sample: the scored
    * (doc_id, n_feats, weight_bp) table as a terminal CTE. */
  private val dsirCtes =
    """WITH toks AS MATERIALIZED (
           SELECT doc_id, lang = 'en' AS is_t,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS w
           FROM documents),
         feats AS MATERIALIZED (
           SELECT doc_id, is_t, substr(md5(f), 1, 4) AS b,
                  CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, is_t, unnest(w) AS f FROM toks
             UNION ALL
             SELECT doc_id, is_t, w[k] || ' ' || w[k+1] AS f
             FROM (SELECT doc_id, is_t, w, unnest(range(1, len(w))) AS k
                   FROM toks) t0) t1
           GROUP BY 1, 2, 3),
         model AS MATERIALIZED (
           SELECT b, CAST(sum(CASE WHEN is_t THEN c ELSE 0 END) AS BIGINT) AS tcnt,
                  CAST(sum(c) AS BIGINT) AS rcnt
           FROM feats GROUP BY b),
         tot AS (SELECT CAST(sum(tcnt) AS BIGINT) AS t,
                        CAST(sum(rcnt) AS BIGINT) AS r FROM model),
         wts AS (
           SELECT b, CAST(floor(ln(CAST((tcnt + 1) * (r + 65536) AS DOUBLE) /
                                   CAST((rcnt + 1) * (t + 65536) AS DOUBLE))
                           * 10000) AS BIGINT) AS w_bp
           FROM model CROSS JOIN tot),
         dsir_scored AS MATERIALIZED (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
                  CAST(sum(c * w_bp) AS BIGINT) AS weight_bp
           FROM feats JOIN wts USING (b)
           GROUP BY doc_id)"""

  /** 8-hex-char md5 prefix (`hx`) → its integer value, as a strpos
    * polynomial — DuckDB has no base-16 string conversion; the sum is
    * exact integer arithmetic, identical to Spark's conv(_, 16, 10). */
  private val hexPoly = (1 to 8).map(i =>
    s"(strpos('0123456789abcdef', hx[$i]) - 1) * ${1L << (4 * (8 - i))}")
    .mkString("(", " + ", ")")

  /** q_substring_search's pattern set — ONE definition feeding the Spark
    * call and the oracle VALUES. Spans frequent, phrase-length, rare,
    * and absent patterns. */
  private val substringPatterns: Seq[(Long, String)] = Seq(
    0L -> "spark join", 1L -> "table key", 2L -> "merge batch",
    3L -> "row scan slow", 4L -> "zebra stripe")
  private def substringPatternValues: String =
    substringPatterns.map { case (i, p) => s"($i, '$p')" }.mkString(", ")

  /** Substring-search ground truth: the UNACCELERATED form — a plain
    * contains() scan per pattern (deliberately the naive algorithm the
    * trigram prefilter must exactly reproduce); shared verbatim by the
    * batch and maintained-index paths. */
  private def substringOracle: String =
    s"""WITH pats(pid, pat) AS (VALUES $substringPatternValues)
         SELECT CAST(p.pid AS BIGINT) AS pid, d.doc_id,
                CAST((len(lower(d.text)) - len(replace(lower(d.text), p.pat, '')))
                     // len(p.pat) AS BIGINT) AS n_hits
         FROM documents d CROSS JOIN pats p
         WHERE contains(lower(d.text), p.pat)
         ORDER BY pid, doc_id"""

  /** MMR replay: the greedy recursion unrolled into k staged CTEs (the
    * BPE-oracle device) — stage t's max-sim reads the union of all prior
    * selections; AS MATERIALIZED throughout (inlined re-expansion of a
    * stage chain is the measured >9-min BPE lesson). */
  private def mmrOracle(kCand: Int, k: Int, lambdaBp: Long): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nn0 AS (SELECT vec_id,
                      list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
               FROM n),
       q AS (SELECT vec_id AS qid, nv AS qv FROM nn0 WHERE vec_id <= 7),
       s0 AS (SELECT qid, vec_id AS nid,
                     CAST(floor(list_dot_product(nv, qv) * 10000) AS BIGINT) AS rel_bp
              FROM nn0, q WHERE vec_id != qid),
       cand AS MATERIALIZED (
         SELECT qid, nid, rel_bp FROM (
           SELECT *, ROW_NUMBER() OVER
             (PARTITION BY qid ORDER BY rel_bp DESC, nid ASC) AS rn FROM s0)
         WHERE rn <= $kCand),
       pair AS MATERIALIZED (
         SELECT a.qid, a.nid AS i, b.nid AS j,
                CAST(floor(list_dot_product(na.nv, nb.nv) * 10000) AS BIGINT) AS sim_bp
         FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid != b.nid
           JOIN nn0 na ON na.vec_id = a.nid
           JOIN nn0 nb ON nb.vec_id = b.nid),
       sel0 AS MATERIALIZED (
         SELECT qid, 0 AS step, nid, rel_bp,
                CAST($lambdaBp * rel_bp AS BIGINT) AS mmr_x
         FROM (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY qid ORDER BY rel_bp DESC, nid ASC) AS rn FROM cand)
         WHERE rn = 1)""")
    for (t <- 1 until k) {
      val prevUnion = (0 until t).map(i => s"SELECT qid, nid FROM sel$i")
        .mkString(" UNION ALL ")
      sb.append(s""",
       all$t AS MATERIALIZED ($prevUnion),
       ms$t AS (
         SELECT p.qid, p.i AS nid, max(p.sim_bp) AS ms_bp
         FROM pair p JOIN all$t s ON p.qid = s.qid AND p.j = s.nid
         WHERE NOT EXISTS (SELECT 1 FROM all$t x
                           WHERE x.qid = p.qid AND x.nid = p.i)
         GROUP BY p.qid, p.i),
       sel$t AS MATERIALIZED (
         SELECT qid, $t AS step, nid, rel_bp, mmr_x FROM (
           SELECT c.qid, c.nid, c.rel_bp,
                  CAST($lambdaBp * c.rel_bp - ${10000 - lambdaBp} * m.ms_bp AS BIGINT) AS mmr_x,
                  ROW_NUMBER() OVER (PARTITION BY c.qid
                    ORDER BY ($lambdaBp * c.rel_bp - ${10000 - lambdaBp} * m.ms_bp) DESC,
                             c.nid ASC) AS rn
           FROM cand c JOIN ms$t m ON c.qid = m.qid AND c.nid = m.nid)
         WHERE rn = 1)""")
    }
    val unionAll = (0 until k).map(i => s"SELECT * FROM sel$i")
      .mkString(" UNION ALL ")
    sb.append(s"""
       SELECT qid AS query_id, CAST(step AS INT) AS step, nid AS neighbor_id,
              rel_bp, mmr_x
       FROM ($unionAll) ORDER BY query_id, step""")
    sb.toString
  }

  private val hllCtes: String =
    """WITH docs AS MATERIALIZED (
           SELECT source AS g,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS w
           FROM documents),
         bg AS MATERIALIZED (
           SELECT g, w[k] || ' ' || w[k+1] AS bg
           FROM (SELECT g, w, unnest(range(1, len(w))) AS k FROM docs) t),
         hashed AS (
           SELECT g, bg, md5(bg) AS h, substr(md5(bg), 3, 8) AS hx FROM bg),
         ranked AS (
           SELECT g,
                  CAST(((strpos('0123456789abcdef', h[1]) - 1) * 16 +
                        (strpos('0123456789abcdef', h[2]) - 1)) % 64 AS INT) AS r,
                  ((strpos('0123456789abcdef', hx[1]) - 1) * 268435456 +
                   (strpos('0123456789abcdef', hx[2]) - 1) * 16777216 +
                   (strpos('0123456789abcdef', hx[3]) - 1) * 1048576 +
                   (strpos('0123456789abcdef', hx[4]) - 1) * 65536 +
                   (strpos('0123456789abcdef', hx[5]) - 1) * 4096 +
                   (strpos('0123456789abcdef', hx[6]) - 1) * 256 +
                   (strpos('0123456789abcdef', hx[7]) - 1) * 16 +
                   (strpos('0123456789abcdef', hx[8]) - 1)) AS v
           FROM hashed),
         regs AS (
           SELECT g, r, max(CASE WHEN v = 0 THEN 33
                                 ELSE 33 - length(bin(v)) END) AS mr
           FROM ranked GROUP BY g, r),
         ests AS (
           SELECT g, sum(1.0 / CAST(CAST(1 AS BIGINT) << mr AS DOUBLE))
                       + (64 - count(*)) AS s
           FROM regs GROUP BY g)"""

  /** SQ8 chain shared by q_ann_sq8 and the rerank composition. */
  private val sq8Ctes: String =
    """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         nn0 AS (SELECT vec_id,
                        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
                 FROM n),
         mm AS (SELECT i, min(nv[i]) AS mn, max(nv[i]) AS mx
                FROM nn0 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
                GROUP BY i),
         mml AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
                 FROM mm),
         recon AS (
           SELECT vec_id,
                  list_transform(
                    list_transform(nv, (x, i) ->
                      CASE WHEN mxs[i] = mns[i] THEN 0.0
                           ELSE least(greatest(floor((x - mns[i]) /
                                  (mxs[i] - mns[i]) * 255), 0.0), 255.0) END),
                    (c, i) -> mns[i] + (c + 0.5) * (mxs[i] - mns[i]) / 255.0) AS rv
           FROM nn0 CROSS JOIN mml),
         q AS (SELECT vec_id AS qid, nv AS qv FROM nn0 WHERE vec_id <= 7),
         s AS (SELECT qid, vec_id AS nid,
                      CAST(floor(list_dot_product(qv, rv) * 10000) AS BIGINT) AS sq_bp
               FROM recon, q WHERE vec_id != qid)
"""

  private val bloomOracle: String =
    """WITH js AS (SELECT unnest(range(0, 3)) AS j),
         bkeys AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS s
                   FROM orders WHERE o_orderstatus = 'P'),
         bpos0 AS (SELECT substr(md5(CAST(j AS VARCHAR) || ':' || s), 1, 8) AS hx
                   FROM bkeys CROSS JOIN js),
         setb AS (SELECT DISTINCT CAST(
                    ((strpos('0123456789abcdef', hx[1]) - 1) * 268435456 +
                     (strpos('0123456789abcdef', hx[2]) - 1) * 16777216 +
                     (strpos('0123456789abcdef', hx[3]) - 1) * 1048576 +
                     (strpos('0123456789abcdef', hx[4]) - 1) * 65536 +
                     (strpos('0123456789abcdef', hx[5]) - 1) * 4096 +
                     (strpos('0123456789abcdef', hx[6]) - 1) * 256 +
                     (strpos('0123456789abcdef', hx[7]) - 1) * 16 +
                     (strpos('0123456789abcdef', hx[8]) - 1)) % 262144 AS INT) AS pos
                  FROM bpos0),
         keys AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
         kp0 AS (SELECT key,
                   substr(md5(CAST(j AS VARCHAR) || ':' || CAST(key AS VARCHAR)), 1, 8) AS hx
                 FROM keys CROSS JOIN js),
         kp AS (SELECT key, CAST(
                  ((strpos('0123456789abcdef', hx[1]) - 1) * 268435456 +
                   (strpos('0123456789abcdef', hx[2]) - 1) * 16777216 +
                   (strpos('0123456789abcdef', hx[3]) - 1) * 1048576 +
                   (strpos('0123456789abcdef', hx[4]) - 1) * 65536 +
                   (strpos('0123456789abcdef', hx[5]) - 1) * 4096 +
                   (strpos('0123456789abcdef', hx[6]) - 1) * 256 +
                   (strpos('0123456789abcdef', hx[7]) - 1) * 16 +
                   (strpos('0123456789abcdef', hx[8]) - 1)) % 262144 AS INT) AS pos
                FROM kp0),
         hits AS (SELECT key, count(*) AS hit
                  FROM kp JOIN setb USING (pos) GROUP BY key),
         passk AS (SELECT key FROM hits WHERE hit = 3),
         truth AS (SELECT DISTINCT o_orderkey AS key
                   FROM orders WHERE o_orderstatus = 'P'),
         flags AS (
           SELECT (p.key IS NOT NULL) AS pass, (t.key IS NOT NULL) AS tru
           FROM lineitem l
           LEFT JOIN passk p ON p.key = l.l_orderkey
           LEFT JOIN truth t ON t.key = l.l_orderkey)
         SELECT CAST(count(*) AS BIGINT) AS n_probe,
                CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                CAST(sum(CASE WHEN tru THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                CAST(sum(CASE WHEN pass AND NOT tru THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
                CAST((sum(CASE WHEN pass AND NOT tru THEN 1 ELSE 0 END) * 10000) //
                     (count(*) - sum(CASE WHEN tru THEN 1 ELSE 0 END)) AS BIGINT) AS fp_bp
         FROM flags"""

  private val cmsOracle: String =
    """WITH toks AS MATERIALIZED (
           SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS tok
           FROM documents),
         tc AS MATERIALIZED (
           SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM toks GROUP BY tok),
         coords AS MATERIALIZED (
           SELECT tok, exact, j,
                  substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 1) AS b
           FROM tc CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js),
         sk AS (SELECT j, b, CAST(sum(exact) AS BIGINT) AS total
                FROM coords GROUP BY j, b),
         est AS (SELECT tok, min(total) AS est
                 FROM coords JOIN sk USING (j, b) GROUP BY tok)
         SELECT t.tok, CAST(e.est AS BIGINT) AS est, t.exact,
                CAST(e.est - t.exact AS BIGINT) AS err
         FROM tc t JOIN est e USING (tok)
         WHERE e.est >= 100
         ORDER BY est DESC, t.tok"""

  /** Shared by q_quantiles and q_quantiles_incremental: the maintained
    * histogram must converge to the batch histogram, so the streamed
    * serving path replays the identical rank device. */
  private val quantilesOracle: String =
    """WITH vals AS (
         SELECT source AS g,
                CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS BIGINT) AS v
         FROM documents),
       hist AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
                FROM vals GROUP BY g, v),
       cum AS (
         SELECT g, v, c,
                sum(c) OVER (PARTITION BY g ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(c) OVER (PARTITION BY g) AS n
         FROM hist),
       qs(q_bp) AS (VALUES (2500), (5000), (7500), (9500))
       SELECT g AS source, CAST(q_bp AS BIGINT) AS q_bp,
              CAST(min(v) AS BIGINT) AS value
       FROM cum CROSS JOIN qs
       WHERE cum >= (q_bp * n + 9999) // 10000
       GROUP BY g, q_bp
       ORDER BY source, q_bp"""

  /** q_kmeans oracle: the exact integer Lloyd loop unrolled — every stage
    * AS MATERIALIZED (the BPE-oracle lesson: CTE re-inlining re-expands a
    * stage chain combinatorially). Replays KMeans.{quantized,
    * seedCentroids, train, trainAssign} to the bit: same quantization,
    * same md5-order seed, same (dist, cid) argmin, same non-negative
    * integer floor-division centroid update, same emptied-cluster
    * carry (left-join coalesce). */
  private def kmeansOracle(k: Int, iters: Int): String = {
    def asg(t: Int, cent: String) =
      s"""asg$t AS MATERIALIZED (
           SELECT vec_id, qv, cid, dist FROM (
             SELECT b.vec_id, b.qv, c.cid,
                    CAST(list_sum(list_transform(range(1, 1 + len(b.qv)),
                           i -> (b.qv[i] - c.cv[i]) * (b.qv[i] - c.cv[i])))
                         AS BIGINT) AS dist
             FROM base b CROSS JOIN $cent c) s
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) = 1)"""
    val head =
      s"""WITH base AS MATERIALIZED (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 16384) AS qv
           FROM embeddings),
         cent0 AS MATERIALIZED (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
           FROM (SELECT vec_id, qv FROM base
                 ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id
                 LIMIT $k))"""
    val steps = (0 until iters).map { t =>
      s"""${asg(t, s"cent$t")},
         upd$t AS MATERIALIZED (
           SELECT cid, i, CAST(sum(x) // count(*) AS BIGINT) AS cvi
           FROM (SELECT cid, unnest(qv) AS x,
                        unnest(range(1, 1 + len(qv))) AS i
                 FROM asg$t)
           GROUP BY cid, i),
         cent${t + 1} AS MATERIALIZED (
           SELECT c.cid, coalesce(n.cv, c.cv) AS cv
           FROM cent$t c LEFT JOIN
                (SELECT cid, list(cvi ORDER BY i) AS cv
                 FROM upd$t GROUP BY cid) n USING (cid))"""
    }
    s"""$head,
       ${steps.mkString(",\n")},
       ${asg(iters, s"cent$iters")}
       SELECT vec_id, CAST(cid AS BIGINT) AS cid, dist
       FROM asg$iters ORDER BY vec_id"""
  }

  /** q_rake oracle: phrase segmentation via the same pos − row_number
    * run device (1-based positions shift the run key by a constant —
    * grouping is unchanged); the stoplist comes from the SAME Scala
    * Seq as the operator (shared-definition device). */
  private def rakeOracle: String = {
    val stops = TextAnalysis.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH toks AS (
         SELECT doc_id AS doc,
                list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> length(x) > 0) AS t
         FROM documents),
       pos AS (
         SELECT doc, k AS pos, t[k] AS w
         FROM (SELECT doc, t, unnest(range(1, len(t) + 1)) AS k FROM toks) z),
       ns AS (
         SELECT doc, pos, w,
                row_number() OVER (PARTITION BY doc ORDER BY pos) AS rn
         FROM pos WHERE w NOT IN ($stops)),
       ph AS MATERIALIZED (
         SELECT doc, pos - rn AS grp, list(w ORDER BY pos) AS words
         FROM ns GROUP BY doc, pos - rn),
       occ AS MATERIALIZED (
         SELECT doc, grp, array_to_string(words, ' ') AS phrase,
                CAST(len(words) AS BIGINT) AS plen, unnest(words) AS w
         FROM ph),
       wstat AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS freq,
                CAST(sum(plen) AS BIGINT) AS deg
         FROM occ GROUP BY w),
       psc AS (
         SELECT doc, grp, phrase, plen,
                CAST(sum((deg * 10000) // freq) AS BIGINT) AS score_bp
         FROM occ JOIN wstat USING (w)
         GROUP BY doc, grp, phrase, plen)
       SELECT phrase, CAST(min(plen) AS BIGINT) AS n_words,
              CAST(count(*) AS BIGINT) AS n_occur, min(score_bp) AS score_bp
       FROM psc GROUP BY phrase
       ORDER BY score_bp DESC, phrase LIMIT 20"""
  }

  /** q_featurize oracle: the md5-prefix strpos polynomial (the exact
    * integer conv() yields in Spark) mod the bucket count; sign from the
    * 9th hex digit's parity. */
  private def featurizeOracle: String = {
    val poly = (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', hx[$i]) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH tok AS (
         SELECT doc_id AS doc,
                unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> length(x) > 0)) AS w
         FROM documents WHERE doc_id % 7 = 0),
       h AS (SELECT doc, substr(md5(w), 1, 9) AS hx FROM tok),
       b AS (SELECT doc, ($poly) % 4096 AS bucket,
                    CASE WHEN (strpos('0123456789abcdef', hx[9]) - 1) % 2 = 0
                         THEN 1 ELSE -1 END AS s
             FROM h),
       agg AS (SELECT doc, CAST(bucket AS BIGINT) AS bucket,
                      CAST(sum(s) AS BIGINT) AS w
               FROM b GROUP BY doc, bucket)
       SELECT doc, bucket, w FROM agg WHERE w != 0 ORDER BY doc, bucket"""
  }

  /** q_naive_bayes ground truth — shared verbatim by the maintained-
    * model serving path (q_nb_incremental), which must converge to the
    * batch counts; parameterized by a corpus predicate so the
    * DECREMENTAL takedown (q_takedown_nb) gates against the SAME replay
    * over corpus-minus-docs — the restriction is the entire diff. */
  private def nbOracleFrom(where: String) =
    s"""WITH base AS (
           SELECT doc_id AS doc, lang AS lbl,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS t
           FROM documents $where),""" +
    """
         postings AS MATERIALIZED (
           SELECT doc, lbl, tok, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc, lbl, unnest(t) AS tok FROM base)
           GROUP BY 1, 2, 3),
         doclevel AS (
           SELECT doc, lbl, CAST(sum(tf) AS BIGINT) AS nd
           FROM postings GROUP BY 1, 2),
         cnt AS MATERIALIZED (
           SELECT tok, lbl AS c, CAST(sum(tf) AS BIGINT) AS cnt
           FROM postings GROUP BY 1, 2),
         totc AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS tot FROM cnt GROUP BY c),
         vocabn AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cnt),
         classn AS (SELECT lbl AS c, CAST(count(*) AS BIGINT) AS nc
                    FROM doclevel GROUP BY 1),
         nall AS (SELECT CAST(count(*) AS BIGINT) AS n FROM doclevel),
         consts AS (
           SELECT c,
                  CAST(floor(ln(CAST(nc AS DOUBLE)) * 10000) AS BIGINT)
                  - CAST(floor(ln(CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS prior,
                  CAST(floor(ln(CAST(tot + v AS DOUBLE)) * 10000) AS BIGINT) AS denom
           FROM classn CROSS JOIN nall JOIN totc USING (c) CROSS JOIN vocabn),
         model AS MATERIALIZED (
           SELECT tok, c,
                  CAST(floor(ln(CAST(cnt + 1 AS DOUBLE)) * 10000) AS BIGINT) AS lsc
           FROM cnt),
         matched AS MATERIALIZED (
           SELECT p.doc, m.c, CAST(sum(p.tf * m.lsc) AS BIGINT) AS m
           FROM postings p JOIN model m USING (tok)
           GROUP BY 1, 2),
         scored AS (
           SELECT d.doc, d.lbl, k.c,
                  k.prior + coalesce(m.m, 0) - d.nd * k.denom AS score
           FROM doclevel d CROSS JOIN consts k
           LEFT JOIN matched m ON m.doc = d.doc AND m.c = k.c),
         pred AS (
           SELECT doc, lbl, c FROM (
             SELECT doc, lbl, c,
                    row_number() OVER (PARTITION BY doc
                      ORDER BY score DESC, c ASC) AS rn
             FROM scored) WHERE rn = 1)
         SELECT lbl AS label, c AS predicted, CAST(count(*) AS BIGINT) AS n
         FROM pred GROUP BY 1, 2 ORDER BY label, predicted"""

  private val nbOracle = nbOracleFrom("")

  /** q_langid ground truth — shared verbatim by the maintained-model
    * serving path (q_langid_incremental): plant the per-language
    * permutations, re-train the trigram rank profiles on the train
    * split, re-classify the held-out split. */
  private val langidOracle =
    """WITH planted AS (
           SELECT doc_id, lang,
                  CASE lang
                    WHEN 'es' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'eioua')
                    WHEN 'de' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'uoiea')
                    WHEN 'fr' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'nrst', 'rstn')
                    WHEN 'zh' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'iouae')
                    ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS text
           FROM documents),
         train AS (SELECT * FROM planted WHERE doc_id % 5 != 0),
         test AS (SELECT * FROM planted WHERE doc_id % 5 = 0),
         tg AS (SELECT lang, substring(lt, i, 3) AS gram
                FROM (SELECT lang, lower(text) AS lt,
                             unnest(range(1, greatest(length(text) - 1, 1))) AS i
                      FROM train) t),
         cnt AS (SELECT lang, gram, count(*) AS c FROM tg GROUP BY 1, 2),
         prof AS (
           SELECT lang, gram, CAST(65 - rn AS BIGINT) AS w FROM (
             SELECT lang, gram,
                    row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram ASC) AS rn
             FROM cnt) r
           WHERE rn <= 64),
         dtg AS (SELECT doc_id, substring(lt, i, 3) AS gram
                 FROM (SELECT doc_id, lower(text) AS lt,
                              unnest(range(1, greatest(length(text) - 1, 1))) AS i
                       FROM test) t),
         sc AS (SELECT d.doc_id, p.lang, CAST(sum(p.w) AS BIGINT) AS score
                FROM dtg d JOIN prof p ON p.gram = d.gram GROUP BY 1, 2),
         best AS (SELECT doc_id, lang AS lang_pred, score FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn FROM sc) b
                  WHERE rn = 1)
         SELECT t.doc_id, t.lang AS lang_true,
                coalesce(b.lang_pred, 'und') AS lang_pred,
                coalesce(b.score, 0) AS score
         FROM test t LEFT JOIN best b USING (doc_id)
         ORDER BY t.doc_id"""

  /** The CCNet composition ground truth — the full chain replayed as
    * chained CTEs (langid routing → per-language dedup → per-shard LM →
    * tertiles → mixture sample), shared VERBATIM by the batch
    * composition (q_pipeline_ccnet) and its stream-maintained twin
    * (q_pipeline_ccnet_incremental). */
  private val ccnetOracle: String =
    """WITH planted AS (
           SELECT doc_id, lang,
                  CASE lang
                    WHEN 'es' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'eioua')
                    WHEN 'de' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'uoiea')
                    WHEN 'fr' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'nrst', 'rstn')
                    WHEN 'zh' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'iouae')
                    ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS text
           FROM documents),
         train AS (SELECT * FROM planted WHERE doc_id % 5 != 0),
         tg AS (SELECT lang, substring(lt, i, 3) AS gram
                FROM (SELECT lang, lower(text) AS lt,
                             unnest(range(1, greatest(length(text) - 1, 1))) AS i
                      FROM train) t),
         cnt AS (SELECT lang, gram, count(*) AS c FROM tg GROUP BY 1, 2),
         prof AS (
           SELECT lang, gram, CAST(65 - rn AS BIGINT) AS w FROM (
             SELECT lang, gram,
                    row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram ASC) AS rn
             FROM cnt) r
           WHERE rn <= 64),
         dtg AS (SELECT doc_id, substring(lt, i, 3) AS gram
                 FROM (SELECT doc_id, lower(text) AS lt,
                              unnest(range(1, greatest(length(text) - 1, 1))) AS i
                       FROM planted) t),
         sc AS (SELECT d.doc_id, p.lang, CAST(sum(p.w) AS BIGINT) AS score
                FROM dtg d JOIN prof p ON p.gram = d.gram GROUP BY 1, 2),
         best AS (SELECT doc_id, lang AS lang_pred FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn FROM sc) b
                  WHERE rn = 1),
         routed AS (
           SELECT p.doc_id, coalesce(b.lang_pred, 'und') AS lang, p.text
           FROM planted p LEFT JOIN best b USING (doc_id)),
         ded AS (
           SELECT doc_id, lang, text FROM (
             SELECT *, row_number() OVER (PARTITION BY lang, text
                         ORDER BY doc_id) AS rn FROM routed) d
           WHERE rn = 1),
         toks AS (SELECT lang, doc_id AS doc,
                         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
                  FROM ded),
         tf AS (SELECT lang, doc, tok, count(*) AS tf FROM toks
                WHERE tok <> '' GROUP BY 1, 2, 3),
         cnt2 AS (SELECT lang, tok, CAST(sum(tf) AS BIGINT) AS cnt
                  FROM tf GROUP BY 1, 2),
         tot2 AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS t
                  FROM cnt2 GROUP BY 1),
         lmsc AS (
           SELECT tf.lang, tf.doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  CAST(sum(tf * CAST(floor(ln(CAST(t AS DOUBLE) / cnt) * 10000) AS BIGINT)) AS BIGINT) AS tsb
           FROM tf JOIN cnt2 ON tf.lang = cnt2.lang AND tf.tok = cnt2.tok
           JOIN tot2 ON tf.lang = tot2.lang
           GROUP BY 1, 2),
         meansc AS (
           SELECT lang, doc,
                  CAST(floor(CAST(tsb AS DOUBLE) / n_tokens) AS BIGINT) AS mbp
           FROM lmsc),
         hist AS (SELECT lang, mbp, CAST(count(*) AS BIGINT) AS c
                  FROM meansc GROUP BY 1, 2),
         cum AS (SELECT lang, mbp,
                        sum(c) OVER (PARTITION BY lang ORDER BY mbp) AS cum
                 FROM hist),
         nt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
         bounds AS (
           SELECT cum.lang,
                  min(CASE WHEN cum * 3 >= n THEN mbp END) AS t1,
                  min(CASE WHEN cum * 3 >= n * 2 THEN mbp END) AS t2
           FROM cum JOIN nt ON cum.lang = nt.lang GROUP BY 1),
         tert AS (
           SELECT m.doc, m.lang, m.mbp,
                  CASE WHEN m.mbp <= b.t1 THEN 'head'
                       WHEN m.mbp <= b.t2 THEN 'middle'
                       ELSE 'tail' END AS tertile
           FROM meansc m JOIN bounds b ON m.lang = b.lang)
         SELECT doc AS doc_id, lang AS lang_pred, tertile,
                mbp AS mean_surprisal_bp
         FROM tert
         WHERE substr(md5(CAST(doc AS VARCHAR)), 1, 4) <
               CASE tertile WHEN 'head' THEN 'cccc'
                            WHEN 'middle' THEN '8000'
                            ELSE '1999' END
         ORDER BY doc_id"""

  private val oraclesRaw: Map[String, String] = Map(

    // decremental takedown: train AND classify over corpus-minus-docs —
    // the maintained model (subtract + purge-zeroed) must reproduce it
    "q_takedown_nb" -> nbOracleFrom("WHERE doc_id % 7 != 3"),

    "q_kmeans" -> kmeansOracle(k = 8, iters = 4),

    // the maintained model must converge to the batch counts, so the
    // streamed serving path shares q_naive_bayes' oracle verbatim
    "q_nb_incremental" -> nbOracle,

    "q_naive_bayes" -> nbOracle,

    // langid: full relational replay — plant the per-language
    // permutations, re-train the trigram rank profiles on the train
    // split, re-classify the held-out split, same integer weights and
    // (score DESC, lang ASC) argmax. score = Σ w over OCCURRENCES on
    // the engine ≡ Σ count·w here — identical integer sums.
    "q_langid" -> langidOracle,

    // the CCNet composition: the langid routing chain re-rooted at the
    // whole corpus, then dedup → per-shard LM → tertiles → sample as
    // chained CTEs, each the already-gated device's relational replay
    "q_pipeline_ccnet" -> ccnetOracle,

    // the maintained pipeline serves the SAME final state after real
    // micro-batches — oracle shared VERBATIM (the q_dsir_incremental
    // pairing device at pipeline scale): langid model, dedup
    // admission, LM counts, tertiles, and the sample all face the
    // batch composition's exact gate
    "q_pipeline_ccnet_incremental" -> ccnetOracle,

    // the maintained gram-count model must converge to the batch
    // counts, so the streamed serving path shares q_langid's oracle
    // VERBATIM (the q_nb_incremental device)
    "q_langid_incremental" -> langidOracle,

    // shard split: the langid chain re-rooted at the WHOLE corpus,
    // aggregated into the per-language shard manifest
    "q_langid_shard" ->
      """WITH planted AS (
           SELECT doc_id, lang,
                  CASE lang
                    WHEN 'es' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'eioua')
                    WHEN 'de' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'uoiea')
                    WHEN 'fr' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'nrst', 'rstn')
                    WHEN 'zh' THEN translate(regexp_replace(text, '[^ -~]', '', 'g'), 'aeiou', 'iouae')
                    ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS text
           FROM documents),
         train AS (SELECT * FROM planted WHERE doc_id % 5 != 0),
         tg AS (SELECT lang, substring(lt, i, 3) AS gram
                FROM (SELECT lang, lower(text) AS lt,
                             unnest(range(1, greatest(length(text) - 1, 1))) AS i
                      FROM train) t),
         cnt AS (SELECT lang, gram, count(*) AS c FROM tg GROUP BY 1, 2),
         prof AS (
           SELECT lang, gram, CAST(65 - rn AS BIGINT) AS w FROM (
             SELECT lang, gram,
                    row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram ASC) AS rn
             FROM cnt) r
           WHERE rn <= 64),
         dtg AS (SELECT doc_id, substring(lt, i, 3) AS gram
                 FROM (SELECT doc_id, lower(text) AS lt,
                              unnest(range(1, greatest(length(text) - 1, 1))) AS i
                       FROM planted) t),
         sc AS (SELECT d.doc_id, p.lang, CAST(sum(p.w) AS BIGINT) AS score
                FROM dtg d JOIN prof p ON p.gram = d.gram GROUP BY 1, 2),
         best AS (SELECT doc_id, lang AS lang_pred FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn FROM sc) b
                  WHERE rn = 1),
         shard AS (
           SELECT p.doc_id, coalesce(b.lang_pred, 'und') AS lang_pred,
                  CAST(length(p.text) AS BIGINT) AS n_chars
           FROM planted p LEFT JOIN best b USING (doc_id))
         SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM shard GROUP BY lang_pred
         ORDER BY lang_pred""",

    "q_spell_correct" ->
      """WITH vocab AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS exact
           FROM (SELECT unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> length(x) > 0)) AS tok
                 FROM documents)
           GROUP BY tok),
         typos AS (
           SELECT substr(tok, 1, 1) || substr(tok, 3) AS typo
           FROM (SELECT tok FROM vocab WHERE length(tok) >= 4
                 ORDER BY exact DESC, tok LIMIT 10)),
         cand AS (
           SELECT t.typo, v.tok, v.exact,
                  levenshtein(t.typo, v.tok) AS dist
           FROM typos t CROSS JOIN vocab v
           WHERE abs(length(v.tok) - length(t.typo)) <= 2
             AND levenshtein(t.typo, v.tok) <= 2)
         SELECT typo, tok AS corrected, CAST(dist AS BIGINT) AS dist,
                exact AS freq
         FROM (SELECT typo, tok, exact, dist,
                      row_number() OVER (PARTITION BY typo
                        ORDER BY dist, exact DESC, tok) AS rn
               FROM cand)
         WHERE rn = 1 ORDER BY typo""",

    "q_source_overlap" ->
      """WITH vt AS (
           SELECT DISTINCT source, tok FROM (
             SELECT source,
                    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0)) AS tok
             FROM documents)),
         sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                   FROM vt GROUP BY source),
         it AS (
           SELECT a.source AS sa, b.source AS sb,
                  CAST(count(*) AS BIGINT) AS c
           FROM vt a JOIN vt b
             ON a.tok = b.tok AND a.source < b.source
           GROUP BY 1, 2)
         SELECT sa, sb, c,
                CAST((c * 10000) // (x.n + y.n - c) AS BIGINT) AS jac_bp
         FROM it JOIN sizes x ON x.source = sa
                 JOIN sizes y ON y.source = sb
         ORDER BY sa, sb""",

    "q_novelty" ->
      """WITH words AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id AS doc,
                  unnest(list_transform(range(1, len(w)-1),
                                        i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS s
           FROM words),
         first AS (SELECT s, min(doc) AS first_doc FROM sh GROUP BY s),
         agg AS (
           SELECT doc, CAST(count(*) AS BIGINT) AS n_shingles,
                  CAST(sum(CASE WHEN first_doc = doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
           FROM sh JOIN first USING (s) GROUP BY doc)
         SELECT doc, n_shingles, n_novel,
                CAST((n_novel * 10000) // n_shingles AS BIGINT) AS novelty_bp
         FROM agg ORDER BY doc""",

    "q_entropy" ->
      """WITH counts AS (
           SELECT source AS g, tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT source, unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> length(x) > 0)) AS tok
                 FROM documents)
           GROUP BY 1, 2),
         agg AS (
           SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_vocab,
                  CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000)
                    AS BIGINT)) AS BIGINT) AS sclnc
           FROM counts GROUP BY g)
         SELECT g AS source, n_tokens, n_vocab,
                CAST((n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 10000)
                        AS BIGINT) - sclnc) // n_tokens AS BIGINT) AS entropy_bp
         FROM agg ORDER BY source""",

    "q_readability" ->
      """WITH d AS (
           SELECT doc_id AS doc, text,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS t
           FROM documents),
         m AS (
           SELECT doc, CAST(len(t) AS BIGINT) AS n_words,
                  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
                    AS BIGINT)) AS n_sentences,
                  CAST(len(regexp_extract_all(array_to_string(t, ' '),
                         '[aeiouy]+'))
                    + len(list_filter(t, x -> NOT regexp_matches(x, '[aeiouy]')))
                    AS BIGINT) AS n_syllables
           FROM d WHERE len(t) >= 1)
         SELECT doc, n_words, n_sentences, n_syllables,
                CAST(206835 - (1015 * n_words) // n_sentences
                            - (84600 * n_syllables) // n_words
                     AS BIGINT) AS flesch_milli
         FROM m ORDER BY doc""",

    "q_rake" -> rakeOracle,

    "q_featurize" -> featurizeOracle,

    // the incrementally-maintained dimension must converge to the batch
    // build, so the streamed serving path shares q_scd2's oracle verbatim
    "q_scd2_incremental" -> RelationalQueries.oracles("q_scd2"),

    // maintained histogram must converge to the batch histogram — the
    // quantile serving path shares q_quantiles' oracle verbatim
    "q_quantiles_incremental" -> quantilesOracle,

    // maintained co-occurrence graph must converge to the batch-built
    // graph — the BFS serving path shares q_bfs's oracle verbatim
    "q_bfs_incremental" -> RelationalQueries.oracles("q_bfs"),

    // maintained pair/node counts must serve the SAME recommendations
    // as the batch basket self-join — shared oracle verbatim
    "q_item_recs_incremental" -> RelationalQueries.oracles("q_item_recs"),
    "q_bpe" -> bpeOracle,
    "q_bpe_tokenize" -> bpeTokenizeOracle,

    "q_dedup_exact" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM corpus
         GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
         ORDER BY canonical_id""",

    "q_dedup_snm" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         w AS (
           SELECT doc_id AS id,
                  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt,
                  list_filter(
                    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
                    x -> length(x) > 0) AS wd
           FROM corpus),
         b AS (
           SELECT id,
                  list_distinct(CASE WHEN len(wd) >= 3 THEN
                    list_transform(range(1, len(wd) - 1),
                      i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
                  ELSE [array_to_string(wd, ' ')] END) AS toks,
                  row_number() OVER (ORDER BY nt, id) AS rnk
           FROM w),
         pairs AS (
           SELECT a.id AS aid, b2.id AS bid,
                  CAST(len(list_intersect(a.toks, b2.toks)) AS BIGINT) AS inter,
                  CAST(len(a.toks) + len(b2.toks)
                       - len(list_intersect(a.toks, b2.toks)) AS BIGINT) AS uni
           FROM b a JOIN b b2
             ON b2.rnk > a.rnk AND b2.rnk <= a.rnk + 7)
         SELECT least(aid, bid) AS i, greatest(aid, bid) AS j,
                CAST((inter * 10000) // uni AS BIGINT) AS jaccard_bp
         FROM pairs WHERE (inter * 10000) // uni >= 8000
         ORDER BY i, j""",

    // SNM replay (windowed) + the quadratic gold standard over the SAME
    // shingles + confusion/metric algebra — the oracle's all-pairs form
    // is the definitional baseline the engine-side inverted index avoids
    "q_dedup_eval" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         w AS (
           SELECT doc_id AS id,
                  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt,
                  list_filter(
                    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
                    x -> length(x) > 0) AS wd
           FROM corpus),
         b AS MATERIALIZED (
           SELECT id,
                  list_distinct(CASE WHEN len(wd) >= 3 THEN
                    list_transform(range(1, len(wd) - 1),
                      i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
                  ELSE [array_to_string(wd, ' ')] END) AS toks,
                  row_number() OVER (ORDER BY nt, id) AS rnk
           FROM w),
         found AS MATERIALIZED (
           SELECT DISTINCT least(a.id, b2.id) AS i, greatest(a.id, b2.id) AS j
           FROM b a JOIN b b2 ON b2.rnk > a.rnk AND b2.rnk <= a.rnk + 7
           WHERE (CAST(len(list_intersect(a.toks, b2.toks)) AS BIGINT) * 10000)
                 // CAST(len(a.toks) + len(b2.toks)
                      - len(list_intersect(a.toks, b2.toks)) AS BIGINT) >= 8000),
         shp AS MATERIALIZED (SELECT id, unnest(toks) AS s FROM b),
         sizes AS (SELECT id, CAST(len(toks) AS BIGINT) AS n FROM b),
         it AS MATERIALIZED (
           SELECT a.id AS i, c.id AS j, CAST(count(*) AS BIGINT) AS c
           FROM shp a JOIN shp c ON a.s = c.s AND a.id < c.id
           GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT i, j FROM it
           JOIN sizes x ON x.id = i JOIN sizes y ON y.id = j
           WHERE (c * 10000) // (x.n + y.n - c) >= 8000),
         cnts AS (
           SELECT
             CAST((SELECT count(*) FROM found JOIN truth USING (i, j)) AS BIGINT) AS tp,
             CAST((SELECT count(*) FROM found) AS BIGINT) AS nf,
             CAST((SELECT count(*) FROM truth) AS BIGINT) AS nt),
         cf AS (SELECT tp, nf - tp AS fp, nt - tp AS fn FROM cnts)
         SELECT tp, fp, fn,
                CAST(CASE WHEN tp + fp = 0 THEN 0
                     ELSE (tp * 10000) // (tp + fp) END AS BIGINT) AS precision_bp,
                CAST(CASE WHEN tp + fn = 0 THEN 0
                     ELSE (tp * 10000) // (tp + fn) END AS BIGINT) AS recall_bp,
                CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                     ELSE (2 * tp * 10000) // (2 * tp + fp + fn) END AS BIGINT) AS f1_bp
         FROM cf""",

    // The sampled sibling: found replays over the FULL corpus (the
    // method's blocking must see every doc), then both endpoints filter
    // to the md5 residue-0 third; the quadratic gold standard runs only
    // over the sampled sub-corpus — the exact cost shape the engine
    // claims at scale.
    "q_dedup_eval_sampled" ->
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         w AS (
           SELECT doc_id AS id,
                  lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt,
                  list_filter(
                    string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                    x -> length(x) > 0) AS wd
           FROM corpus),
         samp AS MATERIALIZED (
           SELECT id FROM (
             SELECT id, substr(md5(CAST(id AS VARCHAR)), 1, 8) AS hx FROM w) t
           WHERE ($hexPoly) % 3 = 0),
         b AS MATERIALIZED (
           SELECT id,
                  list_distinct(CASE WHEN len(wd) >= 3 THEN
                    list_transform(range(1, len(wd) - 1),
                      i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
                  ELSE [array_to_string(wd, ' ')] END) AS toks,
                  row_number() OVER (ORDER BY nt, id) AS rnk
           FROM w),
         found AS MATERIALIZED (
           SELECT DISTINCT least(a.id, b2.id) AS i, greatest(a.id, b2.id) AS j
           FROM b a JOIN b b2 ON b2.rnk > a.rnk AND b2.rnk <= a.rnk + 7
           WHERE (CAST(len(list_intersect(a.toks, b2.toks)) AS BIGINT) * 10000)
                 // CAST(len(a.toks) + len(b2.toks)
                      - len(list_intersect(a.toks, b2.toks)) AS BIGINT) >= 8000
             AND a.id IN (SELECT id FROM samp)
             AND b2.id IN (SELECT id FROM samp)),
         bs AS MATERIALIZED (
           SELECT * FROM b WHERE id IN (SELECT id FROM samp)),
         shp AS MATERIALIZED (SELECT id, unnest(toks) AS s FROM bs),
         sizes AS (SELECT id, CAST(len(toks) AS BIGINT) AS n FROM bs),
         it AS MATERIALIZED (
           SELECT a.id AS i, c.id AS j, CAST(count(*) AS BIGINT) AS c
           FROM shp a JOIN shp c ON a.s = c.s AND a.id < c.id
           GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT i, j FROM it
           JOIN sizes x ON x.id = i JOIN sizes y ON y.id = j
           WHERE (c * 10000) // (x.n + y.n - c) >= 8000),
         cnts AS (
           SELECT
             CAST((SELECT count(*) FROM found JOIN truth USING (i, j)) AS BIGINT) AS tp,
             CAST((SELECT count(*) FROM found) AS BIGINT) AS nf,
             CAST((SELECT count(*) FROM truth) AS BIGINT) AS nt),
         cf AS (SELECT tp, nf - tp AS fp, nt - tp AS fn FROM cnts)
         SELECT tp, fp, fn,
                CAST(CASE WHEN tp + fp = 0 THEN 0
                     ELSE (tp * 10000) // (tp + fp) END AS BIGINT) AS precision_bp,
                CAST(CASE WHEN tp + fn = 0 THEN 0
                     ELSE (tp * 10000) // (tp + fn) END AS BIGINT) AS recall_bp,
                CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                     ELSE (2 * tp * 10000) // (2 * tp + fp + fn) END AS BIGINT) AS f1_bp
         FROM cf""",

    "q_dedup_clusters" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT doc_id AS doc,
                min(doc_id) OVER (
                  PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                ) AS cluster
         FROM corpus ORDER BY doc""",

    "q_dedup_keep" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         k AS (
           SELECT doc_id,
                  min(doc_id) OVER (
                    PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                  ) AS keep
           FROM corpus)
         SELECT doc_id FROM k WHERE doc_id = keep ORDER BY doc_id""",

    // Leakage-safe split: canonical = min doc_id per normalized-text
    // group over the planted-dup corpus; the split rule reads the CANON.
    "q_split_leakfree" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         canon AS (
           SELECT doc_id, min(doc_id) OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
           ) AS canon
           FROM corpus)
         SELECT doc_id, canon,
                CASE WHEN substr(md5(CAST(canon AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                     WHEN substr(md5(CAST(canon AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                     ELSE 'test' END AS split
         FROM canon ORDER BY doc_id""",

    // Curriculum replay: the perplexity tertiles (shared algebra with
    // q_perplexity_mix) mapped to phases, md5-shuffled global order.
    "q_curriculum" -> (lmCtes +
      """,
         hist AS (SELECT mean_surprisal_bp AS s, count(*) AS c
                  FROM lm_scored GROUP BY 1),
         mtot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
         cum AS (SELECT s, sum(c) OVER (ORDER BY s ASC
                   ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
         thr AS (SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN s END) AS t1,
                        min(CASE WHEN cum >= (2 * n + 2) // 3 THEN s END) AS t2
                 FROM cum CROSS JOIN mtot),
         phased AS (
           SELECT doc,
                  CASE WHEN mean_surprisal_bp <= t1 THEN 0
                       WHEN mean_surprisal_bp <= t2 THEN 1
                       ELSE 2 END AS phase,
                  md5(CAST(doc AS VARCHAR)) AS h
           FROM lm_scored CROSS JOIN thr)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY phase, h, doc) AS BIGINT) AS pos,
                doc AS doc_id, phase
         FROM phased ORDER BY pos"""),

    "q_split" ->
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",

    // Expression shapes (literals, association order, separate basis-point
    // floors multiplied as integers) mirror Search.bm25TopK exactly — the
    // per-doc score is an integer sum, so aggregation order can't flip a
    // rank in either engine.
    "q_bm25" -> bm25Oracle,

    "q_prf" -> prfOracle,

    // the incrementally-built index must converge to the batch-built one,
    // so the streamed serving path shares the batch oracle verbatim
    "q_bm25_incremental" -> bm25Oracle,

    "q_hybrid" -> hybridOracle,

    // Chains the dedup-keep, surprisal, split, and pack oracle fragments
    // over the same staged semantics (LM counts post-dedup).
    "q_pipeline" -> ("WITH " + pipelineDedupCte("documents") + pipelineTail),

    // the archive half's NET state (ingest → store → mid-stream
    // takedown = the %13 erasure) feeding the SAME dedup/LM/split/pack
    // fragments q_pipeline gates on — one shared tail, zero drift
    "q_pipeline_archive" ->
      ("""WITH archive AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
         """ + pipelineDedupCte("archive") + pipelineTail),

    // Same relational algebra as TextAnalysis.fuzzyContamination; the
    // jaccard floor expression is the engine's proven jaccardOracle form.
    // NO freqCap term here (see the registration's CONTRACT note): the
    // registered query's cap must shed nothing at this scale factor.
    "q_contamination_fuzzy" -> (shingleCte +
      """,
         sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc AS doc, b.doc AS bench_doc, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s
           WHERE a.doc % 17 <> 0 AND b.doc % 17 = 0
           GROUP BY 1, 2)
         SELECT inter.doc AS doc, bench_doc,
                CAST(floor(c * 10000.0 / (x.n + y.n - c)) AS BIGINT) AS jac_bp
         FROM inter JOIN sizes x ON x.doc = inter.doc
                    JOIN sizes y ON y.doc = bench_doc
         WHERE floor(c * 10000.0 / (x.n + y.n - c)) >= 200
         ORDER BY inter.doc, bench_doc"""),

    // Mirrors TextAnalysis.keywords: idf floored to bp per distinct
    // token, integer tf weighting, rank = (score desc, token asc).
    "q_keywords" ->
      """WITH toks AS (
           SELECT doc_id AS doc,
                  unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
           FROM documents),
         tf AS (SELECT doc, tok, count(*) AS tf
                FROM toks WHERE tok <> '' GROUP BY 1, 2),
         dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT count(DISTINCT doc) AS n FROM tf),
         scored AS (
           SELECT tf.doc, tf.tok AS token,
                  tf * CAST(floor(ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT) AS score_bp
           FROM tf JOIN dfc USING (tok) CROSS JOIN nd)
         SELECT doc, CAST(rank AS INT) AS rank, token, score_bp
         FROM (SELECT doc, token, score_bp,
                      row_number() OVER (PARTITION BY doc
                                         ORDER BY score_bp DESC, token ASC) AS rank
               FROM scored)
         WHERE rank <= 3 ORDER BY doc, rank""",

    // Mirrors TextAnalysis.unigramSurprisal expression-for-expression:
    // ln once per distinct token, floored to bp, integer-weighted sums.
    "q_lm_surprisal" -> (lmCtes +
      """
         SELECT doc, n_tokens, total_surprisal_bp, mean_surprisal_bp
         FROM lm_scored ORDER BY doc"""),

    // Mirrors TextAnalysis.bigramSurprisal: positional events with a
    // <s> first-token context, add-one bigram model, ln floored to bp
    // once per distinct (p, t), integer-weighted sums.
    "q_lm_bigram" ->
      """WITH dtoks AS (
           SELECT doc_id AS doc,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS w
           FROM documents),
         ev AS (
           SELECT doc, CASE WHEN k = 1 THEN '<s>' ELSE w[k-1] END AS p,
                  w[k] AS t
           FROM (SELECT doc, w, unnest(range(1, len(w) + 1)) AS k
                 FROM dtoks) t0),
         tf2 AS MATERIALIZED (
           SELECT doc, p, t, CAST(count(*) AS BIGINT) AS tf
           FROM ev GROUP BY 1, 2, 3),
         c2 AS MATERIALIZED (
           SELECT p, t, CAST(sum(tf) AS BIGINT) AS c2 FROM tf2 GROUP BY 1, 2),
         c1 AS MATERIALIZED (
           SELECT p, CAST(sum(tf) AS BIGINT) AS c1 FROM tf2 GROUP BY 1),
         vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tf2),
         per AS (
           SELECT tf2.doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  CAST(sum(tf * CAST(floor(ln(CAST(c1 + v AS DOUBLE) /
                                              CAST(c2 + 1 AS DOUBLE)) * 10000)
                                     AS BIGINT)) AS BIGINT) AS total_surprisal_bp
           FROM tf2 JOIN c2 USING (p, t) JOIN c1 USING (p) CROSS JOIN vv
           GROUP BY 1)
         SELECT doc, n_tokens, total_surprisal_bp,
                CAST(floor(CAST(total_surprisal_bp AS DOUBLE) / n_tokens) AS BIGINT)
                  AS mean_surprisal_bp
         FROM per ORDER BY doc""",

    // KN replay: same positional-event CTEs as q_lm_bigram; continuation
    // counts from the bigram-type table; the probability composition's
    // association order mirrors the Spark expression token-for-token.
    "q_lm_kn" ->
      """WITH dtoks AS (
           SELECT doc_id AS doc,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS w
           FROM documents),
         ev AS (
           SELECT doc, CASE WHEN k = 1 THEN '<s>' ELSE w[k-1] END AS p,
                  w[k] AS t
           FROM (SELECT doc, w, unnest(range(1, len(w) + 1)) AS k
                 FROM dtoks) t0),
         tf2 AS MATERIALIZED (
           SELECT doc, p, t, CAST(count(*) AS BIGINT) AS tf
           FROM ev GROUP BY 1, 2, 3),
         c2 AS MATERIALIZED (
           SELECT p, t, CAST(sum(tf) AS BIGINT) AS c2 FROM tf2 GROUP BY 1, 2),
         ctx AS MATERIALIZED (
           SELECT p, CAST(sum(c2) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1f
           FROM c2 GROUP BY 1),
         cont AS MATERIALIZED (
           SELECT t, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
         btv AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM c2),
         per AS (
           SELECT tf2.doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  CAST(sum(tf * CAST(floor(-ln(
                        (c2 - CAST(0.75 AS DOUBLE)) / c1 +
                        CAST(0.75 AS DOUBLE) * n1f / c1 *
                        (CAST(n1b AS DOUBLE) / bt)) * 10000)
                                     AS BIGINT)) AS BIGINT) AS total_surprisal_bp
           FROM tf2 JOIN c2 USING (p, t) JOIN ctx USING (p)
                JOIN cont USING (t) CROSS JOIN btv
           GROUP BY 1)
         SELECT doc, n_tokens, total_surprisal_bp,
                CAST(floor(CAST(total_surprisal_bp AS DOUBLE) / n_tokens) AS BIGINT)
                  AS mean_surprisal_bp
         FROM per ORDER BY doc""",

    "q_log_odds" ->
      """WITH dt AS (
           SELECT source IN ('src0','src1','src2') AS in_a,
                  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS tok
           FROM documents),
         counts AS MATERIALIZED (
           SELECT tok,
                  CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
                  CAST(count(*) AS BIGINT) AS tw
           FROM dt GROUP BY tok),
         c2 AS (SELECT tok, ya, tw, tw - ya AS yb FROM counts),
         tot AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
                        CAST(sum(tw) AS BIGINT) AS t
                 FROM c2),
         scored AS MATERIALIZED (
           SELECT tok, ya, yb,
                  CAST(floor((
                    ln(CAST(ya * t + 1000 * tw AS DOUBLE) /
                       CAST((na + 1000 - ya) * t - 1000 * tw AS DOUBLE)) -
                    ln(CAST(yb * t + 1000 * tw AS DOUBLE) /
                       CAST(((t - na) + 1000 - yb) * t - 1000 * tw AS DOUBLE))
                  ) * 10000) AS BIGINT) AS delta_bp
           FROM c2 CROSS JOIN tot WHERE tw >= 5),
         sa AS (SELECT tok, ya, yb, delta_bp, 'a' AS side FROM scored
                ORDER BY delta_bp DESC, tok LIMIT 15),
         sb AS (SELECT tok, ya, yb, delta_bp, 'b' AS side FROM scored
                ORDER BY delta_bp ASC, tok LIMIT 15)
         SELECT * FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)
         ORDER BY side, delta_bp DESC, tok""",

    "q_collocations" ->
      """WITH dtoks AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                  x -> length(x) > 0) AS w
           FROM documents),
         ev AS (
           SELECT w[k] AS a, w[k+1] AS b
           FROM (SELECT w, unnest(range(1, len(w))) AS k
                 FROM dtoks WHERE len(w) > 1) t0),
         pc AS MATERIALIZED (
           SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM ev GROUP BY 1, 2),
         ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM pc GROUP BY 1),
         cb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM pc GROUP BY 1),
         nv AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM pc)
         SELECT pc.a, pc.b, c_ab,
                CAST(floor(ln(CAST(c_ab * n AS DOUBLE) /
                              CAST(c_a * c_b AS DOUBLE)) * 10000) AS BIGINT) AS pmi_bp
         FROM pc JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN nv
         WHERE c_ab >= 5
         ORDER BY pmi_bp DESC, a, b LIMIT 30""",

    // Independent formulation: a per-row RANGE-frame window (count of
    // rows at-or-below) instead of the histogram device.
    "q_percentile_rank" ->
      """WITH vals AS (
           SELECT doc_id, source,
                  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0)) AS BIGINT) AS ntok
           FROM documents)
         SELECT doc_id, source, ntok,
                CAST((count(*) OVER (PARTITION BY source ORDER BY ntok
                        RANGE UNBOUNDED PRECEDING) * 10000)
                     // (count(*) OVER (PARTITION BY source)) AS BIGINT) AS pct_bp
         FROM vals ORDER BY doc_id""",

    "q_lm_kn3" ->
      """WITH dtoks AS (
           SELECT doc_id AS doc,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> length(x) > 0) AS w
           FROM documents),
         ev AS (
           SELECT doc,
                  CASE WHEN k >= 3 THEN w[k-2] ELSE '<s>' END AS p2,
                  CASE WHEN k >= 2 THEN w[k-1] ELSE '<s>' END AS p1,
                  w[k] AS t
           FROM (SELECT doc, w, unnest(range(1, len(w) + 1)) AS k
                 FROM dtoks) t0),
         tf3 AS MATERIALIZED (
           SELECT doc, p2, p1, t, CAST(count(*) AS BIGINT) AS tf
           FROM ev GROUP BY 1, 2, 3, 4),
         c3 AS MATERIALIZED (
           SELECT p2, p1, t, CAST(sum(tf) AS BIGINT) AS c3
           FROM tf3 GROUP BY 1, 2, 3),
         ctx3 AS MATERIALIZED (
           SELECT p2, p1, CAST(sum(c3) AS BIGINT) AS c12,
                  CAST(count(*) AS BIGINT) AS n3f
           FROM c3 GROUP BY 1, 2),
         cont2 AS MATERIALIZED (
           SELECT p1, t, CAST(count(*) AS BIGINT) AS n2c FROM c3 GROUP BY 1, 2),
         ctx2 AS MATERIALIZED (
           SELECT p1, CAST(sum(n2c) AS BIGINT) AS cp1,
                  CAST(count(*) AS BIGINT) AS n2f
           FROM cont2 GROUP BY 1),
         cont1 AS MATERIALIZED (
           SELECT t, CAST(count(*) AS BIGINT) AS n1b FROM cont2 GROUP BY 1),
         t2v AS (SELECT CAST(count(*) AS BIGINT) AS t2 FROM cont2),
         per AS (
           SELECT tf3.doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  CAST(sum(tf * CAST(floor(-ln(
                        (c3 - CAST(0.75 AS DOUBLE)) / c12 +
                        CAST(0.75 AS DOUBLE) * n3f / c12 *
                        ((n2c - CAST(0.75 AS DOUBLE)) / cp1 +
                         CAST(0.75 AS DOUBLE) * n2f / cp1 *
                         (CAST(n1b AS DOUBLE) / t2))) * 10000)
                                     AS BIGINT)) AS BIGINT) AS total_surprisal_bp
           FROM tf3 JOIN c3 USING (p2, p1, t) JOIN ctx3 USING (p2, p1)
                JOIN cont2 USING (p1, t) JOIN ctx2 USING (p1)
                JOIN cont1 USING (t) CROSS JOIN t2v
           GROUP BY 1)
         SELECT doc, n_tokens, total_surprisal_bp,
                CAST(floor(CAST(total_surprisal_bp AS DOUBLE) / n_tokens) AS BIGINT)
                  AS mean_surprisal_bp
         FROM per ORDER BY doc""",

    // Perplexity-binned mixture: tertile thresholds from a cumulative
    // window over the score HISTOGRAM (never the corpus), ties to the
    // lower bucket, then the md5-rate sampling rule per bucket
    // (head 100% / middle 50% / tail 10% — cut(50)=0x8000,
    // cut(10)=0x1999, cut(100)='g').
    "q_perplexity_mix" -> (lmCtes +
      """,
         hist AS (SELECT mean_surprisal_bp AS s, count(*) AS c
                  FROM lm_scored GROUP BY 1),
         mtot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
         cum AS (SELECT s, sum(c) OVER (ORDER BY s ASC
                   ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
         thr AS (SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN s END) AS t1,
                        min(CASE WHEN cum >= (2 * n + 2) // 3 THEN s END) AS t2
                 FROM cum CROSS JOIN mtot),
         bucketed AS (
           SELECT doc, mean_surprisal_bp,
                  CASE WHEN mean_surprisal_bp <= t1 THEN 'head'
                       WHEN mean_surprisal_bp <= t2 THEN 'middle'
                       ELSE 'tail' END AS bucket
           FROM lm_scored CROSS JOIN thr)
         SELECT doc, bucket, mean_surprisal_bp FROM bucketed
         WHERE substr(md5(CAST(doc AS VARCHAR)), 1, 4) <
               CASE bucket WHEN 'head' THEN 'g'
                           WHEN 'middle' THEN '8000'
                           ELSE '1999' END
         ORDER BY doc"""),

    // Mirrors Importance.dsirWeights expression-for-expression: md5-prefix
    // buckets, add-one smoothing as exact long products into one double
    // divide, ln floored to bp once per distinct bucket, integer sums.
    "q_dsir" -> (dsirCtes +
      """
         SELECT doc_id, n_feats, weight_bp FROM dsir_scored ORDER BY doc_id"""),

    // The incremental path must equal the batch path: same oracle.
    "q_dsir_incremental" -> (dsirCtes +
      """
         SELECT doc_id, n_feats, weight_bp FROM dsir_scored ORDER BY doc_id"""),

    // Gumbel-top-k resample over the same scored CTE: u = (h + 0.5)/2^32
    // with h rebuilt from the md5 hex via a strpos polynomial — the same
    // exact integer conv() yields in Spark, so the doubles agree
    // bit-for-bit before the (libm) double ln.
    "q_dsir_sample" -> (dsirCtes +
      s""",
         keyed AS (
           SELECT doc_id, weight_bp,
                  weight_bp + CAST(floor(-ln(-ln(($hexPoly + 0.5) / 4294967296.0))
                                   * 10000) AS BIGINT) AS key_bp
           FROM (SELECT doc_id, weight_bp,
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx
                 FROM dsir_scored) t)
         SELECT doc_id, weight_bp, key_bp FROM keyed
         ORDER BY key_bp DESC, doc_id LIMIT 100"""),

    // The oracle replays the SEMANTICS (global md5-order prefix sum ≤
    // budget) rather than the engine's two-pass evaluation strategy —
    // the equivalence is the prefix property: global cum for a doc in
    // the crossing bucket = base + in-bucket cum; below it always ≤
    // budget; above it always > budget.
    "q_token_budget" ->
      """WITH keyed AS (
           SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS k,
                  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       x -> length(x) > 0)) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT doc_id, n_tok,
                  sum(n_tok) OVER (ORDER BY k, doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM keyed)
         SELECT doc_id, n_tok FROM c WHERE cum <= 15000 ORDER BY doc_id""",

    "q_vocab" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
           FROM documents),
         counts AS (
           SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token),
         top AS (SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT 100)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS INT) AS pos,
                token, n
         FROM top ORDER BY pos""",

    "q_mmr" -> mmrOracle(kCand = 20, k = 5, lambdaBp = 7000L),

    // Substring-search ground truth: the UNACCELERATED form — a plain
    // contains() scan per pattern (the oracle is deliberately the naive
    // algorithm the trigram prefilter must exactly reproduce).
    "q_substring_search" -> substringOracle,
    // the maintained-index path must converge to the batch-built index:
    // same naive-scan ground truth verbatim
    "q_substring_incremental" -> substringOracle,

    "q_more_like_this" ->
      """WITH toks AS (
           SELECT doc_id AS doc,
                  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0)) AS tok
           FROM documents),
         tf AS MATERIALIZED (
           SELECT doc, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
         dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         nv AS (SELECT CAST(count(DISTINCT doc) AS BIGINT) AS n FROM tf),
         wts AS MATERIALIZED (
           SELECT doc, tf.tok,
                  tf * CAST(floor(ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT) AS w
           FROM tf JOIN dfc ON dfc.tok = tf.tok CROSS JOIN nv),
         seedw AS (SELECT doc AS seed, tok, w AS sw FROM wts WHERE doc IN (0, 1, 2)),
         scored AS (
           SELECT seed, wts.doc,
                  CAST(sum(sw * w) AS BIGINT) AS score
           FROM seedw JOIN wts ON wts.tok = seedw.tok AND wts.doc <> seedw.seed
           GROUP BY 1, 2)
         SELECT seed, CAST(rank AS BIGINT) AS rank, doc AS doc_id, score
         FROM (SELECT seed, doc, score,
                      row_number() OVER (PARTITION BY seed
                        ORDER BY score DESC, doc ASC) AS rank
               FROM scored)
         WHERE rank <= 10 ORDER BY seed, rank""",

    "q_autocomplete" ->
      """WITH vocab AS (
           SELECT tok AS term, CAST(count(*) AS BIGINT) AS n FROM (
             SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> length(x) > 0)) AS tok
             FROM documents)
           GROUP BY 1),
         pfx AS (
           SELECT term, n, substr(term, 1, i) AS prefix
           FROM (SELECT term, n, unnest(range(1, least(length(term), 6) + 1)) AS i
                 FROM vocab) t0),
         ranked AS (
           SELECT prefix, term, n,
                  row_number() OVER (PARTITION BY prefix
                    ORDER BY n DESC, term ASC) AS rank
           FROM pfx)
         SELECT prefix, CAST(rank AS BIGINT) AS rank, term, n
         FROM ranked WHERE rank <= 3
         ORDER BY prefix, rank""",

    // Phrase ground truth: positional adjacency over the shared
    // tokenizer contract — parallel unnest carries 1-based positions.
    "q_phrase_search" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS toks
           FROM documents),
         p AS (
           SELECT doc_id, unnest(toks) AS tok,
                  unnest(range(1, len(toks) + 1)) AS pos
           FROM t),
         m AS (
           SELECT a.doc_id, a.pos
           FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
           WHERE a.tok = 'table' AND b.tok = 'hash')
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
                CAST(min(pos) AS BIGINT) AS first_pos
         FROM m GROUP BY doc_id ORDER BY doc_id""",

    // Filtered-ANN replay: the brute chain with the label predicate in
    // the join — pre-filter semantics, exactly k constrained rows.
    "q_ann_filtered" ->
      """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         nn0 AS (SELECT vec_id, label,
                        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
                 FROM n),
         q AS (SELECT vec_id AS qid, nv AS qv, label AS qlbl
               FROM nn0 WHERE vec_id <= 7),
         s AS (
           SELECT qid, vec_id AS nid,
                  CAST(floor(list_dot_product(nv, qv) * 10000) AS BIGINT) AS cos_bp
           FROM nn0, q WHERE vec_id != qid AND label != qlbl)
         SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, cos_bp
         FROM (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY qid ORDER BY cos_bp DESC, nid ASC) AS rn FROM s)
         WHERE rn <= 10
         ORDER BY query_id, rank""",

    // Quantile replay: (group, value) histogram -> per-group cumulative
    // window -> min value whose cumulative count reaches the integer
    // ceil((q*n)/1e4) rank target.
    "q_quantiles" -> quantilesOracle,

    // Waterfilling replay: inventory + VALUES weights -> exclusive-prefix
    // windows in ratio order -> first row with r >= lambda marks the cap
    // boundary -> capped keep inventory, uncapped get floor(lambda*wt).
    "q_mixture_plan" -> (
      s"""WITH inv AS (
           SELECT source AS src,
                  CAST(sum(len(list_filter(
                    string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> length(x) > 0))) AS BIGINT) AS avail
           FROM documents GROUP BY source),
         wts(src, wt) AS (VALUES $mixturePlanWeightValues),
         base AS (
           SELECT i.src, avail, CAST(wt AS BIGINT) AS wt,
                  CAST(avail AS DOUBLE) / wt AS r
           FROM inv i JOIN wts USING (src) WHERE avail > 0),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY r, src) AS m,
                  COALESCE(sum(avail) OVER (ORDER BY r, src
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pT,
                  COALESCE(sum(wt) OVER (ORDER BY r, src
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cW,
                  sum(wt) OVER () AS totW
           FROM base),
         lamd AS (
           SELECT *, CAST(12000 - pT AS DOUBLE) / (totW - cW) AS lam
           FROM ranked),
         bdy AS (SELECT m - 1 AS kStar, lam AS lamStar
                 FROM lamd WHERE r >= lam ORDER BY m LIMIT 1),
         plan AS (
           SELECT src, avail, wt,
                  CASE WHEN kStar IS NULL OR m <= kStar THEN avail
                       ELSE CAST(floor(lamStar * wt) AS BIGINT) END AS alloc,
                  (kStar IS NULL OR m <= kStar) AS capped
           FROM lamd LEFT JOIN bdy ON TRUE)
         SELECT src AS source, avail, wt, alloc, capped,
                CAST(floor(alloc * 10000.0 / avail) AS BIGINT) AS epochs_bp
         FROM plan ORDER BY source"""),

    // Bloom replay: distinct build-side positions (the set bits) probed
    // by each key's 3 salted positions — hit = 3 means every bit set
    // (duplicate self-colliding positions each match the DISTINCT set
    // once, exactly the AND-of-3 bit-test semantics).
    "q_bloom_join" -> bloomOracle,
    // maintained OR-merge words serve identical bits: same oracle
    "q_bloom_incremental" -> bloomOracle,

    // The CMS replay: exact token counts -> salted-md5 counter coords ->
    // per-row counter sums -> min-over-rows estimates. Counter additivity
    // makes build-from-counts identical to build-row-at-a-time — which is
    // also why the STREAM-maintained sketch shares this oracle verbatim.
    "q_heavy_hitters" -> cmsOracle,
    "q_heavy_hitters_incremental" -> cmsOracle,


    // The HLL replay: md5 -> (register, leading-zero rank) -> max per
    // register -> exact dyadic 2^-M sum (1::BIGINT << mr — no pow, no
    // ln) -> the one audited double division.
    "q_distinct_sketch" -> (hllCtes +
      """,
         exacts AS (
           SELECT g, CAST(count(DISTINCT bg) AS BIGINT) AS exact
           FROM bg GROUP BY g)
         SELECT e.g AS source,
                CAST(floor(0.709 * 4096.0 / s * 100) AS BIGINT) AS est_x100,
                x.exact,
                CAST(floor(abs(CAST(floor(0.709 * 4096.0 / s * 100) AS BIGINT)
                               / 100.0 - x.exact) * 10000 / x.exact) AS BIGINT)
                  AS err_bp
         FROM ests e JOIN exacts x USING (g)
         ORDER BY source"""),

    // Unicode replay: identical byte sequences (Scala \uXXXX escapes
    // compile to the same UTF-8 the VALUES receive); nfc_normalize +
    // strip_accents are DuckDB's canonicalization pair.
    "q_normalize_unicode" ->
      ("""WITH raw(id, raw) AS (VALUES
           (1, 'caf\u00e9 au lait'),
           (2, 'cafe\u0301 au lait'),
           (3, 'na\u00efve r\u00e9sum\u00e9'),
           (4, '\u00dcber stra\u00dfe'),
           (5, 'plain ascii'),
           (6, 'A\u030a ring'))
         SELECT CAST(id AS BIGINT) AS id, nfc_normalize(raw) AS nfc,
                strip_accents(nfc_normalize(raw)) AS folded,
                nfc_normalize(raw) != raw AS recomposed
         FROM raw ORDER BY id"""),

    // registers-only serving from the maintained sketch (max-merge)
    "q_distinct_incremental" -> (hllCtes + """
         SELECT g AS source,
                CAST(floor(0.709 * 4096.0 / s * 100) AS BIGINT) AS est_x100
         FROM ests ORDER BY source"""),

    "q_repetition" ->
      """WITH toks AS (
           SELECT doc_id AS doc,
                  unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
           FROM documents),
         tc AS (
           SELECT doc, token, count(*) AS c
           FROM toks WHERE token <> '' GROUP BY 1, 2)
         SELECT doc,
                CAST(floor(max(c) * 10000.0 / sum(c)) AS BIGINT) AS top_token_share_bp,
                CAST(floor(count(*) * 10000.0 / sum(c)) AS BIGINT) AS distinct_ratio_bp
         FROM tc GROUP BY doc ORDER BY doc""",

    "q_mixture" ->
      """SELECT doc_id, source
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
               CASE source WHEN 'src0' THEN 'cccc'
                           WHEN 'src1' THEN '8000'
                           WHEN 'src2' THEN '1999'
                           ELSE '0000' END
         ORDER BY doc_id""",

    "q_contamination" -> (shingleCte +
      """,
         bs AS (SELECT DISTINCT s FROM sh WHERE doc % 17 = 0)
         SELECT doc, count(*) AS n_hits
         FROM sh JOIN bs USING (s)
         WHERE doc % 17 <> 0
         GROUP BY doc ORDER BY doc"""),

    "q_dedup_ngram" -> jaccardOracle,

    // the prefix-filtered join must find EXACTLY the exact join's pairs
    "q_dedup_prefix" -> jaccardOracle,

    "q_dedup_containment" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 3000000,
                  array_to_string(
                    (string_split_regex(trim(text), '\s+'))
                      [1:greatest(3, len(string_split_regex(trim(text), '\s+')) // 2)],
                    ' ') AS text
           FROM documents WHERE doc_id % 10 = 0),
         words AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
         sh AS (
           SELECT DISTINCT doc_id AS doc,
                  unnest(list_transform(range(1, len(w)-1),
                                        i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS s
           FROM words),
         sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc AS i, b.doc AS j, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
           GROUP BY 1, 2),
         dirs AS (
           SELECT i AS src, j AS dst, (c * 10000) // x.n AS cont_bp
           FROM inter JOIN sizes x ON x.doc = i
           UNION ALL
           SELECT j AS src, i AS dst, (c * 10000) // y.n AS cont_bp
           FROM inter JOIN sizes y ON y.doc = j)
         SELECT src, dst, CAST(cont_bp AS BIGINT) AS cont_bp
         FROM dirs WHERE cont_bp >= 9000 ORDER BY src, dst""",
    "q_dedup_minhash" -> jaccardOracle,
    // serves from the maintained LSH state; ground truth identical
    "q_dedup_stream_lsh" -> jaccardOracle,

    // Same gram/covered-run-merge algebra as the dupSpans oracles (gap ≤
    // L marked positions merge → disjoint spans), with the mark set = the
    // benchmark subset's distinct gram hashes.
    "q_contamination_spans" ->
      """WITH nw AS (
           SELECT doc_id AS doc,
                  string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS wd
           FROM documents),
         g AS (
           SELECT doc, i - 1 AS pos,
                  CAST(('0x'||substring(
                    md5(array_to_string(wd[i:i+3], ' ')), 1, 15)) AS BIGINT) AS h
           FROM (SELECT doc, wd, unnest(range(1, len(wd) - 4 + 2)) AS i
                 FROM nw WHERE len(wd) >= 4) t),
         bg AS (SELECT DISTINCT h FROM g WHERE doc % 17 = 0),
         m AS (SELECT doc, pos FROM g JOIN bg USING (h) WHERE doc % 17 <> 0),
         runs AS (
           SELECT doc, pos,
                  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) <= 4
                       THEN 0 ELSE 1 END AS nw_flag
           FROM m),
         grps AS (
           SELECT doc, pos,
                  sum(nw_flag) OVER (PARTITION BY doc ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS grp
           FROM runs)
         SELECT doc, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) - min(pos) + 4 AS BIGINT) AS span_len
         FROM grps GROUP BY doc, grp
         ORDER BY doc, span_start""",

    // Replays duplicatedSpans relationally (shared CTE chain below;
    // DuckDB's unnest index is 1-based → pos = i - 1, matching Spark's
    // 0-based posexplode).
    "q_dedup_spans" -> (dupSpansCte + """
         SELECT doc, span_start, span_len FROM spans
         ORDER BY doc, span_start"""),

    // span-level eval of the blocked over-approximation: the stitched
    // corpus's span chain + the double-space literal-replace occurrence
    // count — the measured precision gap ships as a hash-gated number
    "q_dedup_spans_eval" -> dupSpansEvalOracle,

    // The scrub oracle re-tokenizes, marks tokens inside spans (the
    // covered-run merge makes spans disjoint BY CONSTRUCTION — no token
    // has two covering spans, so the LEFT JOIN cannot duplicate one), and
    // re-concatenates survivors in position order.
    "q_dedup_scrub" -> scrubOracle,

    // the positional fallback must produce IDENTICAL output — same
    // oracle verbatim (like the incremental-vs-batch pairs)
    "q_dedup_scrub_positional" -> scrubOracle,

    // Recomputes the 60-bit md5-prefix simhash signatures (per-bit
    // majority vote, ties → 0, over ALL word occurrences of the
    // normalized text) and takes the BRUTE-FORCE hamming ≤ 3 pairs —
    // the exact ground truth the banded+verified engine output must
    // equal (pigeonhole: no false negatives; exact verify: no false
    // positives). Mirrors TextOps.simhash64 bit-for-bit.
    "q_dedup_simhash" ->
      """WITH nw AS (
           SELECT doc_id AS doc,
                  string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS wd
           FROM documents),
         h AS (
           SELECT doc, CAST(('0x'||substring(md5(tok), 1, 15)) AS BIGINT) AS hv
           FROM (SELECT doc, unnest(wd) AS tok FROM nw) t),
         v AS (
           SELECT doc, b.bit,
                  sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
           GROUP BY 1, 2),
         sig AS (
           SELECT doc,
                  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                                ELSE 0 END) AS BIGINT) AS sg
           FROM v GROUP BY 1)
         SELECT a.doc AS i, b2.doc AS j,
                CAST(bit_count(xor(a.sg, b2.sg)) AS INT) AS hamming
         FROM sig a JOIN sig b2 ON a.doc < b2.doc
         WHERE bit_count(xor(a.sg, b2.sg)) <= 3
         ORDER BY i, j""",

    // Replays TextOps.winnow relationally: 60-bit md5-prefix hash of
    // each k-gram (words joined by single spaces), min per FULL window
    // of w=4 consecutive grams (short docs with ng < w fall back to the
    // global min gram), distinct fingerprint VALUES per doc, then pairs
    // sharing >= 3 fingerprints.
    "q_dedup_winnow" ->
      """WITH nw AS (
           SELECT doc_id AS doc,
                  string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS wd
           FROM documents),
         g AS (SELECT doc, wd, len(wd) - 2 AS ng FROM nw WHERE len(wd) >= 3),
         grams AS (
           SELECT doc, ng, i,
                  CAST(('0x'||substring(
                    md5(wd[i]||' '||wd[i+1]||' '||wd[i+2]), 1, 15)) AS BIGINT) AS h
           FROM (SELECT doc, wd, ng, unnest(range(1, ng + 1)) AS i FROM g) t),
         wins AS (
           SELECT doc, ng, i,
                  min(h) OVER (PARTITION BY doc ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM grams),
         fps AS (
           SELECT DISTINCT doc, m AS fp FROM wins WHERE ng >= 4 AND i <= ng - 3
           UNION
           SELECT doc, min(h) AS fp FROM grams WHERE ng < 4 GROUP BY doc)
         SELECT a.doc AS i, b.doc AS j, count(*) AS shared_fp
         FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc < b.doc
         GROUP BY 1, 2
         HAVING count(*) >= 3
         ORDER BY i, j""",

    "q_dedup_embed" -> cosinePairsOracle,

    // the VERIFIED LSH path must equal the exact baseline over the same
    // planted corpus (srpPairsVerified throws on any banding miss)
    "q_dedup_embed_lsh" -> nearDupPairsOracle,

    "q_ann_topk" -> bruteTopKOracle,

    // The embedding composition's ground truth: exact near-dup pairs over
    // the planted corpus → recursive min-label connected components →
    // keep the component minimum → the q_split hash-split rule. Every
    // vec_id is a node (singletons survive as their own canonical; the
    // plants collapse onto their originals).
    "q_pipeline_embed" -> (embWithDupsCte +
      """,
         nn0 AS (SELECT vec_id,
                        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
                 FROM n),
         p AS (
           SELECT a.vec_id AS u, b.vec_id AS w
           FROM nn0 a JOIN nn0 b ON a.vec_id < b.vec_id
           WHERE floor(list_dot_product(a.nv, b.nv) * 10000) >= 9000),
         sym AS (SELECT u, w FROM p UNION ALL SELECT w, u FROM p),
         r AS (
           SELECT vec_id AS d, vec_id AS lbl FROM n
           UNION
           SELECT sym.w, r.lbl FROM sym JOIN r ON r.d = sym.u),
         c AS (SELECT d, min(lbl) AS cluster FROM r GROUP BY d)
         SELECT d AS vec_id,
                CASE WHEN substr(md5(CAST(d AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                     WHEN substr(md5(CAST(d AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                     ELSE 'test' END AS split
         FROM c WHERE d = cluster
         ORDER BY vec_id"""),

    // ivfTopKVerified certifies IVF == brute in-run → same exact oracle
    "q_ann_ivf" -> bruteTopKOracle,

    // PQ/IVFPQ are approximate vs brute BY CONTRACT; the oracles replay
    // the deterministic quantized pipeline itself, exactly.
    "q_ann_pq" -> pqTopKOracle,
    "q_ann_pq_trained" -> pqTrainedOracle,
    "q_ann_opq" -> opqTrainedOracle,
    "q_ann_opq_np" -> opqNpTrainedOracle,
    "q_ann_pca" -> annPcaOracle,
    "q_ann_ivfpq" -> ivfpqTopKOracle,
    "q_ann_ivfpq_residual" -> ivfpqResidualOracle,
    "q_ann_ivfpq_rtrained" -> ivfpqResidualTrainedOracle,

    // the maintained-index serve must equal the batch pipeline EXACTLY:
    // shared oracle VERBATIM (the q_cluster_incremental device) — any
    // maintenance leak (stale codes, a vector that failed to move
    // cells, a dropped micro-batch) hash-mismatches
    "q_ann_incremental" -> ivfpqResidualTrainedOracle,
    "q_ann_opq_ivfpq" -> opqIvfpqOracle,
    "q_ann_ivfpq_refine" -> ivfpqRefineOracle,

    // refined serving from the MAINTAINED index must equal the inline
    // batch composition exactly — shared oracle VERBATIM (candidate
    // provenance is the entire diff: maintained codes table vs inline
    // encode; the refine tail is shared code)
    "q_ann_incremental_refine" -> ivfpqRefineOracle,

    // post-purge serving == the batch pipeline minus the purged vids
    // (the shared rtrained chain + one candidate filter — takedown's
    // entire observable effect)
    "q_takedown" -> takedownOracle,

    // SQ8 replay: per-dim [min,max] -> affine 256-level codes ->
    // (code+0.5) dequant -> asymmetric dot -> rank. Lambda index i is
    // 1-based in DuckDB, matching Spark's element_at(_, i+1).
    "q_ann_sq8" -> (sq8Ctes + """
         SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, sq_bp
         FROM (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY qid ORDER BY sq_bp DESC, nid ASC) AS rn FROM s)
         WHERE rn <= 10
         ORDER BY query_id, rank"""),

    // two-stage replay: SQ8 scores pick kCand=30, exact cosine reranks
    // binary-quantization ground truth: identical sign-bit packing
    // (1-based lambda index: bits 0..31 -> lo, 32..63 -> hi), integer
    // Hamming over xor'd halves, candidate top-30 by (ham, id), exact
    // floored-cosine rerank — the approximation replayed, not idealized
    "q_ann_binary" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         nn0 AS (SELECT vec_id,
                        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
                 FROM n),
         sig AS (SELECT vec_id,
                   CAST(list_sum(list_transform(nv, (x, i) ->
                     CASE WHEN x > 0 AND i <= 32
                          THEN (1::BIGINT << ((i - 1) % 32)) ELSE 0 END))
                     AS BIGINT) AS lo,
                   CAST(list_sum(list_transform(nv, (x, i) ->
                     CASE WHEN x > 0 AND i > 32
                          THEN (1::BIGINT << ((i - 1) % 32)) ELSE 0 END))
                     AS BIGINT) AS hi
                 FROM nn0),
         q AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM sig
               WHERE vec_id <= 7),
         h AS (SELECT qid, vec_id AS nid,
                      CAST(bit_count(xor(lo, qlo)) +
                           bit_count(xor(hi, qhi)) AS BIGINT) AS ham
               FROM sig, q WHERE vec_id != qid),
         cand AS (SELECT qid, nid, ham FROM (
                    SELECT qid, nid, ham, ROW_NUMBER() OVER
                      (PARTITION BY qid ORDER BY ham ASC, nid ASC) AS rn
                    FROM h)
                  WHERE rn <= 30),
         ex AS (SELECT c.qid, c.nid, c.ham,
                       CAST(floor(list_dot_product(a.nv, b.nv) * 10000)
                         AS BIGINT) AS cos_bp
                FROM cand c JOIN nn0 a ON a.vec_id = c.nid
                            JOIN nn0 b ON b.vec_id = c.qid)
         SELECT qid AS query_id, CAST(rk AS INT) AS rank,
                nid AS neighbor_id, cos_bp, ham
         FROM (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY qid ORDER BY cos_bp DESC, nid ASC) AS rk
               FROM ex)
         WHERE rk <= 10
         ORDER BY query_id, rank""",

    "q_ann_rerank" -> (sq8Ctes + """,
         cand AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, ROW_NUMBER() OVER
               (PARTITION BY qid ORDER BY sq_bp DESC, nid ASC) AS rn FROM s)
           WHERE rn <= 30),
         ex AS (
           SELECT c.qid, c.nid,
                  CAST(floor(list_dot_product(q.qv, v.nv) * 10000) AS BIGINT) AS cos_bp
           FROM cand c JOIN nn0 v ON v.vec_id = c.nid
                       JOIN q ON q.qid = c.qid)
         SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, cos_bp
         FROM (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY qid ORDER BY cos_bp DESC, nid ASC) AS rn FROM ex)
         WHERE rn <= 10
         ORDER BY query_id, rank"""),

    // Stream-dedup ground truth: survivors = the at-rest canonical set
    // (min id per normalized content — batch 1) plus the novel-content
    // batch-3 arrivals; every batch-2 replay is first-arrival-dropped.
    "q_dedup_stream" ->
      """WITH canon AS (
           SELECT min(doc_id) AS doc_id
           FROM documents
           GROUP BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))),
         base AS (SELECT d.doc_id, d.text FROM documents d JOIN canon USING (doc_id)),
         surv AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 2000000, text || ' zzgraftnovelzz'
           FROM base WHERE doc_id % 7 = 0)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len
         FROM surv ORDER BY doc_id""",

    "q_embed_cov" -> embCovOracle,

    // stream-maintained moments must equal the batch rescan: the oracle
    // is q_embed_cov's VERBATIM — it never sees the counter table
    "q_embed_cov_incremental" -> embCovOracle,

    // round (not floor) on sim_bp: seed vectors sit analytically at 1.0,
    // one double ulp either side of the floor boundary — see
    // Similarity.clusterAssign's scaladoc.
    "q_embed_cluster" -> (clusterAssignCte +
      """
         SELECT vec_id, cid, CAST(round(sim * 10000) AS BIGINT) AS sim_bp
         FROM best ORDER BY vec_id"""),

    "q_cluster_label" -> (clusterAssignCte +
      """,
         ct AS MATERIALIZED (
           SELECT b.cid, tok, CAST(count(*) AS BIGINT) AS ctc
           FROM best b JOIN (
             SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> length(x) > 0)) AS tok
             FROM documents) d ON d.doc_id = b.vec_id
           GROUP BY 1, 2),
         dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM ct GROUP BY tok),
         ccv AS (SELECT CAST(count(DISTINCT cid) AS BIGINT) AS cc FROM ct),
         scored AS (
           SELECT cid, tok,
                  ctc * (CAST(floor(ln(CAST(cc AS DOUBLE)) * 10000) AS BIGINT)
                         - CAST(floor(ln(CAST(dfc AS DOUBLE)) * 10000) AS BIGINT))
                    AS score
           FROM ct JOIN dfc USING (tok) CROSS JOIN ccv)
         SELECT cid, CAST(rank AS INT) AS rank, tok, score
         FROM (SELECT cid, tok, score,
                      row_number() OVER (PARTITION BY cid
                        ORDER BY score DESC, tok ASC) AS rank
               FROM scored)
         WHERE rank <= 3 ORDER BY cid, rank"""),

    // the incrementally-maintained assignment table must converge to the
    // batch assignment, so the streamed path shares the oracle verbatim
    "q_cluster_incremental" -> (clusterAssignCte +
      """
         SELECT vec_id, cid, CAST(round(sim * 10000) AS BIGINT) AS sim_bp
         FROM best ORDER BY vec_id"""),

    "q_cluster_balance" -> (clusterAssignCte +
      """
         SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rk
           FROM best)
         WHERE rk <= 16 ORDER BY vec_id"""),

    // SemDeDup ground truth: the same md5-seeded clustering over the
    // PLANTED corpus, exact pairs restricted to co-clustered vectors,
    // recursive min-label components, keep the minimum. Cluster-boundary
    // plants (assigned a different cell than their original) survive in
    // BOTH engines — the SemDeDup recall trade is part of the contract.
    // Similarities in the ENGINE's expression shape (normalize per
    // vector, sequential-fold dot — see clusterAssignCte's note).
    "q_semdedup" -> (embWithDupsCte +
      """,
         nn0 AS (
           SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
           FROM n),
         p AS (SELECT CAST(round(sqrt(count(*))) AS BIGINT) AS nlist FROM nn0),
         seed AS (
           SELECT vec_id, nv FROM (
             SELECT vec_id, nv,
                    row_number() OVER (ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                       vec_id) AS rn
             FROM nn0)
           WHERE rn <= (SELECT nlist FROM p)),
         cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                  nv AS cv
           FROM seed),
         best AS (
           SELECT vec_id, cid FROM (
             SELECT nn.vec_id, c.cid,
                    row_number() OVER (PARTITION BY nn.vec_id
                      ORDER BY list_dot_product(nn.nv, c.cv) DESC, c.cid ASC) AS rn
             FROM nn0 nn CROSS JOIN cents c)
           WHERE rn = 1),
         pr AS (
           SELECT a.vec_id AS u, b.vec_id AS w
           FROM nn0 a JOIN nn0 b ON a.vec_id < b.vec_id
           JOIN best ba ON ba.vec_id = a.vec_id
           JOIN best bb ON bb.vec_id = b.vec_id AND ba.cid = bb.cid
           WHERE floor(list_dot_product(a.nv, b.nv) * 10000) >= 9000),
         sym AS (SELECT u, w FROM pr UNION ALL SELECT w, u FROM pr),
         r AS (
           SELECT vec_id AS d, vec_id AS lbl FROM n
           UNION
           SELECT sym.w, r.lbl FROM sym JOIN r ON r.d = sym.u),
         c2 AS (SELECT d, min(lbl) AS cluster FROM r GROUP BY d)
         SELECT d AS vec_id FROM c2 WHERE d = cluster ORDER BY vec_id"""),

    "q_redact" ->
      """WITH planted AS (
           SELECT doc_id,
                  text || ' contact u' || doc_id || '@example.com or https://x.io/p?id='
                       || doc_id || ' tel 12345678' AS text
           FROM documents)
         SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{7,}', '<NUM>', 'g') AS clean,
                CAST(
                  len(regexp_extract_all(text, 'https?://[^\s]+')) +
                  len(regexp_extract_all(
                    regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
                  len(regexp_extract_all(
                    regexp_replace(
                      regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '[0-9]{7,}')) AS BIGINT) AS n_redactions
         FROM planted ORDER BY doc_id""",

    "q_chunk" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks,
                  greatest(1, CAST(ceil((len(toks) - 16) / 8.0) AS BIGINT) + 1) AS nc
           FROM t WHERE len(toks) > 0),
         e AS (
           SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM n)
         SELECT doc_id AS doc, CAST(ci AS BIGINT) AS chunk_idx,
                array_to_string(toks[CAST(ci*8+1 AS BIGINT):CAST(ci*8+16 AS BIGINT)], ' ')
                  AS chunk_text,
                CAST(len(toks[CAST(ci*8+1 AS BIGINT):CAST(ci*8+16 AS BIGINT)]) AS BIGINT)
                  AS n_tokens
         FROM e ORDER BY doc, chunk_idx""",

    "q_text_profile" -> (profileCte +
      """
         SELECT doc_id, n_tokens, n_subwords, n_chars, mean_word_len_bp,
                punct_ratio_bp, stopword_ratio_bp, quality_bp, lang_pred,
                fingerprint, fp_bucket
         FROM prof ORDER BY doc_id"""),

    // Per-source corpus rollup over the SAME profile algebra (shared
    // CTE): the datasheet numbers a mixture decision reads. All-integer
    // aggregates; the mean uses integer division (div // mirror).
    "q_source_stats" -> (profileCte +
      """,
         j AS (
           SELECT d.source, p.n_tokens, p.n_chars, p.quality_bp
           FROM prof p JOIN documents d USING (doc_id))
         SELECT source,
                count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(quality_bp) // count(*) AS BIGINT) AS mean_quality_bp,
                CAST(min(quality_bp) AS BIGINT) AS min_quality_bp,
                CAST(max(quality_bp) AS BIGINT) AS max_quality_bp
         FROM j GROUP BY source ORDER BY source"""),

    // Split-leakage audit: train docs sharing any 3-gram with the TEST
    // split — the hashSplit ∘ contamination composition; same algebra as
    // q_contamination with the split rule as the partition.
    "q_split_leakage" -> (shingleCte +
      """,
         ts AS (SELECT DISTINCT s FROM sh
                WHERE substr(md5(CAST(doc AS VARCHAR)), 1, 4) >= 'e666')
         SELECT doc, count(*) AS n_hits
         FROM sh JOIN ts USING (s)
         WHERE substr(md5(CAST(doc AS VARCHAR)), 1, 4) < 'cccc'
         GROUP BY doc ORDER BY doc"""),

    // Quality from the SHARED profile algebra (profileCte — the third
    // inline copy of the formula is gone); threshold = the target-th
    // largest score (target = ceil(n·25/100), integer //), keep score ≥
    // threshold — ties at the cut all survive, matching
    // selectTopPctByScore's keep-ties policy exactly.
    "q_quality_select" -> (profileCte +
      """,
         r AS (
           SELECT doc_id, quality_bp,
                  row_number() OVER (ORDER BY quality_bp DESC, doc_id) AS rn,
                  count(*) OVER () AS n
           FROM prof),
         thr AS (SELECT quality_bp AS thr FROM r WHERE rn = (n * 25 + 99) // 100)
         SELECT doc_id, quality_bp FROM prof
         WHERE quality_bp >= (SELECT thr FROM thr)
         ORDER BY doc_id"""),

    "q_multimodal" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                CAST(1 + octet_length(encode(text)) // 64 AS INT) AS n_frames,
                CAST(list_sum(list_transform(range(1, length(text)+1),
                     i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum,
                CAST(list_sum(list_transform(range(1, length(text)+1),
                     i -> ascii(substr(text, CAST(i AS INT), 1)))) * 100
                     // octet_length(encode(text)) AS BIGINT) AS mean_byte_c
         FROM documents ORDER BY doc_id""",

    "q_pack" ->
      """WITH toks AS (
           SELECT doc_id, CAST(doc_id % 32 AS BIGINT) AS shard,
                  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, shard,
                CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) // 512
                     AS BIGINT) AS bin,
                n_tokens
         FROM toks ORDER BY doc_id""",

    "q_quality_rules" ->
      """WITH t AS (
           SELECT doc_id, text,
                  string_split_regex(trim(text), '\s+') AS toks,
                  string_split(text, chr(10)) AS lines
           FROM documents),
         m AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(toks) END AS n_words,
                  CASE WHEN len(toks) = 0 THEN 0
                       ELSE (list_sum(list_transform(toks, s -> length(s))) * 10000)
                            // len(toks) END AS mwl_bp,
                  CASE WHEN len(toks) = 0 THEN 0
                       ELSE (list_sum(list_transform(toks,
                              s -> CASE WHEN regexp_matches(s, '[A-Za-z]')
                                        THEN 1 ELSE 0 END)) * 10000)
                            // len(toks) END AS alpha_bp,
                  CASE WHEN len(toks) = 0 THEN 0
                       ELSE ((len(regexp_extract_all(text, '#'))
                              + len(regexp_extract_all(text, '\.\.\.'))) * 10000)
                            // len(toks) END AS sym_bp,
                  CASE WHEN len(lines) = 0 THEN 0
                       ELSE (list_sum(list_transform(lines,
                              l -> CASE WHEN regexp_matches(ltrim(l), '^[-*] ')
                                        THEN 1 ELSE 0 END)) * 10000)
                            // len(lines) END AS bullet_bp,
                  CASE WHEN len(lines) = 0 THEN 0
                       ELSE (list_sum(list_transform(lines,
                              l -> CASE WHEN ends_with(rtrim(l), '...')
                                        THEN 1 ELSE 0 END)) * 10000)
                            // len(lines) END AS ellip_bp,
                  len(list_distinct(list_filter(list_transform(toks, s -> lower(s)),
                      s -> list_contains(['the','a','an','and','or','of','to','in',
                                          'is','it','on','for','with','as','at',
                                          'by','from','that','this'], s))))
                    AS n_stop
           FROM t)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                n_words BETWEEN 10 AND 100000 AS r_word_count,
                mwl_bp BETWEEN 30000 AND 100000 AS r_mean_word_len,
                alpha_bp >= 8000 AS r_alpha_words,
                sym_bp <= 1000 AS r_symbol_ratio,
                bullet_bp <= 9000 AS r_bullet_lines,
                ellip_bp <= 3000 AS r_ellipsis_lines,
                n_stop >= 2 AS r_stopwords,
                (n_words BETWEEN 10 AND 100000) AND (mwl_bp BETWEEN 30000 AND 100000)
                  AND alpha_bp >= 8000 AND sym_bp <= 1000 AND bullet_bp <= 9000
                  AND ellip_bp <= 3000 AND n_stop >= 2 AS keep
         FROM m ORDER BY doc_id""",

    // the minted payload is a real 8-bit PCM WAV whose 100 samples are the
    // text's first 100 chars (x-padded, corpus is ASCII); mean_c =
    // round(mean·100) = the exact sample byte sum
    // Byte → gray → gradient-bit replay: the raster is minted from the
    // same text bytes, the 9×8 grid is the identity resample, and the
    // two 32-bit halves keep both engines inside signed BIGINT.
    "q_image_phash" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         px AS (
           SELECT doc_id, rpad(substr(text, 1, 216), 216, 'x') AS p
           FROM corpus),
         gg AS (
           SELECT doc_id,
                  list_transform(range(0, 72), i ->
                    (ascii(substr(p, 3*i + 1, 1)) + ascii(substr(p, 3*i + 2, 1))
                     + ascii(substr(p, 3*i + 3, 1))) // 3) AS g
           FROM px),
         rb AS (
           SELECT doc_id,
                  list_transform(range(0, 8), r ->
                    list_sum(list_transform(range(0, 8), c ->
                      CASE WHEN g[r*9 + c + 1] < g[r*9 + c + 2]
                           THEN (1 << c) ELSE 0 END))) AS rb
           FROM gg),
         hashes AS (
           SELECT doc_id, CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
                  CAST(rb[1] + rb[2]*256 + rb[3]*65536 + rb[4]*16777216 AS BIGINT) AS dhash_hi,
                  CAST(rb[5] + rb[6]*256 + rb[7]*65536 + rb[8]*16777216 AS BIGINT) AS dhash_lo
           FROM rb)
         SELECT doc_id, width, height, dhash_hi, dhash_lo,
                CAST(count(*) OVER (PARTITION BY dhash_hi, dhash_lo) AS BIGINT) AS n_same
         FROM hashes ORDER BY doc_id""",

    // brute-force Hamming join over the SAME minted rasters (orig +
    // exact plants + one-byte-perturbed plants) — the quadratic oracle
    // the pigeonhole banding replaces; must match EXACTLY (the banding
    // has no false negatives at dist ≤ 3 by construction)
    "q_image_neardup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000,
                  substr(text, 1, 4) || 'z' || substr(text, 6) AS text
           FROM documents WHERE doc_id % 10 = 0),
         px AS (
           SELECT doc_id, rpad(substr(text, 1, 216), 216, 'x') AS p
           FROM corpus),
         gg AS (
           SELECT doc_id,
                  list_transform(range(0, 72), i ->
                    (ascii(substr(p, 3*i + 1, 1)) + ascii(substr(p, 3*i + 2, 1))
                     + ascii(substr(p, 3*i + 3, 1))) // 3) AS g
           FROM px),
         rb AS (
           SELECT doc_id,
                  list_transform(range(0, 8), r ->
                    list_sum(list_transform(range(0, 8), c ->
                      CASE WHEN g[r*9 + c + 1] < g[r*9 + c + 2]
                           THEN (1 << c) ELSE 0 END))) AS rb
           FROM gg),
         h2 AS (
           SELECT doc_id,
                  CAST(rb[1] + rb[2]*256 + rb[3]*65536 + rb[4]*16777216 AS BIGINT) AS hi,
                  CAST(rb[5] + rb[6]*256 + rb[7]*65536 + rb[8]*16777216 AS BIGINT) AS lo
           FROM rb),
         hashes AS MATERIALIZED (
           SELECT doc_id,
                  (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
                    * 4294967296 + lo AS h
           FROM h2)
         SELECT a.doc_id AS i, b.doc_id AS j,
                CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.h, b.h)) <= 3
         ORDER BY i, j""",

    // mixed-corpus ground truth: doc_id % 5 routes WAV/PNG/GIF/TIFF/FLAC
    // through the sniff chain; every format decodes back to the exact
    // (ASCII-projected, padded) text bytes, so mean·100 is the byte sum
    "q_multimodal_decode" ->
      """SELECT doc_id,
                CASE doc_id % 5 WHEN 0 THEN 'wav' WHEN 1 THEN 'png'
                     WHEN 2 THEN 'gif' WHEN 3 THEN 'tiff' ELSE 'flac'
                     END AS format,
                CASE WHEN doc_id % 5 IN (0, 4) THEN 1 END AS channels,
                CASE WHEN doc_id % 5 IN (0, 4) THEN 8000 END AS sample_rate,
                CAST(100 AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(range(1, 101),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 100), 100, 'x'),
                                       CAST(i AS INT), 1)))) AS BIGINT) AS mean_c
         FROM documents ORDER BY doc_id""",

    // JPEG ground truth: quality-100 constant blocks decode back to the
    // exact source bytes, so the decoded mean·16 IS the byte sum of the
    // first 16 (ASCII-projected, padded) text chars — no SQL DCT needed
    "q_jpeg_decode" ->
      """SELECT doc_id, 'jpeg' AS format, 128 AS width, 8 AS height,
                CAST(1024 AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(range(1, 17),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                                       CAST(i AS INT), 1)))) AS BIGINT) AS mean_c16
         FROM documents ORDER BY doc_id""",

    // PNG ground truth: lossless decode returns the exact source bytes,
    // so the decoded mean·16 IS the byte sum of the first 16
    // (ASCII-projected, padded) text chars
    "q_png_decode" ->
      """SELECT doc_id, 'png' AS format, 16 AS width, 1 AS height,
                CAST(16 AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(range(1, 17),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                                       CAST(i AS INT), 1)))) AS BIGINT) AS mean_c16
         FROM documents ORDER BY doc_id""",

    // FLAC ground truth: lossless decode returns the exact source
    // samples (= the text bytes) — same byte-sum replay, audio columns
    "q_flac_decode" ->
      """SELECT doc_id, 'flac' AS format, 1 AS channels,
                8000 AS sample_rate, CAST(16 AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(range(1, 17),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                                       CAST(i AS INT), 1)))) AS BIGINT) AS mean_c16
         FROM documents ORDER BY doc_id""",

    // HTML ground truth: the fixture extracts to exactly the four
    // whitespace-free slices joined by newlines
    "q_html_extract" ->
      """WITH t AS (SELECT doc_id,
              rpad(substr(regexp_replace(text, '[^!-~]', '', 'g'), 1, 64),
                   64, 'x') AS p FROM documents)
         SELECT doc_id, CAST(67 AS BIGINT) AS n_chars,
                md5(substr(p, 1, 8) || chr(10) || substr(p, 9, 16) ||
                    chr(10) || substr(p, 25, 20) || chr(10) ||
                    substr(p, 45, 20)) AS digest
         FROM t ORDER BY doc_id""",

    // WARC ground truth: record 0 is the HTML fixture (extracts to the
    // slice join), record 1 the raw text/plain body
    "q_warc_extract" ->
      """WITH t AS (SELECT doc_id,
              rpad(substr(regexp_replace(text, '[^!-~]', '', 'g'), 1, 64),
                   64, 'x') AS p FROM documents)
         SELECT doc_id, TRUE AS ok, CAST(0 AS BIGINT) AS idx,
                'http://ex.com/' || doc_id || '/0' AS target_uri,
                200 AS http_status, 'text/html' AS http_content_type,
                md5(substr(p, 1, 8) || chr(10) || substr(p, 9, 16) ||
                    chr(10) || substr(p, 25, 20) || chr(10) ||
                    substr(p, 45, 20)) AS digest
         FROM t
         UNION ALL
         SELECT doc_id, TRUE, CAST(1 AS BIGINT),
                'http://ex.com/' || doc_id || '/1', 200, 'text/plain',
                md5(p)
         FROM t
         ORDER BY doc_id, idx""",

    // PDF ground truth: the extractor must return the exact minted page
    // text (escape roundtrip included) through both the raw and the
    // FlateDecode content-stream paths
    "q_pdf_extract" ->
      """SELECT doc_id, TRUE AS ok, CAST(64 AS BIGINT) AS n_chars,
                md5(rpad(substr(regexp_replace(text, '[^ -~]', '', 'g'),
                    1, 64), 64, 'x')) AS digest
         FROM documents ORDER BY doc_id""",

    // DOCX ground truth: the WordprocessingML walk must return exactly
    // the minted paragraphs — '\n' between <w:p>s, '\t' at <w:tab/>,
    // XML escapes decoded — replayed as closed-form string algebra
    "q_docx_extract" ->
      """WITH t AS (SELECT doc_id,
              rpad(substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 64),
                   64, 'x') AS t64 FROM documents)
         SELECT doc_id, TRUE AS ok, CAST(67 AS BIGINT) AS n_chars,
                md5(substr(t64, 1, 24) || chr(10) || substr(t64, 25, 24) ||
                    chr(10) || substr(t64, 49, 8) || chr(9) ||
                    substr(t64, 57, 8)) AS digest
         FROM t ORDER BY doc_id""",

    // Archive ground truth: extraction must return the exact member
    // bytes — both engines md5 the same 32 ASCII chars per member
    "q_archive_extract" ->
      """WITH t AS (SELECT doc_id,
              rpad(substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 64),
                   64, 'x') AS t64 FROM documents)
         SELECT doc_id, TRUE AS ok, 'a.txt' AS member,
                CAST(0 AS BIGINT) AS idx, CAST(32 AS BIGINT) AS len,
                md5(substr(t64, 1, 32)) AS digest FROM t
         UNION ALL
         SELECT doc_id, TRUE, 'b.txt', CAST(1 AS BIGINT),
                CAST(32 AS BIGINT), md5(substr(t64, 33, 32)) FROM t
         ORDER BY doc_id, idx""",

    "q_gzip_scan" ->
      """SELECT doc_id, TRUE AS ok, CAST(64 AS BIGINT) AS len,
                md5(rpad(substr(regexp_replace(text, '[^ -~]', '', 'g'),
                    1, 64), 64, 'x')) AS digest
         FROM documents ORDER BY doc_id""",

    // G.711 ground truth: the companding expansion is closed-form bit
    // arithmetic per code byte (ITU-T G.711 segment/mantissa layout),
    // replayed here verbatim — µ-law for even doc_id, A-law for odd.
    // Single-element list_transform binds intermediates (u/a/seg/t).
    "q_g711_decode" ->
      """WITH codes AS (
           SELECT doc_id, list_transform(range(1, 17),
             i -> ascii(substr(rpad(substr(regexp_replace(text,
                        '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                               CAST(i AS INT), 1))) AS cs
           FROM documents)
         SELECT doc_id, 'g711' AS format, 1 AS channels,
                8000 AS sample_rate, CAST(16 AS BIGINT) AS n_samples,
                CAST(CASE WHEN doc_id % 2 = 0
                  THEN list_sum(list_transform(cs, x ->
                    list_transform([xor(x, 255)], u ->
                      CASE WHEN (u & 128) != 0
                        THEN 132 - ((((u & 15) * 8) + 132) << ((u & 112) >> 4))
                        ELSE ((((u & 15) * 8) + 132) << ((u & 112) >> 4)) - 132
                      END)[1]))
                  ELSE list_sum(list_transform(cs, x ->
                    list_transform([xor(x, 85)], a ->
                      list_transform([(a & 112) >> 4], seg ->
                        list_transform([CASE
                            WHEN seg = 0 THEN ((a & 15) * 16) + 8
                            WHEN seg = 1 THEN ((a & 15) * 16) + 264
                            ELSE (((a & 15) * 16) + 264) << (seg - 1) END],
                          t -> CASE WHEN (a & 128) != 0 THEN t ELSE -t END
                        )[1])[1])[1]))
                  END AS BIGINT) AS sum_c16
         FROM codes ORDER BY doc_id""",

    // IMA ADPCM ground truth: with the fixed oracle nibble pattern and
    // step index 0, each block decodes to predictor-plus-constant-deltas
    // (Σ deltas = −1119, recomputed in PcmSpec), so the 16-block sum is
    // linear in the byte sum: 17·Σbytes − 16·1119.
    "q_adpcm_decode" ->
      """SELECT doc_id, 'adpcm' AS format, 1 AS channels,
                8000 AS sample_rate, CAST(272 AS BIGINT) AS n_samples,
                CAST(17 * list_sum(list_transform(range(1, 17),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                                       CAST(i AS INT), 1)))) - 17904
                     AS BIGINT) AS sum_c
         FROM documents ORDER BY doc_id""",

    // GIF ground truth: gray palette makes the lossless decode return
    // the exact source bytes on every channel — same byte-sum replay
    "q_gif_decode" ->
      """SELECT doc_id, 'gif' AS format, 16 AS width, 1 AS height,
                CAST(16 AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(range(1, 17),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                                       CAST(i AS INT), 1)))) AS BIGINT) AS mean_c16
         FROM documents ORDER BY doc_id""",

    // TIFF ground truth: lossless uncompressed strip — same byte sums
    "q_tiff_decode" ->
      """SELECT doc_id, 'tiff' AS format, 16 AS width, 1 AS height,
                CAST(16 AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(range(1, 17),
                     i -> ascii(substr(rpad(substr(regexp_replace(text,
                                '[^ -~]', '', 'g'), 1, 16), 16, 'x'),
                                       CAST(i AS INT), 1)))) AS BIGINT) AS mean_c16
         FROM documents ORDER BY doc_id""",

    // PCA projection, integer-exact replay: the driver-side eigenbasis
    // rides the per-sf csv fixture as literals (the basis-as-literal
    // device — the one driver-derived input that is not relationally
    // expressible); EVERYTHING else recomputes from the data — the
    // clamp(floor(64x)) quantizer, n, the per-dim sums Sᵢ — exactly as
    // q_embed_cov gates them, and the projection is the all-integer
    // fold Σ (n·qᵢ − Sᵢ)·Pᶜᵢ whose long sums are order-free in both
    // engines.
    "q_pca_project" -> pcaProjectOracle("graft_pca"),

    // the whitened twin: identical replay, whitened basis literals —
    // whichever fixture a variant wrote is the whole diff
    "q_pca_whiten" -> pcaProjectOracle("graft_pcaw")
  )

  /** The integer-projection replay over whichever basis fixture the
    * variant wrote (plain or whitened) — the quantizer, n, and the Sᵢ
    * recompute from the data exactly as q_embed_cov gates them; ONLY
    * the eigenbasis rides the fixture. */
  private def pcaProjectOracle(fixture: String): String =
    s"""WITH q AS (
           SELECT vec_id,
                  list_transform(embedding, x -> GREATEST(-127,
                    LEAST(127, CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))))
                    AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         u AS (
           SELECT vec_id, t.i, qv[t.i + 1] AS x
           FROM q, range(64) t(i)),
         s AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sk FROM u GROUP BY i),
         n AS (SELECT COUNT(*) AS n FROM q),
         p AS (
           SELECT c, i, p
           FROM read_csv('/tmp/$fixture/__INGEST_SF__/basis.csv',
                header=true,
                columns={'c': 'BIGINT', 'i': 'BIGINT', 'p': 'BIGINT'})),
         o AS (
           SELECT u.vec_id, p.c,
                  CAST(SUM((n.n * u.x - s.sk) * p.p) AS BIGINT) AS v
           FROM u JOIN s ON s.i = u.i JOIN p ON p.i = u.i CROSS JOIN n
           GROUP BY 1, 2)
         SELECT vec_id,
                MAX(CASE WHEN c = 0 THEN v END) AS c0,
                MAX(CASE WHEN c = 1 THEN v END) AS c1,
                MAX(CASE WHEN c = 2 THEN v END) AS c2,
                MAX(CASE WHEN c = 3 THEN v END) AS c3,
                MAX(CASE WHEN c = 4 THEN v END) AS c4,
                MAX(CASE WHEN c = 5 THEN v END) AS c5,
                MAX(CASE WHEN c = 6 THEN v END) AS c6,
                MAX(CASE WHEN c = 7 THEN v END) AS c7
         FROM o GROUP BY vec_id ORDER BY vec_id"""

  /** Oracle SQL with fixture paths bound to `sfName` — the same
    * `__INGEST_SF__` token device as [[TimesearchQueries.oraclesAt]]
    * (q_pca_project's basis fixture is per-sf). */
  def oraclesAt(sfName: String): Map[String, String] =
    oraclesRaw.map { case (k, v) => k -> v.replace("__INGEST_SF__", sfName) }

  /** Default binding, kept for direct readers of the static contract. */
  val oracles: Map[String, String] = oraclesAt("sf0.01")
}
