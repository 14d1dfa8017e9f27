package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Merge, Similarity}

/** Incrementally-maintained ANN INDEX: the compressed residual-IVFPQ
  * codes table (vid → cell, PQ codes) maintained as a `foreachBatch`
  * upsert stream — the production serving shape for the whole ANN
  * family. At 100 TB the compressed index (~3 TB of codes at 32×) is the
  * artifact you maintain and serve from, not something a query
  * re-derives from the raw corpus: this closes that gap, making the ANN
  * index the engine's 14th stream-maintained serving artifact.
  *
  * ==The codebooks are a FROZEN TRAINED artifact==
  * Encoding streams against coarse centroids + residual PQ codebooks
  * trained up front ([[Similarity.trainAnnArtifact]] — the Lloyd/integer
  * fixpoint over the corpus residuals; in production, a model artifact).
  * The incremental invariant "a vector's (cell, codes) never change
  * because OTHER vectors arrived" only holds for fixed codebooks —
  * exactly [[StreamClusters]]' contract, extended from the coarse
  * assignment to the full IVF+PQ artifact. Re-training is a BATCH act
  * that rebuilds the codes table (new table path, atomic swap), never a
  * streaming one.
  *
  * ==Design: one row per vector, replace-by-doc==
  * The stored unit is (idstr = vid, cid, codes) in a
  * [[Livestream.UpsertTable]]: a re-arrived vector's new encoding must
  * REPLACE its old one (it may move cells), which is the merge layer's
  * last-non-null semantics on both columns — so the table inherits the
  * machinery wholesale: key-bucketed partition-pruned merges (a
  * micro-batch of B vectors touches ≤ B buckets, never the table),
  * atomic version publish, time travel (serve the index AS OF any
  * version), vacuum, compaction. `author`/`body` exist only because the
  * merge fold's tombstone guard reads them; always null here — the index
  * is DERIVED data.
  *
  * ==Serving==
  * [[serve]] reads the codes table through the VERBATIM ADC tail
  * ([[Similarity.adcServeCodes]] — the same expressions inline batch
  * serving plans), so incremental ≡ batch holds structurally: encode is
  * a pure per-row function of (vector, frozen codebooks), the table
  * replays last-write-wins, and the tail is shared code. That is the
  * equality `q_ann_incremental` hash-gates against
  * `q_ann_ivfpq_rtrained`'s oracle.
  *
  * Per-batch uniqueness and ordering contracts are [[StreamClusters]]':
  * a vector id at most once per micro-batch, batches through one
  * checkpointed sink in batchId order. Zero-norm vectors carry no
  * direction and are dropped by [[Similarity.normalized]] — they neither
  * gain nor overwrite an entry. */
object StreamAnn {

  val annEntity: Merge.Entity = Merge.Entity(
    textCol = "body", editTextCol = "previous_body",
    updatable = Seq("cid", "codes"), frozen = Seq("author"))

  /** The codes-row schema: (idstr, author, body, cid, codes). */
  val annSchema: StructType = StructType(Seq(
    StructField(Merge.KeyCol, StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("cid", IntegerType),
    StructField("codes", ArrayType(IntegerType, containsNull = false))))

  private def emptyAnnRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], annSchema)

  /** A fresh (or reopened) codes table at `path`, key-bucketed so each
    * micro-batch merge touches only the buckets its vectors hash into. */
  def table(spark: SparkSession, path: String, nBuckets: Int = 64): Livestream.UpsertTable =
    new Livestream.UpsertTable(spark, path, annEntity, emptyAnnRows(spark),
      outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = nBuckets)))

  /** One micro-batch → codes rows: map-only [[Similarity.encodeResidual]]
    * against the frozen artifact. */
  private[graft] def encodeRows(batch: DataFrame, id: String, vec: String,
      coarse: IndexedSeq[IndexedSeq[Double]],
      cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame =
    Similarity.encodeResidual(
        Similarity.normalized(batch, id, vec), coarse, cbRes)
      .select(col("vid").cast("string").as(Merge.KeyCol),
        lit(null).cast("string").as("author"),
        lit(null).cast("string").as("body"),
        col("cid").cast("int").as("cid"),
        col("codes"))

  /** Wire a vector stream (id, vec) into the codes table through
    * [[Livestream.maintain]]; CDC off (time travel over versions covers
    * audit). */
  def encodeSink(stream: DataFrame, id: String, vec: String,
      coarse: IndexedSeq[IndexedSeq[Double]],
      cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      table: Livestream.UpsertTable, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    Livestream.maintain(stream, table, checkpoint, trigger, Some(false))(
      (b, _) => encodeRows(b, id, vec, coarse, cbRes))(_ => ())

  /** TAKEDOWN propagation into the maintained index: hard-remove
    * vectors from the codes table — the purge rewrites only the key
    * buckets the vids hash into ([[Livestream.UpsertTable.purge]]), so
    * a takedown of K documents against a multi-TB codes table costs K
    * bucket rewrites, and [[serve]]/[[serveRefine]] stop returning the
    * vids at the next read (they serve the current version). With
    * `eraseHistory` the superseded versions' code bytes are reclaimed
    * too (right-to-erasure: the codes are derived FROM the purged
    * content and must go with it).
    *
    * The same call shape covers every replace-by-doc maintained
    * artifact — cluster assignments ([[StreamClusters]]), BM25 postings
    * rows ([[StreamIndex]]), LSH band state ([[StreamLsh]]): they all
    * store one row per doc in an [[Livestream.UpsertTable]], so
    * `table.purge(docIds)` is the uniform takedown entry point across
    * the maintained-artifact fleet. Counter-type artifacts
    * ([[StreamNb]], [[StreamSketch]]) are additive aggregates, not
    * per-doc rows — a purged doc's contribution retires through their
    * CDC delete folds, not a row purge.
    *
    * @return rows removed (0 ⇒ vid absent; idempotent). */
  def purge(table: Livestream.UpsertTable, vids: Seq[Long],
      eraseHistory: Boolean = true): Long =
    table.purge(vids.map(_.toString), eraseHistory)

  /** The codes VIEW of the maintained table at `version` (default: the
    * current one): (vid, cid, codes) — the frame the ADC tail scores.
    * Time travel: pass an older version to serve the historical index. */
  def codes(table: Livestream.UpsertTable, version: Option[Long] = None): DataFrame =
    version.fold(table.current)(table.at)
      .select(col(Merge.KeyCol).cast("long").as("vid"),
        col("cid").cast("int").as("cid"), col("codes"))

  /** Serve top-k ANN from the MAINTAINED codes table through the
    * verbatim batch ADC tail. `queries` is the (id, vec) frame the query
    * vectors are drawn from (normalized here — queries are tiny; the
    * corpus side never touches raw vectors). */
  def serve(table: Livestream.UpsertTable, queries: DataFrame,
      id: String, vec: String,
      coarse: IndexedSeq[IndexedSeq[Double]],
      cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      queryIds: Seq[Long], k: Int, nprobe: Int,
      version: Option[Long] = None): DataFrame =
    Similarity.adcServeCodes(codes(table, version),
      Similarity.normalized(queries, id, vec),
      coarse, cbRes, queryIds, k, nprobe)

  /** REFINED serving from the maintained index — Faiss "IVFPQ,RFlat"
    * over the codes TABLE: the ADC stage over-fetches `kCand`
    * candidates from the maintained codes, and only those |q|·kCand
    * pairs re-score exactly from the raw vectors (`raw` — the cold
    * store the codes were encoded from) through the VERBATIM batch
    * refine tail ([[Similarity.refineTail]]). The production read
    * path: the hot compressed index serves candidates at index-refresh
    * freshness; the cold raw store is touched only for the final
    * rerank rows. */
  def serveRefine(table: Livestream.UpsertTable, raw: DataFrame,
      id: String, vec: String,
      coarse: IndexedSeq[IndexedSeq[Double]],
      cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      queryIds: Seq[Long], kCand: Int, k: Int, nprobe: Int,
      version: Option[Long] = None): DataFrame = {
    require(kCand >= k && k >= 1, s"need kCand >= k >= 1: $kCand, $k")
    val n = Similarity.normalized(raw, id, vec).localCheckpoint(eager = false)
    val cand = Similarity.adcServeCodes(codes(table, version), n,
        coarse, cbRes, queryIds, kCand, nprobe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    Similarity.refineTail(cand, n, queryIds, k)
  }

  // ===== Index GENERATIONS: the re-training lifecycle ==================
  //
  // The streaming invariant only holds for FROZEN codebooks, so
  // re-training is a batch act: build generation N+1 — codebooks + a
  // freshly-encoded codes table — at its OWN directory, then move the
  // generation pointer. Readers resolve the pointer first, so they see
  // either generation N complete or generation N+1 complete, never a
  // half-built index; superseded generations stay readable (audit /
  // rollback) until deleted like a vacuum.

  /** The generation-pointer file name, under the index root. */
  val ActiveFile = "_ACTIVE"

  /** Generation names are path SEGMENTS (the pointer file's content is
    * joined under the index root), so they must not traverse:
    * `dropGeneration(root, "../x")` would recursively delete OUTSIDE
    * the root. Enforced at every entry point that turns a name into a
    * path (publish, rebuild, drop) — a safe charset, no separators, and
    * never the dot dirs. */
  private def requireSafeGen(gen: String): Unit =
    require(gen.matches("[A-Za-z0-9._-]+") && gen != "." && gen != "..",
      s"generation name '$gen' must match [A-Za-z0-9._-]+ and not be " +
        "'.'/'..' (names become path segments under the index root)")

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val all = java.nio.file.Files.walk(dir)
    try all.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally all.close()
  }

  /** Serialize the frozen codebooks beside their codes table — one csv,
    * `kind,s,c,i,v` (kind 0 = coarse row c, kind 1 = subspace s's
    * codeword c), values as Double.toString (shortest-repr round-trips
    * exactly). The artifact IS the (codebooks, codes) pair: a consumer
    * resolving a generation needs no session state. */
  def writeArtifact(genDir: String,
      coarse: IndexedSeq[IndexedSeq[Double]],
      cbRes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      nBuckets: Int = 64): Unit = {
    // kind 2 = table metadata (the codes table's bucket count — the
    // layout is pinned at publish, so a resolver must reopen with it)
    val lines = Seq("kind,s,c,i,v", s"2,0,0,0,$nBuckets") ++
      coarse.zipWithIndex.flatMap { case (row, c) =>
        row.zipWithIndex.map { case (v, i) => s"0,0,$c,$i,$v" } } ++
      cbRes.zipWithIndex.flatMap { case (sub, s) =>
        sub.zipWithIndex.flatMap { case (cw, c) =>
          cw.zipWithIndex.map { case (v, i) => s"1,$s,$c,$i,$v" } } }
    val dir = java.nio.file.Paths.get(genDir)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".codebooks", ".tmp")
    java.nio.file.Files.write(tmp,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve("codebooks.csv"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readArtifact(genDir: String): (IndexedSeq[IndexedSeq[Double]],
      IndexedSeq[IndexedSeq[IndexedSeq[Double]]], Int) = {
    import scala.jdk.CollectionConverters._
    val rows = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(genDir, "codebooks.csv")).asScala
      .drop(1).filter(_.nonEmpty)
      .map { l =>
        val p = l.split(',')
        (p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt, p(4).toDouble)
      }
    val coarse = rows.filter(_._1 == 0).groupBy(_._3).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._4).map(_._5).toIndexedSeq).toIndexedSeq
    val cbRes = rows.filter(_._1 == 1).groupBy(_._2).toSeq.sortBy(_._1)
      .map(_._2.groupBy(_._3).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._4).map(_._5).toIndexedSeq).toIndexedSeq)
      .toIndexedSeq
    val nBuckets = rows.find(_._1 == 2).map(_._5.toInt).getOrElse(64)
    (coarse, cbRes, nBuckets)
  }

  /** Atomically flip the active generation (tmp + ATOMIC_MOVE on the
    * pointer file): the only mutation a rebuild publishes. */
  def publishGeneration(root: String, gen: String): Unit = {
    requireSafeGen(gen)
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".active", ".tmp")
    java.nio.file.Files.write(tmp, gen.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve(ActiveFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def activeGeneration(root: String): Option[String] = {
    val f = java.nio.file.Paths.get(root, ActiveFile)
    if (!java.nio.file.Files.exists(f)) None
    else Some(new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim)
  }

  /** REBUILD: train fresh codebooks on the current corpus, bulk-encode
    * into a NEW generation's codes table (a seed, not a merge — the
    * rebuild is a batch act), persist the artifact, and flip the
    * pointer. Returns the generation's resolved handles. The old
    * generation's table and artifact are untouched.
    *
    * CRASH-RETRYABLE: a prior rebuild of the same name that died before
    * [[publishGeneration]] left a half-built generation directory — the
    * pointer never flipped to it, so it is provably not serving anyone
    * and is cleared here before re-seeding (a plain re-run completes
    * the rebuild; no manual cleanup). Rebuilding INTO the active
    * generation is refused: live readers hold its paths. */
  def rebuild(spark: SparkSession, root: String, gen: String,
      corpus: DataFrame, id: String, vec: String, nlist: Int,
      m: Int = 16, ksub: Int = 32, iters: Int = 2,
      nBuckets: Int = 64): (Livestream.UpsertTable,
        IndexedSeq[IndexedSeq[Double]],
        IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) = {
    requireSafeGen(gen)
    require(!activeGeneration(root).contains(gen),
      s"generation '$gen' is ACTIVE under $root — a rebuild must target " +
        "a fresh (or previously-crashed unpublished) generation name")
    val genDir = s"$root/$gen"
    val stale = java.nio.file.Paths.get(genDir)
    if (java.nio.file.Files.exists(stale)) deleteTree(stale)
    val n = Similarity.normalized(corpus, id, vec)
      .localCheckpoint(eager = false)
    val (coarse, cbRes) = Similarity.trainAnnArtifact(n, nlist, m, ksub, iters)
    writeArtifact(genDir, coarse, cbRes, nBuckets)
    val t = table(spark, s"$genDir/codes", nBuckets)
    t.seed(encodeRows(corpus, id, vec, coarse, cbRes))
    publishGeneration(root, gen)
    (t, coarse, cbRes)
  }

  /** Delete a SUPERSEDED generation — codes table, artifact, directory
    * — the vacuum of the generation lifecycle. Refuses the active
    * generation (the pointer is the liveness authority: flip first,
    * then reclaim) and any generation a published [[Savepoint]] pins
    * (the vacuumTo refusal device at generation granularity: a pinned
    * world composing this index must keep serving it — drop the
    * savepoint first). Missing directories are a no-op, like table
    * vacuum's idempotence. */
  def dropGeneration(root: String, gen: String): Unit = {
    requireSafeGen(gen)
    require(!activeGeneration(root).contains(gen),
      s"generation '$gen' is ACTIVE under $root — publish another " +
        "generation first, then reclaim this one")
    val pinnedBy = generationPins(root).collect {
      case (sp, gens) if gens.contains(gen) => sp }
    require(pinnedBy.isEmpty,
      s"generation '$gen' under $root is pinned by savepoint(s) " +
        s"${pinnedBy.toSeq.sorted.mkString(", ")} — drop the savepoint(s) " +
        "via Savepoint.drop, then reclaim")
    val dir = java.nio.file.Paths.get(root, gen)
    if (!java.nio.file.Files.exists(dir)) return
    deleteTree(dir)
  }

  /** Generations pinned by published savepoints: savepoint name →
    * pinned generation names (one per line of the pin file; a
    * re-create's window holds both the old and new generation — the
    * [[Savepoint]] min-first discipline). */
  def generationPins(root: String): Map[String, Seq[String]] = {
    val d = java.nio.file.Paths.get(root, "_savepoints")
    if (!java.nio.file.Files.exists(d)) return Map.empty
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(d)
    val files = try s.iterator().asScala.toList
      .filterNot(_.getFileName.toString.endsWith(".tmp"))
    finally s.close()
    files.map { f =>
      f.getFileName.toString ->
        java.nio.file.Files.readAllLines(f).asScala.toSeq
          .map(_.trim).filter(_.nonEmpty)
    }.toMap
  }

  /** Pin (or re-pin) a savepoint's protected generation set under the
    * index root — the [[Savepoint]] component write, colocated like the
    * table pins so [[dropGeneration]] refuses without a registry
    * lookup. */
  private[streaming] def pinGenerations(root: String, spName: String,
      gens: Seq[String]): Unit = {
    gens.foreach(requireSafeGen)
    val d = java.nio.file.Paths.get(root, "_savepoints")
    java.nio.file.Files.createDirectories(d)
    val tmp = d.resolve(s"$spName.tmp")
    java.nio.file.Files.write(tmp, gens.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, d.resolve(spName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve a SPECIFIC generation (codes table, coarse, residual
    * codebooks) — the savepointed-world read path: a [[Savepoint]]
    * pins the generation name; this opens it regardless of what the
    * ACTIVE pointer moved on to. */
  def openGeneration(spark: SparkSession, root: String, gen: String):
      (Livestream.UpsertTable, IndexedSeq[IndexedSeq[Double]],
        IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) = {
    requireSafeGen(gen)
    require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, gen, "codebooks.csv")),
      s"no published generation '$gen' under $root")
    val (coarse, cbRes, nBuckets) = readArtifact(s"$root/$gen")
    (table(spark, s"$root/$gen/codes", nBuckets), coarse, cbRes)
  }

  /** Resolve the ACTIVE generation: (codes table, coarse, residual
    * codebooks) — what a serving consumer opens. */
  def openActive(spark: SparkSession, root: String):
      (Livestream.UpsertTable, IndexedSeq[IndexedSeq[Double]],
        IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) = {
    val gen = activeGeneration(root).getOrElse(
      throw new IllegalStateException(
        s"no active index generation under $root"))
    val (coarse, cbRes, nBuckets) = readArtifact(s"$root/$gen")
    (table(spark, s"$root/$gen/codes", nBuckets), coarse, cbRes)
  }
}
