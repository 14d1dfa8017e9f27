package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Timesearch
import graft.model.Schemas
import graft.operators.{Merge, Normalize}
import graft.render.OfflineReading
import graft.sources.Ndjson

/** A result that disagrees with the generator's tally. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What every workload is handed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long)

/** One closed-loop, single-client workload: set up (repeatable into a
  * fresh directory), warm up, then run timed operations one after the
  * other until the deadline. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** Latency samples (ms) by operation kind, in run order. */
  val latency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer samples by metric name; reported as their median. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  protected def sample(kind: String, ms: Double): Unit =
    latency.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Latency of every timed op, whatever its kind. */
  def ops: Seq[Double] = latency.getOrElse("op", mutable.ArrayBuffer.empty[Double]).toSeq

  /** The latency kinds one cycle of this workload is made of, each with
    * its count per cycle. `cycle_ms` is the sum of count × the kind's
    * median; the change-feed read (`cdc_read`) is reported on its own. */
  def cycle: Seq[(String, Int)]
  protected def layerSample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  protected def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Generate inputs and build the starting archive under `dir`. */
  def setup(dir: Path): Unit
  /** Untimed operations that let the JIT and Spark's caches settle. */
  def warmup(): Unit
  /** One timed operation, including its result check. */
  def op(i: Int): Unit
  /** Names of the spans that time one op (the rest are probes). */
  def isOpSpan(name: String): Boolean
  /** Whether the timed loop may end after the current op. */
  def atBoundary: Boolean = true
  /** Stop anything the workload started. */
  def close(): Unit = ()
  /** Archive bytes on disk per byte of the current version's files. */
  def storeBytesPerLiveByte: Double

  /** Time `body` as span `name` of op `op`; returns its result and ms. */
  protected def timed[A](name: String, op: Int)(body: => A): (A, Double) = {
    val (r, s) = tracer.spanned(name, op)(body)
    (r, s.ms)
  }

  /** Noop-sink materialization: what a lazy layer costs on its own. */
  protected def materialize(dfs: DataFrame*): Unit =
    dfs.foreach(_.write.format("noop").mode("overwrite").save())

  /** ms of a probe run warm: `body` runs once untimed (span `<name>.cold`)
    * and again as span `name`, so a probe and the op timed after it both
    * find the files read and the code compiled, and their difference is
    * the layer's own cost, not the cold read's. */
  protected def probe(name: String, op: Int)(body: => Unit): Double = {
    tracer.span(s"$name.cold", op)(body)
    timed(name, op)(body)._2
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "livestream" => new Livestream(ctx)
    case "archive_reads" => new ArchiveReads(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (livestream, archive_reads)")
  }

  val KeyBuckets = Some(16)

  def write(path: Path, bytes: Array[Byte]): Path = {
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
  }

  /** Bulk first load of a fresh archive from a dump without duplicate
    * ids (`UpsertTable.seed`: a plain bucketed write, no upsert fold) —
    * the engine's "backfill then stream" path. */
  def seed(spark: SparkSession, a: Timesearch.Archive, dump: Path): Unit = {
    val raw = Ndjson.read(spark, dump.toString)
    def canonical(df: DataFrame, schema: org.apache.spark.sql.types.StructType) =
      df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    a.submissions.seed(canonical(Normalize.submissions(Ndjson.submissionsRaw(raw)),
      Schemas.submissions))
    a.comments.seed(canonical(Normalize.comments(Ndjson.commentsRaw(raw)), Schemas.comments))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  /** Bytes of the data files one version of a bucketed table reads. */
  def liveBytes(table: Path, manifest: Map[String, Long]): Long =
    manifest.iterator.map { case (pt, v) => treeBytes(table.resolve(s"v=$v").resolve(s"pt=$pt")) }.sum

  /** Archive bytes on disk over the current versions' bytes, both tables. */
  def storeRatio(root: Path, a: Timesearch.Archive): Double = {
    val live = liveBytes(root.resolve("submissions"), a.submissions.manifest(a.submissions.currentVersion)) +
      liveBytes(root.resolve("comments"), a.comments.manifest(a.comments.currentVersion))
    treeBytes(root).toDouble / live
  }

  /** Data files a version directory of a table holds. */
  def filesIn(dir: Path): Long = if (!Files.exists(dir)) 0L else {
    val s = Files.walk(dir)
    try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }
}

/** The generator's expectation of an archive after one more dump. */
final case class DumpExpect(path: Path, records: Long, subs: Long, coms: Long,
    subScore: Long, comScore: Long, edits: Long, dupScores: Map[String, Long],
    dumpEdits: Long)

/** Checks and traced decomposition shared by the writing workloads. */
trait IngestLayers { self: Workload =>

  /** `Timesearch.ingestJsonFile` of one dump into `a` (rooted at `root`),
    * then, with `checkState`, the archive checked against `e`. Traced,
    * the lazy layers are timed apart first and the merge's Spark work is
    * recorded. Returns the ingest's ms. */
  protected def ingest(a: Timesearch.Archive, root: Path, e: DumpExpect, op: Int,
      checkState: Boolean): Double = {
    if (tracer.listen) {
      val edits = decompose(a, e.path, op)
      check(edits == e.dumpEdits, s"${e.path.getFileName}: upsert edit rows $edits != ${e.dumpEdits}")
    }
    val before = versions(a)
    val (_, span) = tracer.spanned("Timesearch.ingestJsonFile", op) {
      Timesearch.ingestJsonFile(ctx.spark, a, e.path.toString)
    }
    if (tracer.listen) {
      tracer.drain()
      val w = tracer.workFor(span)
      mergeLayers(w, span.ms, e.records)
      versionLayers(root, a, before)
      val lines = Files.lines(e.path)
      try layerSample("sources.Ndjson.dump_passes",
        tracer.planMetric(w, "Scan json", "number of output rows").toDouble /
          lines.filter(l => l.nonEmpty).count())
      finally lines.close()
    }
    if (checkState) checkArchive(a, e)
    span.ms
  }

  /** The archive's rows, score sums, duplicated ids' scores and edit rows
    * against the generator's expectation `e`. */
  protected def checkArchive(a: Timesearch.Archive, e: DumpExpect): Unit = {
    val what = e.path.getFileName
    val Seq((ns, ss, sDup), (nc, sc, cDup)) = archiveState(a, e.dupScores.keys)
    check(ns == e.subs && nc == e.coms, s"$what: rows ($ns, $nc) != (${e.subs}, ${e.coms})")
    check(ss == e.subScore && sc == e.comScore,
      s"$what: score sums ($ss, $sc) != (${e.subScore}, ${e.comScore})")
    check(sDup ++ cDup == e.dupScores, s"$what: duplicated ids lost last-write-wins")
    val edits = editRows(a)
    check(edits == e.edits, s"$what: edit rows $edits != ${e.edits}")
  }

  /** Per table (submissions, comments): row count, score sum, and the
    * scores of `keys` — one job for both tables. */
  protected def archiveState(a: Timesearch.Archive,
      keys: Iterable[String]): Seq[(Long, Long, Map[String, Long])] = {
    def part(t: String, df: DataFrame) = df.select(lit(t).as("t"), col("idstr"), col("score"))
    val rows = part("s", a.submissions.current).unionByName(part("c", a.comments.current))
      .groupBy("t").agg(count(lit(1)), coalesce(sum("score"), lit(0L)),
        collect_list(when(col("idstr").isin(keys.toSeq: _*),
          concat_ws("=", col("idstr"), col("score")))))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("s", "c").map { t =>
      rows.get(t).map { r =>
        val scores = r.getSeq[String](3).map { s =>
          val i = s.lastIndexOf('='); s.substring(0, i) -> s.substring(i + 1).toLong
        }.toMap
        (r.getLong(1), r.getLong(2), scores)
      }.getOrElse((0L, 0L, Map.empty[String, Long]))
    }
  }

  /** Edit rows the archive's CDC log holds, both tables, one job. */
  protected def editRows(a: Timesearch.Archive): Long =
    a.submissions.edits.select(lit(1).as("x")).unionByName(a.comments.edits.select(lit(1).as("x")))
      .count()

  /** Per-layer times of one NDJSON batch going into `a`, measured by
    * materializing each lazy layer to the noop sink, each probe warm:
    * the source, then source + normalization, then the current read, then
    * the upsert fold over both. Returns the upsert's edit rows. */
  protected def decompose(a: Timesearch.Archive, file: Path, op: Int): Long = {
    val spark = ctx.spark
    val path = file.toString
    def raw = Ndjson.readOrdered(spark, path)
    def src = (Ndjson.fileOrderSeq(Ndjson.submissionsRaw(raw)),
      Ndjson.fileOrderSeq(Ndjson.commentsRaw(raw)))
    val tSrc = probe("sources.Ndjson", op) { val (s, c) = src; materialize(s, c) }
    val tNorm = probe("operators.Normalize", op) {
      val (s, c) = src; materialize(Normalize.submissions(s), Normalize.comments(c))
    }
    val tCur = probe("streaming.UpsertTable.current", op) {
      materialize(a.submissions.current, a.comments.current)
    }
    val (s, c) = src
    val rs = Merge.upsert(a.submissions.current, Normalize.submissions(s), Merge.submissions, "_seq")
    val rc = Merge.upsert(a.comments.current, Normalize.comments(c), Merge.comments, "_seq")
    val tUp = probe("operators.Merge.upsert", op) { materialize(rs.table, rc.table) }
    val edits = rs.edits.count() + rc.edits.count()
    // Spark refuses a raw JSON query that reads only the corrupt-record
    // column, so the count goes through a cache, dropped right after so
    // the real ingest still scans the file
    val quarantined = tracer.span("sources.Ndjson.corrupt", op) {
      val cached = Ndjson.read(spark, path).cache()
      try Ndjson.corrupt(cached).count() finally cached.unpersist(blocking = true)
    }
    layerSample("sources.Ndjson.self_s", tSrc / 1e3)
    layerSample("operators.Normalize.self_s", Stats.layerSelf(tNorm, tSrc) / 1e3)
    layerSample("operators.Merge.upsert_self_s", Stats.layerSelf(tUp, tNorm + tCur) / 1e3)
    layerSample("operators.Merge.edit_rows", edits.toDouble)
    layerSample("sources.Ndjson.quarantined_rows", quarantined.toDouble)
    edits
  }

  protected def versions(a: Timesearch.Archive): (Long, Long) =
    (a.submissions.currentVersion, a.comments.currentVersion)

  /** Buckets re-pointed and data files written by the merges that moved
    * `a` on from the versions `before`, read from the manifests and the
    * file system. */
  protected def versionLayers(root: Path, a: Timesearch.Archive, before: (Long, Long)): Unit = {
    val moved = Seq(("submissions", a.submissions, before._1), ("comments", a.comments, before._2))
      .filter { case (_, t, b) => t.currentVersion > b }
    layerSample("streaming.UpsertTable.buckets_touched", moved.map { case (_, t, _) =>
      val v = t.currentVersion; t.manifest(v).count(_._2 == v) }.sum)
    layerSample("streaming.UpsertTable.files_written", moved.map { case (n, t, _) =>
      Workload.filesIn(root.resolve(n).resolve(s"v=${t.currentVersion}")) }.sum)
  }

  /** Spark work `w` of one real merge of `rowsIn` incoming rows. */
  protected def mergeLayers(w: Work, ms: Double, rowsIn: Long): Unit = {
    layerSample("streaming.UpsertTable.merge_ms", ms)
    layerSample("streaming.UpsertTable.merge_jobs", w.jobs)
    layerSample("streaming.UpsertTable.merge_stages", w.stages)
    layerSample("streaming.UpsertTable.merge_tasks", w.tasks)
    layerSample("streaming.UpsertTable.rows_rewritten_per_row_in",
      w.recordsWritten.toDouble / math.max(1L, rowsIn))
    layerSample("streaming.UpsertTable.bytes_written", w.bytesWritten)
    layerSample("streaming.UpsertTable.shuffle_write_bytes", w.shuffleWrite)
    layerSample("streaming.UpsertTable.spill_bytes", w.spill)
    if (w.taskMs.nonEmpty)
      layerSample("streaming.UpsertTable.task_skew",
        w.taskMs.max / math.max(1.0, Stats.median(w.taskMs.map(_.toDouble).toSeq)))
  }
}

/** `livestream`: a file-source `Timesearch.livestream` query over a
  * large archive; each op drops one 100-row listing, waits for it to be
  * published, then each downstream consumer reads `changes(prev, cur)`. */
final class Livestream(ctx: Ctx) extends Workload(ctx) with IngestLayers {
  private val BaseSubs = 1500
  private val BaseComs = 15000
  private val ListingRows = 100
  private val Fresh = 20
  private val Edits = 5
  private val Corrupt = 1
  /** consumers of the change feed, each reading every published version
    * once, one after the other (a single read per cycle left too few CDC
    * samples per run: they vary by 20 % within a run) */
  private val Consumers = 2
  /** untimed cycles first: the first cycle in a JVM is the slowest and
    * the next ones still fall while C1 compiles and the heap grows */
  private val WarmCycles = 2
  /** cycles after which the space ratio is read (more cycles keep adding
    * history, so the ratio is taken at a fixed point) */
  private val RatioAt = 3

  private var corpus: Corpus = _
  private var dir: Path = _
  private var archive: Timesearch.Archive = _
  private var query: StreamingQuery = _
  private var polls = 0
  private var ratio = 0.0

  def setup(d: Path): Unit = {
    dir = d
    corpus = new Corpus(ctx.seed)
    val base = corpus.dump(BaseSubs, BaseComs, 0.0, dups = false)
    archive = Timesearch.openArchive(spark, d.resolve("archive").toString,
      keyBuckets = Workload.KeyBuckets)
    Workload.seed(spark, archive, Workload.write(d.resolve("base.ndjson"), base.bytes))
    val n = archive.comments.current.count()
    check(n == corpus.coms.size, s"base load: $n comments != ${corpus.coms.size}")
  }

  private def start(): Unit = {
    val listings = dir.resolve("listings")
    Files.createDirectories(listings)
    val stream = Normalize.comments(Ndjson.commentsRaw(spark.readStream
      .schema(Schemas.rawNdjson)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(listings.toString)))
    query = Timesearch.livestream(stream, archive, dir.resolve("checkpoint").toString,
      Trigger.ProcessingTime(0L)).start()
  }

  /** One poll: returns (publish ms, each consumer's cdc ms). */
  private def poll(op: Int): (Double, Seq[Double]) = {
    val l = corpus.listing(ListingRows, Fresh, Edits, Corrupt)
    val staged = Workload.write(dir.resolve("staging").resolve(f"$polls%06d.json"), l.bytes)
    val target = dir.resolve("listings").resolve(f"$polls%06d.json")
    polls += 1
    if (tracer.listen) {
      val edits = decompose(archive, staged, op)
      check(edits == l.edits, s"cycle $polls: upsert edit rows $edits != ${l.edits}")
      check(layer("sources.Ndjson.quarantined_rows").last == Corrupt,
        s"cycle $polls: quarantined rows != $Corrupt")
    }
    val before = versions(archive)
    val prev = before._2
    val (_, publishMs) = timed("Livestream.upsertSink.poll", op) {
      Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    val cur = archive.comments.currentVersion
    check(cur == prev + 1, s"cycle $polls: version $prev -> $cur, expected one publish")
    if (tracer.listen) versionLayers(dir.resolve("archive"), archive, before)
    (publishMs, (0 until Consumers).map(_ => consume(op, prev, cur, l)))
  }

  /** One consumer's `changes(prev, cur)`, checked against listing `l`;
    * returns its ms. */
  private def consume(op: Int, prev: Long, cur: Long, l: Gen.Listing): Double = {
    val (changed, cdcSpan) = tracer.spanned("streaming.UpsertTable.changes", op) {
      archive.comments.changes(prev, cur).collect()
    }
    val cdcMs = cdcSpan.ms
    val kinds = changed.groupMap(_.getAs[String]("kind"))(_.getAs[String]("idstr"))
      .view.mapValues(_.toSet).toMap
    check(kinds.getOrElse("insert", Set.empty) == l.inserts,
      s"cycle $polls: inserts ${kinds.getOrElse("insert", Set.empty).size} != ${l.inserts.size}")
    check(kinds.getOrElse("update", Set.empty) == l.updates,
      s"cycle $polls: updates ${kinds.getOrElse("update", Set.empty).size} != ${l.updates.size}")
    check(!kinds.contains("delete"), s"cycle $polls: unexpected deletes")
    if (tracer.listen) {
      tracer.drain()
      val w = tracer.workFor(cdcSpan)
      layerSample("streaming.UpsertTable.changes_ms", cdcMs)
      layerSample("streaming.UpsertTable.changes_jobs", w.jobs)
      layerSample("operators.Scd.rows_in_per_change",
        w.recordsRead.toDouble / math.max(1, changed.length))
    }
    cdcMs
  }

  def isOpSpan(name: String): Boolean =
    name == "Livestream.upsertSink.poll" || name == "streaming.UpsertTable.changes"

  def cycle: Seq[(String, Int)] = Seq("poll_publish" -> 1)

  def warmup(): Unit = {
    start()
    (0 until WarmCycles).foreach(_ => poll(-1))
  }

  def op(i: Int): Unit = {
    val (p, cs) = poll(i)
    sample("poll_publish", p)
    cs.foreach(c => sample("cdc_read", c))
    sample("op", p + cs.sum)
    if (latency("poll_publish").length == RatioAt)
      ratio = Workload.storeRatio(dir.resolve("archive"), archive)
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
    if (tracer.listen) {
      tracer.drain()
      // trigger-level layers from StreamingQueryProgress, data triggers only
      val timedTriggers = tracer.dataTriggers.drop(1)
      timedTriggers.foreach { p =>
        val d = p.durationMs
        def dur(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val w = tracer.batchWork(p.batchId)
        layerSample("streaming.upsertSink.trigger_ms", dur("triggerExecution"))
        layerSample("streaming.upsertSink.addBatch_ms", dur("addBatch"))
        layerSample("streaming.upsertSink.walCommit_ms", dur("walCommit"))
        layerSample("streaming.upsertSink.latestOffset_ms", dur("latestOffset"))
        layerSample("streaming.upsertSink.queryPlanning_ms", dur("queryPlanning"))
        layerSample("streaming.upsertSink.commitOffsets_ms", dur("commitOffsets"))
        layerSample("streaming.upsertSink.jobs_per_trigger", w.jobs)
        mergeLayers(w, dur("addBatch"), ListingRows)
      }
    }
  }

  def storeBytesPerLiveByte: Double =
    if (ratio > 0) ratio else Workload.storeRatio(dir.resolve("archive"), archive)
}

/** `archive_reads`: an archive with history — a seed load plus a
  * re-crawl dump ingested with `Timesearch.ingestJsonFile` in set-up —
  * read by one client issuing a seeded mix of thread renders,
  * breakdowns, index listings and whole-history diffs. The set-up
  * ingests are where the NDJSON ingest path is measured. */
final class ArchiveReads(ctx: Ctx) extends Workload(ctx) with IngestLayers {
  private val BaseSubs = 1200
  private val BaseComs = 10000
  private val Recrawl = 0.1
  /** re-crawl dumps ingested in set-up (one keeps a run near a minute;
    * every further one adds about 4 s to each of the three set-ups) */
  private val Recrawls = 1
  /** Requests of one cycle, counted so that each kind takes about a third
    * of its time (untraced medians on 4 cores: thread 370 ms, breakdown
    * 510 ms, index 300 ms), so a 2x slowdown of any one of them moves
    * `cycle_ms` by about a third. */
  val cycle: Seq[(String, Int)] = Seq("thread" -> 3, "breakdown" -> 2, "index" -> 4)
  /** One block of the request mix: a cycle plus three whole-history
    * `changes(0, last)` reads; shuffled per block by the seed. */
  private val Block = (cycle :+ ("cdc_read" -> 3)).toVector.flatMap { case (k, n) =>
    Vector.fill(n)(k) }
  /** untimed blocks first: the first block in a JVM runs up to 3x slower
    * (C1 compiles, Spark generates code for each index threshold, the
    * heap grows); the second is close to the rest */
  private val WarmBlocks = 2

  private var corpus: Corpus = _
  private var archive: Timesearch.Archive = _
  private var root: Path = _
  private var threads = Vector.empty[String]
  private var breakdown = Vector.empty[(String, Long, Long)]
  private val thresholds = Seq(10L, 25L, 50L)
  private var index = Map.empty[Long, Vector[(String, Long)]]
  private var history = (Set.empty[String], Set.empty[String])
  private var mix = Vector.empty[String]
  private val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)

  def setup(d: Path): Unit = {
    corpus = new Corpus(ctx.seed)
    root = d.resolve("archive")
    archive = Timesearch.openArchive(spark, root.toString, keyBuckets = Workload.KeyBuckets)
    val base = corpus.dump(BaseSubs, BaseComs, 0.0, dups = false)
    val v0 = corpus.commentSnapshot
    Workload.seed(spark, archive, Workload.write(d.resolve("base.ndjson"), base.bytes))
    // monthly comment re-crawls: the small backfill that gives the
    // archive its history, and the ingest path's measurement (checked
    // once, after the last: its expectation covers every row, score,
    // duplicated id and edit of all of them)
    var edits = 0L
    var dupKeys = Set.empty[String]
    var (rowsIn, ms) = (0L, 0.0)
    (1 to Recrawls).foreach { m =>
      val re = corpus.dump(0, BaseComs / 20, Recrawl, recrawlSubs = false)
      edits += re.subEdits + re.comEdits
      dupKeys ++= re.dupScores.keys
      val e = DumpExpect(Workload.write(d.resolve(s"recrawl$m.ndjson"), re.bytes), re.records,
        corpus.subs.size, corpus.coms.size, corpus.sumScores(corpus.subs),
        corpus.sumScores(corpus.coms), edits, dupKeys.map(k => k -> corpus.coms(k).score).toMap,
        re.subEdits + re.comEdits)
      ms += ingest(archive, root, e, -1, checkState = m == Recrawls)
      rowsIn += re.records
    }
    layerSample("ingest_rows_per_s", rowsIn / (ms / 1e3))
    val last = corpus.commentSnapshot
    history = (last.keySet -- v0.keySet,
      v0.keySet.filter(k => last(k) != v0(k)))
    threads = corpus.threads.keys.toVector
    breakdown = corpus.breakdown
    index = thresholds.map(t => t -> corpus.index(t)).toMap
  }

  def warmup(): Unit = (0 until WarmBlocks * Block.length).foreach(_ => request(nextKind(), -1))

  /** Runs end on whole blocks, so every run has the same request mix. */
  override def atBoundary: Boolean = mix.isEmpty

  def isOpSpan(name: String): Boolean = Set("Timesearch.thread_html", "Timesearch.breakdown",
    "Timesearch.index", "streaming.UpsertTable.changes")(name)

  private def nextKind(): String = {
    if (mix.isEmpty) {
      val b = Block.toArray
      (b.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
      }
      mix = b.toVector
    }
    val k = mix.head
    mix = mix.tail
    k
  }

  private def request(kind: String, op: Int): Double = kind match {
    case "thread" =>
      val key = threads(rng.nextInt(threads.length))
      val expected = corpus.threads(key)
      val input = if (!tracer.listen) 0.0 else {
        val sa = Timesearch.openSubmissionArchive(spark, archive, key)
        probe("input.thread", op)(materialize(sa.submission, sa.comments))
      }
      var resolve, render: Span = null
      val (html, ms) = timed("Timesearch.thread_html", op) {
        val (sa, s1) = tracer.spanned("Timesearch.openSubmissionArchive", op) {
          Timesearch.openSubmissionArchive(spark, archive, key)
        }
        val (pages, s2) = tracer.spanned("render.OfflineReading", op) {
          OfflineReading.fromFrames(sa.submission, sa.comments).collect()
        }
        resolve = s1; render = s2
        pages
      }
      check(html.length == 1, s"thread $key: ${html.length} pages")
      val page = html(0)._2
      val ids = "<div class=\"comment\" id=\"([^\"]+)\"".r.findAllMatchIn(page).map(_.group(1)).toVector
      check(ids.length == expected.length && ids.toSet == expected.toSet,
        s"thread $key: rendered ${ids.length} comments, expected ${expected.length}")
      if (tracer.listen) {
        tracer.drain()
        val w = tracer.workFor(render)
        layerSample("streaming.UpsertTable.resolve_ms", resolve.ms)
        layerSample("render.OfflineReading.self_ms", Stats.layerSelf(render.ms, input))
        layerSample("render.OfflineReading.html_bytes", page.length)
        layerSample("streaming.UpsertTable.files_scanned_per_lookup",
          tracer.planMetric(w, "Scan parquet", "number of files read"))
        layerSample("streaming.UpsertTable.bytes_scanned_per_lookup", w.bytesRead)
      }
      ms

    case "breakdown" =>
      val input = if (!tracer.listen) 0.0 else probe("input.authors", op) {
        materialize(archive.submissions.current.select("author"),
          archive.comments.current.select("author"))
      }
      val (got, span) = tracer.spanned("Timesearch.breakdown", op) {
        Timesearch.breakdown(archive, sort = "total").collect()
      }
      val ms = span.ms
      val top = got.iterator.take(20).map(r =>
        (r.getAs[String]("name"), r.getAs[Long]("n_submissions"), r.getAs[Long]("n_comments"))).toVector
      check(got.length == breakdown.length, s"breakdown: ${got.length} authors != ${breakdown.length}")
      check(top == breakdown.take(20), "breakdown: top 20 rows differ")
      check(got.map(_.getAs[Long]("total")).sum == corpus.subs.size + corpus.coms.size,
        "breakdown: totals do not add up to the archive")
      if (tracer.listen) {
        tracer.drain()
        val w = tracer.workFor(span)
        layerSample("operators.Analytics.breakdown_self_ms", Stats.layerSelf(ms, input))
        layerSample("operators.Analytics.shuffle_bytes", w.shuffleWrite)
      }
      ms

    case "index" =>
      val t = thresholds(rng.nextInt(thresholds.length))
      val input = if (!tracer.listen) 0.0 else probe("input.submissions", op) {
        materialize(archive.submissions.current.filter(col("score") >= t))
      }
      val (got, span) = tracer.spanned("Timesearch.index", op) {
        Timesearch.index(archive, threshold = t, sort = "score").collect()
      }
      val ms = span.ms
      val want = index(t)
      check(got.length == want.length, s"index($t): ${got.length} rows != ${want.length}")
      check(got.iterator.take(20).map(r => (r.getAs[String]("idstr"), r.getAs[Long]("score")))
        .toVector == want.take(20), s"index($t): first 20 rows differ")
      if (tracer.listen) {
        tracer.drain()
        val w = tracer.workFor(span)
        layerSample("operators.Analytics.index_self_ms", Stats.layerSelf(ms, input))
        layerSample("operators.Analytics.shuffle_bytes", w.shuffleWrite)
      }
      ms

    case "cdc_read" =>
      val last = archive.comments.currentVersion
      val (got, span) = tracer.spanned("streaming.UpsertTable.changes", op) {
        archive.comments.changes(0L, last).groupBy("kind").count().collect()
      }
      val ms = span.ms
      val n = got.map(r => r.getString(0) -> r.getLong(1)).toMap
      check(n.getOrElse("insert", 0L) == history._1.size,
        s"history diff: ${n.getOrElse("insert", 0L)} inserts != ${history._1.size}")
      check(n.getOrElse("update", 0L) == history._2.size,
        s"history diff: ${n.getOrElse("update", 0L)} updates != ${history._2.size}")
      check(!n.contains("delete"), "history diff: unexpected deletes")
      if (tracer.listen) {
        tracer.drain()
        val w = tracer.workFor(span)
        layerSample("streaming.UpsertTable.changes_ms", ms)
        layerSample("streaming.UpsertTable.changes_jobs", w.jobs)
        layerSample("operators.Scd.rows_in_per_change",
          w.recordsRead.toDouble / math.max(1L, n.values.sum))
      }
      ms
  }

  def op(i: Int): Unit = {
    val kind = nextKind()
    val ms = request(kind, i)
    sample(kind, ms)
    sample("op", ms)
  }

  def storeBytesPerLiveByte: Double = Workload.storeRatio(root, archive)
}
