package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Sets the workload up three times (reporting the median as `setup_s`),
  * warms it up, runs timed operations until `--seconds` have passed,
  * then prints one JSON line: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. Any failed result check makes
  * `correct` false and the exit code 1. */
object Main {
  val Setups = 3

  /** End-to-end metric names and units, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "live_heap_mb" -> "MB", "ops_per_s" -> "1/s",
    "store_bytes_per_live_byte" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench/.work"))
    val spansOut = opts.get("spans").map(Paths.get(_))
    sys.exit(run(name, seed, seconds, traced, work, spansOut))
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: Path,
      spansOut: Option[Path]): Int = {
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark, traced)
    val w = Workload(name, new Ctx(spark, tracer, seed))
    var attempted = 0
    var failed = 0
    val out = try {
      val setups = (0 until Setups).map { k =>
        val dir = work.resolve(s"setup-$k")
        Workload.deleteTree(dir)
        val t = System.nanoTime()
        w.setup(dir)
        val s = (System.nanoTime() - t) / 1e9
        if (k > 0) Workload.deleteTree(work.resolve(s"setup-${k - 1}"))
        s
      }
      val tw = System.nanoTime()
      w.warmup()
      System.err.println(f"[perfbench] session ${sessionS}%.2f s, setups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
        f"warmup ${(System.nanoTime() - tw) / 1e9}%.2f s")
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || !w.atBoundary) {
        attempted += 1
        try w.op(i)
        catch {
          case e: CheckFailed =>
            failed += 1
            System.err.println(s"[perfbench] check failed: ${e.getMessage}")
        }
        i += 1
      }
      w.close()
      tracer.drain()
      spansOut.foreach(p => Files.write(p, tracer.spansJson.mkString("", "\n", "\n").getBytes(UTF_8)))
      if (traced) perLayer(w, tracer, sessionS, cores, attempted, failed)
      else endToEnd(w, setups)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        failed += 1
        attempted = math.max(attempted, 1)
        Nil
    } finally {
      tracer.close()
      spark.stop()
    }
    if (out.isEmpty) return 2
    val line = Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap.from(out.map {
        case (k, v, u) => k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) })))
    println(line)
    if (failed == 0) 0 else 1
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }

  /** Heap in use after a full collection, in MB: what the session, the
    * engine and the workload still hold once the window is over. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Σ over the workload's cycle of count × that kind's median latency. */
  def cycleMs(w: Workload): Double =
    w.cycle.map { case (kind, n) => n * Stats.median(w.latency(kind).toSeq) }.sum

  /** Timed ops per second of op time, every kind weighted by its share. */
  def opsPerS(w: Workload): Double = w.ops.length / (w.ops.sum / 1e3)

  def endToEnd(w: Workload, setups: Seq[Double]): Seq[(String, Double, String)] = {
    // the cycle and change-feed medians spread more between runs of the
    // same code than any bound allows, so they are reported here and as
    // per-layer metrics, not gated
    (Seq(("cycle_ms", cycleMs(w), "ms"),
      ("cdc_read_p50_ms", Stats.median(w.latency("cdc_read").toSeq), "ms")) ++
      opKindMetrics(w) ++ w.layer.get("ingest_rows_per_s").map(xs =>
        ("ingest_rows_per_s", Stats.median(xs.toSeq), s"median of ${xs.length} set-ups"))).foreach {
      case (m, v, how) => System.err.println(f"[perfbench] $m%-22s $v%12.2f  ($how)") }
    val v = Map(
      "setup_s" -> Stats.median(setups),
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb(),
      "ops_per_s" -> opsPerS(w),
      "store_bytes_per_live_byte" -> w.storeBytesPerLiveByte)
    EndToEnd.map { case (k, u) => (k, v(k), u) }
  }

  /** Per-layer metrics (traced run), in report order, with units. Each
    * is the median over the run's samples, or 0 on a workload that does
    * not exercise the layer. */
  lazy val PerLayer: Seq[(String, String)] = Seq(
    "Sessions.local_s" -> "s",
    "sources.Ndjson.self_s" -> "s", "sources.Ndjson.dump_passes" -> "count",
    "sources.Ndjson.quarantined_rows" -> "count",
    "operators.Normalize.self_s" -> "s",
    "operators.Merge.upsert_self_s" -> "s", "operators.Merge.edit_rows" -> "count",
    "streaming.UpsertTable.merge_ms" -> "ms", "streaming.UpsertTable.merge_jobs" -> "count",
    "streaming.UpsertTable.merge_stages" -> "count", "streaming.UpsertTable.merge_tasks" -> "count",
    "streaming.UpsertTable.buckets_touched" -> "count",
    "streaming.UpsertTable.rows_rewritten_per_row_in" -> "ratio",
    "streaming.UpsertTable.bytes_written" -> "bytes", "streaming.UpsertTable.files_written" -> "count",
    "streaming.UpsertTable.shuffle_write_bytes" -> "bytes",
    "streaming.UpsertTable.spill_bytes" -> "bytes", "streaming.UpsertTable.task_skew" -> "ratio",
    "streaming.UpsertTable.resolve_ms" -> "ms",
    "streaming.UpsertTable.files_scanned_per_lookup" -> "count",
    "streaming.UpsertTable.bytes_scanned_per_lookup" -> "bytes",
    "streaming.UpsertTable.changes_ms" -> "ms", "streaming.UpsertTable.changes_jobs" -> "count",
    "operators.Scd.rows_in_per_change" -> "ratio",
    "streaming.upsertSink.trigger_ms" -> "ms", "streaming.upsertSink.addBatch_ms" -> "ms",
    "streaming.upsertSink.walCommit_ms" -> "ms", "streaming.upsertSink.latestOffset_ms" -> "ms",
    "streaming.upsertSink.queryPlanning_ms" -> "ms",
    "streaming.upsertSink.commitOffsets_ms" -> "ms",
    "streaming.upsertSink.jobs_per_trigger" -> "count",
    "operators.Analytics.breakdown_self_ms" -> "ms", "operators.Analytics.index_self_ms" -> "ms",
    "operators.Analytics.shuffle_bytes" -> "bytes",
    "render.OfflineReading.self_ms" -> "ms", "render.OfflineReading.html_bytes" -> "bytes",
    "ingest_rows_per_s" -> "rows/s", "trace.cycle_ms" -> "ms", "trace.ops_per_s" -> "1/s",
    "spark.core_busy_share" -> "share", "spark.job_wait_ms" -> "ms", "spark.jvm_gc_ms" -> "ms") ++
    OpKinds.map { case (k, _) => k -> "ms" } :+
    ("error_rate" -> "share")

  /** Per-kind operation metrics under their own names: (metric, latency
    * kind). `_tail_ms` is the highest of p50/p75/p90/p95/p99/p99.9 that
    * leaves at least ten samples beyond it (the max when fewer than 20). */
  val OpKinds: Seq[(String, String)] = Seq(
    "poll_publish_p50_ms" -> "poll_publish", "poll_publish_tail_ms" -> "poll_publish",
    "thread_html_p50_ms" -> "thread", "thread_html_tail_ms" -> "thread",
    "breakdown_p50_ms" -> "breakdown", "index_p50_ms" -> "index")

  def tail(xs: Seq[Double]): (Double, String) = Stats.tailPercentile(xs.length) match {
    case Some(p) => (Stats.percentile(xs, p), s"p$p of ${xs.length}")
    case None => (xs.max, s"max of ${xs.length}")
  }

  /** The per-kind metrics this workload has samples for. */
  def opKindMetrics(w: Workload): Seq[(String, Double, String)] = OpKinds.flatMap { case (m, kind) =>
    w.latency.get(kind).filter(_.nonEmpty).map(_.toSeq).flatMap { xs =>
      if (m.endsWith("_tail_ms")) { val (v, how) = tail(xs); Some((m, v, how)) }
      else Some((m, Stats.median(xs), "ms"))
    }
  }

  def perLayer(w: Workload, t: Tracer, sessionS: Double, cores: Int,
      attempted: Int, failed: Int): Seq[(String, Double, String)] = {
    // Spark work of the timed operations: each op's top span with every
    // span under it, plus (livestream) the streaming triggers it drove
    val children = t.spans.groupBy(_.parent)
    def tree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).toSeq.flatMap(tree)
    val opRoots = t.spans.filter(s => s.op >= 0 && s.parent < 0 && w.isOpSpan(s.name))
    val byOp = opRoots.groupBy(_.op).toSeq.sortBy(_._1)
    val triggers = w match {
      case _: Livestream => t.dataTriggers.drop(1).map(p => t.batchWork(p.batchId))
      case _ => Nil
    }
    val perOp = byOp.zipWithIndex.map { case ((_, roots), k) =>
      val works = roots.flatMap(tree).map(t.workFor) ++ triggers.lift(k).toSeq
      val wall = roots.map(_.ms).sum
      (works.map(_.runMs).sum.toDouble / (wall * cores), works.map(_.jobWaitMs).sum.toDouble,
        works.map(_.gcMs).sum.toDouble)
    }
    if (perOp.nonEmpty) {
      w.layer("spark.core_busy_share") = mutable.ArrayBuffer.from(perOp.map(_._1))
      w.layer("spark.job_wait_ms") = mutable.ArrayBuffer.from(perOp.map(_._2))
      w.layer("spark.jvm_gc_ms") = mutable.ArrayBuffer.from(perOp.map(_._3))
    }
    w.layer("Sessions.local_s") = mutable.ArrayBuffer(sessionS)
    w.layer("trace.cycle_ms") = mutable.ArrayBuffer(cycleMs(w))
    w.layer("trace.ops_per_s") = mutable.ArrayBuffer(opsPerS(w))
    val kinds = opKindMetrics(w).map { case (m, v, how) =>
      System.err.println(f"[perfbench] $m%-22s $v%12.2f  ($how)"); m -> v }.toMap
    PerLayer.map { case (m, u) =>
      val v =
        if (m == "error_rate") failed.toDouble / math.max(1, attempted)
        else kinds.getOrElse(m, w.layer.get(m).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0))
      (m, v, u)
    }
  }
}
