package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a module, as the benchmark saw it from outside. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (or one streaming trigger). */
final class Work {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var gcMs = 0L; var jobWaitMs = 0L
  var shuffleWrite = 0L; var spill = 0L
  var bytesWritten = 0L; var recordsWritten = 0L
  var bytesRead = 0L; var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val executions = mutable.LinkedHashSet.empty[Long]
}

/** Spans around the benchmark's calls into the engine, plus — when
  * `listen` is set — a `SparkListener` and a `StreamingQueryListener`
  * that attribute every job, stage and task to the span open when the
  * job started (a local property set by [[span]]) or, for jobs of the
  * streaming thread, to that trigger's batch id.
  *
  * Spans are always kept (two clock reads each); the listeners run only
  * in the traced run, so untraced end-to-end numbers carry no listener
  * cost. */
final class Tracer(spark: SparkSession, val listen: Boolean) {
  private val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"
  private val sc = spark.sparkContext

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val work = new ConcurrentHashMap[String, Work]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Int)]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[(Long, Long)]]()
  private val jobOwner = new ConcurrentHashMap[Int, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def workOf(key: String): Work = work.computeIfAbsent(key, _ => new Work)

  /** Work recorded for a span, or for streaming batch `b` as `"b<b>"`. */
  def workFor(s: Span): Work = workOf(s"s${s.id}")
  def batchWork(batchId: Long): Work = workOf(s"b$batchId")

  /** Run `body` inside a span named `<module>.<function>` for operation
    * `op` (−1 outside the timed loop). */
  def span[A](name: String, op: Int = -1)(body: => A): A = spanned(name, op)(body)._1

  /** [[span]] that also hands back the span. */
  def spanned[A](name: String, op: Int = -1)(body: => A): (A, Span) = {
    val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    val before = if (listen) sc.getLocalProperty(SpanKey) else null
    if (listen) sc.setLocalProperty(SpanKey, s.id.toString)
    open = s :: open
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (listen) sc.setLocalProperty(SpanKey, before)
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (listen) org.apache.spark.PerfbenchBus.drain(sc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val batch = Option(p).flatMap(q => Option(q.getProperty(BatchKey)))
      val key = batch.map(b => s"b$b")
        .orElse(Option(p).flatMap(q => Option(q.getProperty(SpanKey))).map(i => s"s$i"))
        .getOrElse("none")
      val w = workOf(key)
      w.synchronized {
        w.jobs += 1
        Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
          .foreach(x => w.executions += x.toLong)
      }
      e.stageIds.foreach(st => stageOwner.put(st, (key, e.jobId)))
      jobStart.put(e.jobId, e.time)
      jobOwner.put(e.jobId, key)
      jobTasks.put(e.jobId, mutable.ArrayBuffer.empty)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (key, _) =>
        val w = workOf(key); w.synchronized { w.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { case (key, job) =>
        val w = workOf(key)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.runMs += m.executorRunTime
            w.gcMs += m.jvmGCTime
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            w.bytesWritten += m.outputMetrics.bytesWritten
            w.recordsWritten += m.outputMetrics.recordsWritten
            w.bytesRead += m.inputMetrics.bytesRead
            w.recordsRead += m.inputMetrics.recordsRead
            w.taskMs += e.taskInfo.duration
          }
        }
        Option(jobTasks.get(job)).foreach(b => b.synchronized {
          b += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        })
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = jobStart.remove(e.jobId)
      val tasks = jobTasks.remove(e.jobId)
      val key = jobOwner.remove(e.jobId)
      if (start != null && tasks != null && key != null) {
        val wait = (e.time - start) - Stats.covered(tasks.toSeq, start, e.time)
        val w = workOf(key); w.synchronized { w.jobWaitMs += wait }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (listen) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Remove the listeners once every pending event has been handled. */
  def close(): Unit = if (listen) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Sum of the SQL plan metric `metric` over plan nodes whose name starts
    * with `node`, across the SQL executions of `w` (e.g. "number of files
    * read" of "Scan parquet"). Read from Spark's SQL status store. */
  def planMetric(w: Work, node: String, metric: String): Long = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    w.executions.toSeq.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes.filter(_.name.startsWith(node))
        .flatMap(_.metrics.filter(_.name == metric))
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.takeWhile(c => c != '\n').filter(_.isDigit))
        .filter(_.nonEmpty).map(_.toLong).sum
    }.sum
  }

  /** Spans as JSON lines: name, ids, start and duration, and the span's
    * Spark work when traced. */
  def spansJson: Iterator[String] = spans.iterator.map { s =>
    val base = Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "dur_ms" -> s.ms)
    val extra =
      if (!listen) Nil
      else {
        val w = workFor(s)
        Seq("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
          "task_run_ms" -> w.runMs, "gc_ms" -> w.gcMs, "job_wait_ms" -> w.jobWaitMs,
          "shuffle_write_bytes" -> w.shuffleWrite, "spill_bytes" -> w.spill,
          "bytes_written" -> w.bytesWritten, "bytes_read" -> w.bytesRead)
      }
    Json.obj(base ++ extra)
  }

  /** Progress of every streaming trigger that read input. */
  def dataTriggers: Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
}
