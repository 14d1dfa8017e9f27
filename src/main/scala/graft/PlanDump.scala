package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Batch plan capture for the round's plan-diff deliverables: executes
  * each named query (so AQE's final plan is what prints) and writes
  * `<outDir>/<query><suffix>.txt` with the formatted executed plan plus
  * the PlanAudit counters line, followed by the executed plan of every
  * action the query ran while it was built (store seeds, merge writes,
  * checkpoints) — a query's construction cost lives in those.
  * (`runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]`) */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,..> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    new java.io.File(outDir).mkdirs()
    val spark = Sessions.local()
    val actions = ArrayBuffer.empty[(String, QueryExecution)]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.synchronized { actions += funcName -> qe }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // listener events arrive asynchronously: wait until the count holds
    def settled(): Seq[(String, QueryExecution)] = {
      var seen = -1
      while (seen != actions.synchronized(actions.length)) {
        seen = actions.synchronized(actions.length)
        Thread.sleep(1000L)
      }
      actions.synchronized { val a = actions.toList; actions.clear(); a }
    }
    def formatted(qe: QueryExecution): String =
      qe.explainString(ExplainMode.fromString("formatted"))
    names.foreach { name =>
      settled()
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val built = settled()
      df.collect()
      val c = PlanAudit.counters(df)
      val txt = formatted(df.queryExecution) +
        s"\n[plan-audit] exchanges=${c.exchanges} reused=${c.reused} " +
        s"broadcasts=${c.broadcasts} scans=${c.scans} wholestage=${c.wholestage}\n" +
        built.zipWithIndex.map { case ((f, qe), i) =>
          s"\n== Construction action ${i + 1}: $f ==\n${formatted(qe)}"
        }.mkString
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
        txt.getBytes)
      println(s"[plandump] wrote $name$suffix")
    }
    spark.stop()
  }
}
