package graft

import org.apache.spark.sql.SparkSession

/** Session construction with the engine's recommended configuration —
  * one source of truth for local gates and cluster deployment.
  *
  * Everything here is tuning, not semantics: results are identical with
  * defaults, these settings keep the plans this engine generates on
  * their intended physical shapes at scale.
  */
object Sessions {

  /** The engine's `file:` filesystem, bound for both Hadoop entry
    * points: `fs.file.impl` (FileSystem: every table, log and publish
    * write) and `fs.AbstractFileSystem.file.impl` (FileContext: the
    * streaming checkpoints' offset, commit and source logs).
    *
    * Why: Hadoop 3.4.2's `RawLocalFileSystem` without libhadoop (the
    * case on a stock Spark distribution) starts a `chmod` process for
    * every file and directory it creates and a `readlink` process for
    * every link-status probe of a checkpoint-log rename. On the
    * archive-verb benchmark's livestream (seed 2, one 12 s run, JFR
    * `jdk.ProcessStart`) that was 900 `chmod` and 176 `readlink`
    * processes, about 100 per poll-publish cycle: 750 `chmod` in the
    * publish's write tasks, 168 `readlink` and 46 `chmod` on the stream
    * thread, the rest in job setup and commit. One spawn from a JVM
    * with a pre-touched 1 GB heap costs ~3 ms alone and ~8 ms with four
    * threads spawning at once, against ~0.1 ms for the in-process call.
    * [[graft.sources.ForkFreeRawLocalFileSystem]] makes the same system
    * calls in-process; files, mode bits and `.crc` checksums are
    * unchanged.
    *
    * The binding must be in the Hadoop configuration before the first
    * `file:` FileSystem of the JVM is created: FileSystem caches one
    * instance per scheme, whatever the configuration of later calls. */
  val LocalFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.sources.ForkFreeLocalFs].getName)

  /** @param shufflePartitions cores-proportional locally; on a cluster
    *        size to 2-3× total executor cores and let AQE coalesce. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")          // oracle parity
      // AQE: runtime re-planning (skew-join split, partition coalescing,
      // join-strategy switch) — on by default in Spark 4, pinned here
      // because the dedup block joins and merge exchanges rely on it.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom filters stand in for the reference's idstr indexes
      // on selective key joins (SURVEY §4)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // let the planner take a shuffled-hash join when its size checks
      // pass instead of always sorting both sides (guide §3.1/§9): the
      // engine's |Δ|-sized diffs and store-replay joins are exactly the
      // moderate-per-partition-build shapes SHJ wins on; sort-merge
      // remains the planner's fallback when the build side is unbounded
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // spill-awareness: the default 128 MB input split is right for this
      // engine's scan-heavy plans; shrink on memory-tight executors rather
      // than raising shuffle partitions reactively
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config(LocalFs)

  /** Local gate session (Verify/Bench): worker threads from the env. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
