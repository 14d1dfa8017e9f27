package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.Merge

/** Livestream analog (SURVEY §2.1 S6, §2.9 T1-T8; livestream.py:45-196).
  *
  * The reference polls /new every 30 s and upserts each ≤100-row batch into
  * SQLite. Spark-first re-expression: any streaming source → micro-batches
  * → `foreachBatch` running the SAME batch merge as offline ingest
  * (graft.operators.Merge) into a versioned parquet table. Identical code
  * path for batch and streaming writes is what makes replay idempotent
  * (T3: unbounded lateness, duplicate batches collapse in the merge).
  */
object Livestream {

  /** Typed commit conflict: another writer holds (or already published)
    * the claim on `version` of the table at `tablePath` — the loud
    * replacement for the silent lost update two concurrent publishers
    * would otherwise produce. See the UpsertTable writer contract for
    * the retry/recovery playbook. */
  final class ConcurrentWriteException(val tablePath: String,
      val version: Long, msg: String) extends RuntimeException(msg)

  /** Path-level readers of the store's published METADATA files — the
    * single definition of the on-disk formats (pointer, manifest,
    * schema generations, deletion vectors), shared by [[UpsertTable]]'s
    * instance methods and the standalone SQL read surface
    * ([[graft.sources.GraftSource]]), which must resolve a table from
    * its path alone (no entity, no partitioning expression in hand). */
  private[graft] object StoreMeta {

    def currentVersion(path: String): Long = {
      val ptr = Paths.get(path, "_VERSION")
      if (Files.exists(ptr))
        new String(Files.readAllBytes(ptr)).trim.toLong
      else -1L
    }

    /** Does the table use the partitioned (manifested) layout? */
    def isPartitioned(path: String): Boolean =
      Files.exists(Paths.get(path, "_manifest"))

    def manifest(path: String, version: Long): Map[String, Long] = {
      val f = Paths.get(path, "_manifest", s"m=$version")
      if (version < 0 || !Files.exists(f)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        // skip malformed (tab-less) lines defensively: a torn write on a
        // filesystem without atomic rename must not throw from every read
        Files.readAllLines(f).asScala
          .filter(l => l.nonEmpty && l.indexOf('\t') > 0)
          .map { line =>
            val i = line.indexOf('\t')
            line.substring(i + 1) -> line.substring(0, i).toLong
          }.toMap
      }
    }

    /** The newest recorded schema generation ≤ `version`, if any. */
    def schemaGen(path: String,
        version: Long): Option[org.apache.spark.sql.types.StructType] = {
      val d = Paths.get(path, "_schema")
      if (version < 0 || !Files.exists(d)) return None
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      val gens =
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("s=") && !n.endsWith(".tmp"))
          .map(_.drop(2).toLong).filter(_ <= version).toList
        finally s.close()
      if (gens.isEmpty) None
      else Some(org.apache.spark.sql.types.DataType
        .fromJson(new String(Files.readAllBytes(
          d.resolve(s"s=${gens.max}")),
          java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }

    /** Migration-boundary versions recorded in `_migrations`. */
    def migrations(path: String): Seq[Long] = {
      val f = Paths.get(path, "_migrations")
      if (!Files.exists(f)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(f).asScala.filter(_.nonEmpty)
          .map(_.trim.toLong).toSeq.sorted
      }
    }

    /** Live deletion set as of `version`: (escaped pt, md5(key)). */
    def dv(path: String, version: Long): Seq[(String, String)] = {
      val d = Paths.get(path, "_dv")
      if (version < 0 || !Files.exists(d)) return Seq.empty
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      val gens =
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("d=") && !n.endsWith(".tmp"))
          .map(_.drop(2).toLong).filter(_ <= version).toList
        finally s.close()
      if (gens.isEmpty) Seq.empty
      else Files.readAllLines(d.resolve(s"d=${gens.max}")).asScala
        .filter(l => l.nonEmpty && l.indexOf('\t') > 0)
        .map { l =>
          val i = l.indexOf('\t')
          (l.substring(0, i), l.substring(i + 1))
        }.toSeq
    }
  }

  /** Parquet-backed upsert target with atomic version swap.
    *
    * Layout: `path/v=N/` table versions (readers pick max N via a pointer
    * file written last), `path/edits/` append-only CDC log. A Delta/Iceberg
    * table would subsume this; the contract here is engine-agnostic and
    * filesystem-atomic (pointer rename). One SQLite file per target in the
    * reference ↔ one table directory per target here. Readers are
    * lock-free.
    *
    * ==Writer contract: one INTENDED writer, concurrent writers CONFLICT==
    * The reference ran single-writer by construction (SQLite's write
    * lock, tsdb.py:194-195); this store states the same operational
    * contract — one pipeline owns a table — and ENFORCES it with
    * optimistic concurrency instead of trusting it: every publishing
    * operation first CLAIMS its target version by atomically creating
    * `_commits/c=<next>` (fail-if-exists — the Delta/Iceberg commit-
    * protocol shape), and only the claim holder stages data and moves
    * the pointer. A second concurrent writer therefore fails LOUDLY with
    * a typed [[Livestream.ConcurrentWriteException]] before writing a
    * byte — never a silent lost update, never trampled staging. The
    * loser's sound retry is to re-read the published state and redo the
    * operation against it ([[mergeRetry]] packages that for merges —
    * merge is idempotent per batch, so the replay is safe); a claim
    * whose writer crashed before the pointer move blocks the version
    * until [[recoverCommit]] rolls the invisible staging back (an
    * operator act: only safe once no other writer is live). A FAILED
    * (non-crash) attempt releases its own claim on the way out, so
    * plain retry-after-error needs no recovery.
    *
    * ==Partition-pruned incremental merge==
    *
    * With `partitioning` set, each version directory holds ONLY the
    * partitions the batch touched (`v=N/pt=X/…`), and a per-version
    * manifest (`_manifest/m=N`) maps every live partition to the version
    * that last rewrote it. A merge then:
    *   1. derives the touched-partition set from the batch (a
    *      driver-side distinct over at most |partitions| values — bounded
    *      by the batch, not the table);
    *   2. reads ONLY those partitions' current data (manifest-pruned
    *      scan), merges the batch in, and writes just those partitions
    *      under `v=N+1`;
    *   3. publishes manifest = previous manifest ++ (touched → N+1), then
    *      moves the `_VERSION` pointer (still the single commit point).
    * Untouched partitions are carried BY REFERENCE — their files are the
    * same physical files across versions, so a 30 s micro-batch against a
    * 100 TB table pays |touched partitions|, not a table rewrite. This is
    * the reference's per-row-upsert cost model (tsdb.py:389-509 touches
    * only affected rows) re-expressed at partition granularity.
    *
    * The partition expression must be DETERMINISTIC AND STABLE PER KEY
    * (the same `idstr` always lands in the same partition) — otherwise a
    * key could appear in two partitions and the pruned read would miss its
    * old row. [[Livestream.keyBucket]] (hash-bucket of the key) satisfies
    * this by construction and is the scale default; an archive-target
    * column (`subreddit`) satisfies it under the reference's semantics
    * (a row never changes target).
    *
    * @param outputPartitions file-count control. Flat table: cap on files
    *        per published version (coalesce before write) — for SMALL
    *        targets where the default shuffle parallelism would write
    *        hundreds of tiny files. Partitioned table: max files AND
    *        write tasks PER BUCKET (a salted repartition splits each
    *        bucket across that many tasks); None/Some(1) = one file per
    *        touched bucket. Raise it when single buckets are large
    *        enough that one write task per bucket becomes the straggler.
    * @param partitioning key-stable partition expression (see above);
    *        None = legacy full-rewrite layout.
    * @param dvAutoMaterialize deletion-vector size bound: when a
    *        `dv = true` purge leaves MORE than this many live entries,
    *        [[materializeDv]] runs immediately after the vector
    *        publish — the self-maintaining form of the DV lifecycle
    *        (daily small takedowns stay sidecar-cheap; the occasional
    *        materialization pays the suppressed buckets, never the
    *        table). None (default) = explicit-operator-call only.
    * @param autoCompact live-files-per-bucket bound — the
    *        dvAutoMaterialize device applied to LEAF COUNTS: after each
    *        merge publishes, any bucket whose live file count exceeds
    *        the bound compacts immediately ([[optimize]]'s batched
    *        rewrite under its own claimed version), so a store written
    *        with intra-bucket parallelism (`outputPartitions` > bound,
    *        backfills, AQE-split writes) maintains its own layout
    *        instead of waiting for an operator to remember. Per-merge
    *        cost when nothing is oversized: one driver-side directory
    *        listing per live bucket — metadata, no Spark job. None
    *        (default) = explicit optimize() only. */
  final class UpsertTable(spark: SparkSession, path: String, val entity: Merge.Entity,
      emptyLike: DataFrame, outputPartitions: Option[Int] = None,
      partitioning: Option[Column] = None,
      clock: () => Long = () => System.currentTimeMillis(),
      dvAutoMaterialize: Option[Int] = None,
      autoCompact: Option[Int] = None) {
    // The merge layer keys on Merge.KeyCol end-to-end (upsert fold,
    // keyBucket default, the maxFiles>1 compaction salt below): require
    // it at construction so a key-less schema fails HERE with a named
    // reason, not mid-optimize() with an AnalysisException. Matched
    // case-insensitively — Spark's default column resolution is.
    require(emptyLike.schema.fieldNames.exists(_.equalsIgnoreCase(Merge.KeyCol)),
      s"UpsertTable schema must carry the merge key '${Merge.KeyCol}'; " +
        s"got [${emptyLike.schema.fieldNames.mkString(", ")}]")
    private val ptr = Paths.get(path, "_VERSION")
    private val PartCol = "pt"
    private val PartKey = "partitioning"

    def currentVersion: Long = StoreMeta.currentVersion(path)

    // ==== optimistic concurrency: the per-version commit claim ==========
    //
    // Every publishing operation computes next = currentVersion + 1 and
    // must CLAIM `_commits/c=<next>` (atomic fail-if-exists create)
    // BEFORE its first write. Holding the claim on N+1 while the pointer
    // is at N is exclusive by construction — the pointer only advances
    // to a version whose claim the mover holds — so claim-first both
    // serializes publishes and keeps a loser from trampling the winner's
    // staging directories (the loser never writes at all). On success
    // the claim file stays as the version's commit record (retired by
    // vacuum alongside old manifests); on failure the claim releases.

    private def commitsDir = Paths.get(path, "_commits")

    private def claimCommit(next: Long): Unit = {
      Files.createDirectories(commitsDir)
      try Files.createFile(commitsDir.resolve(s"c=$next"))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val cur = currentVersion
          val state =
            if (cur >= next)
              "that writer already PUBLISHED — re-read the current " +
                "state, recompute, and retry (mergeRetry does this for " +
                "merges)"
            else
              "its pointer move is pending: the writer is either IN " +
                "FLIGHT (wait for its publish, then retry) or CRASHED " +
                "mid-commit (recoverCommit() rolls the orphan back — " +
                "only safe once no other writer is live)"
          throw new ConcurrentWriteException(path, next,
            s"UpsertTable at $path: version $next is already claimed " +
              s"by another writer; $state")
      }
    }

    private def releaseClaim(next: Long): Unit = {
      val f = commitsDir.resolve(s"c=$next")
      if (Files.exists(f)) Files.delete(f)
    }

    /** Stage-and-publish `body` under the claim on `next`: a FAILED
      * attempt (exception before the pointer reached `next`) releases
      * the claim so a plain retry works; a successful publish keeps the
      * claim file as the version's commit record. */
    private def committing[A](next: Long)(body: => A): A = {
      claimCommit(next)
      try body
      catch {
        case e: Throwable =>
          if (currentVersion < next) releaseClaim(next)
          throw e
      }
    }

    /** Roll BACK a crashed writer's orphan claim: when `_commits/c=N+1`
      * exists but the pointer never reached N+1, the staged version is
      * provably invisible (every read path resolves through the
      * pointer), so deleting the staging and the claim returns the
      * table to its published state and unblocks publishers. Returns
      * true iff an orphan was cleared. OPERATOR ACT: calling this while
      * the claiming writer is still alive hands its claim to someone
      * else mid-write — only run it once no other writer is live (the
      * same judgment SQLite's stale-lock removal needs). */
    def recoverCommit(): Boolean = {
      val cur = currentVersion
      val next = cur + 1
      val claim = commitsDir.resolve(s"c=$next")
      if (!Files.exists(claim)) return false
      Seq(Paths.get(path, s"v=$next"), Paths.get(path, "edits", s"ev=$next"))
        .foreach(d => if (Files.exists(d)) deleteDirTree(d))
      Seq(Paths.get(path, "_manifest", s"m=$next"),
          Paths.get(path, "_schema", s"s=$next"),
          Paths.get(path, "_dv", s"d=$next"))
        .foreach(p => if (Files.exists(p)) Files.delete(p))
      // a crashed migrate may have recorded its boundary marker — a
      // later real publish of this version must not read as a boundary
      if (migrations.contains(next)) {
        val kept = migrations.filter(_ <= cur)
        val mf = Paths.get(path, "_migrations")
        if (kept.isEmpty) Files.delete(mf)
        else {
          val tmp = Paths.get(path, "_migrations.tmp")
          Files.write(tmp, kept.mkString("\n").getBytes)
          Files.move(tmp, mf, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      }
      Files.delete(claim)
      true
    }

    // ==== schema versioning (tsdb.py:34-37 DATABASE_VERSION;
    //      utilities/database_upgrader.py:24-49) ======================
    //
    // The reference stamps `PRAGMA user_version` and migrates with
    // sequential ALTERs. On immutable columnar storage the store-level
    // equivalent is WIDEN-ONLY READ-SIDE ALIGNMENT: each published
    // schema generation is recorded in `_schema/s=<firstVersion>`
    // (tmp+ATOMIC_MOVE, written before the version pointer), reads
    // resolve the generation in force at their version and hand the
    // parquet reader that EXPLICIT schema — files written under an
    // older, narrower generation null-fill the later columns
    // (the SchemaEvolution.alignTo device, done structurally by the
    // reader), so evolving a 100 TB table rewrites NOTHING. Narrowing
    // and type changes are refused at open (below): they would need a
    // rewrite and are not evolution.

    /** Entity schema in force at `version`: the newest recorded
      * generation ≤ version; tables that predate recording (or
      * version −1) fall back to the construction schema. Time travel
      * returns the SHAPE as of the version too — a pre-evolution
      * `at(v)` has the old columns, the boundary merge's version the
      * new ones. */
    def schemaAt(version: Long): org.apache.spark.sql.types.StructType =
      StoreMeta.schemaGen(path, version).getOrElse(emptyLike.schema)

    /** The schema serving the CURRENT version (the newest recorded
      * generation; the construction schema until an evolving merge
      * publishes). */
    def currentSchema: org.apache.spark.sql.types.StructType =
      schemaAt(currentVersion)

    private def writeSchemaFile(version: Long,
        st: org.apache.spark.sql.types.StructType): Unit = {
      val d = Paths.get(path, "_schema")
      Files.createDirectories(d)
      val tmp = d.resolve(s"s=$version.tmp")
      Files.write(tmp, st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, d.resolve(s"s=$version"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    /** Widen-only evolution contract, checked at every entry point: a
      * reopen may ADD nullable columns relative to the recorded
      * generation (the pending widening the next merge publishes) —
      * dropping a recorded column or changing its type fails HERE with
      * a named reason, because on immutable files either would need a
      * table rewrite masquerading as a reopen. */
    private def validateSchema(): Unit = {
      if (currentVersion < 0) return
      val recorded = schemaAt(currentVersion)
      val mine = emptyLike.schema
      recorded.fields.foreach { f =>
        val m = mine.fields.find(_.name.equalsIgnoreCase(f.name))
        require(m.isDefined,
          s"UpsertTable at $path: recorded schema generation carries " +
            s"column '${f.name}' but the table was reopened without it — " +
            "schema evolution is WIDEN-ONLY (dropping a column needs an " +
            "explicit rewrite, not a reopen)")
        require(m.get.dataType == f.dataType,
          s"UpsertTable at $path: column '${f.name}' was recorded as " +
            s"${f.dataType.simpleString} but reopened as " +
            s"${m.get.dataType.simpleString} — type changes are not " +
            "evolution (published files would read wrong); reopen with " +
            "the recorded type or migrate via an explicit rewrite")
      }
      mine.fields
        .filterNot(f => recorded.fields.exists(_.name.equalsIgnoreCase(f.name)))
        .foreach(f => require(f.nullable,
          s"UpsertTable at $path: new column '${f.name}' must be NULLABLE " +
            "— pre-evolution files read it as null by construction"))
    }

    private def emptyFrame(st: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)

    // ==== deletion vectors (merge-on-read small purges) ===============
    //
    // The small-purge economics complement of [[purgeKeys]]'s rewrite:
    // a 1-key takedown against a 1 GB bucket should not rewrite 1 GB.
    // `_dv/d=<version>` (tmp+ATOMIC_MOVE, written before the pointer)
    // holds the CUMULATIVE live deletion set as of that version — one
    // `pt<TAB>md5(key)` line per suppressed row, md5-addressed so the
    // sidecar's content is deterministic (hash-gateable) and quotes no
    // key text. Reads resolve the newest d ≤ their version and apply
    // the set as a broadcast anti-join (takedown-sized by the purge
    // contract); a version with no own d-file inherits the previous —
    // the manifest device. Rewriting publishes MATERIALIZE the vector:
    // merge/compaction/rewrite-purge read dv-filtered, so a rewritten
    // bucket's entries retire from the carried file. A DV is NOT byte
    // erasure — the suppressed rows' bytes stay in the data files
    // until a rewrite touches their bucket; [[purge]] composes the
    // rewrite for the compliance path. `_dv` files are md5-only and
    // never vacuumed (older versions inherit through them).

    /** Live deletion set as of `version`: (escaped pt, md5(key)). */
    def dvAt(version: Long): Seq[(String, String)] =
      StoreMeta.dv(path, version)

    private def writeDvFile(version: Long,
        entries: Seq[(String, String)]): Unit = {
      val d = Paths.get(path, "_dv")
      Files.createDirectories(d)
      val tmp = d.resolve(s"d=$version.tmp")
      Files.write(tmp, entries.sorted
        .map { case (pt, h) => s"$pt\t$h" }.mkString("\n").getBytes)
      Files.move(tmp, d.resolve(s"d=$version"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    /** Carry the deletion vector across a publish that REWRITES the
      * `rewritten` buckets: their entries materialized (the rewrite
      * read dv-filtered), everything else carries. No-op when no
      * vector exists. */
    private def carryDv(next: Long, rewritten: Set[String]): Unit = {
      val prev = dvAt(currentVersion)
      if (prev.nonEmpty) writeDvFile(next, prev.filterNot(e => rewritten(e._1)))
    }

    /** Suppress a deletion set's rows from a read — a broadcast
      * anti-join, takedown-sized by the purge contract. Partitioned
      * tables (the only kind that can carry a vector) match on
      * (bucket, md5(key)), not the hash alone: with an arbitrary
      * partitioning expression a key re-inserted into a DIFFERENT
      * bucket than its entry's must not be suppressed — the merge only
      * materializes entries for buckets it rewrites, so hash-only
      * matching would swallow the new row silently. Every row's
      * physical bucket equals the expression evaluated over its columns
      * (all write paths derive the directory from the same expression
      * on the same row data), so the probe side recomputes it; the
      * entries' path-escaped bucket unescapes driver-side (the set is
      * takedown-sized). */
    private def applyDv(df: DataFrame, dv: Seq[(String, String)]): DataFrame =
      if (dv.isEmpty) df
      else {
        import spark.implicits._
        partitioning match {
          case Some(pexpr) =>
            val dvDf = dv.map { case (pt, h) =>
              (ExternalCatalogUtils.unescapePathName(pt), h) }
              .distinct.toDF("_dvpt", "_dvh")
            df.join(broadcast(dvDf),
              ptCol(pexpr) === col("_dvpt") &&
                md5(col(keyName)) === col("_dvh"), "left_anti")
          case None =>   // unreachable: flat tables refuse dv at purge
            val dvDf = dv.map(_._2).distinct.toDF("_dvh")
            df.join(broadcast(dvDf), md5(col(keyName)) === col("_dvh"),
              "left_anti")
        }
      }

    /** Canonical string form of the partitioning layout, persisted in the
      * archive `_config` on first publish and REQUIRED to match on every
      * later open: the manifest format, directory layout, and the pruned
      * merge read all assume one stable key→partition mapping, so reopening
      * a partitioned table unpartitioned (or with a different expression /
      * bucket count) would silently drop carried-by-reference partitions or
      * duplicate keys. The expression's canonical string form is the
      * descriptor — deterministic for a deterministic expression tree
      * WITHIN one Spark version. A Spark upgrade that changes expression
      * pretty-printing makes the same expression stringify differently,
      * which surfaces as a (false-positive) mismatch on open — safe
      * direction, and the error message names the recovery: after
      * manually confirming the layout, update the `partitioning` key via
      * [[setConfig]]. */
    private def partitioningDescriptor: String =
      partitioning.map(_.toString).getOrElse("none")

    /** Fails fast on a layout mismatch instead of returning wrong data.
      * Descriptor-less tables with published versions (pre-guard legacy)
      * are checked STRUCTURALLY: the on-disk manifest dir distinguishes
      * partitioned from flat, so at least that axis of mismatch cannot
      * slip through — nor get the wrong descriptor pinned by a later
      * merge. (A legacy bucket-count mismatch is not detectable from
      * disk; descriptor-less tables are upgraded on their next
      * same-layout merge.) */
    private def validatePartitioning(): Unit = {
      validateSchema()
      validatePartitioningLayout()
    }

    private def validatePartitioningLayout(): Unit = config.get(PartKey) match {
      case Some(stored) =>
        val mine = partitioningDescriptor
        require(stored == mine,
          s"UpsertTable at $path was published with partitioning '$stored' " +
            s"but reopened with '$mine'; reopen with the original partition " +
            "expression (the layout is fixed at first publish). If the " +
            "expression is actually identical and only its string form " +
            "changed (e.g. a Spark upgrade), verify the layout and update " +
            "the 'partitioning' config key via setConfig.")
      case None =>
        if (currentVersion >= 0) {
          val hasManifest = Files.exists(Paths.get(path, "_manifest"))
          require(partitioning.isDefined == hasManifest,
            s"UpsertTable at $path has published versions with " +
              s"${if (hasManifest) "a partitioned" else "a flat"} layout but " +
              s"was opened ${if (partitioning.isDefined) "partitioned" else "flat"}; " +
              "reopen with the original layout")
        }
    }

    def current: DataFrame = at(currentVersion)

    /** Partition value as an escaped, path/manifest-safe string. */
    private def ptCol(e: Column): Column =
      coalesce(e.cast("string"), lit("_null_"))

    /** Write-task alignment for a partitioned publish: each bucket in
      * exactly one task (one file per touched leaf, [[oneTaskPerBucket]]);
      * with outputPartitions = n > 1 a deterministic key salt spreads
      * each bucket over ≤ n tasks/files for intra-bucket write
      * parallelism. Either way the file count is a per-bucket contract,
      * never tasks×buckets (the coalesce+partitionBy fan-out shape). */
    private def alignToBuckets(df: DataFrame): DataFrame =
      outputPartitions.filter(_ > 1) match {
        case Some(n) => df.repartition(col(PartCol),
          pmod(xxhash64(col(Merge.KeyCol)), lit(n.toLong)))
        case None => oneTaskPerBucket(df)
      }

    private def shufflePartitions: Int =
      spark.conf.get("spark.sql.shuffle.partitions").toInt

    /** Each bucket of `df` (its `pt` column) in exactly one write task.
      * An integral partition value ([[Livestream.keyBucket]]) goes to
      * task value mod k, k = the shuffle partitions: consecutive buckets
      * land in different tasks, and the explicit count keeps AQE from
      * coalescing the write into one task. Any other partition value is
      * hashed over the shuffle partitions. */
    private def oneTaskPerBucket(df: DataFrame): DataFrame =
      if (integralPartitions) {
        val k = shufflePartitions
        df.repartitionById(k, coalesce(
          pmod(col(PartCol).try_cast(LongType), lit(k.toLong)), lit(0L)).cast(IntegerType))
      } else df.repartition(col(PartCol))

    private lazy val integralPartitions: Boolean = partitioning.exists(p =>
      emptyLike.select(p).schema.head.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })

    /** [[Merge.upsert]]'s `clusterSlots` for a merge touching the
      * partition values `sorted`: value i goes to task i mod k,
      * k = min(|sorted|, shuffle partitions). */
    private def rankSlots(sorted: Seq[String]): (Int, Column) = {
      val k = math.min(sorted.size, shufflePartitions)
      val ranks = typedLit(sorted.zipWithIndex.map { case (v, i) => v -> i % k }.toMap)
      (k, coalesce(element_at(ranks, col(PartCol)), lit(0)))
    }

    /** The manifest of a version: live partition value → version that last
      * rewrote it. Values are stored path-escaped (one `v<TAB>pt` line per
      * partition), so the manifest line format and the directory name
      * agree byte-for-byte. */
    def manifest(version: Long): Map[String, Long] =
      StoreMeta.manifest(path, version)

    private def writeManifest(version: Long, m: Map[String, Long]): Unit = {
      val dir = Paths.get(path, "_manifest")
      Files.createDirectories(dir)
      val tmp = dir.resolve(s"m=$version.tmp")
      Files.write(tmp, m.toSeq.sortBy(_._1)
        .map { case (pt, v) => s"$v\t$pt" }.mkString("\n").getBytes)
      Files.move(tmp, dir.resolve(s"m=$version"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    /** Leaf directory of one partition in one version. */
    private def leaf(v: Long, escapedPt: String) =
      Paths.get(path, s"v=$v", s"$PartCol=$escapedPt")

    /** Read a set of (escapedPt → version) partitions as one frame at
      * an explicit schema generation. `basePath` recovers the `v`/`pt`
      * directory levels as columns, which are bookkeeping and dropped —
      * data files carry the entity columns. The explicit schema both
      * skips the per-open footer-inference pass over every pruned leaf
      * (at many leaves that inference is a second full file-listing's
      * worth of IO) and IS the evolution mechanism: leaves written
      * under an older, narrower generation null-fill the later
      * columns. */
    private def readParts(m: Map[String, Long],
        schema: org.apache.spark.sql.types.StructType,
        dv: Seq[(String, String)]): DataFrame =
      if (m.isEmpty) emptyFrame(schema)
      else applyDv(spark.read.option("basePath", path).schema(schema)
        .parquet(m.toSeq.map { case (pt, v) => leaf(v, pt).toString }: _*)
        .drop("v", PartCol), dv)

    private def readParts(m: Map[String, Long],
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      readParts(m, schema, dvAt(currentVersion))

    private def readParts(m: Map[String, Long]): DataFrame =
      readParts(m, currentSchema, dvAt(currentVersion))

    /** Flat-table version read at an explicit schema generation. Flat
      * tables never carry a deletion vector (no buckets to avoid
      * rewriting — [[purgeKeys]]'s dv mode refuses them). */
    private def readFlat(version: Long,
        schema: org.apache.spark.sql.types.StructType): DataFrame =
      if (version < 0 || !Files.exists(Paths.get(path, s"v=$version")))
        emptyFrame(schema)
      else spark.read.schema(schema).parquet(s"$path/v=$version")

    /** Time travel: read a specific published version (−1 or a vacuumed
      * version yields the empty frame), in the SCHEMA GENERATION in
      * force at that version and under its deletion vector. */
    def at(version: Long): DataFrame = {
      validatePartitioning()
      partitioning match {
        case Some(_) =>
          readParts(manifest(version), schemaAt(version), dvAt(version))
        case None => readFlat(version, schemaAt(version))
      }
    }

    /** Is a published version still readable (not vacuumed)? Partitioned
      * tables answer from the manifest file, flat ones from the version
      * dir. −1 (the empty pre-first-publish state) is always available. */
    def versionAvailable(v: Long): Boolean =
      v == -1L || (v >= 0 && v <= currentVersion && (partitioning match {
        case Some(_) => Files.exists(Paths.get(path, "_manifest", s"m=$v"))
        case None => Files.exists(Paths.get(path, s"v=$v"))
      }))

    /** Version-range CDC read — the `table_changes(v1, v2)` / Delta CDF
      * analog: every key whose row differs between the two published
      * snapshots, classified `insert` (key absent at `fromV`), `delete`
      * (absent at `toV`), or `update` (present in both, any non-key
      * column changed), with the non-key columns flattened as
      * before_<c> / after_<c> ([[graft.operators.Scd.diff]]'s shape).
      * `changes(v, v)` is empty; `changes(-1, v)` is the full snapshot
      * as inserts. A key upserted in several batches inside the range
      * collapses to ONE net row (CDC between ENDPOINTS, not a replay of
      * intermediate batches — consumers wanting per-batch granularity
      * walk consecutive versions).
      *
      * Scale shape: on a partitioned table the read is MANIFEST-PRUNED —
      * a partition whose manifest entry is the same version in both
      * snapshots is carried by reference (byte-identical files), so only
      * re-pointed partitions are scanned. A 30 s micro-batch against a
      * 100 TB table touches a handful of buckets; the CDC read pays
      * |touched partitions| twice plus one key-join over them — never
      * two full snapshots. The join keys are already co-bucketed by the
      * table's own partitioning.
      *
      * Tombstoned entities are rows like any other here (storage-level
      * CDC): a row whose tombstone flag flips surfaces as `update`.
      * Both endpoints must still be readable — a VACUUMED `fromV` would
      * silently classify the whole table as inserts, so it throws
      * instead. */
    def changes(fromV: Long, toV: Long): DataFrame = {
      validatePartitioning()
      require(fromV <= toV, s"changes($fromV, $toV): range must ascend")
      require(versionAvailable(fromV),
        s"changes: version $fromV is not readable (never published, or " +
          "vacuumed — a missing base would misreport the snapshot as all " +
          "inserts); re-baseline from changes(-1, v)")
      require(versionAvailable(toV),
        s"changes: version $toV is not readable (never published or vacuumed)")
      // a MIGRATION boundary inside the range switches to the
      // per-generation diff: the widen-only read-alignment below cannot
      // express a rename/retype (old files would read wrong under the
      // new shape), so before/after images surface at their own
      // generations instead
      if (migrations.exists(m => m > fromV && m <= toV))
        return changesAcrossMigration(fromV, toV)
      // both endpoints read at the TO-side schema generation: across an
      // evolution boundary the before image null-fills the new columns
      // (so a key whose new column gains a value surfaces as an update
      // with a null before-image — the widening IS ordinary CDC), and a
      // key untouched by the boundary merge diffs equal on both sides
      val cmpSchema = schemaAt(toV)
      val (before, after) = partitioning match {
        case Some(_) =>
          val m1 = manifest(fromV); val m2 = manifest(toV)
          val dv1 = dvAt(fromV); val dv2 = dvAt(toV)
          // a DV-only purge re-points NOTHING (the manifest carries by
          // reference) — the deletes live in the VECTOR delta, so the
          // newly-suppressed entries' buckets join both sides: same
          // files, different vector, the purged keys read only on the
          // before side and classify `delete`; bucket-mates cancel
          val dvDeltaPts = (dv2.toSet -- dv1.toSet).map(_._1)
          val b = m1.filter { case (pt, v) =>
            !m2.get(pt).contains(v) || dvDeltaPts(pt) }
          val a = m2.filter { case (pt, v) =>
            !m1.get(pt).contains(v) || dvDeltaPts(pt) }
          (readParts(b, cmpSchema, dv1), readParts(a, cmpSchema, dv2))
        case None => (readFlat(fromV, cmpSchema), readFlat(toV, cmpSchema))
      }
      val key = cmpSchema.fieldNames
        .find(_.equalsIgnoreCase(Merge.KeyCol)).get
      val compare = cmpSchema.fieldNames.filterNot(_ == key).toSeq
      graft.operators.Scd.diff(before, after, key, compare)
        .withColumn("kind",
          when(col("change") === "added", lit("insert"))
            .when(col("change") === "removed", lit("delete"))
            .otherwise(lit("update")))
        .drop("change")
    }

    /** Refresh the table's file-level zone map ([[graft.sources.ZoneMap]]
      * sidecar) for the CURRENT version — a maintenance call like
      * [[optimize]]/[[vacuum]], the Delta checkpoint-stats analog.
      * INCREMENTAL: leaf files are immutable once published (a touched
      * bucket gets NEW files under the new version), so only files not
      * yet covered are aggregated — calling this after each merge costs
      * one stats pass over the batch's touched buckets, never the table.
      * Stats for files no longer referenced (vacuumed / compacted away /
      * superseded) are dropped to keep the sidecar bounded by the live
      * file count.
      *
      * Zone maps prune where the layout clusters the column: on a
      * range-partitioned table a key-range scan skips whole buckets; on
      * the default hash-bucket layout key ranges scatter and the map
      * degrades to a no-op — correctness never depends on it (uncovered
      * files are always read). */
    def refreshZoneMap(cols: Seq[String]): Unit = {
      validatePartitioning()
      if (currentVersion < 0) return
      val live = current.inputFiles.toSeq
      val liveSet = live.toSet
      val existing = graft.sources.ZoneMap.read(path)
        .filter(s => liveSet.contains(s.file))
      // coverage is per (file, col), not per file: a later refresh that
      // WIDENS the column set must backfill stats for files already
      // covered under the old set — else those files silently stay
      // unprunable on the new column forever
      val covered = existing.map(s => (s.file, s.col)).toSet
      val missing = live.filter(f => cols.exists(c => !covered((f, c))))
      val missingSet = missing.toSet
      val fresh =
        if (missing.isEmpty) Seq.empty
        else graft.sources.ZoneMap.fileStats(
          spark.read.option("basePath", path).schema(currentSchema)
            .parquet(missing: _*), cols)
      // fresh recomputes ALL requested cols for the backfilled files —
      // drop the superseded rows so (file, col) stays unique
      val kept = existing.filterNot(s =>
        missingSet(s.file) && cols.contains(s.col))
      graft.sources.ZoneMap.write(path, kept ++ fresh)
    }

    /** Refresh the table's per-file BLOOM sidecar
      * ([[graft.sources.ZoneMap.BloomStat]]) for the CURRENT version —
      * the equality/IN complement of [[refreshZoneMap]]: a point lookup
      * on a high-cardinality column prunes files whose bloom provably
      * lacks the value even when every file's [min, max] straddles it.
      * INCREMENTAL like the zone map: leaf files are immutable once
      * published, so only uncovered files aggregate (one positions pass
      * over the touched buckets); stats for dead files drop. Consulted
      * by [[scanAuto]]'s FileIndex for pushed =/IN constraints. */
    def refreshBloom(cols: Seq[String], mBits: Int = 262144,
        k: Int = 3): Unit = {
      validatePartitioning()
      if (currentVersion < 0) return
      val live = current.inputFiles.toSeq
      val liveSet = live.toSet
      val existing = graft.sources.ZoneMap.readBloom(path)
        .filter(b => liveSet.contains(b.file) && b.mBits == mBits && b.k == k)
      // per-(file, col) coverage, the refreshZoneMap contract: widening
      // `cols` backfills blooms for already-covered files
      val covered = existing.map(b => (b.file, b.col)).toSet
      val missing = live.filter(f => cols.exists(c => !covered((f, c))))
      val missingSet = missing.toSet
      val fresh =
        if (missing.isEmpty) Seq.empty
        else graft.sources.ZoneMap.fileBloomStats(
          spark.read.option("basePath", path).schema(currentSchema)
            .parquet(missing: _*), cols, mBits, k)
      val kept = existing.filterNot(b =>
        missingSet(b.file) && cols.contains(b.col))
      graft.sources.ZoneMap.writeBloom(path, kept ++ fresh)
    }

    /** Range scan of the current version through the zone map: files
      * whose recorded [min, max] for `c` excludes [lo, hi] are never
      * handed to Spark; uncovered files are read (conservative). The
      * residual predicate always applies — the map bounds, it does not
      * prove membership. */
    def scanRange(c: String, lo: Long, hi: Long): DataFrame =
      scanPruned(c, lo.toString, hi.toString, col(c) >= lo && col(c) <= hi)

    /** String-range overload (UTF-8 byte order — Spark's min/max order);
      * the natural form for the merge key. */
    def scanRangeKey(lo: String, hi: String): DataFrame = {
      val key = keyName
      scanPruned(key, lo, hi, col(key) >= lo && col(key) <= hi)
    }

    private def scanPruned(c: String, lo: String, hi: String,
        residual: Column): DataFrame = {
      validatePartitioning()
      val cur = current
      val (kept, _) = graft.sources.ZoneMap.pruneFiles(
        graft.sources.ZoneMap.read(path), cur.inputFiles.toSeq, c, lo, hi)
      if (kept.isEmpty) cur.filter(residual).limit(0)
      else applyDv(spark.read.option("basePath", path).schema(currentSchema)
        .parquet(kept: _*).drop("v", PartCol), dvAt(currentVersion))
        .filter(residual)
    }

    /** Catalyst-integrated read of the CURRENT version: the manifest's
      * live files behind a zone-map-aware FileIndex
      * ([[org.apache.spark.sql.graftshim.ZoneMapFileIndex]]), so ANY
      * pushed predicate a consumer writes — not just the explicit
      * bounds [[scanRange]] takes — prunes files at planning time
      * against the [[refreshZoneMap]] sidecar. The index rides along
      * for skip observability. Files the sidecar does not cover are
      * always read; with no sidecar at all this is exactly `current`.
      * Partition-directory levels in the file paths are ignored (the
      * same v/PartCol drop `readParts` performs, done structurally:
      * the index parses no partition values). */
    def scanAuto(): (DataFrame,
        org.apache.spark.sql.graftshim.ZoneMapFileIndex) = {
      validatePartitioning()
      val (df, idx) = org.apache.spark.sql.graftshim.ZoneMapScan.scanFiles(
        spark, current.inputFiles.toSeq, currentSchema,
        graft.sources.ZoneMap.read(path),
        graft.sources.ZoneMap.readBloom(path))
      (applyDv(df, dvAt(currentVersion)), idx)
    }

    /** Pruned read of ONE partition value (e.g. one archive target): only
      * that partition's files are listed — the partition analog of the
      * reference's open-one-SQLite-file access path. */
    def partition(value: String): DataFrame = partitioning match {
      case Some(_) =>
        validatePartitioning()
        val pt = ExternalCatalogUtils.escapePathName(value)
        readParts(manifest(currentVersion).view.filterKeys(_ == pt).toMap)
      case None => throw new UnsupportedOperationException(
        s"UpsertTable at $path is unpartitioned: partition($value) has no " +
          "pruned access path — read `current` and filter, or publish with " +
          "a partitioning expression")
    }

    private def emptyEdits: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Schemas.edits(entity.editTextCol))

    /** The CDC log up to the CURRENT version — edit batches staged under a
      * not-yet-published version are invisible until the pointer moves. */
    def edits: DataFrame = {
      val d = Paths.get(path, "edits")
      val hasFiles = Files.exists(d) && {
        val s = Files.list(d)
        try s.findFirst().isPresent finally s.close()
      }
      if (!hasFiles) emptyEdits
      else spark.read.parquet(s"$path/edits")
        .filter(col("ev") <= currentVersion)
        .drop("ev")
    }

    // ==== takedown / right-to-erasure ===================================

    private def keyName: String = emptyLike.schema.fieldNames
      .find(_.equalsIgnoreCase(Merge.KeyCol)).get

    /** `keys` as a one-column frame carrying the merge key. */
    private def keysFrame(keys: Seq[String]): DataFrame = {
      import spark.implicits._
      keys.toDF(keyName)
    }

    /** Candidate buckets of a key/value frame under the table's
      * partition expression: evaluated over the frame (which must carry
      * the columns the expression reads), escaped to manifest form,
      * intersected with the published buckets. Driver-side, bounded by
      * |frame's distinct partition values| ≤ bucket count. */
    private def candidateBuckets(keysDf: DataFrame, pexpr: Column): Set[String] =
      keysDf.select(ptCol(pexpr).as(PartCol))
        .agg(collect_set(col(PartCol))).head().getSeq[String](0)
        .map(ExternalCatalogUtils.escapePathName).toSet
        .filter(manifest(currentVersion).contains)

    /** Manifest-pruned read of ONLY the buckets a key/value set maps to
      * under the table's partitioning — the CO-PARTITIONED RESCAN access
      * path: when a table is bucketed by the column a consumer probes
      * (e.g. a fact store bucketed by its JOIN key feeding
      * [[graft.operators.Scd.cdcApplyJoin]]'s F⋈ΔD branch), the rescan
      * reads the probe set's buckets, never the table. `keysDf` must
      * carry the columns the partition expression reads. The read is a
      * SUPERSET of the probed keys' rows (bucket-mates ride along) —
      * the caller's own join/filter is the residual, so false extras
      * are correctness-neutral. Flat tables have no pruned path and
      * return the full current snapshot. */
    def scanForKeys(keysDf: DataFrame): DataFrame = {
      validatePartitioning()
      partitioning match {
        case None => current
        case Some(pexpr) =>
          if (currentVersion < 0) emptyLike.limit(0)
          else {
            val cand = candidateBuckets(keysDf, pexpr)
            readParts(manifest(currentVersion).view.filterKeys(cand).toMap)
          }
      }
    }

    /** TAKEDOWN: hard-delete keys from the table — publish version N+1
      * whose snapshot no longer carries them. The one legally-mandatory
      * operator of an LLM training-data pipeline (takedown requests,
      * opt-outs, right-to-erasure): the merge layer's tombstones model
      * the reference's `[deleted]` TEXT semantics (Merge.keepExistingText)
      * but deliberately keep the row; this removes it.
      *
      * PRUNED like a merge: the partition expression is key-stable, so a
      * key's rows can only live in the bucket the expression maps it to —
      * the rewrite reads and rewrites ONLY buckets that actually hold
      * purged rows (≤ |keys|), never the table; a takedown of K documents
      * against a 100 TB store costs K bucket rewrites. A bucket whose
      * every row is purged DROPS from the manifest entirely. After the
      * publish, `changes(N, N+1)` classifies each purged key as `delete`,
      * so downstream IVM views (cdcApply / cdcApplyMinMax / cdcApplyJoin)
      * retire the rows through their existing delete algebra — the purge
      * propagates to consumers as ordinary CDC.
      *
      * This removes keys from the CURRENT snapshot only: superseded
      * versions still hold the bytes (time travel) and the CDC log may
      * quote purged text — [[purge]] composes the full erasure act.
      *
      * `keysDf` must carry the merge key column plus whatever other
      * columns the partitioning expression reads (the default
      * [[Livestream.keyBucket]] reads only the key; an expression over a
      * missing column fails analysis LOUDLY rather than scanning wrong
      * buckets). The request is takedown-sized by contract — it rides a
      * broadcast.
      *
      * ==`dv = true`: the merge-on-read small purge==
      * Publishes a DELETION-VECTOR version instead of rewriting: the
      * manifest carries every bucket BY REFERENCE and `_dv/d=<N+1>`
      * gains the purged rows' (bucket, md5(key)) entries — bytes
      * written are sidecar-sized, not bucket-sized, so a 1-key
      * takedown against a 1 GB bucket costs a few hundred bytes.
      * Every read path applies the vector (scan, time travel, CDC,
      * the pruned merge read); `changes` still classifies the purge
      * as ordinary `delete`s; the next rewrite of a bucket (merge,
      * [[optimize]], a rewrite purge) MATERIALIZES its entries. A DV
      * is NOT byte erasure — the rows' bytes stay in the data files
      * until materialized, and the CDC log is untouched: for the
      * compliance path use [[purge]], which composes the rewrite,
      * the vacuum, and the edits scrub. Partitioned tables only (a
      * flat table has no buckets to avoid rewriting — refused
      * loudly).
      *
      * @return number of rows removed; 0 ⇒ nothing published (idempotent:
      *         re-purging the same keys is a no-op). */
    def purgeKeys(keysDf: DataFrame, dv: Boolean = false): Long = {
      validatePartitioning()
      if (currentVersion < 0) return 0L
      require(!dv || partitioning.isDefined,
        s"UpsertTable at $path is unpartitioned: a deletion-vector purge " +
          "has no bucket rewrite to avoid — use the rewrite path " +
          "(purgeKeys without dv)")
      val key = keyName
      val keys = keysDf.select(col(key).as("_pk"))
        .filter(col("_pk").isNotNull).distinct()
        .localCheckpoint(false)
      val next = currentVersion + 1
      guardStagedSchema(next)
      if (dv) {
        val pexpr = partitioning.get
        val prev = manifest(currentVersion)
        val cand = candidateBuckets(keysDf, pexpr)
        if (cand.isEmpty) return 0L
        // rows actually live (readParts is vector-filtered, so re-purging
        // already-suppressed keys finds nothing) — takedown-sized collect
        val hits = readParts(prev.view.filterKeys(cand).toMap)
          .join(broadcast(keys), col(key) === col("_pk"), "left_semi")
          .select(ptCol(pexpr).as(PartCol), md5(col(key)).as("_h"))
          .collect()
        if (hits.isEmpty) return 0L
        val fresh = hits.map(r =>
          (ExternalCatalogUtils.escapePathName(r.getString(0)),
            r.getString(1))).toSeq
        committing(next) {
          writeManifest(next, prev)               // carried by reference
          writeDvFile(next, dvAt(currentVersion) ++ fresh)
          publishAndPin(next)
        }
        // the self-maintaining lifecycle: past the bound, compact the
        // suppressed buckets NOW instead of letting the sidecar (and
        // its broadcast anti-join) grow until buckets happen to rewrite
        dvAutoMaterialize.foreach { bound =>
          if (dvAt(currentVersion).size > bound) materializeDv()
        }
        return hits.length.toLong
      }
      partitioning match {
        case None =>
          val cur = at(currentVersion)
          val nPurged = cur
            .join(broadcast(keys), col(key) === col("_pk"), "left_semi")
            .count()
          if (nPurged == 0L) return 0L
          val remaining = cur
            .join(broadcast(keys), col(key) === col("_pk"), "left_anti")
          committing(next) {
            val out = outputPartitions.map(remaining.coalesce).getOrElse(remaining)
            out.write.mode("overwrite").parquet(s"$path/v=$next")
            publishAndPin(next)
          }
          nPurged
        case Some(pexpr) =>
          val prev = manifest(currentVersion)
          // candidate buckets from the keys frame through the SAME
          // key-stable partition expression the merges use
          val cand = candidateBuckets(keysDf, pexpr)
          if (cand.isEmpty) return 0L
          // buckets that actually HOLD purged rows + the purge count —
          // one driver-side aggregate bounded by |candidate buckets|
          val hits = readParts(prev.view.filterKeys(cand).toMap)
            .join(broadcast(keys), col(key) === col("_pk"), "left_semi")
            .select(ptCol(pexpr).as(PartCol))
            .groupBy(PartCol).count().collect()
          if (hits.isEmpty) return 0L
          val nPurged = hits.map(_.getLong(1)).sum
          val touched = hits
            .map(r => ExternalCatalogUtils.escapePathName(r.getString(0)))
            .toSet
          val remaining = readParts(prev.view.filterKeys(touched).toMap)
            .join(broadcast(keys), col(key) === col("_pk"), "left_anti")
          committing(next) {
            alignToBuckets(remaining.withColumn(PartCol, ptCol(pexpr)))
              .write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=$next")
            // a fully-purged bucket writes no leaf — it DROPS from the
            // manifest (unlike merge, where touched buckets always carry)
            val written = touched.filter(pt => Files.exists(leaf(next, pt)))
            writeManifest(next, (prev -- touched) ++ written.map(_ -> next))
            carryDv(next, touched)
            publishAndPin(next)
          }
          nPurged
      }
    }

    /** Scrub the CDC log of the purged keys: every `edits/ev=K` batch
      * dir holding a purged key's rows is rewritten without them. The
      * log is otherwise append-only permanent history (tsdb.py:88-99 —
      * [[vacuum]] never touches it); erasure is the ONE contract that
      * overrides permanence, because an edit row quotes the document's
      * previous text byte-for-byte.
      *
      * Each affected dir rewrites through a staging dir + rename; a
      * crash between delete and rename loses that batch's REMAINING
      * edit rows — the safe failure direction for an erasure act (never
      * retains purged bytes). A batch dir whose every row is purged is
      * deleted outright. Returns rows removed; idempotent. */
    def purgeEdits(keysDf: DataFrame): Long = {
      val key = keyName
      val d = Paths.get(path, "edits")
      if (!Files.exists(d)) return 0L
      val hasFiles = {
        val s = Files.walk(d)
        try s.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      if (!hasFiles) return 0L
      val keys = keysDf.select(col(key).as("_pk"))
        .filter(col("_pk").isNotNull).distinct()
        .localCheckpoint(false)
      val hit = spark.read.parquet(s"$path/edits")
        .join(broadcast(keys), col(key) === col("_pk"), "left_semi")
        .groupBy("ev").count().collect()
      var removed = 0L
      hit.foreach { r =>
        val ev = r.get(0)
        removed += r.getLong(1)
        val src = Paths.get(path, "edits", s"ev=$ev")
        val kept = spark.read.parquet(src.toString)
          .join(broadcast(keys), col(key) === col("_pk"), "left_anti")
        if (kept.isEmpty) {
          deleteDirTree(src)
        } else {
          // stage ≠ src, so the rewrite reads the intact source; the
          // source dir dies only after the staging write committed
          val stage = Paths.get(path, s"_edits_stage_ev_$ev")
          if (Files.exists(stage)) deleteDirTree(stage)
          val out = outputPartitions.map(kept.coalesce).getOrElse(kept)
          out.write.mode("overwrite").parquet(stage.toString)
          deleteDirTree(src)
          Files.move(stage, src)
        }
      }
      removed
    }

    private def deleteDirTree(d: java.nio.file.Path): Unit = {
      val files = Files.walk(d)
      try files.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally files.close()
    }

    /** The FULL right-to-erasure act: [[purgeKeys]] removes the keys
      * from the served snapshot; with `eraseHistory` (the default — for
      * a takedown, erasure is the point) the superseded versions'
      * bytes are reclaimed ([[vacuum]] to the purged version alone) and
      * the CDC log stops quoting the purged text ([[purgeEdits]]).
      *
      * After erasure, time travel ends at the purge and
      * `changes(olderV, …)` throws (the missing base is the erasure
      * working): IVM consumers must consume `changes(N, N+1)` — where
      * every purged key reads as `delete` — BETWEEN purgeKeys and the
      * erasure, or run `purge(keys, eraseHistory = false)` and erase
      * after the consumers catch up. Idempotent end to end. */
    def purge(keys: Seq[String], eraseHistory: Boolean = true): Long = {
      val kf = keysFrame(keys)
      val n = purgeKeys(kf)
      if (eraseHistory) { vacuum(keep = 1); purgeEdits(kf) }
      n
    }

    /** [[purge]] by PREDICATE — the form takedown requests actually
      * arrive in ("erase everything by author X / from domain Y"): the
      * keys resolve from the current snapshot by `pred`, then the same
      * erasure act runs. Resolution reads through [[scanAuto]], so a
      * sidecar-covered predicate column (zone map ranges, bloom =/IN)
      * prunes the resolution scan to candidate files instead of reading
      * the table — the part of a predicate takedown that would
      * otherwise be table-sized at 100 TB. The resolved frame carries
      * full rows, so any partitioning expression's columns are present
      * for the candidate-bucket derivation. The result must still be
      * takedown-sized (the [[purgeKeys]] broadcast contract) — a
      * predicate matching most of the table is a table rewrite, not a
      * takedown; reach for [[seed]]/filtered re-seed instead.
      * Idempotent: once purged, the predicate resolves zero rows.
      *
      * ==Erasure-completeness contract==
      * `pred` resolves keys from the CURRENT snapshot, so the edits
      * scrub is complete only when the predicate reads FROZEN /
      * key-stable columns (author, created, the key itself — the
      * shipped takedown gates). A predicate over an UPDATABLE column
      * (body, score) misses keys whose QUOTED BEFORE-IMAGE matched
      * while the current value no longer does — their purged-content
      * bytes would survive in the CDC log. For those, pass
      * `editsPred`: a predicate over the edits-log schema
      * (`idstr`, the entity's `previous_*` text column, `replaced_at`)
      * that additionally resolves keys from the log's before-images;
      * every edit row of a so-resolved key scrubs (over-scrubbing a
      * key's non-matching edit rows is the safe direction for an
      * erasure act — never the reverse). The rows themselves stay in
      * the snapshot (their current state does not match `pred`).
      *
      * Erasure runs on DRIVER-COLLECTED keys: the resolved frame's
      * lineage reads the pre-purge version's files, which
      * `vacuum(keep = 1)` deletes before the edits scrub re-reads it —
      * `localCheckpoint` is not fault-tolerant, so on a real cluster a
      * lost block would recompute against deleted files and kill the
      * act between the vacuum and the scrub. The key set is
      * takedown-sized by the [[purgeKeys]] broadcast contract, so
      * collecting it is the same cost class as the broadcast it
      * already rides. */
    /** [[purgeWhere]]'s DELETION-VECTOR form — the daily-batch
      * predicate takedown: keys resolve from the current snapshot by
      * `pred` (through the sidecar-pruned [[scanAuto]], like
      * purgeWhere), then [[purgeKeys]]`(dv = true)` publishes the
      * sidecar-sized vector version. No history vacuum, no edits
      * scrub — a DV is NOT erasure; this is the cheap suppress-now
      * path, with [[purgeWhere]] as the compliance act (its rewrite
      * later MATERIALIZES any vector entries its buckets carry).
      * Partitioned tables only (the purgeKeys dv contract).
      * Idempotent: suppressed rows no longer resolve. */
    def purgeWhereDv(pred: Column): Long = {
      if (currentVersion < 0) return 0L
      purgeKeys(scanAuto()._1.filter(pred).localCheckpoint(false), dv = true)
    }

    def purgeWhere(pred: Column, eraseHistory: Boolean = true,
        editsPred: Option[Column] = None): Long = {
      if (currentVersion < 0) return 0L
      // frozen before purgeKeys publishes, and read three times
      // (candidate buckets, the purge joins, the edits scrub)
      val kf = scanAuto()._1.filter(pred).localCheckpoint(false)
      val key = keyName
      // collected BEFORE purgeKeys/vacuum invalidate kf's lineage (see
      // the erasure-completeness contract above); the edits-side keys
      // resolve from the log, which vacuum never touches, but are
      // collected alongside so the whole act runs on local data
      val snapKeys =
        if (eraseHistory)
          kf.select(col(key)).distinct().collect().map(_.getString(0)).toSeq
        else Seq.empty[String]
      val editKeys = editsPred match {
        case Some(ep) if eraseHistory =>
          edits.filter(ep).select(col(key)).distinct()
            .collect().map(_.getString(0)).toSeq
        case _ => Seq.empty[String]
      }
      val n = purgeKeys(kf)
      if (eraseHistory) {
        vacuum(keep = 1)
        purgeEdits(keysFrame((snapKeys ++ editKeys).distinct))
      }
      n
    }

    /** Drop data no kept version references. Unpartitioned: version dirs
      * older than the `keep` most recent. Partitioned: a LEAF dir
      * `v=K/pt=X` survives as long as any kept manifest still points at it
      * (untouched partitions are carried by reference across versions, so
      * age alone never dooms a leaf). The CDC log is history and is never
      * vacuumed — the reference's edits tables are permanent
      * (tsdb.py:88-99). */
    def vacuum(keep: Int = 2): Unit = {
      require(keep >= 1)
      val cur = currentVersion
      if (cur < 0) return
      vacuumTo(cur - (keep - 1))
    }

    /** AGE-BASED retention — the compliance contract version count
      * cannot express ("purge history older than N days" breaks as a
      * keep-count proxy under variable trigger cadence): a version is
      * vacuum-eligible iff it is SUPERSEDED and its recorded publish
      * time is older than the horizon (`clock() - retainMillis`, on
      * the table's injectable clock). Versions published before
      * publish-time recording existed never age out — the safe
      * direction.
      *
      * `pinned` names versions that downstream basis-pointer artifacts
      * (StreamTopK `_BASIS`, StreamAnn generations) still catch up
      * from: retention REFUSES — loudly, nothing deleted — rather than
      * silently outrun a recorded basis; refresh the artifact (advance
      * its basis) and retry. Deliberate erasure stays [[purge]]'s job
      * (its vacuum is version-scoped, and the artifacts' documented
      * post-erasure catch-up is the reseed). */
    def vacuumRetain(retainMillis: Long, pinned: Seq[Long] = Nil): Unit = {
      require(retainMillis >= 0, s"retainMillis must be >= 0: $retainMillis")
      val cur = currentVersion
      if (cur < 0) return
      val horizon = clock() - retainMillis
      val times = publishTimes
      // the cutoff advances only through CONTIGUOUSLY-eligible versions
      // from the oldest: vacuumTo deletes EVERYTHING below the cutoff,
      // so a version with no recorded publish time (the pre-recording
      // table shape, promised to never age out) must BLOCK the cutoff,
      // not be skipped over — and the pinned guard compares against the
      // cutoff itself, so nothing below it can dodge the refusal by
      // being absent from the eligible set
      var cutoff = 0L
      while (cutoff < cur && times.get(cutoff).exists(_ < horizon))
        cutoff += 1
      if (cutoff == 0L) return
      val allPinned = pinned ++ registeredBases.values
      val doomedPins = allPinned.filter(_ < cutoff)
      require(doomedPins.isEmpty,
        s"vacuumRetain at $path would erase pinned version(s) " +
          s"${doomedPins.distinct.sorted.mkString(", ")} — retention must " +
          "not outrun a maintained artifact's recorded basis (caller-" +
          "pinned or registered under _bases/); refresh the artifact " +
          "(advance its basis past the horizon) and retry")
      vacuumTo(cutoff)
    }

    // ==== downstream-basis registry (the `_schema` sidecar device) ======
    //
    // Maintained artifacts (StreamTopK/StreamWindow/StreamAnn) record the
    // fact version they caught up to in their OWN roots — invisible to
    // retention unless the caller enumerates them. Registering the basis
    // UNDER THE FACT STORE's root on every artifact publish lets
    // [[vacuumRetain]] refuse by construction instead of by caller
    // discipline. Plain [[vacuum]]/[[purge]] deliberately do NOT consult
    // the registry: erasure outranks a stale artifact (the documented
    // post-erasure catch-up is the reseed).

    /** Record (or advance) a downstream artifact's basis pointer under
      * this table's root. `artifactId` is any stable identifier — the
      * artifact's own root path by convention; the filename is its md5
      * so arbitrary paths need no escaping. */
    def registerBasis(artifactId: String, basis: Long): Unit = {
      val d = Paths.get(path, "_bases")
      Files.createDirectories(d)
      val f = md5Hex(artifactId)
      val tmp = d.resolve(s"$f.tmp")
      Files.write(tmp, s"$artifactId\t$basis".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, d.resolve(f), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    /** Drop an artifact's registered basis (the artifact was retired). */
    def unregisterBasis(artifactId: String): Unit = {
      val f = Paths.get(path, "_bases", md5Hex(artifactId))
      if (Files.exists(f)) Files.delete(f)
    }

    /** Registered artifact bases: artifactId → basis version. */
    def registeredBases: Map[String, Long] = {
      val d = Paths.get(path, "_bases")
      if (!Files.exists(d)) return Map.empty
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      val files = try s.iterator().asScala.toList
        .filterNot(_.getFileName.toString.endsWith(".tmp"))
      finally s.close()
      files.flatMap { f =>
        val l = new String(Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8)
        val i = l.lastIndexOf('\t')
        if (i <= 0) None else Some(l.substring(0, i) -> l.substring(i + 1).trim.toLong)
      }.toMap
    }

    private def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString

    // ==== savepoint pins (the [[Savepoint]] components) =================

    /** The table's root directory — the identity [[Savepoint]] vectors
      * key on. */
    def tablePath: String = path

    /** Versions pinned by published savepoints: savepoint name →
      * version. [[vacuumTo]] refuses to erase below any of them. */
    def savepointPins: Map[String, Long] = {
      val d = Paths.get(path, "_savepoints")
      if (!Files.exists(d)) return Map.empty
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      val files = try s.iterator().asScala.toList
        .filterNot(_.getFileName.toString.endsWith(".tmp"))
      finally s.close()
      files.map(f => f.getFileName.toString ->
        new String(Files.readAllBytes(f)).trim.toLong).toMap
    }

    private[streaming] def pinSavepoint(name: String, version: Long): Unit = {
      val d = Paths.get(path, "_savepoints")
      Files.createDirectories(d)
      val tmp = d.resolve(s"$name.tmp")
      Files.write(tmp, version.toString.getBytes)
      Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    private[streaming] def unpinSavepoint(name: String): Unit = {
      val f = Paths.get(path, "_savepoints", name)
      if (Files.exists(f)) Files.delete(f)
    }

    // ==== explicit migration (the non-widening half) =====================

    /** Migration boundaries: versions published by [[migrate]], recorded
      * in `_migrations` (atomic rewrite). [[changes]] crossing one
      * switches to the per-generation diff shape. */
    def migrations: Seq[Long] = StoreMeta.migrations(path)

    private def recordMigration(v: Long): Unit = {
      val all = (migrations :+ v).distinct.sorted
      val tmp = Paths.get(path, "_migrations.tmp")
      Files.write(tmp, all.mkString("\n").getBytes)
      Files.move(tmp, Paths.get(path, "_migrations"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    /** A rewriting publisher must not silently ADOPT a schema generation
      * staged for its target version by a crashed [[migrate]]: the
      * pointer move would make the orphan live and serve old-shape data
      * under the migrated schema. A staged generation matching this
      * handle's own schema is the publisher's OWN replay (the evolving
      * merge's retry-idempotence contract) and passes. */
    private def guardStagedSchema(next: Long): Unit = {
      val f = Paths.get(path, "_schema", s"s=$next")
      if (!Files.exists(f)) return
      val staged = org.apache.spark.sql.types.DataType
        .fromJson(new String(Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(staged == emptyLike.schema,
        s"UpsertTable at $path: version $next has a STAGED schema " +
          s"generation from a crashed migration (staged " +
          s"${staged.simpleString}); re-run the migrate() that staged " +
          "it — publishing over it would serve old-shape data under " +
          "the migrated schema")
    }

    /** EXPLICIT MIGRATION — the sanctioned path THROUGH what
      * [[validateSchema]] refuses (rename / drop / retype): publish a
      * whole-table rewrite under a NEW schema generation. `transform`
      * maps the current snapshot (old generation) to the new shape; its
      * output must carry every column of `to` (aligned and cast here —
      * a missing column fails loudly), including the merge key under
      * its existing name (keys are identity, not shape). The reference
      * analog is the sequential database upgrader
      * (utilities/database_upgrader.py:24-49) — a versioned rewrite per
      * schema step, not an in-place mutation.
      *
      * Contract:
      *  - CRASH-SAFE: data, manifest, schema generation, and the
      *    migration marker all stage under version N+1; the `_VERSION`
      *    pointer moves LAST, so a crash anywhere leaves the old
      *    version serving and a re-run overwrites the staging. Other
      *    publishers refuse a crashed migration's staged generation
      *    ([[guardStagedSchema]]) instead of adopting it.
      *  - THIS HANDLE IS DONE after a successful migrate: its
      *    construction schema no longer matches the recorded
      *    generation, so every subsequent call refuses (the widen-only
      *    validator working as designed). Reopen with the new schema.
      *  - CDC IS DEFINED ACROSS THE BOUNDARY: [[changes]] over a range
      *    crossing the migration emits every surviving key as an
      *    `update` whose before-image carries the OLD generation's
      *    columns and after-image the NEW generation's (each at its own
      *    shape); rows the transform dropped are `delete`s, rows it
      *    created `insert`s. The rewrite re-images every row by
      *    construction, so "everything is an update" is the truth, not
      *    an approximation.
      *  - The rewrite reads dv-filtered and touches every bucket, so
      *    any deletion vector fully materializes.
      *  - SAME-SCHEMA rewrites are refused — that is [[optimize]]'s
      *    job, and a no-op boundary would make every later CDC range
      *    crossing it pay the full-snapshot diff for nothing.
      *
      * Scale: ONE whole-table rewrite — the honest cost of a rename or
      * retype on immutable files; widening stays [[merge]]'s zero-
      * rewrite evolution path. */
    def migrate(to: org.apache.spark.sql.types.StructType,
        transform: DataFrame => DataFrame): Unit = {
      validatePartitioning()
      val cur = currentVersion
      require(cur >= 0, s"migrate at $path: nothing published")
      require(to.fieldNames.exists(_.equalsIgnoreCase(Merge.KeyCol)),
        s"migrate at $path: the target schema must keep the merge key " +
          s"'${Merge.KeyCol}' (keys are identity, not shape)")
      require(to.json != schemaAt(cur).json,
        s"migrate at $path: target schema equals the recorded " +
          "generation — a same-schema rewrite is optimize()'s job")
      val next = cur + 1
      val out = transform(at(cur))
      val missing = to.fieldNames
        .filterNot(f => out.columns.exists(_.equalsIgnoreCase(f)))
      require(missing.isEmpty,
        s"migrate at $path: transform output lacks target column(s) " +
          s"[${missing.mkString(", ")}]")
      val aligned = out.select(to.fields.toSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      committing(next) {
        partitioning match {
          case None =>
            val o = outputPartitions.map(aligned.coalesce).getOrElse(aligned)
            o.write.mode("overwrite").parquet(s"$path/v=$next")
          case Some(pexpr) =>
            alignToBuckets(aligned.withColumn(PartCol, ptCol(pexpr)))
              .write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=$next")
            // manifest from the directories actually written (the seed
            // device) — every bucket re-points to the migration version
            import scala.jdk.CollectionConverters._
            val s = Files.list(Paths.get(path, s"v=$next"))
            val pts = try s.iterator().asScala.map(_.getFileName.toString)
              .filter(_.startsWith(s"$PartCol=")).map(_.drop(PartCol.length + 1))
              .toList
            finally s.close()
            writeManifest(next, pts.map(_ -> next).toMap)
        }
        // the rewrite read dv-filtered and re-imaged every bucket — the
        // whole vector materializes
        carryDv(next, dvAt(cur).map(_._1).toSet)
        writeSchemaFile(next, to)
        recordMigration(next)
        publishAndPin(next)
      }
    }

    /** [[changes]] across a [[migrate]] boundary: before/after images
      * each at their OWN generation (the range endpoints' shapes). */
    private def changesAcrossMigration(fromV: Long, toV: Long): DataFrame = {
      val key = keyName
      val before = at(fromV)
      val after = at(toV)
      require(after.columns.exists(_.equalsIgnoreCase(key)),
        s"changes at $path: post-migration schema lost the merge key")
      val bCols = before.columns.filterNot(_.equalsIgnoreCase(key)).toSeq
      val aCols = after.columns.filterNot(_.equalsIgnoreCase(key)).toSeq
      // the Scd.diff pairing with asymmetric columns: each side packs
      // its own generation's columns into a struct, presence = struct
      // non-nullness
      graft.operators.Scd.pairByKey(before, bCols, after, aCols, key)
        .withColumn("kind",
          when(col("_b").isNull, lit("insert"))
            .when(col("_a").isNull, lit("delete"))
            .otherwise(lit("update")))
        .select(col(key) +:
          (bCols.map(c => col("_b").getField(c).as(s"before_$c")) ++
            aCols.map(c => col("_a").getField(c).as(s"after_$c")) :+
            col("kind")): _*)
    }

    /** The vacuum core: reclaim everything no version ≥ `cutoff`
      * references (leaf liveness through the manifests — carried
      * partitions survive regardless of the version dir they sit in).
      * REFUSES — loudly, nothing deleted — when a published savepoint
      * ([[Savepoint]]) pins a version below the cutoff: a savepoint is
      * a reader's consistent multi-table world, and silently erasing a
      * component would serve a state no rescan ever produced. Drop the
      * savepoint (`Savepoint.drop`) or retain past it; for an erasure
      * act the refusal is the point — the operator must decide that
      * erasure outranks the snapshot, by dropping it first. */
    private def vacuumTo(cutoff: Long): Unit = {
      val doomedSp = savepointPins.filter(_._2 < cutoff)
      require(doomedSp.isEmpty,
        s"vacuum at $path would erase savepoint-pinned version(s) " +
          doomedSp.toSeq.sorted.map { case (n, v) => s"$v (savepoint '$n')" }
            .mkString(", ") +
          " — drop the savepoint(s) via Savepoint.drop, or retain past them")
      val cur = currentVersion
      import scala.jdk.CollectionConverters._
      def versionDirs(): List[java.nio.file.Path] = {
        val s = Files.list(Paths.get(path))
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("v="))
          .toList
        finally s.close()
      }
      def deleteTree(d: java.nio.file.Path): Unit = {
        val files = Files.walk(d)
        try files.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
        finally files.close()
      }
      partitioning match {
        case None =>
          versionDirs()
            .filter(_.getFileName.toString.drop(2).toLong < cutoff)
            .foreach(deleteTree)
        case Some(_) =>
          // .toSeq BEFORE the map: mapping the manifest Map directly
          // would re-key by VERSION and collapse every set of buckets
          // carried at the same version down to one survivor — vacuum
          // would then delete live carried leaves
          val live: Set[(Long, String)] = (cutoff to cur).flatMap { v =>
            manifest(v).toSeq.map { case (pt, mv) => (mv, pt) }
          }.toSet
          versionDirs().foreach { vd =>
            val v = vd.getFileName.toString.drop(2).toLong
            def leaves(): List[java.nio.file.Path] = {
              val s = Files.list(vd)
              try s.iterator().asScala.toList
                .filter(_.getFileName.toString.startsWith(s"$PartCol="))
              finally s.close()
            }
            leaves().foreach { ld =>
              val pt = ld.getFileName.toString.drop(PartCol.length + 1)
              if (!live.contains((v, pt))) deleteTree(ld)
            }
            // no live partition leaves left → the version dir (and its
            // _SUCCESS-style markers) is dead weight
            if (leaves().isEmpty) deleteTree(vd)
          }
          val mdir = Paths.get(path, "_manifest")
          if (Files.exists(mdir)) {
            val ms = Files.list(mdir)
            try ms.iterator().asScala.toList
              .filter { p =>
                val n = p.getFileName.toString
                n.startsWith("m=") && !n.endsWith(".tmp") &&
                  n.drop(2).toLong < cutoff
              }
              .foreach(Files.delete)
            finally ms.close()
          }
      }
      // `_dv` retirement: a kept version v (≥ cutoff) resolves the
      // newest d ≤ v, so every d ≥ cutoff is reachable plus the single
      // newest d ≤ cutoff (it resolves kept versions between the cutoff
      // and the next d); older files are unreachable from any kept
      // version and retire — without this, the sidecar directory grows
      // one cumulative file per DV publish forever
      val dvDir = Paths.get(path, "_dv")
      if (Files.exists(dvDir)) {
        val s = Files.list(dvDir)
        val gens = try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("d=") && !n.endsWith(".tmp"))
          .map(_.drop(2).toLong).toList
        finally s.close()
        val atOrBelow = gens.filter(_ <= cutoff)
        if (atOrBelow.nonEmpty) {
          val keep = atOrBelow.max
          atOrBelow.filter(_ != keep)
            .foreach(g => Files.delete(dvDir.resolve(s"d=$g")))
        }
      }
      // commit-record retirement: a claim file below the cutoff guards
      // a version whose data is gone — dead weight, retired alongside
      // the old manifests (claims are never re-contended downward: every
      // publisher computes next = currentVersion + 1 ≥ cutoff)
      if (Files.exists(commitsDir)) {
        val cs = Files.list(commitsDir)
        try cs.iterator().asScala.toList
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("c=") && n.drop(2).toLong < cutoff
          }
          .foreach(Files.delete)
        finally cs.close()
      }
    }

    // ==== per-archive config KV (tsdb.py:46-49, 204-215) ================

    private val cfgFile = Paths.get(path, "_config")

    /** The persisted per-archive key/value surface (the reference's
      * `config` table — `store_edits`, schema version, …). Driver-side
      * metadata, a handful of keys: a properties file with atomic rename,
      * not a Spark table. */
    def config: Map[String, String] =
      if (!Files.exists(cfgFile)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(cfgFile).asScala.filter(_.contains('='))
          .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
          .toMap
      }

    def setConfig(key: String, value: String): Unit = {
      require(!key.contains('=') && !key.contains('\n') && !value.contains('\n'))
      val m = config + (key -> value)
      val tmp = Paths.get(path, "_config.tmp")
      Files.createDirectories(Paths.get(path))
      Files.write(tmp, m.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes)
      Files.move(tmp, cfgFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    /** `store_edits` from the archive config (tsdb.py:204-215); defaults
      * true like the reference's fresh databases. Parsed defensively: only
      * an explicit falsy value disables CDC — a hand-edited or foreign
      * value ("1", "yes", garbage) degrades to the default instead of
      * throwing from every merge. */
    def storeEditsEnabled: Boolean =
      config.get("store_edits")
        .forall(v => !Set("false", "0", "no", "off").contains(v.trim.toLowerCase))

    // ==== merge =========================================================

    /** Merge one batch and atomically publish the next version.
      *
      * Retry-idempotent (T3): the table overwrites `v=N+1` (partitioned:
      * only the touched partitions under it) and the edit batch overwrites
      * `edits/ev=N+1`; all of it only becomes visible when the version
      * pointer moves, which happens last — a foreachBatch replay after a
      * mid-merge crash rewrites the same staging dirs instead of appending
      * duplicate CDC rows.
      *
      * @param storeEdits explicit CDC override; None (the default) follows
      *        the archive's persisted `store_edits` config.
      * @return true iff a new version was published (a merge of an
      *         empty batch publishes nothing and returns false) — so
      *         sinks need no separate emptiness probe job. */
    def merge(batch: DataFrame, seqCol: String,
        storeEdits: Option[Boolean] = None): Boolean = {
      validatePartitioning()
      val cdc = storeEdits.getOrElse(storeEditsEnabled)
      val label = s"UpsertTable at $path"   // names the table in fold errors
      val next = currentVersion + 1
      guardStagedSchema(next)
      // SCHEMA EVOLUTION: the construction schema is the merge target.
      // When it is wider than the recorded generation (a reopen added
      // nullable columns — validateSchema guarantees widen-only), this
      // merge publishes the new generation: the existing data reads at
      // the TARGET width (old files null-fill, nothing rewrites beyond
      // the batch's own touched partitions), the batch must carry the
      // full target schema, and `_schema/s=<next>` records the boundary
      // before the pointer moves. Downstream changes() consumers see
      // the widening as ordinary updates with null before-images.
      val target = emptyLike.schema
      val evolving = currentVersion >= 0 && schemaAt(currentVersion) != target
      partitioning match {
        case None =>
          // empty batch: nothing to publish — a merge of zero rows would
          // otherwise rewrite the whole flat table as a new version
          if (batch.isEmpty) return false
          val existing = readFlat(currentVersion, target)
          val r = Merge.upsert(existing, batch, entity, seqCol, storeEdits = cdc,
            name = label)
          // With CDC on, table + edits are two actions over the same
          // union+exchange+fold — stage it once (bounded by existing+batch,
          // i.e. by what this merge reads anyway; spills, never OOMs).
          if (cdc) r.staged.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try committing(next) {
            val out = outputPartitions.map(r.table.coalesce).getOrElse(r.table)
            out.write.mode("overwrite").parquet(s"$path/v=$next")
            if (cdc)
              outputPartitions.map(r.edits.coalesce).getOrElse(r.edits)
                .write.mode("overwrite").parquet(s"$path/edits/ev=$next")
            if (evolving) writeSchemaFile(next, target)
            publishAndPin(next)
          } finally if (cdc) r.staged.unpersist()

        case Some(pexpr) =>
          // (Measured, not kept: persisting the batch for its two
          // consumers here — touched aggregate + union/fold upsert —
          // costs more than the second lineage evaluation it saves, both
          // locally and in principle: the batch is micro-batch-sized and
          // its lineage is a scan+projection, while persist adds a cache
          // materialization pass.)
          val b = batch
          // Touched-partition set: a driver-side distinct over the batch's
          // partition VALUES — |result| is bounded by the batch (micro-
          // batches touch a handful of targets / key buckets), never by
          // the table, and the scan is column-pruned to the key the
          // partition expression reads. The escaped form is both the dir
          // name and the manifest key.
          // collect_set, not distinct().collect(): one partial-agg stage
          // into a single reduce task instead of a full shuffle — the set
          // is bounded by |partitions| either way.
          val touchedValues = b.select(ptCol(pexpr).as(PartCol))
            .agg(collect_set(col(PartCol))).head().getSeq[String](0).sorted
          val touched = touchedValues.map(ExternalCatalogUtils.escapePathName).toSet
          if (touched.isEmpty) return false  // empty batch: nothing to publish
          val prev = manifest(currentVersion)
          // Pruned read: only the partitions this batch touches — at
          // the TARGET width (an evolving merge null-fills old files).
          val existing = readParts(prev.view.filterKeys(touched).toMap, target)
          // ONE-exchange publish (the default, outputPartitions ≤ 1):
          // materialize pt on BOTH inputs and hand it to the upsert as
          // the cluster column — the union exchanges on pt, the merge
          // fold runs over (pt, key) runs of that same exchange
          // (key-stable partition value ⇒ pt is constant within each key
          // group: the identical invariant `touched`-from-the-batch and
          // the pruned read above already rely on), and the merged
          // output leaves the fold ALREADY aligned one-task-per-bucket
          // for the partitioned write — the separate alignToBuckets
          // exchange per publish disappears. The salted multi-file form
          // (outputPartitions > 1) keeps the post-merge alignment: its
          // (pt, salt) distribution cannot ride the fold's clustering.
          // The exchange deals the touched buckets round-robin by rank
          // over k = min(|touched|, shuffle partitions) tasks: each bucket
          // stays in one task (one file per touched bucket), and every
          // task gets ⌊|touched|/k⌋ or ⌈|touched|/k⌉ of them (a hash of
          // the pt strings can put half the buckets on one task).
          val fused = outputPartitions.forall(_ <= 1)
          val r =
            if (fused) Merge.upsert(
              existing.withColumn(PartCol, ptCol(pexpr)),
              b.withColumn(PartCol, ptCol(pexpr)),
              entity.copy(frozen = entity.frozen :+ PartCol), seqCol,
              storeEdits = cdc, clusterCol = Some(PartCol),
              clusterSlots = Some(rankSlots(touchedValues)), name = label)
            else Merge.upsert(existing, b, entity, seqCol, storeEdits = cdc,
              name = label)
          // Same two-consumer staging as the flat branch, bounded here by
          // the TOUCHED partitions + batch — the pruned merge's working set.
          if (cdc) r.staged.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try committing(next) {
            // Re-derive pt from the MERGED rows (key-stable expression ⇒
            // still inside the touched set); the fused path's pt rode
            // the fold as a frozen column and is already aligned.
            (if (fused) r.table
             else alignToBuckets(r.table.withColumn(PartCol, ptCol(pexpr))))
              .write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=$next")
            if (cdc)
              outputPartitions.map(r.edits.coalesce).getOrElse(r.edits)
                .write.mode("overwrite").parquet(s"$path/edits/ev=$next")
            writeManifest(next, prev ++ touched.map(_ -> next))
            carryDv(next, touched)
            if (evolving) writeSchemaFile(next, target)
            publishAndPin(next)
          } finally if (cdc) r.staged.unpersist()
      }
      // self-maintaining layout: past the bound, compact the oversized
      // buckets NOW under their own claimed version (see @param
      // autoCompact) — a no-op costs one listing per live bucket
      autoCompact.foreach(b => optimize(maxFiles = b))
      true
    }

    /** [[merge]] with the documented conflict retry — the loser's side
      * of the optimistic-concurrency protocol: on a
      * [[Livestream.ConcurrentWriteException]], wait (bounded) for the
      * winning writer's pointer move, then re-merge against the
      * PUBLISHED state — sound because a merge is idempotent per batch
      * (the upsert fold replays last-write-wins), so the loser's batch
      * lands on top of the winner's and BOTH survive. A pointer that
      * never advances inside `conflictWaitMillis` is a crashed winner's
      * orphan — rethrown rather than retried ([[recoverCommit]] is an
      * operator act, deliberately not automated here: automating it
      * would hand a LIVE slow writer's claim to its competitor). */
    def mergeRetry(batch: DataFrame, seqCol: String,
        storeEdits: Option[Boolean] = None, maxAttempts: Int = 5,
        conflictWaitMillis: Long = 60000L): Boolean = {
      var attempt = 1
      while (true) {
        val seen = currentVersion
        try return merge(batch, seqCol, storeEdits)
        catch {
          case e: ConcurrentWriteException =>
            if (attempt >= maxAttempts) throw e
            attempt += 1
            val deadline = System.currentTimeMillis() + conflictWaitMillis
            while (currentVersion <= seen &&
                System.currentTimeMillis() < deadline)
              Thread.sleep(10L)
            if (currentVersion <= seen) throw e
        }
      }
      false   // unreachable (the loop returns or throws)
    }

    /** [[merge]] for a CHECKPOINTED SINK'S CRASH REPLAY — the T3 path:
      * a restart replays the batch whose merge died mid-commit, and the
      * dead attempt's claim may still be standing. Structured Streaming
      * runs AT MOST ONE active query per checkpoint, and a checkpointed
      * sink is its table's single intended writer — so a claim blocking
      * our next version while the pointer never advanced can only be
      * our own crashed predecessor's orphan: roll it back
      * ([[recoverCommit]]) and re-merge, keeping replay hands-free. If
      * the pointer DID advance, a foreign writer truly published —
      * rethrown, because recovering would hand that writer's state a
      * silent overwrite (the exact failure the protocol exists to make
      * loud). Non-sink callers should use [[merge]]/[[mergeRetry]]. */
    def mergeReplay(batch: DataFrame, seqCol: String,
        storeEdits: Option[Boolean] = None): Boolean =
      try merge(batch, seqCol, storeEdits)
      catch {
        case e: ConcurrentWriteException =>
          if (currentVersion >= e.version) throw e
          if (!recoverCommit()) throw e
          merge(batch, seqCol, storeEdits)
      }

    /** Bulk initial load: publish `df` as version 0 WITHOUT the upsert
      * machinery (no union+fold, no CDC — there is nothing to merge
      * against). The bootstrap analog of the reference creating a fresh
      * database and inserting the first fetch wholesale; at scale this is
      * the "backfill then stream" pattern — pay a plain partitioned write
      * for the backfill, reserve the merge for increments. Keys must be
      * unique in `df` (first-load contract). Seed does not check it;
      * [[Merge.upsert]]'s fold does, failing the merge with the table
      * and the key named. The merge folds every existing row it reads,
      * so on a flat table EVERY later merge fails, whatever keys its
      * batch holds; on a partitioned table every merge touching the
      * duplicate's bucket fails. Repair: [[purgeKeys]] the key (it
      * drops every copy), then merge the wanted row back. */
    def seed(df: DataFrame): Unit = {
      require(currentVersion < 0,
        s"UpsertTable at $path already has published versions; use merge()")
      validatePartitioning()
      committing(0L) {
        partitioning match {
          case None =>
            val out = outputPartitions.map(df.coalesce).getOrElse(df)
            out.write.mode("overwrite").parquet(s"$path/v=0")
          case Some(pexpr) =>
            alignToBuckets(df.withColumn(PartCol, ptCol(pexpr)))
              .write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=0")
            // manifest from the directories actually written — one listing,
            // no extra job over the data
            import scala.jdk.CollectionConverters._
            val s = Files.list(Paths.get(path, "v=0"))
            val pts = try s.iterator().asScala.map(_.getFileName.toString)
              .filter(_.startsWith(s"$PartCol=")).map(_.drop(PartCol.length + 1))
              .toList
            finally s.close()
            writeManifest(0, pts.map(_ -> 0L).toMap)
        }
        writeSchemaFile(0, emptyLike.schema)
        publishAndPin(0)
      }
    }

    /** OPTIMIZE-style compaction: rewrite partitions (or the whole table,
      * unpartitioned) whose file count exceeds `maxFiles` into coalesced
      * files under a NEW version — data is byte-equal, only layout
      * changes; readers never see a half-compacted table because the
      * pointer moves last. Complements [[vacuum]], which then reclaims the
      * superseded originals.
      *
      * `zorderByCols = Seq(a, b, …)` (or the 2-column `zorderBy`
      * shorthand) switches compaction into OPTIMIZE ZORDER mode (the
      * Delta `OPTIMIZE ... ZORDER BY` analog, at ANY arity ≥ 2): EVERY
      * live leaf rewrites with rows re-clustered along the columns'
      * Morton curve ([[graft.sources.ZOrder.zValueN]] — global
      * [min, max] from one stats aggregate, pure-integer z-values), so
      * each output file gets a tight bounding box in EVERY listed
      * dimension and the zone-map sidecar — refreshed here, for the
      * z-columns plus the merge key — starts pruning range predicates
      * on any of them that the scattered merge-order layout kept every
      * file for. Unlike plain compaction this is unconditional
      * (re-clustering IS the point, not a file-count repair); within
      * the key-bucketed layout the bucket boundaries stay put (merges
      * stay pruned) and only the WITHIN-leaf order and file split
      * change. All z-columns must be integral-typed. */
    def optimize(maxFiles: Int = 1,
        zorderBy: Option[(String, String)] = None,
        zorderBits: Int = 8,
        zorderByCols: Seq[String] = Nil): Unit = {
      require(maxFiles >= 1)
      require(zorderBy.isEmpty || zorderByCols.isEmpty,
        "optimize: pass zorderBy (2 columns) or zorderByCols (n), not both")
      validatePartitioning()
      val cur = currentVersion
      if (cur < 0) return
      val next = cur + 1
      guardStagedSchema(next)
      val zcols = zorderBy.map(p => Seq(p._1, p._2)).getOrElse(zorderByCols)
      if (zcols.nonEmpty) {
        optimizeZOrdered(zcols, maxFiles, zorderBits, cur, next)
        return
      }
      def parquetCount(d: java.nio.file.Path): Int = {
        if (!Files.exists(d)) return 0
        import scala.jdk.CollectionConverters._
        val s = Files.list(d)
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      partitioning match {
        case None =>
          if (parquetCount(Paths.get(path, s"v=$cur")) <= maxFiles) return
          committing(next) {
            at(cur).coalesce(maxFiles).write.mode("overwrite")
              .parquet(s"$path/v=$next")
            publish(next)
          }
        case Some(_) =>
          val prev = manifest(cur)
          val oversized = prev.filter { case (pt, v) =>
            parquetCount(leaf(v, pt)) > maxFiles
          }
          if (oversized.isEmpty) return
          // ALL oversized leaves rewritten in ONE partitioned write (one
          // job), addressed by their manifest keys via basePath partition
          // recovery — no re-derivation of the partition expression, and
          // no per-leaf job serialization (thousands of fragmented
          // buckets compact in a single pass). The repartition exchange
          // is sized by the oversized data only and buys leaf-aligned
          // output tasks: ≤ maxFiles files per leaf.
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          val src = applyDv(spark.read.option("basePath", path)
            .schema(StructType(currentSchema.fields :+
              StructField(PartCol, StringType)))
            .parquet(oversized.toSeq.map { case (pt, v) => leaf(v, pt).toString }: _*)
            .drop("v"), dvAt(currentVersion))
          val aligned =
            if (maxFiles == 1) oneTaskPerBucket(src)
            else src.repartition(col(PartCol),
              pmod(xxhash64(col(Merge.KeyCol)), lit(maxFiles.toLong)))
          committing(next) {
            aligned.write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=$next")
            // a leaf whose rewrite wrote no directory (all rows empty-file
            // pathology, or — since the source read is DV-FILTERED — every
            // row suppressed by the deletion vector) keeps its old
            // (uncompacted but readable) manifest entry. Its DV entries
            // must then CARRY, not retire: retiring by the ATTEMPTED set
            // would resurrect every suppressed row in a kept old leaf on
            // all subsequent reads, with changes() never emitting the
            // re-inserts. Only buckets whose rewrite really materialized
            // the vector (wrote a new leaf) retire.
            val written = oversized.keys.filter(pt => Files.exists(leaf(next, pt)))
            writeManifest(next, prev ++ written.map(_ -> next))
            carryDv(next, written.toSet)
            publish(next)
          }
      }
    }

    /** The ZORDER compaction body: global [min, max] of the n columns
      * (one stats-sized aggregate), z-value per row, range-repartition
      * along (leaf, z) so output tasks are leaf-aligned AND curve-
      * contiguous (~`maxFiles` files per leaf), in-task sort by z for
      * tight row-group stats, one partitioned write, sidecar refresh. */
    private def optimizeZOrdered(zcols: Seq[String], maxFiles: Int,
        bits: Int, cur: Long, next: Long): Unit = {
      val snap = at(cur)
      val aggs = zcols.flatMap(c =>
        Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
      val stats = snap.agg(aggs.head, aggs.tail: _*).head()
      // empty table or an all-null z-column: nothing to cluster
      if (zcols.indices.exists(i => stats.isNullAt(2 * i))) return
      val z = graft.sources.ZOrder.zValueN(
        zcols.zipWithIndex.map { case (c, i) =>
          (col(c).cast("long"), stats.getLong(2 * i), stats.getLong(2 * i + 1))
        }, bits)
      partitioning match {
        case None =>
          committing(next) {
            snap.withColumn("_z", z)
              .repartitionByRange(maxFiles, col("_z"))
              .sortWithinPartitions("_z")
              .drop("_z")
              .write.mode("overwrite").parquet(s"$path/v=$next")
            publish(next)
          }
        case Some(pexpr) =>
          val prev = manifest(cur)
          val nOut = math.max(1, prev.size * maxFiles)
          committing(next) {
            snap.withColumn(PartCol, ptCol(pexpr)).withColumn("_z", z)
              .repartitionByRange(nOut, col(PartCol), col("_z"))
              .sortWithinPartitions(col(PartCol), col("_z"))
              .drop("_z")
              .write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=$next")
            // same empty-leaf caveat as plain compaction: a leaf that wrote
            // no directory (including one whose every row is DV-suppressed —
            // the snapshot read is vector-filtered) keeps its old (readable)
            // manifest entry, so only the leaves that actually rewrote
            // retire their deletion-vector entries
            val written = prev.keys.filter(pt => Files.exists(leaf(next, pt)))
            writeManifest(next, prev ++ written.map(_ -> next))
            carryDv(next, written.toSet)
            publish(next)
          }
      }
      refreshZoneMap(zcols :+ emptyLike.schema.fieldNames
        .find(_.equalsIgnoreCase(Merge.KeyCol)).get)
    }

    /** MATERIALIZE the deletion vector: rewrite exactly the buckets the
      * vector names — the dv-filtered read drops the suppressed rows, so
      * their bytes leave the data files — and retire every entry. This
      * closes the merge-on-read purge's unbounded tail: each DV publish
      * carries the FULL cumulative live set, so at daily-takedown
      * cadence the sidecar and its broadcast anti-join grow until
      * buckets happen to rewrite; calling this (e.g. when `dvAt
      * (currentVersion).size` crosses an operational bound) compacts
      * exactly the suppressed buckets and resets the vector to empty.
      * Untouched buckets carry BY REFERENCE (bytes rewritten = the
      * named buckets only); a fully-suppressed bucket writes no leaf
      * and DROPS from the manifest (the [[purgeKeys]] device). Old
      * versions still read through their retained files and their own
      * vector resolution. NOT an erasure act: superseded versions and
      * the CDC log keep the bytes — [[purge]] composes that.
      *
      * @return number of buckets whose rewrite actually WROTE a leaf —
      *         a fully-suppressed bucket drops from the manifest
      *         instead and does not count. 0 with no vector ⇒ nothing
      *         published; 0 with a vector whose entries only name
      *         dropped or fully-suppressed buckets ⇒ a METADATA-ONLY
      *         version still publishes (the vector must retire — that
      *         is the call's point), it just wrote no data leaf. */
    def materializeDv(): Int = {
      validatePartitioning()
      val cur = currentVersion
      if (cur < 0) return 0
      val dv = dvAt(cur)
      if (dv.isEmpty) return 0
      val pexpr = partitioning.getOrElse(throw new IllegalStateException(
        s"UpsertTable at $path carries a deletion vector but no " +
          "partitioning — vectors are refused on flat tables at purge"))
      val prev = manifest(cur)
      val entryBuckets = dv.map(_._1).toSet
      val targets = entryBuckets.filter(prev.contains)
      val next = cur + 1
      guardStagedSchema(next)
      committing(next) {
        val written: Set[String] =
          if (targets.nonEmpty) {
            val src = readParts(prev.view.filterKeys(targets).toMap)
            alignToBuckets(src.withColumn(PartCol, ptCol(pexpr)))
              .write.mode("overwrite").partitionBy(PartCol)
              .parquet(s"$path/v=$next")
            val w = targets.filter(pt => Files.exists(leaf(next, pt)))
            writeManifest(next, (prev -- targets) ++ w.map(_ -> next))
            w
          } else {
            // entries only for buckets no longer in the manifest: retire
            // them with a metadata-only publish
            writeManifest(next, prev)
            Set.empty
          }
        // every named bucket either rewrote dv-filtered or no longer
        // exists — the whole vector retires (carryDv writes the empty set)
        carryDv(next, entryBuckets)
        publishAndPin(next)
        written.size
      }
    }

    /** Publish timestamps (version → epoch millis at publish), the
      * retention clock's evidence — recorded at every pointer move.
      * Versions published before recording existed have no entry and
      * NEVER age out (the safe direction). */
    def publishTimes: Map[Long, Long] = {
      val f = Paths.get(path, "_history")
      if (!Files.exists(f)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(f).asScala
          .filter(l => l.nonEmpty && l.indexOf('\t') > 0)
          .map { l =>
            val i = l.indexOf('\t')
            l.substring(0, i).toLong -> l.substring(i + 1).toLong
          }.toMap
      }
    }

    private def recordPublishTime(version: Long): Unit = {
      val m = publishTimes + (version -> clock())
      val tmp = Paths.get(path, "_history.tmp")
      Files.write(tmp, m.toSeq.sortBy(_._1)
        .map { case (v, t) => s"$v\t$t" }.mkString("\n").getBytes)
      Files.move(tmp, Paths.get(path, "_history"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    private def publish(version: Long): Unit = {
      recordPublishTime(version)
      val tmp = Paths.get(path, "_VERSION.tmp")
      Files.write(tmp, version.toString.getBytes)
      Files.move(tmp, ptr, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    /** Publish, then pin the layout descriptor on the first successful
      * publish. Pinning AFTER the pointer moves means a failed first
      * merge/seed never locks an empty table into a layout the caller
      * may want to change; the crash window between publish and pin is
      * covered by the structural manifest check in
      * [[validatePartitioning]]. */
    private def publishAndPin(version: Long): Unit = {
      publish(version)
      if (config.get(PartKey).isEmpty) setConfig(PartKey, partitioningDescriptor)
    }
  }

  /** The default key-stable partition expression for [[UpsertTable]]:
    * `nBuckets` hash buckets of the row key. Stable per key by
    * construction, so the pruned merge read can never miss a key's old
    * row; a micro-batch of B rows touches ≤ B buckets out of `nBuckets`,
    * which is the merge's whole write cost. */
  def keyBucket(keyColName: String = Merge.KeyCol, nBuckets: Int = 64): Column =
    pmod(xxhash64(col(keyColName)), lit(nBuckets))

  /** [[keyBucket]] for ONE key, evaluated on the driver: interpreted
    * Catalyst eval of the same `XxHash64` expression plus pmod in Scala —
    * point-lookup paths (e.g. `Timesearch.openSubmissionArchive`) get the
    * key's partition value without launching a 1-row Spark job. Kept
    * adjacent to [[keyBucket]] because the two MUST stay in lockstep
    * (asserted in StreamingSpec). */
  def keyBucketValue(key: String, nBuckets: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(key)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** ONE sink body for every stream-maintained artifact: the archive's
    * own [[upsertSink]] and every derived-artifact sink (postings,
    * assignments, counters, views...). Per trigger:
    * `encode(batch, batchId)` → [[publish]] (stamp `_seq`, persist,
    * [[UpsertTable.mergeReplay]], unpersist) → `after(published)`.
    * Each artifact keeps only its encode and, where it has one, its
    * after-hook.
    *
    * ==`_seq` semantics for a key appearing twice in ONE micro-batch==
    *
    * Each encoded row gets `_seq` = batchId · 10⁹ +
    * `monotonically_increasing_id`, so within-batch precedence survives
    * (dummy-then-live, pushshift.py:224-243). `_seq` is only ever
    * COMPARED within a single merge (the existing table enters at −1;
    * the batchId term is constant across the batch), so its contract is
    * purely within-batch: the duplicate with the larger
    * `monotonically_increasing_id` wins, i.e. (partition index,
    * row-offset-in-partition) scan order. For a single-split
    * micro-batch (MemoryStream, trigger-capped file sources) that IS
    * input order — last occurrence wins, the reference's
    * sequential-apply semantics (pinned in StreamingSpec). Across
    * partitions it is Spark's split ordering, which tracks file listing
    * order but is not a contractual file order — a source that can
    * repeat a key within one multi-split batch and cares which copy wins
    * should carry its OWN sequence column and call
    * `table.merge(batch, thatCol)` directly. Every current caller emits
    * unique keys per batch and is unaffected.
    *
    * ==Empty triggers==
    * No-data micro-batches (noDataMicroBatches, restart replays of
    * fully-consumed sources) and encodes that yield no rows publish no
    * version, on flat and partitioned tables alike: merge returns false
    * on an empty batch, so its return value is the probe and no sink
    * runs a separate emptiness job. `after` still runs, with false —
    * a view sink catches up there on every trigger (its refresh is a
    * no-op at `basis == current`).
    *
    * ==Publish, then sidecars==
    * `after` runs once the merge has returned. Whatever it refreshes is
    * advisory (uncovered files always read), so a crash between the
    * publish and the refresh costs coverage, not answers.
    *
    * Crash replay: a restart's replay self-recovers its own crashed
    * attempt's orphan claim through `mergeReplay` (the checkpointed
    * sink is the table's single intended writer — see the writer
    * contract).
    *
    * @param storeEdits the merge's CDC override; None follows the
    *        table's `store_edits` config, derived artifacts pass
    *        `Some(false)`. */
  def maintain(stream: DataFrame, table: UpsertTable, checkpoint: String,
      trigger: Trigger, storeEdits: Option[Boolean])(
      encode: (DataFrame, Long) => DataFrame)(
      after: Boolean => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        after(publish(table, encode(batch, batchId), batchId, storeEdits))
      }

  /** The non-streaming half of [[maintain]], for callers that publish
    * inside their own sink's trigger: stamp `rows` with the `_seq` of
    * trigger `seqBase`, persist, [[UpsertTable.mergeReplay]], unpersist.
    * The merge reads the rows more than once (its emptiness or
    * touched-set probe, the fold, the CDC write), so caching scans the
    * source once per trigger and keeps observed metrics counted once; a
    * micro-batch is bounded by the trigger cap, so the cache is small by
    * contract.
    *
    * @return true iff a new version was published. */
  def publish(table: UpsertTable, rows: DataFrame, seqBase: Long,
      storeEdits: Option[Boolean]): Boolean = {
    val seqd = rows.withColumn("_seq",
      lit(seqBase) * 1000000000L + monotonically_increasing_id()).persist()
    try table.mergeReplay(seqd, "_seq", storeEdits)
    finally seqd.unpersist()
  }

  /** The counter read-modify-write, written once for every counter
    * table: fold a delta (`k`, `<c>_d` per updatable column `c`) into
    * the table's current values → replacement rows (key, null frozen and
    * text columns, `combine(coalesce(<c>_0, 0), <c>_d)`). Left join: an
    * unseen key starts from zero. `combine` is `+` for additive counts;
    * HLL registers pass `greatest`, Bloom words a bitwise OR. */
  def foldCounters(table: UpsertTable, delta: DataFrame,
      combine: (Column, Column) => Column = _ + _): DataFrame = {
    val cs = table.entity.updatable
    val cur = table.current.select(col(Merge.KeyCol).as("k") +:
      cs.map(c => col(c).as(s"${c}_0")): _*)
    val nulls = (table.entity.frozen :+ table.entity.textCol)
      .map(lit(null).cast("string").as(_))
    val folded = cs.map(c =>
      combine(coalesce(col(s"${c}_0"), lit(0L)), col(s"${c}_d")).as(c))
    delta.join(cur, Seq("k"), "left")
      .select((col("k").as(Merge.KeyCol) +: nulls) ++ folded: _*)
  }

  /** Fail the trigger loudly when `column` holds a ':' — the separator
    * of the counter tables' `<class>:<rest>` key codec. One `limit(1)`
    * job over the batch. */
  def requireKeyCodec(batch: DataFrame, column: String, what: String): Unit =
    require(batch.filter(col(column).contains(":")).limit(1).count() == 0,
      s"$what must not contain ':' (key codec)")

  /** Wire a streaming DataFrame into the upsert table through
    * [[maintain]] (`_seq`, empty-trigger and publish-then-sidecar rules
    * there). CDC follows the table's `store_edits` config.
    *
    * A4 per-batch counters (tsdb.py:335-358 new_submissions/new_comments
    * tallies): `observe()` rides the existing scan — no extra job — and
    * surfaces in StreamingQueryProgress.observedMetrics("graft_batch").
    *
    * After each publish the sidecars refresh: a streamed store keeps its
    * file skipping current without operator action. Incremental by
    * construction (refreshZoneMap/refreshBloom stat only files not yet
    * covered — the batch's re-pointed buckets), so the per-trigger cost
    * is one stats pass over the batch's own files, never the table.
    *
    * Trigger choices mirror the reference CLI: `ProcessingTime("30 seconds")`
    * ↔ `--wait 30`, `AvailableNow` ↔ `--once` (timesearch.py:257-264).
    */
  def upsertSink(stream: DataFrame, table: UpsertTable,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      zoneMapCols: Option[Seq[String]] = None,
      bloomCols: Option[Seq[String]] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    maintain(stream.observe("graft_batch",
        count(lit(1)).as("rows"),
        approx_count_distinct(col(Merge.KeyCol)).as("distinct_ids")),
      table, checkpoint, trigger, storeEdits = None)((batch, _) => batch) {
      published =>
        if (published) {
          zoneMapCols.foreach(table.refreshZoneMap)
          bloomCols.foreach(cs => table.refreshBloom(cs))
        }
    }

  /** T2/T6 rate shaping: newest ≤limit rows per cycle per target — on a
    * file/queue source this is `maxFilesPerTrigger`/`maxOffsetsPerTrigger`;
    * provided here as a helper for sources that lack the option. */
  def capBatch(batch: DataFrame, orderCol: String, limit: Int): DataFrame =
    batch.orderBy(col(orderCol).desc).limit(limit)

  /** T7 round-robin over targets = union of per-target streams; Spark's
    * scheduler interleaves micro-batches fairly. */
  def unionTargets(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_.unionByName(_, allowMissingColumns = true))
}
