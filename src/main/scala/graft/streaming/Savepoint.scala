package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** Cross-store CONSISTENT SNAPSHOT — an atomically-published savepoint:
  * a vector of (table path → version, artifact root → basis, index root
  * → generation) that readers pass to `at()` / artifact serves to
  * compose a consistent multi-table WORLD, and that
  * `vacuum`/`vacuumRetain`/`dropGeneration` refuse to erase from under.
  *
  * Why: every multi-table surface (the snowflake chains, the joined
  * dashboards) reads each table at its own `currentVersion` — a reader
  * composing two views while a merge publishes BETWEEN the reads serves
  * a state no rescan ever produced. The reference got this for free
  * from single-writer SQLite (tsdb.py:194-195 — one connection,
  * transactions at tsdb.py:354-356); on independent versioned stores
  * the transaction must be rebuilt as published metadata.
  *
  * ==Layout & atomicity==
  * Each participating table gets a PIN under its own root
  * (`<table>/_savepoints/<name>` = version — the vacuum-refusal
  * evidence, colocated so the store can refuse without a registry
  * lookup), written FIRST; the VECTOR file `<root>/sp=<name>` is
  * written LAST via tmp+ATOMIC_MOVE and is the single commit point. A
  * crash mid-create publishes no vector — readers never resolve a
  * half-pinned world; the orphan pins hold their versions until
  * [[drop]] (or a re-created savepoint of the same name) retires them,
  * which is the safe direction (over-retain, never under-pin).
  *
  * Re-CREATING an existing name keeps that invariant through the whole
  * window: until the new vector commits, the OLD vector is still the
  * published one, so each re-used table's pin is first moved to
  * `min(oldVersion, newVersion)` (protecting both worlds — a crash in
  * the window leaves the old vector fully pinned, merely over-retained)
  * and only tightened to the new version AFTER the vector move.
  *
  * Single-writer per savepoint root (the UpsertTable contract);
  * readers are lock-free. The captured versions are each table's
  * CURRENT version at capture — the creator's observation point
  * defines the world, exactly as a SQLite `BEGIN` pins what the
  * connection currently sees.
  *
  * Scale: driver-side metadata only — a few files of a few bytes, no
  * Spark job; pinning a 100 TB fleet costs the same as pinning a test
  * fixture. Retention economics stay with vacuum/vacuumRetain — a
  * savepoint holds leaf files alive BY REFERENCE (no copies).
  */
object Savepoint {

  /** A resolved savepoint: normalized table path → pinned version,
    * artifact root → pinned basis, index root → pinned generation. */
  final case class Snapshot(name: String, tables: Map[String, Long],
      artifacts: Map[String, Long],
      generations: Map[String, String] = Map.empty) {

    def versionOf(table: Livestream.UpsertTable): Long =
      versionOfPath(table.tablePath)

    def versionOfPath(path: String): Long =
      tables.getOrElse(normalize(path), sys.error(
        s"savepoint '$name' does not pin table $path — it pins " +
          s"[${tables.keys.mkString(", ")}]"))

    /** Read a table AT this savepoint's pinned version — the composing
      * read: any set of `read(...)` calls against one snapshot is a
      * consistent world regardless of merges publishing in between.
      * Refuses a pinned version that is no longer readable (a vacuum
      * that outran the pin — possible only through a torn re-create or
      * an out-of-band delete): `at()` on a vacuumed version returns the
      * EMPTY frame, and serving empty data as "the pinned world" is the
      * one failure worse than failing. */
    def read(table: Livestream.UpsertTable): DataFrame = {
      val v = versionOf(table)
      require(table.versionAvailable(v),
        s"savepoint '$name': pinned version $v of ${table.tablePath} is " +
          "no longer readable (vacuumed out-of-band?) — refusing to " +
          "serve an empty frame as the pinned world")
      table.at(v)
    }

    def basisOf(artifactRoot: String): Long =
      artifacts.getOrElse(normalize(artifactRoot), sys.error(
        s"savepoint '$name' does not pin artifact $artifactRoot"))

    /** The pinned index generation of a [[StreamAnn]]-style
      * generation-pointer artifact root — what a consumer composing
      * this world opens instead of the ACTIVE generation. */
    def generationOf(indexRoot: String): String =
      generations.getOrElse(normalize(indexRoot), sys.error(
        s"savepoint '$name' does not pin an index generation under " +
          s"$indexRoot — it pins [${generations.keys.mkString(", ")}]"))
  }

  private def normalize(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  private def vectorFile(root: String, name: String) =
    Paths.get(root, s"sp=$name")

  /** Capture and publish a savepoint over `tables` (and optionally
    * [[BasisView]] artifact roots — StreamTopK/StreamWindow/StreamSession
    * views, pinned at their published basis —
    * plus [[StreamAnn]]-style generation-pointer index roots, pinned at
    * their ACTIVE generation so [[StreamAnn.dropGeneration]] refuses
    * them). Pins first, vector last (see the atomicity note above).
    * Re-using a name re-points it (the previous vector is superseded
    * atomically; its pins move min-first, tighten-after). */
  def create(root: String, name: String,
      tables: Seq[Livestream.UpsertTable],
      artifactRoots: Seq[String] = Nil,
      generationRoots: Seq[String] = Nil): Snapshot = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"savepoint name '$name' must match [A-Za-z0-9._-]+")
    require(tables.nonEmpty, "savepoint: need at least one table")
    // name re-use: the published OLD vector stays resolvable until the
    // move below, so its pinned versions must stay protected through
    // the window — a torn create must leave the old world over-retained,
    // never under-pinned (a vacuum racing the window could otherwise
    // erase a version the still-published vector references)
    val prior =
      if (Files.exists(vectorFile(root, name))) Some(load(root, name))
      else None
    val tv = tables.map { t =>
      val v = t.currentVersion
      require(v >= 0, s"savepoint '$name': table ${t.tablePath} has no " +
        "published version to pin")
      val hold = prior.flatMap(_.tables.get(normalize(t.tablePath)))
        .fold(v)(math.min(_, v))
      t.pinSavepoint(name, hold)
      normalize(t.tablePath) -> v
    }.toMap
    val av = artifactRoots.map { r =>
      val b = BasisView.basis(r)
      require(b >= 0L, s"savepoint '$name': artifact root $r has no " +
        s"published ${BasisView.PointerFile} pointer")
      normalize(r) -> b
    }.toMap
    val gv = generationRoots.map { r =>
      val g = StreamAnn.activeGeneration(r).getOrElse(sys.error(
        s"savepoint '$name': index root $r has no active generation " +
          "pointer to pin"))
      // same min-first discipline, at generation granularity: until the
      // vector commits the OLD vector's generation stays pinned too
      val hold = (prior.flatMap(_.generations.get(normalize(r))).toSeq :+ g)
        .distinct
      StreamAnn.pinGenerations(r, name, hold)
      normalize(r) -> g
    }.toMap
    Files.createDirectories(Paths.get(root))
    val body = (tv.toSeq.sorted.map { case (p, v) => s"T\t$p\t$v" } ++
      av.toSeq.sorted.map { case (p, b) => s"A\t$p\t$b" } ++
      gv.toSeq.sorted.map { case (p, g) => s"G\t$p\t$g" }).mkString("\n")
    val tmp = Paths.get(root, s"sp=$name.tmp")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, vectorFile(root, name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // the new vector is the published one — tighten the widened pins to
    // exactly its versions/generations (a crash before this point leaves
    // over-retention only, repaired by the next create/drop)
    tables.foreach(t => t.pinSavepoint(name, tv(normalize(t.tablePath))))
    generationRoots.foreach(r =>
      StreamAnn.pinGenerations(r, name, Seq(gv(normalize(r)))))
    Snapshot(name, tv, av, gv)
  }

  /** Resolve a published savepoint. Throws if the vector was never
    * published (a torn create publishes nothing — by design). Lines
    * parse kind-prefix first, then value at the LAST tab — a table path
    * containing a tab must not shift the version field (the
    * registerBasis parse discipline; generation names cannot carry a
    * tab by [[StreamAnn]]'s charset, so the same split is exact). */
  def load(root: String, name: String): Snapshot = {
    val f = vectorFile(root, name)
    require(Files.exists(f), s"no savepoint '$name' under $root " +
      "(a create that crashed before the vector write published nothing)")
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(f).asScala.filter(_.nonEmpty)
    def parse(l: String): (String, String) = {
      val body = l.substring(2)               // strip "T\t"/"A\t"/"G\t"
      val i = body.lastIndexOf('\t')
      body.substring(0, i) -> body.substring(i + 1)
    }
    def numeric(kind: String): Map[String, Long] =
      lines.filter(_.startsWith(s"$kind\t"))
        .map(parse).map { case (p, v) => p -> v.toLong }.toMap
    Snapshot(name, numeric("T"), numeric("A"),
      lines.filter(_.startsWith("G\t")).map(parse).toMap)
  }

  /** Published savepoint names under `root`. */
  def list(root: String): Seq[String] = {
    val d = Paths.get(root)
    if (!Files.exists(d)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("sp=") && !n.endsWith(".tmp"))
      .map(_.drop(3)).toSeq.sorted
    finally s.close()
  }

  /** Retire a savepoint: the VECTOR goes first (readers stop
    * resolving), then each pinned component's pin (vacuum / generation
    * retirement unblock). The pin set is resolved FROM THE VECTOR when
    * one is published — it records exactly what create() pinned, so a
    * caller passing a different (smaller, renamed) table list cannot
    * orphan pins under the omitted roots; `tables` is the fallback for
    * torn creates (orphan pins, no vector) and is always unpinned too
    * (harmless when redundant). */
  def drop(root: String, name: String,
      tables: Seq[Livestream.UpsertTable] = Nil): Unit = {
    val f = vectorFile(root, name)
    val recorded: Seq[String] =
      if (Files.exists(f)) {
        val sp = load(root, name)
        (sp.tables.keys ++ sp.generations.keys).toSeq
      } else Seq.empty
    if (Files.exists(f)) Files.delete(f)
    recorded.foreach { p =>
      val pf = Paths.get(p, "_savepoints", name)
      if (Files.exists(pf)) Files.delete(pf)
    }
    tables.foreach(_.unpinSavepoint(name))
  }
}
