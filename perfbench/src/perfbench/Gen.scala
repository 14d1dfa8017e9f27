package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded, Reddit-shaped corpus generator with its own model of the
  * archive's state.
  *
  * Every dump or listing it writes is also replayed into [[Corpus]]'s
  * state with the reference's sequential upsert rules (tsdb.py:389-545):
  * the first row of a key lands whole; a later row overwrites the score
  * and, unless it is a tombstone, the text; a later row whose text lands
  * and differs from the stored text is one edit row. The expected tallies
  * the benchmark checks the engine against come from this replay only,
  * never from the engine's output.
  *
  * Shape: Zipf-skewed authors, Pareto thread sizes, comment trees grown
  * by attaching to a random earlier comment of the same thread,
  * log-normal text lengths, and these FIXTURES.md §1 edge cases planted
  * at fixed counts per dump: deleted authors, corrupt and blank lines,
  * integer `parent_id`, HTML entities and duplicate ids within one dump.
  */
object Gen {

  /** Planted edge cases per dump. */
  private[perfbench] object Plants {
    val Deleted = 40
    val Corrupt = 7
    val Blank = 5
    val IntParent = 30
    val Entities = 60
    val Dups = 25
  }

  /** One generated NDJSON file and what the engine must make of it. */
  final case class Dump(bytes: Array[Byte], records: Int, subEdits: Int, comEdits: Int,
      /** key → score it must carry after this dump (duplicated ids) */
      dupScores: Map[String, Long],
      /** edge case → how many lines carry it */
      planted: Map[String, Int])

  /** A `/comments` listing of one livestream cycle and the change set a
    * consumer of `changes(prev, cur)` must see. */
  final case class Listing(bytes: Array[Byte], inserts: Set[String], updates: Set[String],
      edits: Int)

  /** Archive state of one key as the reference would hold it. */
  final class Row(val key: String, val thread: String, val parent: String,
      val author: String, var score: Long, var text: String, var raw: String,
      val created: Long)

  val Vocabulary: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou")
    for (a <- on; b <- nu; c <- on.take(6)) yield a + b + c
  }

  val Entities = Array("&amp;", "&lt;b&gt;", "&#39;", "&quot;")
  val EntityText = Array("&", "<b>", "'", "\"")

  def b36(n: Long): String = java.lang.Long.toString(n, 36)

  /** JSON string literal; the generated text is ASCII. */
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}

/** The generator for one seed. Dumps and listings must be drawn in a
  * fixed order; the same seed and order give byte-identical files. */
final class Corpus(seed: Long) {
  import Gen._

  /** distinct non-deleted author names */
  private val NAuthors = 3000
  /** Pareto tail index of thread weights (lower = heavier) */
  private val ThreadAlpha = 1.2

  private val rng = new SplittableRandom(seed)
  private val authors = new Zipf(NAuthors, 1.1)
  private def authorName(rank: Int) = s"u${b36(rank * 7919L + 1000)}"

  // key → state; insertion order kept so draws over keys are seed-stable
  val subs = mutable.LinkedHashMap.empty[String, Row]
  val coms = mutable.LinkedHashMap.empty[String, Row]
  /** thread (t3_ key) → its comment keys in creation order */
  val threads = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  private val threadKeys = mutable.ArrayBuffer.empty[String]
  /** cumulative Pareto weights of `threadKeys`, for weighted draws */
  private val threadCdf = mutable.ArrayBuffer.empty[Double]
  private var nextSub = 1000000L
  private var nextCom = 60000000L
  private var clock = 1500000000L
  /** keys of live (insert-ordered) comments, for "newest" listings */
  private val comKeys = mutable.ArrayBuffer.empty[String]

  private def words(n: Int): String = {
    val b = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) b.append(' ')
      b.append(Vocabulary(rng.nextInt(Vocabulary.length)))
      i += 1
    }
    b.toString
  }

  /** Log-normal word count, median e^2.3 ≈ 10 words, capped at 400. */
  private def textWords(): Int =
    math.max(1, math.min(400, math.round(math.exp(2.3 + 1.0 * gaussian())).toInt))

  private def gaussian(): Double = {
    // Box–Muller on the seeded stream (SplittableRandom has no gaussian)
    val u1 = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def score(): Long = math.round(math.exp(1.5 + 1.4 * gaussian())) - 2

  private def pickThread(): String = {
    val x = rng.nextDouble() * threadCdf.last
    var lo = 0; var hi = threadCdf.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (threadCdf(mid) > x) hi = mid else lo = mid + 1 }
    threadKeys(lo)
  }

  /** Lines of one record kind, built in memory then serialized. */
  private sealed trait Rec { def key: String }
  private final case class SubRec(key: String, id: String, created: Long, author: String,
      title: String, self: Boolean, text: String, score: Long, numComments: Long) extends Rec
  private final case class ComRec(key: String, id: String, created: Long, author: String,
      body: String, score: Long, parent: String, intParent: Boolean, thread: String) extends Rec

  private def json(r: Rec): String = r match {
    case s: SubRec =>
      val author = if (s.author == null) "null" else quote(s.author)
      val url = if (s.self) "null" else quote(s"https://example.com/p/${s.id}")
      s"""{"id": "${s.id}", "name": "t3_${s.id}", "created_utc": ${s.created}, "is_self": ${s.self}, "over_18": false, "author": $author, "title": ${quote(s.title)}, "url": $url, "selftext": ${quote(s.text)}, "score": ${s.score}, "subreddit": "bench", "distinguished": null, "num_comments": ${s.numComments}, "edited": false}"""
    case c: ComRec =>
      val author = if (c.author == null) "null" else quote(c.author)
      val parent =
        if (c.intParent) java.lang.Long.parseLong(c.parent.drop(3), 36).toString
        else quote(c.parent)
      s"""{"id": "${c.id}", "name": "t1_${c.id}", "created_utc": ${c.created}, "author": $author, "body": ${quote(c.body)}, "score": ${c.score}, "subreddit": "bench", "distinguished": null, "edited": false, "parent_id": $parent, "link_id": "${c.thread}"}"""
  }

  /** Text with one planted HTML entity, or plain. */
  private def text(entity: Boolean): String = {
    val t = words(textWords())
    if (!entity) t else {
      val e = Entities(rng.nextInt(Entities.length))
      val cut = t.indexOf(' ') match { case -1 => t.length; case i => i }
      t.substring(0, cut) + " " + e + t.substring(cut)
    }
  }

  private def newSub(entity: Boolean): SubRec = {
    val id = b36(nextSub); nextSub += 1
    clock += 1 + rng.nextInt(30)
    val self = rng.nextInt(3) > 0
    SubRec(s"t3_$id", id, clock, authorName(authors.sample(rng)), words(3 + rng.nextInt(8)),
      self, if (self) text(entity) else "", score(), rng.nextInt(50).toLong)
  }

  private def newCom(thread: String, deleted: Boolean, entity: Boolean, intParent: Boolean): ComRec = {
    val id = b36(nextCom); nextCom += 1
    clock += 1 + rng.nextInt(5)
    val kids = threads(thread)
    // a reply to an earlier comment of the thread, or top level
    val parent =
      if (kids.nonEmpty && (intParent || rng.nextInt(100) < 60)) kids(rng.nextInt(kids.length))
      else thread
    ComRec(s"t1_$id", id, clock, if (deleted) null else authorName(authors.sample(rng)),
      if (deleted) "[deleted]" else text(entity), score(), parent,
      intParent && parent.startsWith("t1_"), thread)
  }

  /** The reference's tombstone guard (Merge.keepExistingText). */
  private def tomb(author: String, t: String): Boolean =
    author == null && (t == "[removed]" || t == "[deleted]")

  /** Replay one record. @return (isNewKey, landedTextChange) */
  private def apply(r: Rec): (Boolean, Boolean) = r match {
    case s: SubRec => upsert(subs, s.key, s.key, null, s.author, s.score, s.text, s.created)
    case c: ComRec =>
      val fresh = upsert(coms, c.key, c.thread, c.parent, c.author, c.score, c.body, c.created)
      if (fresh._1) { threads(c.thread) += c.key; comKeys += c.key }
      fresh
  }

  private def upsert(m: mutable.LinkedHashMap[String, Row], key: String, thread: String,
      parent: String, author: String, score: Long, raw: String,
      created: Long): (Boolean, Boolean) = {
    val t = unescape(raw)
    m.get(key) match {
      case None =>
        m(key) = new Row(key, thread, parent, author, score, t, raw, created); (true, false)
      case Some(row) =>
        row.score = score
        val edit = !tomb(author, t) && t != row.text
        if (edit) { row.text = t; row.raw = raw }
        (false, edit)
    }
  }

  private def unescape(t: String): String = {
    var out = t
    Entities.indices.foreach(i => out = out.replace(Entities(i), EntityText(i)))
    out
  }

  /** A re-crawl of an existing key: new score (unchanged with
    * probability `sameShare`) and, with probability `editShare`, new
    * text. Frozen fields repeat the stored row's. */
  private def recrawl(key: String, editShare: Double, sameShare: Double): Rec = {
    val row = if (key.startsWith("t3_")) subs(key) else coms(key)
    val same = rng.nextDouble() < sameShare
    val sc = if (same) row.score else row.score + 1 + rng.nextInt(40)
    val edit = !same && row.author != null && rng.nextDouble() < editShare
    val raw = if (edit) row.raw + " " + words(1 + rng.nextInt(4)) else row.raw
    val id = key.drop(3)
    if (key.startsWith("t3_"))
      SubRec(key, id, row.created, row.author, "re-crawled", self = true, raw, sc, 0L)
    else
      ComRec(key, id, row.created, row.author, raw, sc, row.parent, intParent = false,
        row.thread)
  }

  /** Month dump: `nSubs` new submissions, `nComs` new comments spread over
    * all threads by Pareto weight, a re-crawl of `recrawlShare` of the
    * keys that existed before, and the planted edge cases. */
  def dump(nSubs: Int, nComs: Int, recrawlShare: Double, dups: Boolean = true,
      recrawlSubs: Boolean = true): Dump = {
    val before = (if (recrawlSubs) subs.keys.toVector else Vector.empty) ++ coms.keys.toVector
    val recs = mutable.ArrayBuffer.empty[Rec]
    val entityAt = sample((0 until nSubs + nComs).toVector, Plants.Entities).toSet
    var k = 0
    (0 until nSubs).foreach { _ =>
      val s = newSub(entityAt(k)); k += 1
      recs += s
      // weight first so this month's comments can land on it
      threads(s.key) = mutable.ArrayBuffer.empty
      val u = math.max(rng.nextDouble(), 1e-9)
      val w = math.pow(u, -1.0 / ThreadAlpha)
      threadKeys += s.key
      threadCdf += (if (threadCdf.isEmpty) w else threadCdf.last + w)
    }
    val deletedAt = sample((0 until nComs).toVector, Plants.Deleted).toSet
    val intAt = sample((0 until nComs).toVector, Plants.IntParent).toSet
    // comments are generated against the thread state as the dump grows;
    // only the new-comment replay touches `threads`, so apply as we go
    val applied = mutable.ArrayBuffer.empty[(Rec, (Boolean, Boolean))]
    recs.foreach(r => applied += r -> apply(r))
    (0 until nComs).foreach { j =>
      val c = newCom(pickThread(), deletedAt(j), entityAt(k), intAt(j)); k += 1
      applied += c -> apply(c)
    }
    // re-crawls of earlier keys
    val nRe = math.round(before.length * recrawlShare).toInt
    val reKeys = sample(before, nRe)
    val body = mutable.ArrayBuffer.from(applied.map(_._1))
    val reRecs = reKeys.map(key => recrawl(key, editShare = 0.15, sameShare = 0.1))
    // duplicates inside this dump: a second copy of a new key, later in file
    val fresh = applied.collect { case (r, (true, _)) => r }.toVector
    val dupRecs = sample(fresh.map(_.key), if (dups) Plants.Dups else 0).map { key =>
      recrawl(key, editShare = 0.5, sameShare = 0.0)
    }
    // file order: new rows in creation order; re-crawls and duplicates
    // appended after, shuffled among themselves (a re-crawl page)
    val tail = shuffle(reRecs ++ dupRecs)
    body ++= tail
    // replay the tail (new rows were applied as generated)
    var subEdits = 0; var comEdits = 0
    tail.foreach { r =>
      val (_, edit) = apply(r)
      if (edit) { if (r.key.startsWith("t3_")) subEdits += 1 else comEdits += 1 }
    }
    val dupScores = dupRecs.map(r => r.key -> (if (r.key.startsWith("t3_")) subs(r.key).score
      else coms(r.key).score)).toMap
    // corrupt and blank lines at seeded positions
    val lines = mutable.ArrayBuffer.from(body.map(json))
    (0 until Plants.Corrupt).foreach { i =>
      lines.insert(rng.nextInt(lines.length + 1), s"""{"id": "bad$i", "score": 3, "body": "trunc""")
    }
    (0 until Plants.Blank).foreach(_ => lines.insert(rng.nextInt(lines.length + 1), ""))
    val planted = Map(
      "deleted" -> body.count { case c: ComRec => c.author == null; case _ => false },
      "corrupt" -> Plants.Corrupt, "blank" -> Plants.Blank,
      "int_parent" -> body.count { case c: ComRec => c.intParent; case _ => false },
      "entities" -> fresh.count {
        case s: SubRec => s.text.contains('&'); case c: ComRec => c.body.contains('&') },
      "duplicates" -> dupRecs.length)
    Dump(lines.mkString("", "\n", "\n").getBytes(UTF_8), body.length, subEdits, comEdits,
      dupScores, planted)
  }

  /** A livestream poll: the newest `rows` comments as `/comments` would
    * list them — mostly the newest existing keys re-fetched with new
    * scores (a few with edited text, some unchanged), plus `fresh` new
    * comments on recent threads. */
  def listing(rows: Int, fresh: Int, edits: Int, corrupt: Int = 0): Listing = {
    val recent = comKeys.takeRight(rows * 5).toVector
    val re = sample(recent, rows - fresh)
    val editKeys = sample(re.filter(k => coms(k).author != null), edits).toSet
    val recs = mutable.ArrayBuffer.empty[Rec]
    var inserts = Set.empty[String]; var updates = Set.empty[String]; var nEdits = 0
    re.foreach { key =>
      val r = recrawl(key, editShare = if (editKeys(key)) 1.0 else 0.0,
        sameShare = if (editKeys(key)) 0.0 else 0.1)
      val row = coms(key)
      val (oldScore, oldText) = (row.score, row.text)
      val (_, edit) = apply(r)
      if (edit) nEdits += 1
      if (row.score != oldScore || row.text != oldText) updates += key
      recs += r
    }
    val hot = threadKeys.takeRight(50)
    (0 until fresh).foreach { _ =>
      val c = newCom(hot(rng.nextInt(hot.length)), deleted = false, entity = false,
        intParent = false)
      apply(c)
      inserts += c.key
      recs += c
    }
    val lines = mutable.ArrayBuffer.from(shuffle(recs.toVector).map(json))
    (0 until corrupt).foreach(i =>
      lines.insert(rng.nextInt(lines.length + 1), s"""{"id": "bad$i", "body": "cut"""))
    Listing(lines.mkString("", "\n", "\n").getBytes(UTF_8), inserts, updates, nEdits)
  }

  private def sample[A](xs: Vector[A], n: Int): Vector[A] = {
    val a = xs.toArray[Any]
    val m = math.min(n, a.length)
    var i = 0
    while (i < m) {
      val j = i + rng.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(m).toVector.asInstanceOf[Vector[A]]
  }

  private def shuffle[A](xs: Seq[A]): Vector[A] = sample(xs.toVector, xs.length)

  // ---- expected answers of the read verbs -------------------------------

  private def authorOf(r: Row) = if (r.author == null) "[DELETED]" else r.author

  /** `breakdown(sort = "total")`: (name, submissions, comments) rows in
    * the verb's order — total desc, then lower(name), then name. */
  def breakdown: Vector[(String, Long, Long)] = {
    val s = subs.values.groupMapReduce(authorOf)(_ => 1L)(_ + _)
    val c = coms.values.groupMapReduce(authorOf)(_ => 1L)(_ + _)
    (s.keySet ++ c.keySet).toVector
      .map(n => (n, s.getOrElse(n, 0L), c.getOrElse(n, 0L)))
      .sortBy { case (n, a, b) => (-(a + b), n.toLowerCase, n) }
  }

  /** `index(threshold, "score")`: (idstr, score) in score desc, idstr order. */
  def index(threshold: Long): Vector[(String, Long)] =
    subs.values.filter(_.score >= threshold).map(r => (r.key, r.score)).toVector
      .sortBy { case (k, s) => (-s, k) }

  /** Snapshot of the comment table: key → (score, stored text). */
  def commentSnapshot: Map[String, (Long, String)] =
    coms.iterator.map { case (k, r) => k -> (r.score, r.text) }.toMap

  def sumScores(m: collection.Map[String, Row]): Long = m.valuesIterator.map(_.score).sum
}
