package perfbench

/** The benchmark's own tests: generator determinism and tallies, and the
  * percentile and self-time arithmetic the reports rest on. No Spark.
  * Run with `python3 perfbench/selftest.py`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1 }
    catch {
      case e: Throwable =>
        failures += 1
        System.err.println(s"FAIL $name: $e")
    }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  /** Everything one seed generates, in draw order, as bytes. */
  private def draw(seed: Long): Seq[Array[Byte]] = {
    val c = new Corpus(seed)
    val dumps = Seq(c.dump(300, 3000, 0.0), c.dump(300, 3000, 0.15))
    val listings = (0 until 3).map(_ => c.listing(100, 20, 5))
    dumps.map(_.bytes) ++ listings.map(_.bytes)
  }

  def main(args: Array[String]): Unit = {
    test("one seed gives byte-identical inputs") {
      val (a, b) = (draw(7), draw(7))
      eq(a.length, b.length)
      a.zip(b).foreach { case (x, y) => eq(java.util.Arrays.equals(x, y), true, "bytes equal") }
    }

    test("two seeds give different inputs") {
      draw(7).zip(draw(8)).foreach { case (x, y) =>
        eq(java.util.Arrays.equals(x, y), false, "bytes equal") }
    }

    test("edge cases are planted at the recorded counts") {
      val d = new Corpus(3).dump(300, 3000, 0.0)
      val lines = new String(d.bytes, "UTF-8").split("\n", -1).dropRight(1)
      eq(lines.count(_.isEmpty), d.planted("blank"), "blank lines")
      eq(lines.count(l => l.nonEmpty && !l.endsWith("}")), d.planted("corrupt"), "corrupt lines")
      eq(lines.count(_.contains("\"author\": null")), d.planted("deleted"), "deleted authors")
      eq(lines.count(l => "\"parent_id\": [0-9]".r.findFirstIn(l).isDefined),
        d.planted("int_parent"), "integer parent_id")
      eq(d.planted("deleted"), Gen.Plants.Deleted, "deleted planted")
      eq(d.planted("duplicates"), Gen.Plants.Dups, "duplicates planted")
      eq(d.records, 3300 + d.planted("duplicates"), "records")
      eq(lines.length, d.records + d.planted("blank") + d.planted("corrupt"), "lines")
    }

    test("replayed state follows last-write-wins and counts edits") {
      val c = new Corpus(5)
      c.dump(200, 2000, 0.0)
      val before = c.commentSnapshot
      val d = c.dump(0, 100, 0.5, dups = false, recrawlSubs = false)
      val after = c.commentSnapshot
      val changedText = before.count { case (k, (_, t)) => after(k)._2 != t }
      eq(changedText, d.comEdits, "text changes = edit rows")
      eq(after.size, before.size + 100, "new comments")
      eq(d.subEdits, 0, "no submission re-crawl")
    }

    test("listing tallies inserts and updates") {
      val c = new Corpus(11)
      c.dump(200, 2000, 0.0)
      val before = c.commentSnapshot
      val l = c.listing(100, 20, 5)
      val after = c.commentSnapshot
      eq(l.inserts, after.keySet -- before.keySet, "inserts")
      eq(l.updates, before.keySet.filter(k => after(k) != before(k)), "updates")
      eq(l.edits, 5, "edits")
    }

    test("breakdown and index follow the verbs' orders") {
      val c = new Corpus(2)
      c.dump(100, 1000, 0.0)
      val b = c.breakdown
      eq(b.map { case (_, s, m) => s + m }.sum, c.subs.size.toLong + c.coms.size, "totals")
      eq(b.map(r => -(r._2 + r._3)), b.map(r => -(r._2 + r._3)).sorted, "total desc")
      val ix = c.index(10)
      eq(ix.map(_._2).forall(_ >= 10), true, "threshold")
      eq(ix, ix.sortBy { case (k, s) => (-s, k) }, "score desc, idstr")
    }

    test("nearest-rank percentile and median") {
      val xs = (1 to 10).map(_.toDouble)
      eq(Stats.percentile(xs, 50), 5.0)
      eq(Stats.percentile(xs, 90), 9.0)
      eq(Stats.percentile(xs, 100), 10.0)
      eq(Stats.percentile(Seq(3.0), 99), 3.0)
      eq(Stats.median(xs), 5.5)
      eq(Stats.median(Seq(4.0, 1.0, 9.0)), 4.0)
    }

    test("tail percentile keeps ten samples beyond it") {
      eq(Stats.tailPercentile(100), Some(90.0))
      eq(Stats.tailPercentile(1000), Some(99.0))
      eq(Stats.tailPercentile(40), Some(75.0))
      eq(Stats.tailPercentile(20), Some(50.0))
      eq(Stats.tailPercentile(19), None)
      eq(Stats.beyond(100, 90), 10)
    }

    test("interval cover and layer self time") {
      eq(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100), 25L)
      eq(Stats.covered(Seq((0L, 10L)), 5, 8), 3L)
      eq(Stats.covered(Nil, 0, 10), 0L)
      eq(Stats.covered(Seq((10L, 20L), (15L, 40L), (90L, 120L)), 0, 100), 40L)
      eq(Stats.layerSelf(500.0, 200.0), 300.0)
      eq(Stats.layerSelf(100.0, 200.0), 0.0)
    }

    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
