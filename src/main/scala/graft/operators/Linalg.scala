package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed linear algebra over embedding corpora: integer-exact
  * second-moment statistics (Gram / covariance) in one map-side pass,
  * a deterministic driver-side Jacobi eigensolver over the resulting
  * d×d matrix, and map-only PCA projection — the standard ANN/dedup
  * preprocessing stack (whitening, dimensionality reduction, OPQ-style
  * rotations all start from exactly this covariance).
  *
  * Scale shape: the corpus never shuffles. Each task folds its rows
  * into a d(d+1)/2-cell accumulator (d=64 ⇒ 2,080 longs), emits ONE
  * partial row per cell, and the only exchange is |partitions|·d²
  * stat rows — the map-side-combine contract. The d×d eigenproblem is
  * driver-trivial (the codebook-sized-collect contract: statistics,
  * not data, reach the driver); the projection matrix rides back into
  * the map-only projection as a closure constant, exactly like the
  * IVF/PQ codebooks.
  *
  * Exactness device: floats quantize as `clamp(floor(64·x), ±127)` —
  * multiplying a float by a power of two is EXACT in IEEE 754 and
  * floor/clamp are integer-deterministic, so Spark and the SQL oracle
  * compute bit-identical integer statistics with no float-sum ordering
  * hazard (`q_embed_cov` hash-gates the full covariance numerator
  * matrix). PCA itself then runs in doubles on the d×d matrix — one
  * deterministic driver-side computation, spec-verified against
  * analytic cases and reconstruction identities (LinalgSpec).
  */
object Linalg {

  /** The oracle-portable quantizer: clamp(floor(64·x), [-127, 127]). */
  def quantize64(v: Column): Column =
    transform(v, x => greatest(lit(-127L),
      least(lit(127L), floor(x.cast("double") * 64d).cast("long"))))

  /** One-pass second-moment statistics of the quantized corpus.
    * Output rows (i, j, s):
    *  - `(-1, -1, n)` — row count,
    *  - `(i, -1, Σ qᵢ)` — per-dimension sums,
    *  - `(i, j, Σ qᵢ·qⱼ)` for 0 ≤ i ≤ j < d — the upper Gram triangle.
    * Rows whose vector is null or not length d are counted separately
    * as `(-2, -2, count)` and excluded from every statistic (loud, not
    * silent). An input with no rows yields no rows. Per-task
    * accumulation is a single long array; overflow headroom is
    * 2⁶³ / 127² ≈ 5.7 · 10¹⁴ rows per task. */
  def momentStats(df: DataFrame, vec: String, d: Int): DataFrame = {
    import df.sparkSession.implicits._
    val cells = d * (d + 1) / 2
    df.select(quantize64(col(vec)).as("q")).as[Seq[Long]]
      .mapPartitions { it =>
        val upper = new Array[Long](cells)
        val sums = new Array[Long](d)
        var n = 0L
        var bad = 0L
        it.foreach { q =>
          if (q == null || q.length != d) bad += 1
          else {
            n += 1
            var i = 0
            var k = 0
            while (i < d) {
              val qi = q(i)
              sums(i) += qi
              var j = i
              while (j < d) { upper(k) += qi * q(j); k += 1; j += 1 }
              i += 1
            }
          }
        }
        // an empty partition contributes nothing, so an empty input has
        // no rows and the maintained sink publishes no version for it
        if (n == 0 && bad == 0) Iterator.empty
        else {
          val head = Iterator((-1, -1, n)) ++
            (if (bad > 0) Iterator((-2, -2, bad)) else Iterator.empty)
          val sumRows = Iterator.range(0, d).map(i => (i, -1, sums(i)))
          var k = -1
          val gramRows = for {
            i <- Iterator.range(0, d); j <- Iterator.range(i, d)
          } yield { k += 1; (i, j, upper(k)) }
          head ++ sumRows ++ gramRows
        }
      }
      .toDF("i", "j", "s")
      .groupBy("i", "j").agg(sum("s").as("s"))
  }

  /** Upper-triangle covariance NUMERATORS (n·Sᵢⱼ − Sᵢ·Sⱼ — covariance
    * × n², exact integers) from [[momentStats]] output: the hash-gated
    * relational form. The stat frame is ≤ d²-sized, so both joins and
    * the count cross-join broadcast. The input is referenced THREE
    * times (count, sums, gram triangle) — checkpoint-materialized once
    * so the corpus fold behind it runs once, not three times (the
    * postings-checkpoint device; PlanAuditSpec pins scans ≤ 1). */
  def covNumerators(statsIn: DataFrame): DataFrame = {
    val stats = statsIn.localCheckpoint(false)
    val n = stats.filter(col("i") === -1 && col("j") === -1)
      .select(col("s").as("n"))
    val sums = stats.filter(col("i") >= 0 && col("j") === -1)
      .select(col("i").as("k"), col("s").as("sk"))
    stats.filter(col("j") >= 0)
      .join(broadcast(sums).select(col("k").as("i"), col("sk").as("si")), "i")
      .join(broadcast(sums).select(col("k").as("j"), col("sk").as("sj")), "j")
      .crossJoin(broadcast(n))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("n") * col("s") - col("si") * col("sj")).as("cov_num"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric d×d matrix —
    * deterministic (fixed sweep order, fixed rotation convention), so
    * every run and every node derives the identical basis. Returns
    * eigenvalues descending with matching eigenvector COLUMNS,
    * sign-normalized (largest-|component| entry positive — the raw
    * eigenvector sign is arbitrary). O(d³) per sweep; d ≤ a few
    * hundred is driver-trivial. */
  def jacobiEigen(mIn: Array[Array[Double]], maxSweeps: Int = 64,
      tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = mIn.length
    val a = Array.tabulate(d, d)((i, j) => mIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    val scale = math.max(1.0, a.map(r => r.map(math.abs).max).max)
    while (sweep < maxSweeps && off > tol * scale * d * d) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            // classic 2×2 symmetric Schur rotation
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    // sort descending by eigenvalue; deterministic index tiebreak
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = Array.tabulate(d, d)((r, cIdx) => v(r)(order(cIdx)))
    // sign convention: the largest-|component| entry of each column
    // positive (first such index on ties)
    var cIdx = 0
    while (cIdx < d) {
      var best = 0
      var r = 1
      while (r < d) {
        if (math.abs(vecs(r)(cIdx)) > math.abs(vecs(best)(cIdx))) best = r
        r += 1
      }
      if (vecs(best)(cIdx) < 0) {
        r = 0
        while (r < d) { vecs(r)(cIdx) = -vecs(r)(cIdx); r += 1 }
      }
      cIdx += 1
    }
    (vals, vecs)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += math.abs(a(i)(j)); j += 1 }
      i += 1
    }
    s
  }

  /** Fitted PCA model: the EXACT integer statistics (row count n and
    * per-dimension quantized sums — the same longs `q_embed_cov`
    * hash-gates) plus the driver-side eigendecomposition (eigenvalues
    * descending, eigenvector columns). Keeping the integers alongside
    * the doubles is what lets [[pcaProjectExact]] replay the projection
    * relationally: centering as `n·qᵢ − Sᵢ` never touches a float. */
  final case class PcaModel(n: Long, sums: Array[Long],
      vals: Array[Double], vecs: Array[Array[Double]]) {
    def d: Int = sums.length
    /** Per-dimension means in original float units. */
    def means: Array[Double] = sums.map(_.toDouble / (64.0 * n))
    /** The top-k basis columns as scaled integers: Pᶜᵢ =
      * floor(vecs(i)(c) · s · 2^shift) — the literal form that rides
      * into an SQL oracle (and any other engine) with zero float
      * hazard. `whiten` folds the classic 1/√λ scaling INTO the integer
      * basis (s = 1/√λᶜ when λᶜ > whitenEps, else 1 — a near-null
      * direction must not explode to noise amplification), so a
      * whitened projection stays all-integer downstream. */
    def intBasis(k: Int, shift: Int, whiten: Boolean = false,
        whitenEps: Double = 1e-9): Array[Array[Long]] = {
      require(k >= 1 && k <= d, s"intBasis: k=$k out of [1, $d]")
      Array.tabulate(k, d) { (c, r) =>
        val s = if (whiten && vals(c) > whitenEps) 1.0 / math.sqrt(vals(c))
                else 1.0
        math.floor(vecs(r)(c) * s * (1L << shift).toDouble).toLong
      }
    }
  }

  /** Fit the PCA model: covariance via [[momentStats]] (the d²-sized
    * collect), eigendecomposition on the driver. The basis is computed
    * on the QUANTIZED corpus (the SQ8 philosophy: the quantization
    * error is far below the noise floor PCA is modeling) — which is
    * what makes the statistics hash-gateable. */
  def pcaFit(df: DataFrame, vec: String, d: Int): PcaModel = {
    val rows = momentStats(df, vec, d).collect()
    val stat = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val n = stat.getOrElse((-1, -1), 0L)
    require(n > 0, "pcaFit: empty corpus")
    val sums = Array.tabulate(d)(i => stat((i, -1)))
    val nD = n.toDouble
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      (nD * stat((lo, hi)) - sums(i).toDouble * sums(j)) /
        (nD * nD * 64.0 * 64.0)
    }
    val (vals, vecs) = jacobiEigen(cov)
    PcaModel(n, sums, vals, vecs)
  }

  /** PCA basis from the corpus — (eigenvalues desc, eigenvector
    * columns, per-dim means in original float units). */
  def pcaBasis(df: DataFrame, vec: String, d: Int):
      (Array[Double], Array[Array[Double]], Array[Double]) = {
    val m = pcaFit(df, vec, d)
    (m.vals, m.vecs, m.means)
  }

  /** Map-only PCA projection to the top-k components: center on the
    * corpus mean, multiply by the eigenvector columns. The k×d matrix
    * rides into the task closures as a constant (codebook device); the
    * corpus is touched twice — once for the stats aggregate, once
    * streaming through the projection — and never exchanged.
    *
    * `whiten = true` additionally divides each component by √λ (the
    * classic whitening transform): output components have ~unit
    * variance and identity covariance, the preprocessing K-means/ANN
    * distance metrics assume when one direction would otherwise
    * dominate. Components with λ below `whitenEps` keep scale 1 (a
    * near-null direction must not explode to noise amplification).
    *
    * Null / wrong-length vectors shed LOUDLY, matching [[momentStats]]'
    * (-2,-2) convention: the row's `proj` is NULL (a null detonates any
    * downstream arithmetic immediately, where a silent zero vector is a
    * plausible point that would quietly poison an ANN/cluster consumer)
    * and a `graft_shed_pcaProject_*` observe receipt counts the sheds. */
  def pcaProject(df: DataFrame, id: String, vec: String, d: Int,
      k: Int, whiten: Boolean = false,
      whitenEps: Double = 1e-9): DataFrame = {
    require(k >= 1 && k <= d, s"pcaProject: k=$k out of [1, $d]")
    import df.sparkSession.implicits._
    val (vals, vecs, means) = pcaBasis(df, vec, d)
    // rows = components, for cache-friendly per-row dot products
    val proj: Array[Array[Double]] =
      Array.tabulate(k, d) { (c, r) =>
        val scale =
          if (whiten && vals(c) > whitenEps) 1.0 / math.sqrt(vals(c)) else 1.0
        vecs(r)(c) * scale
      }
    df.select(col(id).cast("long"), col(vec)).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (rid, x) =>
          if (x == null || x.length != d) (rid, null: Seq[Double])
          else {
            val out = new Array[Double](k)
            var c = 0
            while (c < k) {
              val row = proj(c)
              var s = 0.0
              var i = 0
              while (i < d) { s += (x(i) - means(i)) * row(i); i += 1 }
              out(c) = s
              c += 1
            }
            (rid, out.toSeq)
          }
        }
      }.toDF(id, "proj")
      .observe(Guard.shedMetricName("pcaProject"),
        sum(when(col("proj").isNull, 1L).otherwise(0L)).as("shed_rows"))
  }

  /** INTEGER-EXACT PCA projection — the hash-gateable twin of
    * [[pcaProject]], same distributed shape (map-only, basis as a
    * closure constant, zero exchanges), every arithmetic step a long:
    *
    *   outᶜ = Σᵢ (n·qᵢ − Sᵢ) · Pᶜᵢ
    *
    * where q = clamp(floor(64·x)) is the house quantizer, (n, S) are
    * the exact corpus statistics from the model fit, and P is the
    * eigenbasis scaled to integers (floor(v · 2^shift), see
    * [[PcaModel.intBasis]]). Centering as n·qᵢ − Sᵢ (the mean times n)
    * keeps everything integral, so outᶜ ≈ n · 64 · 2^shift ·
    * pcaProjectᶜ — the identical geometry at a known affine scale, and
    * an SQL engine holding the SAME P literals reproduces every output
    * bit (sums of longs are order-free; no float ever enters).
    *
    * The driver-side Jacobi stays spec-verified (LinalgSpec); what this
    * gates is the distributed 99%: quantization, the exact statistics,
    * and the per-row projection fold over the corpus.
    *
    * Overflow: |n·qᵢ − Sᵢ| ≤ 254·n and |Pᶜᵢ| ≤ 2^shift (eigenvector
    * entries are ≤ 1), so |outᶜ| ≤ d·254·n·2^shift — the require bounds
    * n loudly instead of wrapping. At shift=16, d=64 that allows
    * n ≤ 8.6·10⁶ rows; a 100 TB corpus serves through [[pcaProject]]
    * (doubles) and gates a bounded audit slice through this form.
    *
    * Null / wrong-length vectors shed LOUD exactly like [[pcaProject]]:
    * null row + `graft_shed_pcaProjectExact_*` receipt. */
  def pcaProjectExact(df: DataFrame, id: String, vec: String,
      model: PcaModel, k: Int, shift: Int = 16,
      basis: Option[Array[Array[Long]]] = None): DataFrame = {
    val d = model.d
    require(k >= 1 && k <= d, s"pcaProjectExact: k=$k out of [1, $d]")
    val p = basis.getOrElse(model.intBasis(k, shift))
    // a caller-supplied basis must actually be k rows of d coefficients —
    // short matrices would otherwise surface as task-side
    // ArrayIndexOutOfBounds (or silently read a truncated row)
    require(p.length >= k && p.take(k).forall(_.length == d),
      s"pcaProjectExact: basis must carry >= $k rows of $d coefficients " +
        s"(got ${p.length} rows, widths ${p.take(k).map(_.length).distinct.mkString(",")})")
    val maxAbsP = math.max(1L, p.map(_.map(math.abs).max).max)
    val bound = Long.MaxValue / (d.toLong * 254L * maxAbsP)
    require(model.n <= bound, s"pcaProjectExact: n=${model.n} exceeds the " +
      s"long-exact bound $bound at d=$d max|P|=$maxAbsP — serve " +
      "pcaProject (doubles) and gate a bounded slice")
    import df.sparkSession.implicits._
    val n = model.n
    val sums = model.sums
    df.select(col(id).cast("long"), quantize64(col(vec)).as("q"))
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        it.map { case (rid, q) =>
          if (q == null || q.length != d) (rid, null: Seq[Long])
          else {
            val out = new Array[Long](k)
            var c = 0
            while (c < k) {
              val row = p(c)
              var s = 0L
              var i = 0
              while (i < d) { s += (n * q(i) - sums(i)) * row(i); i += 1 }
              out(c) = s
              c += 1
            }
            (rid, out.toSeq)
          }
        }
      }.toDF(id, "proj")
      .observe(Guard.shedMetricName("pcaProjectExact"),
        sum(when(col("proj").isNull, 1L).otherwise(0L)).as("shed_rows"))
  }
}
