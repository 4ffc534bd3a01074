package graftbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. They recompute every claim with the benchmark's own code
  * (aggregates over the input rows and driver-side loops), never through
  * the graft function under test. */
object Checks {

  // ---------------------------------------------------------------- GLM

  /** Per-solver bound on the first-order optimality residual (see
    * [[glmResidual]]) at the benchmark's solver settings. Residuals seen on
    * a few seeds: admm 2e-5 (glm_tall) and 9e-4 (glm_wide, elastic net),
    * lbfgs 4e-6, newton 6e-8, gradient_descent 4e-5, proximal_grad 7e-4;
    * every bound leaves at least 15× headroom over them. */
  val ResidualTol: Map[String, Double] = Map(
    "admm" -> 2e-2,
    "lbfgs" -> 2e-3,
    "newton" -> 1e-6,
    "gradient_descent" -> 2e-2,
    "proximal_grad" -> 2e-2)

  /** The reference's logistic moment condition |Σσ(Xβ̂) − Σy| / n. */
  val MomentTol = 2e-2

  /** Column statistics of the raw features: mean and population standard
    * deviation, the standardization the estimator applies before solving. */
  final case class ColStats(n: Long, mean: Array[Double], std: Array[Double])

  private def featureRows(df: DataFrame, label: String): RDD[(Array[Double], Double)] =
    df.select(col("features"), col(label).cast("double")).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))

  /** a(i) += b(i) over b's length (b may be a prefix of a). */
  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < b.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Two passes (mean, then centered squares), so the variance does not
    * lose digits to cancellation. */
  def colStats(df: DataFrame, label: String, p: Int): ColStats = {
    val rows = featureRows(df, label)
    val sums = rows.treeAggregate(new Array[Double](p + 1))(
      (acc, r) => { addInto(acc, r._1); acc(p) += 1; acc }, addInto)
    val n = sums(p)
    val mean = sums.take(p).map(_ / n)
    val sq = rows.treeAggregate(new Array[Double](p))(
      (acc, r) => {
        var j = 0
        while (j < p) { val d = r._1(j) - mean(j); acc(j) += d * d; j += 1 }
        acc
      }, addInto)
    ColStats(n.toLong, mean, sq.map(s => math.sqrt(s / n)))
  }

  final case class GlmCheck(residual: Double, moment: Double)

  /** First-order optimality residual of the objective the solver minimizes,
    * at coefficients `beta` (intercept last).
    *
    * The estimator standardizes the columns, minimizes
    * Σ loss(x̂ᵢ·β̂, yᵢ) + λ·R(β̂) over the standardized coefficients β̂
    * (the intercept included), and maps β̂ back. So the residual is taken
    * in β̂ coordinates: β̂ⱼ = βⱼ·σⱼ, β̂₀ = β₀ + Σⱼ βⱼ·μⱼ, and the loss gradient
    * is (Σ dᵢxᵢⱼ − μⱼ Σ dᵢ)/σⱼ with dᵢ = ∂loss/∂margin. Divided by n:
    *   smooth R: ‖∇L + λ∇R‖∞ / n;
    *   L1 part (l1, elastic net): the proximal-gradient residual
    *   ‖β̂ − prox(β̂ − ∇S/n, λ₁/n)‖∞ with S the smooth part.
    * Newton and gradient descent ignore the regularizer, so `reg` is
    * "none" for them. The sums come from one aggregate over the rows. */
  def glmResidual(df: DataFrame, label: String, beta: Array[Double],
      family: String, reg: String, lamduh: Double, stats: ColStats,
      enetWeight: Double = 0.5): GlmCheck = {
    val p = stats.mean.length
    // [Σ dᵢxᵢⱼ (p), Σ dᵢ, Σ fittedᵢ, Σ yᵢ]
    val agg = featureRows(df, label).treeAggregate(new Array[Double](p + 3))(
      (acc, r) => {
        val (x, y) = r
        var m = beta(p)
        var j = 0
        while (j < p) { m += x(j) * beta(j); j += 1 }
        val fitted = family match {
          case "logistic" => 1.0 / (1.0 + math.exp(-m))
          case "poisson" => math.exp(m)
          case "normal" => m
        }
        val d = if (family == "normal") 2.0 * (m - y) else fitted - y
        j = 0
        while (j < p) { acc(j) += d * x(j); j += 1 }
        acc(p) += d
        acc(p + 1) += fitted
        acc(p + 2) += y
        acc
      }, addInto)
    val n = stats.n.toDouble
    val sD = agg(p)
    val grad = new Array[Double](p + 1)
    val bHat = new Array[Double](p + 1)
    var shift = 0.0
    for (j <- 0 until p) {
      grad(j) = (agg(j) - stats.mean(j) * sD) / stats.std(j)
      bHat(j) = beta(j) * stats.std(j)
      shift += beta(j) * stats.mean(j)
    }
    grad(p) = sD
    bHat(p) = beta(p) + shift
    def soft(v: Double, t: Double): Double = math.signum(v) * math.max(math.abs(v) - t, 0.0)
    val res = reg match {
      case "none" => grad.map(g => math.abs(g) / n).max
      case "l2" => grad.indices.map(j => math.abs(grad(j) + lamduh * bHat(j)) / n).max
      case "l1" | "elastic_net" =>
        val (l1, l2) = if (reg == "l1") (lamduh, 0.0)
          else (lamduh * enetWeight, lamduh * (1 - enetWeight))
        grad.indices.map { j =>
          val s = (grad(j) + l2 * bHat(j)) / n
          math.abs(bHat(j) - soft(bHat(j) - s, l1 / n))
        }.max
    }
    GlmCheck(res, math.abs(agg(p + 1) - agg(p + 2)) / n)
  }

  /** Accuracy at threshold 0.5, recomputed with the benchmark's margin. */
  def accuracy(df: DataFrame, beta: Array[Double], p: Int): Double = {
    val (hit, n) = featureRows(df, "label").treeAggregate((0L, 0L))(
      { case ((h, c), (x, y)) =>
        var m = beta(p)
        var j = 0
        while (j < p) { m += x(j) * beta(j); j += 1 }
        (if ((m > 0) == (y > 0.5)) h + 1 else h, c + 1)
      },
      { case ((h1, c1), (h2, c2)) => (h1 + h2, c1 + c2) })
    hit.toDouble / n
  }

  // -------------------------------------------------------------- dedup

  /** Exact token 3-shingle Jaccard, tokenizing as the library documents
    * (Java regex split on " +", space-joined windows, distinct). Shingles
    * are hashed to 64 bits to keep the per-document sets small. */
  final class Shingles(text: Array[String]) {
    private val memo = new java.util.HashMap[Long, Array[Long]]()
    def of(id: Long): Array[Long] = {
      val got = memo.get(id)
      if (got != null) got
      else {
        val t = text(id.toInt).split(" +", -1)
        val s = if (t.length < 3) Array.empty[Long]
          else (0 to t.length - 3).map { i =>
            val w = s"${t(i)} ${t(i + 1)} ${t(i + 2)}"
            (scala.util.hashing.MurmurHash3.stringHash(w, 17).toLong << 32) ^
              (scala.util.hashing.MurmurHash3.stringHash(w, 91).toLong & 0xffffffffL)
          }.distinct.sorted.toArray
        memo.put(id, s)
        s
      }
    }
    /** None when both documents have no shingle (the library drops them). */
    def jaccard(a: Long, b: Long): Option[Double] = {
      val x = of(a); val y = of(b)
      var i = 0; var j = 0; var inter = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1 else j += 1
      }
      val union = x.length + y.length - inter
      if (union == 0) None else Some(inter.toDouble / union)
    }
  }

  /** Connected components by union-find; label = minimum id in the
    * component. Only ids that occur in a pair get a label. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp)
        x = gp
      }
      x
    }
    for ((a, b) <- pairs) {
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      // keep the smaller root on top, so the root is the component minimum
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val out = Map.newBuilder[Long, Long]
    parent.keySet.forEach(k => out += (k -> find(k)))
    out.result()
  }

  /** Ids left after keeping the minimum id of every component. */
  def survivors(ids: Iterable[Long], pairs: Iterable[(Long, Long)]): Set[Long] = {
    val label = components(pairs)
    ids.filter(i => label.getOrElse(i, i) == i).toSet
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Share of `planted` pairs found in `found` (pairs as (min, max)). */
  def recall(planted: Seq[(Long, Long)], found: Set[(Long, Long)]): Double =
    if (planted.isEmpty) 1.0
    else planted.count(p => found(p)).toDouble / planted.length
}
