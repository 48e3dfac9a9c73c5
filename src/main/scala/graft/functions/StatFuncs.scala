package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._

/** Scalar statistical functions the engine needs beyond Spark's built-ins
  * (SURVEY.md §2.10-§2.11 UDF census): normal distribution log-pdf /
  * log-sf / inverse CDF, erfc. Spark SQL has no normal CDF, so `erfc` and
  * `norminv` are deterministic Scala UDF-backed column functions built on
  * pure-Scala double-precision implementations (W. J. Cody-style rational
  * approximations); `normLogPdf` is closed-form column arithmetic
  * (codegen'd).
  *
  * Numeric notes: erfc is accurate to ~1e-15 relative over |x| ≤ 6 and
  * keeps full log-domain accuracy via erfcx scaling for the deep tail
  * (the reference uses scipy's norm.logsf, stats.py:130-134).
  */
object StatFuncs {

  // -------------------- pure-Scala scalar kernels --------------------

  /** erfc(x), double precision — Cody's rational approximations over the
    * three classical ranges. */
  def erfc(x: Double): Double = {
    val ax = math.abs(x)
    val r =
      if (ax < 0.46875) 1.0 - erfSmall(ax)
      else if (ax <= 4.0) erfcMid(ax)
      else erfcLarge(ax)
    if (x >= 0) r else 2.0 - r
  }

  /** Scaled complementary error function erfcx(x) = exp(x²)·erfc(x) for
    * x ≥ 0 — stays O(1/x) where erfc underflows. */
  def erfcx(x: Double): Double = {
    require(x >= 0)
    if (x < 0.46875) math.exp(x * x) * (1.0 - erfSmall(x))
    else if (x <= 4.0) math.exp(x * x) * erfcMid(x)
    else erfcxLarge(x)
  }

  /** Region-3 (x > 4) scaled erfc, SPECFUN rational form:
    * erfcx(x) = (1/√π − z·P(z)/Q(z)) / x with z = 1/x². */
  private def erfcxLarge(x: Double): Double = {
    val p = Array(3.05326634961232344e-1, 3.60344899949804439e-1,
      1.25781726111229246e-1, 1.60837851487422766e-2,
      6.58749161529837803e-4, 1.63153871373020978e-2)
    val q = Array(2.56852019228982242e+0, 1.87295284992346047e+0,
      5.27905102951428412e-1, 6.05183413124413191e-2,
      2.33520497626869185e-3)
    val z = 1.0 / (x * x)
    var xnum = p(5) * z
    var xden = z
    var i = 0
    while (i < 4) { xnum = (xnum + p(i)) * z; xden = (xden + q(i)) * z; i += 1 }
    val r = z * (xnum + p(4)) / (xden + q(4))
    (5.6418958354775628695e-1 - r) / x
  }

  private def erfSmall(x: Double): Double = {
    // |x| < 0.5: erf(x) = x · P(x²)/Q(x²)
    val a = Array(3.16112374387056560e+0, 1.13864154151050156e+2,
      3.77485237685302021e+2, 3.20937758913846947e+3,
      1.85777706184603153e-1)
    val b = Array(2.36012909523441209e+1, 2.44024637934444173e+2,
      1.28261652607737228e+3, 2.84423683343917062e+3)
    val z = x * x
    val num = ((((a(4) * z + a(0)) * z + a(1)) * z + a(2)) * z + a(3))
    val den = ((((z + b(0)) * z + b(1)) * z + b(2)) * z + b(3))
    x * num / den
  }

  private def erfcMid(x: Double): Double = {
    // 0.46875 ≤ x ≤ 4: erfc(x) = exp(-x²) · P(x)/Q(x)
    val c = Array(5.64188496988670089e-1, 8.88314979438837594e+0,
      6.61191906371416295e+1, 2.98635138197400131e+2,
      8.81952221241769090e+2, 1.71204761263407058e+3,
      2.05107837782607147e+3, 1.23033935479799725e+3,
      2.15311535474403846e-8)
    val d = Array(1.57449261107098347e+1, 1.17693950891312499e+2,
      5.37181101862009858e+2, 1.62138957456669019e+3,
      3.29079923573345963e+3, 4.36261909014324716e+3,
      3.43936767414372164e+3, 1.23033935480374942e+3)
    var num = c(8); var i = 0
    while (i < 8) { num = num * x + c(i); i += 1 }
    var den = x + d(0); i = 1
    while (i < 8) { den = den * x + d(i); i += 1 }
    math.exp(-x * x) * num / den
  }

  private def erfcLarge(x: Double): Double = {
    val v = erfcx(x)
    val e = math.exp(-x * x)
    if (e == 0.0) 0.0 else v * e
  }

  /** log Φ(z) — numerically stable down to z ≈ -37 and beyond using the
    * erfcx-scaled form: log Φ(z) = -z²/2 + log(erfcx(-z/√2)/2) for z<0. */
  def normLogCdf(z: Double): Double =
    if (z >= 0) math.log1p(-0.5 * erfc(z / math.sqrt(2.0)))
    else -0.5 * z * z + math.log(0.5 * erfcx(-z / math.sqrt(2.0)))

  /** log(1 - Φ(z)) = log Φ(-z). */
  def normLogSf(z: Double): Double = normLogCdf(-z)

  /** Φ⁻¹(p), Acklam's rational approximation refined by one Halley step
    * (|rel err| < 1e-15 after refinement) — for Stouffer (dm.py:27-37). */
  def normInv(pRaw: Double): Double = {
    if (pRaw.isNaN) return Double.NaN
    // clamp to the open interval — p=0/1 arise from t-CDF saturation
    val p = math.min(math.max(pRaw, 1e-300), 1.0 - 1.11e-16)
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pLow = 0.02425
    val x =
      if (p < pLow) {
        val q = math.sqrt(-2 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      } else if (p <= 1 - pLow) {
        val q = p - 0.5; val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
      } else {
        val q = math.sqrt(-2 * math.log(1 - p))
        -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      }
    // one Halley refinement using the exact CDF:
    val e = 0.5 * erfc(-x / math.sqrt(2.0)) - p
    val u = e * math.sqrt(2 * math.Pi) * math.exp(x * x / 2.0)
    x - u / (1 + x * u / 2)
  }

  /** Φ(z). */
  def normCdf(z: Double): Double = 0.5 * erfc(-z / math.sqrt(2.0))

  // -------------------- Column functions --------------------

  /** erfc as a column function — a codegen-native Catalyst Expression
    * (graft.functions.Expressions.erfc), not a UDF. */
  def erfcCol(c: Column): Column = Expressions.erfc(c.cast("double"))

  /** log-pdf of N(mu, sigma) at x — pure column arithmetic (codegen'd). */
  def normLogPdfCol(x: Column, mu: Column, sigma: Column): Column = {
    val z = (x - mu) / sigma
    lit(-0.5) * z * z - log(sigma * math.sqrt(2.0 * math.Pi))
  }

  /** log-sf of N(mu, sigma) at x (erfcx-scaled kernel Expression). */
  def normLogSfCol(x: Column, mu: Column, sigma: Column): Column =
    Expressions.normLogSf(((x - mu) / sigma).cast("double"))

  /** Φ⁻¹(p) as a column function (kernel Expression). */
  def normInvCol(p: Column): Column = Expressions.normInv(p.cast("double"))

  // -------------------- Huber M-estimator (A17) --------------------

  /** Huber robust (location, scale) per the reference (stats.py:29-61):
    * init mu = median, sigma = MAD (normalized, statsmodels default
    * c = 0.6744897501960817); iterate mean of values clipped to
    * mu ± k·sigma until |Δmu| < tol·sigma. Driver-side kernel over a
    * collected array (per-sample groups are KB-MB sized — the same
    * boundary the reference uses; SURVEY.md §3.2). Returns None when
    * MAD = 0 (stats.py:49-51). */
  def huber(values: Array[Double], k: Double = 1.5,
      tol: Double = 1e-6): Option[(Double, Double)] = {
    val v = values.filter(d => !d.isNaN)
    if (v.isEmpty) return None
    val mu0 = median(v)
    val sigma = median(v.map(x => math.abs(x - mu0))) / 0.6744897501960817
    if (sigma == 0) return None
    var mu = mu0
    var done = false
    while (!done) {
      val clipped = v.map(x => math.min(math.max(x, mu - k * sigma),
        mu + k * sigma))
      val muNew = clipped.sum / clipped.length
      if (math.abs(mu - muNew) < tol * sigma) done = true
      mu = muNew
    }
    Some((mu, sigma))
  }

  /** Two-sided Student-t p-value 1 − A(|t| | ν) for INTEGER dof via the
    * closed-form finite sums of Abramowitz & Stegun 26.7.3/26.7.4:
    * with θ = arctan(|t|/√ν),
    *   ν odd:  A = (2/π)(θ + sinθ·Σ),  Σ = cosθ + (2/3)cos³θ + …
    *   ν even: A = sinθ·Σ,             Σ = 1 + (1/2)cos²θ + …
    * each sum having (ν−1)/2 resp. ν/2 terms with term ratio
    * j/(j+1)·cos²θ. Mathematically exact (unlike an incomplete-beta
    * continued fraction), so an oracle that transcribes the same
    * recurrence reproduces it to libm-ulp — the property every other
    * transcribed kernel here (erfc, normInv) relies on. */
  def tTwoSidedP(t: Double, dof: Int): Double = {
    if (t.isNaN || dof <= 0) return Double.NaN
    val x = math.abs(t)
    val th = math.atan2(x, math.sqrt(dof.toDouble))
    val c = math.cos(th)
    val s = math.sin(th)
    if (dof % 2 == 1) {
      var term = c; var acc = c
      var j = 2
      while (j <= dof - 3) {
        term = term * (j / (j + 1.0)) * c * c
        acc += term
        j += 2
      }
      if (dof == 1) 1.0 - 2.0 / math.Pi * th
      else 1.0 - 2.0 / math.Pi * (th + s * acc)
    } else {
      var term = 1.0; var acc = 1.0
      var j = 1
      while (j <= dof - 3) {
        term = term * (j / (j + 1.0)) * c * c
        acc += term
        j += 2
      }
      1.0 - s * acc
    }
  }

  /** Exact median of an array (average of middle two for even n —
    * np.median semantics). */
  def median(v: Array[Double]): Double = {
    val s = v.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** IQR = P75 − P25 with numpy linear interpolation (stats.py:13-26). */
  def iqr(v: Array[Double]): Double =
    percentile(v, 75) - percentile(v, 25)

  /** numpy-style linear-interpolation percentile. */
  def percentile(v: Array[Double], q: Double): Double = {
    val s = v.sorted
    val n = s.length
    if (n == 0) return Double.NaN
    if (n == 1) return s(0)
    val pos = q / 100.0 * (n - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) s(lo) else s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  /** ECDF step-function value count: #(sorted ≤ x) via binary search —
    * statsmodels ECDF semantics (≤, right-continuous), used by pOOBAH
    * (samples.py:1591-1592). */
  def ecdfCount(sorted: Array[Double], x: Double): Int = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** [[ecdfCount]] over a null-free ascending Catalyst array, in Spark's
    * double ordering (`SQLOrderingUtil.compareDoubles`: NaN is greatest
    * and equals NaN, −0.0 = 0.0) — the ordering `sort_array` sorts by, so
    * ties with the array (NaN included) count as ≤ x. Backs the
    * `ecdf_count` kernel of [[graft.operators.Ecdf]]. */
  def ecdfCount(sorted: ArrayData, x: Double): Int = {
    var lo = 0; var hi = sorted.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(sorted.getDouble(mid), x) <= 0)
        lo = mid + 1
      else hi = mid
    }
    lo
  }
}
