package graft

import graft.ml.{GP, GWR, Hindcast}
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form identity tests for the ML kernels (SURVEY.md §5: GP/GWR are
  * non-SQL-expressible → property/identity tests instead of oracles). */
class MlSpec extends AnyFunSuite {

  test("GP: constant series predicts the constant everywhere") {
    val x = Array(0.0, 16.0, 32.0, 48.0, 64.0)
    val y = Array.fill(5)(7.5)
    val (_, preds) = GP.forecast(x, y)
    preds.foreach(p => assert(math.abs(p - 7.5) < 1e-9))
  }

  test("GP: near-interpolates training points (small noise)") {
    val x = Array.tabulate(10)(i => i * 16.0)
    val y = x.map(v => 2.0 + math.sin(v / 60.0))
    val preds = GP.posteriorMean(x, y, x)
    x.indices.foreach(i => assert(math.abs(preds(i) - y(i)) < 0.05,
      s"pred ${preds(i)} vs ${y(i)}"))
  }

  test("GP: forecast emits X plus +16/+32/+48 horizons") {
    val x = Array(0.0, 16.0, 32.0)
    val (xt, preds) = GP.forecast(x, Array(1.0, 2.0, 3.0))
    assert(xt.takeRight(3).toSeq == Seq(48.0, 64.0, 80.0))
    assert(preds.length == 6)
    preds.foreach(p => assert(!p.isNaN && !p.isInfinite))
  }

  test("GP: mean reversion far from data (mean-centering, A13)") {
    val x = Array(0.0, 16.0, 32.0)
    val y = Array(10.0, 20.0, 30.0)
    val far = GP.posteriorMean(x, y, Array(10000.0))
    assert(math.abs(far(0) - 20.0) < 1e-6) // reverts to mean(y)
  }

  test("Hindcast: lag placement follows results[r+k, k] (hind:67-69)") {
    val n = 10
    val days = Array.tabulate(n)(_ * 16.0)
    val vals = Array.tabulate(n)(i => 100.0 + i)
    val rows = Hindcast.lagMatrix(days, vals)
    val halfway = n / 2
    assert(rows.head.seriesIdx == halfway)
    assert(rows.length == n - halfway + 16)
    // row halfway: only lag0 set (first origin's nowcast); lag16 needs an
    // origin one run earlier, which doesn't exist
    assert(rows.head.lag0.isDefined && rows.head.lag16.isEmpty)
    // second row: lag0 from origin 1, lag16 from origin 0
    assert(rows(1).lag0.isDefined && rows(1).lag16.isDefined && rows(1).lag32.isEmpty)
    // fourth row onward (while runs last): all four lags populated
    assert(rows(3).lag0.isDefined && rows(3).lag48.isDefined)
    // lag0 of first row equals the prefix-GP nowcast computed directly
    val (_, preds) = GP.forecast(days.take(halfway), vals.take(halfway))
    assert(rows.head.lag0.get == preds(preds.length - 4))
  }

  test("GWR: recovers a global linear model exactly") {
    val rnd = new scala.util.Random(1)
    val calib = GWR.Calib(Array.tabulate(200) { _ =>
      val px = rnd.nextDouble() * 10
      val py = rnd.nextDouble() * 10
      val f1 = rnd.nextDouble() * 5
      val f2 = rnd.nextDouble() * 3
      GWR.Obs(px, py, Array(f1, f2), 2.0 + 3.0 * f1 - 1.5 * f2)
    })
    val pred = GWR.predictAt(5.0, 5.0, Array(2.0, 1.0), calib, bandwidth = 2.0)
    assert(math.abs(pred - (2.0 + 6.0 - 1.5)) < 1e-6)
  }

  test("GWR: locality — nearby calibration dominates") {
    // two spatial clusters with different intercepts
    val calib = GWR.Calib(
      Array.tabulate(50)(i => GWR.Obs(0.0 + i * 0.01, 0.0, Array(1.0), 10.0)) ++
      Array.tabulate(50)(i => GWR.Obs(100.0 + i * 0.01, 0.0, Array(1.0), 50.0)))
    val near0 = GWR.predictAt(0.2, 0.0, Array(1.0), calib, bandwidth = 5.0)
    val near100 = GWR.predictAt(100.2, 0.0, Array(1.0), calib, bandwidth = 5.0)
    assert(math.abs(near0 - 10.0) < 0.5)
    assert(math.abs(near100 - 50.0) < 0.5)
  }

  // the per-row kernel as first written (one design row allocated per
  // calibration row, 2-D normal equations), kept as the reference the
  // shared kernel must match bit for bit
  private def naiveFitAt(px: Double, py: Double, calib: Array[GWR.Obs], bw: Double): Array[Double] = {
    val k = calib(0).f.length + 1
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    val invBw2 = 1.0 / (bw * bw)
    for (o <- calib) {
      val dx = o.px - px
      val dy = o.py - py
      val w = math.exp(-0.5 * (dx * dx + dy * dy) * invBw2)
      if (w > 1e-12) {
        val row = 1.0 +: o.f
        for (i <- 0 until k) {
          val wi = w * row(i)
          for (j <- 0 until k) xtx(i)(j) += wi * row(j)
          xty(i) += wi * o.y
        }
      }
    }
    val m = Array.tabulate(k)(i => xtx(i) :+ xty(i))
    for (c <- 0 until k) {
      val piv = (c until k).reduce((a, b) => if (math.abs(m(b)(c)) > math.abs(m(a)(c))) b else a)
      val tmp = m(c); m(c) = m(piv); m(piv) = tmp
      if (math.abs(m(c)(c)) < 1e-12) m(c)(c) = 1e-12
      for (i <- 0 until k if i != c && m(i)(c) != 0.0) {
        val factor = m(i)(c) / m(c)(c)
        for (j <- c to k) m(i)(j) -= factor * m(c)(j)
      }
    }
    Array.tabulate(k)(i => m(i)(k) / m(i)(i))
  }

  test("GWR: the shared kernel is bit-identical to the per-row loop") {
    val rnd = new scala.util.Random(20261020)
    val obs = Array.tabulate(3000) { _ =>
      val (px, py) = (rnd.nextDouble() * 10, rnd.nextDouble() * 10)
      val (f1, f2) = (rnd.nextDouble(), rnd.nextGaussian() * 4)
      GWR.Obs(px, py, Array(f1, f2), 0.3 + 0.05 * px * f1 - 0.02 * f2 + 0.01 * rnd.nextGaussian())
    }
    val calib = GWR.Calib(obs)
    val bw = 0.5
    val targets = Seq((0.0, 0.0), (5.0, 5.0), (9.7, 2.3), (3.3, 8.8), (10.0, 10.0))
    targets.foreach { case (px, py) =>
      // the 1e-12 cutoff is exercised: far rows are skipped at every target
      assert(obs.exists { o =>
        val (dx, dy) = (o.px - px, o.py - py)
        math.exp(-0.5 * (dx * dx + dy * dy) / (bw * bw)) <= 1e-12
      })
      assert(GWR.fitAt(px, py, calib, bw).toSeq == naiveFitAt(px, py, obs, bw).toSeq, s"at ($px, $py)")
    }
  }

  test("GWR: biomass formula P6") {
    assert(math.abs(GWR.biomass(0.5) - (6480.2 * 0.5 - 958.6) / 1000.0) < 1e-12)
  }

  // a smooth spatially-varying surface: slope drifts across x, so a local
  // (small-k) fit beats the global one and AICc has an interior optimum
  private def syntheticSurface(n: Int, noise: Double, seed: Int): GWR.Calib = {
    val rnd = new scala.util.Random(seed)
    GWR.Calib(Array.tabulate(n) { _ =>
      val px = rnd.nextDouble() * 10
      val py = rnd.nextDouble() * 10
      val f1 = rnd.nextDouble() * 5
      val slope = 1.0 + 0.4 * px // coefficient varies over space
      GWR.Obs(px, py, Array(f1), 2.0 + slope * f1 + noise * rnd.nextGaussian())
    })
  }

  test("M1: golden-section converges to the AICc minimizer on a synthetic surface") {
    val calib = syntheticSurface(n = 120, noise = 0.05, seed = 7)
    val lo = 10
    val hi = calib.n
    val chosen = GWR.bandwidthAdaptiveAicc(calib, kMin = lo, kMax = hi)
    val exhaustive = (lo to hi).map(k => k -> GWR.aiccAdaptive(calib, k))
    val globalMin = exhaustive.minBy(_._2)
    // golden section assumes unimodality (as mgwr does); on this smooth
    // surface it must land on (or tie, within noise ulps) the global min
    val chosenScore = GWR.aiccAdaptive(calib, chosen)
    assert(chosenScore <= globalMin._2 + 1e-9,
      s"chosen k=$chosen (AICc=$chosenScore) vs global k=${globalMin._1} (AICc=${globalMin._2})")
  }

  test("M1: a smaller-than-global bandwidth wins when coefficients vary in space") {
    val calib = syntheticSurface(n = 120, noise = 0.05, seed = 11)
    val chosen = GWR.bandwidthAdaptiveAicc(calib, kMin = 10, kMax = calib.n)
    assert(chosen < calib.n) // local structure → interior optimum
  }

  test("M1: AICc value pinned (the leverage fit runs on the shared kernel)") {
    // the value the per-row kernel computed on this surface
    assert(GWR.aiccAdaptive(syntheticSurface(n = 60, noise = 0.05, seed = 7), 20) == 264.97126983464926)
  }

  test("M1: AICc rejects the saturated end (denominator guard)") {
    // tiny calibration: large tr(S) can push n-2-tr(S) <= 0 — must be +inf,
    // never a negative 'best' score
    val calib = syntheticSurface(n = 8, noise = 0.01, seed = 3)
    val scores = (2 to 8).map(k => GWR.aiccAdaptive(calib, k))
    assert(scores.forall(s => !s.isNaN))
  }
}
