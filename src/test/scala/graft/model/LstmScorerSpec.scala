package graft.model

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity spec for [[Lstm.ReusableScorer]] vs the reference
  * `Lstm.mse(x, Lstm.forward(p, x))` path it replaces in
  * `Pipeline.scoreWindows` (round-19 allocation-bounding fix — verdict
  * order #1). Every assertion compares RAW DOUBLE BITS: the scorer's
  * contract is the same netlib calls on the same values in the same
  * order, so any reordering/temp-elision mistake shows up as a bit flip
  * here long before it could move an oracle row. */
class LstmScorerSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def assertParity(p: Lstm.AeParams, xs: Seq[DenseMatrix[Double]],
                           clue: String): Unit = {
    val scorer = new Lstm.ReusableScorer(p)
    xs.zipWithIndex.foreach { case (x, i) =>
      val ref = Lstm.mse(x, Lstm.forward(p, x))
      val got = scorer.mse(x)
      assert(bits(got) == bits(ref),
        s"$clue window $i: scorer=$got (bits ${bits(got)}) vs " +
          s"reference=$ref (bits ${bits(ref)})")
    }
  }

  private def window(l: Int, f: Int, seed: Int): DenseMatrix[Double] = {
    val rng = new scala.util.Random(seed)
    DenseMatrix.tabulate(l, f)((_, _) => rng.nextDouble() * 4 - 2)
  }

  test("bit parity on randomized params and windows, many shapes") {
    for (f <- Seq(1, 2, 5); unitSeed <- Seq(7L, 42L, 99L)) {
      val p = Lstm.glorotInit(f, units = Seq(64, 32, 32, 64), seed = unitSeed)
      val xs = (0 until 20).map(i => window(20, f, i * 31 + f))
      assertParity(p, xs, s"f=$f seed=$unitSeed")
    }
  }

  test("bit parity on small/odd unit sizes and window lengths") {
    for ((units, l, f) <- Seq((Seq(8, 4, 4, 8), 1, 1), (Seq(8, 4, 4, 8), 3, 2),
      (Seq(16, 8, 8, 16), 40, 3), (Seq(3, 2, 2, 3), 7, 1))) {
      val p = Lstm.glorotInit(f, units = units, seed = 13L)
      val xs = (0 until 8).map(i => window(l, f, i + l))
      assertParity(p, xs, s"units=$units l=$l f=$f")
    }
  }

  test("buffer reuse across windows of CHANGING shapes stays bit-clean") {
    val p = Lstm.glorotInit(2, units = Seq(8, 4, 4, 8), seed = 5L)
    val scorer = new Lstm.ReusableScorer(p)
    // interleave shapes so stale buffer contents would contaminate if the
    // resize/zeroing logic were wrong
    for ((l, i) <- Seq(20, 5, 20, 40, 5, 20).zipWithIndex) {
      val x = window(l, 2, i * 17 + l)
      assert(bits(scorer.mse(x)) == bits(Lstm.mse(x, Lstm.forward(p, x))),
        s"shape change step $i (l=$l)")
    }
  }

  test("bit parity on the frozen detect model over a realistic series") {
    val p = DetectQuality.frozenModel
    val xs = (0 until 50).map { w =>
      DenseMatrix.tabulate(graft.Pipeline.SeqLen, 1) { (i, _) =>
        val base = 0.5 + 0.4 * math.sin((w + i) * 0.21)
        if ((w + i) % 19 == 0) base + 2.0 else base // spiked rows included
      }
    }
    assertParity(p, xs, "frozen model")
  }

  test("bit parity on extreme values (exp saturation, zeros, negatives)") {
    val p = Lstm.glorotInit(1, units = Seq(8, 4, 4, 8), seed = 3L)
    val xs = Seq(
      DenseMatrix.tabulate(20, 1)((_, _) => 0.0),
      DenseMatrix.tabulate(20, 1)((_, _) => 1e6),
      DenseMatrix.tabulate(20, 1)((_, _) => -1e6),
      DenseMatrix.tabulate(20, 1)((i, _) => if (i % 2 == 0) 1e300 else -1e300),
      DenseMatrix.tabulate(20, 1)((i, _) => if (i % 3 == 0) -0.0 else 1e-300))
    assertParity(p, xs, "extremes")
  }

  test("jitWarmup sink is unchanged by the scorer swap (observable value)") {
    // the warmup's synthetic window scored by both paths — the bench
    // records the sink, so it must not move
    val x = DenseMatrix.tabulate(graft.Pipeline.SeqLen, 1) {
      (i, _) => (i % 7) / 7.0
    }
    val p = DetectQuality.frozenModel
    val scorer = new Lstm.ReusableScorer(p)
    assert(bits(scorer.mse(x)) == bits(Lstm.mse(x, Lstm.forward(p, x))))
  }

  test("transposed parameter matrices fall back to the reference path") {
    val p0 = Lstm.glorotInit(2, units = Seq(8, 4, 4, 8), seed = 11L)
    // force a transposed layout through the public constructor: w.t.t has
    // the same logical values but isTranspose layouts underneath
    val pT = p0.copy(enc1 = p0.enc1.copy(w = p0.enc1.w.t.copy.t))
    val x = window(20, 2, 1)
    val scorer = new Lstm.ReusableScorer(pT)
    assert(bits(scorer.mse(x)) == bits(Lstm.mse(x, Lstm.forward(pT, x))))
  }

  test("mis-chained parameters fall back to the reference path") {
    val p = Lstm.glorotInit(2, units = Seq(8, 4, 4, 8), seed = 19L)
    val other = Lstm.glorotInit(5, units = Seq(6, 6, 6, 6), seed = 19L)
    val x = window(20, 2, 3)
    // un-chainable layers: the reference raises Breeze's dimension
    // mismatch, and so does the scorer, instead of raw out-of-bounds reads
    for (bad <- Seq(p.copy(enc2 = other.enc1), p.copy(dec1 = other.enc1),
      p.copy(dec2 = other.enc1))) {
      assert(Lstm.layoutError(bad).isDefined)
      val ref = intercept[IllegalArgumentException](Lstm.mse(x, Lstm.forward(bad, x)))
      val got = intercept[IllegalArgumentException](new Lstm.ReusableScorer(bad).mse(x))
      assert(got.getMessage == ref.getMessage)
    }
    // an output bias longer than the output width fails the guard but is
    // still computable: the fallback returns the reference's exact value
    val longBias = p.copy(out = p.out.copy(b = breeze.linalg.DenseVector.zeros[Double](3)))
    assert(Lstm.layoutError(longBias).exists(_.contains("out.b.length")))
    assert(bits(new Lstm.ReusableScorer(longBias).mse(x)) ==
      bits(Lstm.mse(x, Lstm.forward(longBias, x))))
  }
}
