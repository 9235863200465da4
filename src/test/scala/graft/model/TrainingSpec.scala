package graft.model

import breeze.linalg.{DenseMatrix, DenseVector}
import org.scalatest.funsuite.AnyFunSuite

class TrainingSpec extends AnyFunSuite {

  private val F = 2
  private val L = 4
  private def tinyParams(seed: Long) =
    Lstm.glorotInit(F, units = Seq(3, 2, 2, 3), seed = seed)
  private def window(seed: Int): DenseMatrix[Double] =
    DenseMatrix.tabulate(L, F)((i, j) => 0.3 + 0.4 * math.sin(seed + i * 0.7 + j * 1.3))

  test("BPTT gradients match central finite differences (gradient check)") {
    val p = tinyParams(11L)
    val x = window(3)
    val flat = Training.flatten(p)
    val analytic = new Array[Double](flat.length)
    Training.ReusableTrainer(p).lossAndGrad(flat, x, analytic)
    val eps = 1e-6
    // probe a spread of parameter indices across all layers
    val idxs = (0 until flat.length by math.max(1, flat.length / 60)).toSeq
    var checked = 0
    idxs.foreach { k =>
      val fp = flat.clone(); fp(k) += eps
      val fm = flat.clone(); fm(k) -= eps
      val lp = Lstm.mse(x, Lstm.forward(Training.unflatten(p, fp), x))
      val lm = Lstm.mse(x, Lstm.forward(Training.unflatten(p, fm), x))
      val numeric = (lp - lm) / (2 * eps)
      // denom floor 1e-6 absorbs finite-difference noise on near-zero grads
      // (eps=1e-6 steps on an O(1e-2) loss bound absolute accuracy ~1e-10)
      val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic(k)))
      assert(math.abs(numeric - analytic(k)) / denom < 1e-4,
        s"param $k: numeric=$numeric analytic=${analytic(k)}")
      checked += 1
    }
    assert(checked > 40)
  }

  test("training reduces reconstruction loss on a learnable signal (sine)") {
    val windows = (0 until 40).map(window)
    val init = Lstm.glorotInit(F, units = Seq(8, 4, 4, 8), seed = 5L)
    val before = windows.map(x => Lstm.mse(x, Lstm.forward(init, x))).sum / 40
    val result = Training.trainDriver(windows, IndexedSeq.empty, init,
      epochs = 120, batchSize = 8, lr = 1e-2, patience = 120, seed = 1L)
    val after = windows.map(x =>
      Lstm.mse(x, Lstm.forward(result.params, x))).sum / 40
    assert(after < before * 0.5, s"before=$before after=$after")
    assert(result.history.size > 1)
    // loss history is broadly decreasing
    assert(result.history.last._1 < result.history.head._1)
  }

  test("early stopping restores the best-validation weights") {
    val train = (0 until 20).map(window)
    val valW = (100 until 110).map(window)
    val r = Training.trainDriver(train, valW, tinyParams(9L),
      epochs = 30, batchSize = 8, lr = 5e-3, patience = 3, seed = 2L)
    val bestVal = r.history.map(_._2).min
    val restored = valW.map(x => Lstm.mse(x, Lstm.forward(r.params, x))).sum / valW.size
    assert(math.abs(restored - bestVal) < 1e-9) // params are the best epoch's
    assert(r.bestEpoch >= 0 && r.bestEpoch < r.history.size)
  }

  test("flatten/unflatten round-trips parameters exactly") {
    val p = tinyParams(13L)
    val back = Training.unflatten(p, Training.flatten(p))
    assert(back.enc1.w == p.enc1.w && back.dec2.u == p.dec2.u
      && back.out.b == p.out.b)
  }

  test("distributed minibatch trajectory is comparable to the driver path (batch semantics)") {
    val spark = graft.TestSpark.spark
    val windows = (0 until 32).map(window)
    val init = Lstm.glorotInit(F, units = Seq(6, 3, 3, 6), seed = 7L)
    val epochs = 15
    val rDriver = Training.trainDriver(windows, IndexedSeq.empty, init,
      epochs = epochs, batchSize = 8, lr = 1e-2, patience = epochs, seed = 1L)
    val rDist = Training.trainDistributed(spark,
      spark.sparkContext.parallelize(windows, 4), init, epochs = epochs,
      lr = 1e-2, patience = epochs, batchSize = 8)
    // Same schedule shape: 4 Adam steps per epoch on both arms (n=32, b=8).
    // The epoch shuffles differ (Random vs murmur slices) so trajectories
    // are not identical — but with matching step counts and lr they must
    // track each other closely, unlike full-batch (1 step/epoch) which
    // after 15 epochs has taken 15 steps instead of 60.
    assert(rDist.history.size == epochs && rDriver.history.size == epochs)
    val dFinal = rDist.history.last._1
    val drFinal = rDriver.history.last._1
    assert(dFinal < rDist.history.head._1, "distributed loss must decrease")
    assert(dFinal / drFinal < 1.5 && drFinal / dFinal < 1.5,
      s"trajectories diverged: driver=$drFinal distributed=$dFinal")
    // per-epoch comparability over the back half of training
    rDist.history.zip(rDriver.history).drop(epochs / 2).foreach {
      case ((dl, _), (rl, _)) =>
        assert(dl / rl < 2.0 && rl / dl < 2.0, s"epoch loss drifted: $dl vs $rl")
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def randomWindow(l: Int, f: Int, seed: Int): DenseMatrix[Double] = {
    val rng = new scala.util.Random(seed)
    DenseMatrix.tabulate(l, f)((_, _) => rng.nextDouble())
  }

  /** Loss and summed flat gradient of the test-scope per-timestep
    * reference over `xs`. */
  private def reference(p: Lstm.AeParams, xs: Seq[DenseMatrix[Double]]) = {
    val acc = BpttReference.zeroGrads(p)
    val losses = xs.map(x => BpttReference.forwardBackward(p, x, acc))
    (losses, BpttReference.flattenGrads(acc))
  }

  private def assertGradsClose(got: Array[Double], want: Array[Double],
                               clue: String): Unit = {
    assert(got.length == want.length)
    got.indices.foreach { k =>
      val diff = math.abs(got(k) - want(k))
      assert(diff <= 1e-15 || diff <= 1e-9 * math.max(math.abs(got(k)), math.abs(want(k))),
        s"$clue param $k: kernel=${got(k)} reference=${want(k)}")
    }
  }

  test("raw-array trainer matches the per-timestep reference (L=20, units 64/32/32/64, F=10 and F=19)") {
    for (f <- Seq(10, 19)) {
      val p = Lstm.glorotInit(f, units = Seq(64, 32, 32, 64), seed = 17L + f)
      val xs = (0 until 4).map(i => randomWindow(20, f, 100 * f + i))
      val (refLosses, refGrad) = reference(p, xs)
      val trainer = Training.ReusableTrainer(p)
      val flat = Training.flatten(p)
      val grad = new Array[Double](flat.length)
      xs.zip(refLosses).zipWithIndex.foreach { case ((x, want), i) =>
        val got = trainer.lossAndGrad(flat, x, grad)
        assert(math.abs(got - want) <= 1e-12 * math.abs(want),
          s"F=$f window $i: kernel loss $got vs reference $want")
      }
      assertGradsClose(grad, refGrad, s"F=$f")
    }
  }

  test("raw-array trainer reuses its buffers across changing window lengths") {
    val p = Lstm.glorotInit(3, units = Seq(8, 4, 4, 8), seed = 23L)
    val trainer = Training.ReusableTrainer(p)
    val flat = Training.flatten(p)
    for ((l, i) <- Seq(20, 1, 5, 20, 2).zipWithIndex) {
      val x = randomWindow(l, 3, 7 * i + l)
      val (Seq(want), refGrad) = reference(p, Seq(x))
      val grad = new Array[Double](flat.length)
      val got = trainer.lossAndGrad(flat, x, grad)
      assert(math.abs(got - want) <= 1e-12 * math.abs(want), s"l=$l: $got vs $want")
      assertGradsClose(grad, refGrad, s"l=$l")
    }
  }

  test("trainDriver is bitwise reproducible and equals a sequential fold over its slices") {
    val train = (0 until 50).map(i => randomWindow(L, F, i))
    val valW = (50 until 60).map(i => randomWindow(L, F, i))
    val init = Lstm.glorotInit(F, units = Seq(8, 4, 4, 8), seed = 29L)
    // batches of 24, 24, 2 windows: 3, 3 and 1 slices of SliceSize = 8
    def run() = Training.trainDriver(train, valW, init, epochs = 3,
      batchSize = 24, lr = 1e-2, patience = 3, seed = 4L)
    def snapshot(r: Training.TrainResult) =
      (r.history.map { case (a, b) => (bits(a), bits(b)) },
        Training.flatten(r.params).map(bits).toSeq, r.bestEpoch)
    val first = snapshot(run())
    assert(snapshot(run()) == first, "two default-pool runs differ")
    // the same call on a one-thread fork-join pool runs every slice in turn
    val one = new java.util.concurrent.ForkJoinPool(1)
    val task = new java.util.concurrent.Callable[Training.TrainResult] {
      def call(): Training.TrainResult = run()
    }
    try assert(snapshot(one.submit(task).get()) == first,
      "one-thread run differs from the default pool")
    finally one.shutdown()

    // an explicit sequential fold of one epoch over the same shuffle and slices
    val one1 = Training.trainDriver(train, IndexedSeq.empty, init, epochs = 1,
      batchSize = 24, lr = 1e-2, patience = 3, seed = 4L)
    val flat = Training.flatten(init)
    val adam = new Training.Adam(lr = 1e-2)
    val trainer = Training.ReusableTrainer(init)
    var loss = 0.0
    new scala.util.Random(4L).shuffle(train.indices.toVector).grouped(24).foreach { batch =>
      val sliceGrads = batch.grouped(Training.SliceSize).map { slice =>
        val g = new Array[Double](flat.length)
        loss += slice.map(i => trainer.lossAndGrad(flat, train(i), g)).sum
        g
      }.toVector
      val g = sliceGrads.reduceLeft((a, b) => a.indices.map(k => a(k) + b(k)).toArray)
      adam.step(flat, g.map(_ * (1.0 / batch.size)))
    }
    assert(bits(one1.history.head._1) == bits(loss / train.size))
    assert(Training.flatten(one1.params).map(bits).toSeq == flat.map(bits).toSeq)
  }

  test("mis-chained parameters: the trainer names the layer instead of reading out of bounds") {
    val p = Lstm.glorotInit(2, units = Seq(8, 4, 4, 8), seed = 31L)
    val other = Lstm.glorotInit(5, units = Seq(6, 6, 6, 6), seed = 31L)
    val cases = Seq(
      "enc2.inputDim" -> p.copy(enc2 = other.enc1),
      "dec1.inputDim" -> p.copy(dec1 = other.enc1),
      "dec2.inputDim" -> p.copy(dec2 = other.enc1),
      "out.w.rows" -> p.copy(out = other.out.copy(
        w = other.out.w(0 until 6, 0 until 2).copy, b = other.out.b(0 until 2).copy)))
    cases.foreach { case (layer, bad) =>
      val e = intercept[IllegalArgumentException](Training.ReusableTrainer(bad))
      assert(e.getMessage.contains(layer), e.getMessage)
      val viaDriver = intercept[IllegalArgumentException](Training.trainDriver(
        IndexedSeq(window(1)), IndexedSeq.empty, bad, epochs = 1))
      assert(viaDriver.getMessage.contains(layer), viaDriver.getMessage)
    }
  }

  test("Adam takes a descent step on a quadratic") {
    val adam = new Training.Adam(lr = 0.1)
    val params = Array(5.0, -3.0)
    for (_ <- 0 until 200) adam.step(params, Array(2 * params(0), 2 * params(1)))
    assert(math.abs(params(0)) < 0.2 && math.abs(params(1)) < 0.2)
  }
}
