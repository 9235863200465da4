package graft.model

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.model.Lstm._

/** M2: LSTM-autoencoder training — Adam + MSE + early stopping with
  * best-weight restore, matching the reference's training contract
  * (`/root/reference/train_autoencoder.py:196-237`: Adam lr 1e-3, loss MSE,
  * epochs ≤50, batch 64, shuffle, EarlyStopping(patience, restore best)).
  *
  * Backpropagation-through-time is implemented from the public LSTM
  * equations (gate order i,f,g,o; recurrent_activation sigmoid; activation
  * relu as configured) in one kernel, [[ReusableTrainer]]: raw arrays and
  * direct netlib calls, buffers sized once per (window length, parameter
  * shapes), parameters read from and gradients added into the [[flatten]]
  * layout Adam works on. Two drivers share it:
  *  - [[trainDriver]]: minibatch Adam over driver-collected windows (the
  *    reference's scale: ~8k×20×19 doubles ≈ 25 MB — trivially
  *    driver-sized). Each minibatch is cut into fixed [[SliceSize]]-window
  *    slices that run in parallel on the common fork-join pool, one trainer
  *    per slice; slice gradients are summed in slice order, so the result
  *    is bitwise the same on any core count;
  *  - [[trainDistributed]]: the 100 TB path — per-batch gradient partial
  *    sums computed by executor tasks over broadcast weights, Adam step on
  *    the driver, broadcast back. The classic MLlib GLM shape.
  * Validation losses go through [[Lstm.ReusableScorer]], bit-identical to
  * `Lstm.mse(x, Lstm.forward(p, x))`.
  */
object Training {

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
  @inline private def relu(x: Double): Double = if (x > 0) x else 0.0

  /** Allocation-free BPTT for one autoencoder shape: `lossAndGrad(params,
    * x, grad)` returns the window's reconstruction MSE and ADDS its gradient
    * into `grad`, both `params` and `grad` in the [[flatten]] layout.
    *
    * Per LSTM layer the big products are hoisted out of the time loop:
    * one dgemm for Wᵀ·X over all timesteps before it; per step only the
    * recurrent dgemv (Uᵀh forward, U·dz backward) and the scalar gate
    * math; after it one dgemm each for dW += X·dZᵀ, dU += H₋₁·dZᵀ and
    * dX = W·dZ, plus row sums for db. Every per-layer buffer is time-major
    * (dim × l, column-major), so step t is one contiguous column. The
    * arithmetic is the textbook BPTT of the reference implementation kept
    * in test scope; sums run in a different order, so gradients agree to
    * rounding (pinned in TrainingSpec), not bit for bit.
    *
    * Built from the (numFeatures, units) shape alone; [[ReusableTrainer.apply]]
    * derives it from parameters that pass [[Lstm.layoutError]] and throws an
    * IllegalArgumentException naming the mis-chained layer otherwise. One
    * trainer per thread — NOT thread-safe. */
  final class ReusableTrainer(val numFeatures: Int, val units: Seq[Int]) {
    require(units.size == 4 && units.forall(_ > 0) && numFeatures > 0,
      s"trainer shape: numFeatures $numFeatures, units $units")
    private val blas = dev.ludovic.netlib.blas.BLAS.getInstance
    private val us = units.toArray
    private val ins = Array(numFeatures, us(0), us(1), us(2))
    // flat offsets of each layer's W, U and b, then the output layer's W, b
    private val wOff, uOff, bOff = new Array[Int](4)
    private val (outWOff, outBOff, flatSize) = {
      var off = 0
      var k = 0
      while (k < 4) {
        wOff(k) = off; off += ins(k) * 4 * us(k)
        uOff(k) = off; off += us(k) * 4 * us(k)
        bOff(k) = off; off += 4 * us(k)
        k += 1
      }
      (off, off + us(3) * numFeatures, off + us(3) * numFeatures + numFeatures)
    }

    private val maxU = us.max
    private val hNext = new Array[Double](maxU) // dL/dh carried to t−1
    private val cNext = new Array[Double](maxU) // dL/dc carried to t−1
    // per-l buffers, (re)sized lazily
    private var bufL = -1
    private var xT: Array[Double] = _                // window, numFeatures × l
    private var rep: Array[Double] = _               // RepeatVector(code), u2 × l
    private var gates: Array[Array[Double]] = _      // i|f|g|o per layer, 4u × l
    private var cs, hs, dHs: Array[Array[Double]] = _ // per layer, u × l
    private var dz: Array[Double] = _                // 4·maxU × l, one layer at a time
    private var dRep: Array[Double] = _              // dL/d(repeated code), u2 × l
    private var y, dzOut: Array[Double] = _          // numFeatures × l

    private def ensure(l: Int): Unit = if (l != bufL) {
      xT = new Array(numFeatures * l)
      rep = new Array(us(1) * l)
      gates = us.map(u => new Array[Double](4 * u * l))
      cs = us.map(u => new Array[Double](u * l))
      hs = us.map(u => new Array[Double](u * l))
      dHs = us.map(u => new Array[Double](u * l))
      dz = new Array(4 * maxU * l)
      dRep = new Array(us(1) * l)
      y = new Array(numFeatures * l)
      dzOut = new Array(numFeatures * l)
      bufL = l
    }

    /** Layer k over input `xin` (in × l): gate activations, cell and hidden
      * states for every step into gates(k), cs(k), hs(k). */
    private def forwardLayer(k: Int, p: Array[Double], xin: Array[Double],
                             l: Int): Unit = {
      val u = us(k); val u4 = 4 * u; val in = ins(k)
      val g = gates(k); val c = cs(k); val h = hs(k)
      // Wᵀ·X for all timesteps at once; the recurrent term is added per step
      blas.dgemm("T", "N", u4, l, in, 1.0, p, wOff(k), in, xin, 0, in,
        0.0, g, 0, u4)
      val uh = dz // scratch: dz is free until backward
      val b = bOff(k)
      var t = 0
      while (t < l) {
        val col = t * u4
        if (t == 0) java.util.Arrays.fill(uh, 0, u4, 0.0)
        else blas.dgemv("T", u, u4, 1.0, p, uOff(k), u, h, (t - 1) * u, 1,
          0.0, uh, 0, 1)
        var j = 0
        while (j < u) {
          // z = (Wᵀx + Uᵀh₋₁) + b, then c = f·c₋₁ + i·g; h = o·relu(c)
          val iG = sigmoid((g(col + j) + uh(j)) + p(b + j))
          val fG = sigmoid((g(col + u + j) + uh(u + j)) + p(b + u + j))
          val gG = relu((g(col + 2 * u + j) + uh(2 * u + j)) + p(b + 2 * u + j))
          val oG = sigmoid((g(col + 3 * u + j) + uh(3 * u + j)) + p(b + 3 * u + j))
          g(col + j) = iG; g(col + u + j) = fG
          g(col + 2 * u + j) = gG; g(col + 3 * u + j) = oG
          val cPrev = if (t == 0) 0.0 else c((t - 1) * u + j)
          val cv = fG * cPrev + iG * gG
          c(t * u + j) = cv
          h(t * u + j) = oG * relu(cv)
          j += 1
        }
        t += 1
      }
    }

    /** BPTT for layer k given dH = dL/dh for every step (u × l): adds the
      * parameter gradients into `grad` and, when `dX` is non-null, writes
      * dL/dX (in × l) there. */
    private def backwardLayer(k: Int, p: Array[Double], xin: Array[Double],
                              dH: Array[Double], l: Int, grad: Array[Double],
                              dX: Array[Double]): Unit = {
      val u = us(k); val u4 = 4 * u; val in = ins(k)
      val g = gates(k); val c = cs(k); val h = hs(k)
      java.util.Arrays.fill(hNext, 0, u, 0.0)
      java.util.Arrays.fill(cNext, 0, u, 0.0)
      var t = l - 1
      while (t >= 0) {
        val col = t * u4
        var j = 0
        while (j < u) {
          val dh = dH(t * u + j) + hNext(j)
          val cv = c(t * u + j)
          val iv = g(col + j); val fv = g(col + u + j)
          val gv = g(col + 2 * u + j); val ov = g(col + 3 * u + j)
          // h = o·relu(c)
          val doo = dh * relu(cv)
          val dc = cNext(j) + dh * ov * (if (cv > 0) 1.0 else 0.0)
          val cPrev = if (t == 0) 0.0 else c((t - 1) * u + j)
          dz(col + j) = dc * gv * iv * (1 - iv)                         // d z_i
          dz(col + u + j) = dc * cPrev * fv * (1 - fv)                  // d z_f
          dz(col + 2 * u + j) = dc * iv * (if (gv > 0) 1.0 else 0.0)    // d z_g
          dz(col + 3 * u + j) = doo * ov * (1 - ov)                     // d z_o
          cNext(j) = dc * fv
          j += 1
        }
        if (t > 0) blas.dgemv("N", u, u4, 1.0, p, uOff(k), u, dz, col, 1,
          0.0, hNext, 0, 1)
        t -= 1
      }
      // z_t = Wᵀx_t + Uᵀh_{t−1} + b  →  dW += X·dZᵀ, dU += H₋₁·dZ₁..ᵀ, db += Σ dz_t
      blas.dgemm("N", "T", in, u4, l, 1.0, xin, 0, in, dz, 0, u4,
        1.0, grad, wOff(k), in)
      if (l > 1) blas.dgemm("N", "T", u, u4, l - 1, 1.0, h, 0, u, dz, u4, u4,
        1.0, grad, uOff(k), u)
      addRowSums(dz, u4, l, grad, bOff(k))
      if (dX != null) blas.dgemm("N", "N", in, l, u4, 1.0, p, wOff(k), in,
        dz, 0, u4, 0.0, dX, 0, in)
    }

    /** out(off + i) += Σ_t m(i, t) over a column-major (rows × l) matrix. */
    private def addRowSums(m: Array[Double], rows: Int, l: Int,
                           out: Array[Double], off: Int): Unit = {
      var t = 0
      while (t < l) {
        var i = 0
        while (i < rows) { out(off + i) += m(t * rows + i); i += 1 }
        t += 1
      }
    }

    /** Reconstruction MSE of window `x` (l × numFeatures) under `params`;
      * its gradient is added into `grad`. */
    def lossAndGrad(params: Array[Double], x: DenseMatrix[Double],
                    grad: Array[Double]): Double = {
      require(params.length == flatSize && grad.length == flatSize,
        s"params ${params.length} / grad ${grad.length} != $flatSize")
      require(x.cols == numFeatures && x.rows > 0,
        s"window ${x.rows}x${x.cols}, want l x $numFeatures")
      val l = x.rows; val nf = numFeatures
      ensure(l)
      var t = 0
      while (t < l) {
        var j = 0
        while (j < nf) { xT(t * nf + j) = x(t, j); j += 1 }
        t += 1
      }
      forwardLayer(0, params, xT, l)
      forwardLayer(1, params, hs(0), l)
      // RepeatVector: enc2's last state feeds every decoder step
      val u2 = us(1)
      t = 0
      while (t < l) { System.arraycopy(hs(1), (l - 1) * u2, rep, t * u2, u2); t += 1 }
      forwardLayer(2, params, rep, l)
      forwardLayer(3, params, hs(2), l)

      // TimeDistributed(Dense(F, sigmoid)) + MSE
      val u4 = us(3)
      blas.dgemm("T", "N", nf, l, u4, 1.0, params, outWOff, u4, hs(3), 0, u4,
        0.0, y, 0, nf)
      var loss = 0.0
      t = 0
      while (t < l) {
        var j = 0
        while (j < nf) {
          val yv = sigmoid(y(t * nf + j) + params(outBOff + j))
          val diff = yv - xT(t * nf + j)
          loss += diff * diff
          val dy = 2.0 * diff / (l * nf)
          dzOut(t * nf + j) = dy * yv * (1 - yv)
          j += 1
        }
        t += 1
      }
      blas.dgemm("N", "T", u4, nf, l, 1.0, hs(3), 0, u4, dzOut, 0, nf,
        1.0, grad, outWOff, u4)
      addRowSums(dzOut, nf, l, grad, outBOff)
      blas.dgemm("N", "N", u4, l, nf, 1.0, params, outWOff, u4, dzOut, 0, nf,
        0.0, dHs(3), 0, u4)

      backwardLayer(3, params, hs(2), dHs(3), l, grad, dHs(2))
      backwardLayer(2, params, rep, dHs(2), l, grad, dRep)
      // enc2 returns its last state only: dL/dh2 is zero except at t = l−1,
      // where it is the sum of the repeated code's gradients
      val dH1 = dHs(1)
      java.util.Arrays.fill(dH1, 0.0)
      addRowSums(dRep, u2, l, dH1, (l - 1) * u2)
      backwardLayer(1, params, hs(0), dH1, l, grad, dHs(0))
      backwardLayer(0, params, xT, dHs(0), l, grad, null)
      loss / (l * nf)
    }
  }

  object ReusableTrainer {
    /** A trainer for `p`'s shape; throws an IllegalArgumentException naming
      * the layer when `p` fails [[Lstm.layoutError]]. */
    def apply(p: AeParams): ReusableTrainer = {
      Lstm.layoutError(p).foreach(e =>
        throw new IllegalArgumentException(s"mis-chained AeParams: $e"))
      new ReusableTrainer(p.numFeatures,
        Seq(p.enc1.units, p.enc2.units, p.dec1.units, p.dec2.units))
    }
  }

  // ---- Adam ----

  final class Adam(lr: Double = 1e-3, b1: Double = 0.9, b2: Double = 0.999,
                   eps: Double = 1e-7) { // Keras default epsilon
    private var t = 0
    private var m: Array[Double] = _
    private var v: Array[Double] = _
    def step(params: Array[Double], grads: Array[Double]): Unit = {
      if (m == null) { m = new Array(params.length); v = new Array(params.length) }
      t += 1
      val bc1 = 1 - math.pow(b1, t)
      val bc2 = 1 - math.pow(b2, t)
      var k = 0
      while (k < params.length) {
        m(k) = b1 * m(k) + (1 - b1) * grads(k)
        v(k) = b2 * v(k) + (1 - b2) * grads(k) * grads(k)
        params(k) -= lr * (m(k) / bc1) / (math.sqrt(v(k) / bc2) + eps)
        k += 1
      }
    }
  }

  /** Flatten/unflatten params so Adam state is a pair of arrays. */
  def flatten(p: AeParams): Array[Double] = {
    val parts = Seq(
      p.enc1.w.toArray, p.enc1.u.toArray, p.enc1.b.toArray,
      p.enc2.w.toArray, p.enc2.u.toArray, p.enc2.b.toArray,
      p.dec1.w.toArray, p.dec1.u.toArray, p.dec1.b.toArray,
      p.dec2.w.toArray, p.dec2.u.toArray, p.dec2.b.toArray,
      p.out.w.toArray, p.out.b.toArray)
    Array.concat(parts: _*)
  }

  def unflatten(template: AeParams, flat: Array[Double]): AeParams = {
    var off = 0
    def mat(rows: Int, cols: Int): DenseMatrix[Double] = {
      val m = new DenseMatrix(rows, cols, java.util.Arrays.copyOfRange(flat, off, off + rows * cols))
      off += rows * cols; m
    }
    def vec(n: Int): DenseVector[Double] = {
      val v = DenseVector(java.util.Arrays.copyOfRange(flat, off, off + n)); off += n; v
    }
    def lstm(l: LstmParams): LstmParams =
      LstmParams(mat(l.w.rows, l.w.cols), mat(l.u.rows, l.u.cols), vec(l.b.length))
    AeParams(lstm(template.enc1), lstm(template.enc2), lstm(template.dec1),
      lstm(template.dec2),
      DenseParams(mat(template.out.w.rows, template.out.w.cols),
        vec(template.out.b.length)))
  }

  // ---- training drivers ----

  final case class TrainResult(params: AeParams, history: Seq[(Double, Double)],
                               bestEpoch: Int)

  /** Windows per gradient slice in [[trainDriver]]. Fixed — independent of
    * the core count — so the slice partition of every minibatch, and with
    * it every floating-point sum, is the same on any machine. */
  val SliceSize = 8

  /** Minibatch Adam on driver-local windows with early stopping + best
    * restore (train_autoencoder.py:196-237 semantics). Each minibatch's
    * gradient is the slice-order sum of per-slice gradients; slices run in
    * parallel on the common fork-join pool (or the pool of the calling
    * fork-join thread), one [[ReusableTrainer]] and gradient buffer each,
    * allocated once per call. */
  def trainDriver(trainX: IndexedSeq[DenseMatrix[Double]],
                  valX: IndexedSeq[DenseMatrix[Double]],
                  init: AeParams, epochs: Int = 50, batchSize: Int = 64,
                  lr: Double = 1e-3, patience: Int = 10,
                  seed: Long = 42L): TrainResult = {
    val flat = flatten(init)
    val adam = new Adam(lr = lr)
    val rng = new scala.util.Random(seed)
    val maxSlices = math.max(1,
      (math.min(batchSize, trainX.size) + SliceSize - 1) / SliceSize)
    val trainers = Array.fill(maxSlices)(ReusableTrainer(init))
    val grads = Array.fill(maxSlices)(new Array[Double](flat.length))
    val sliceLoss = new Array[Double](maxSlices)
    var best = flat.clone(); var bestVal = Double.MaxValue; var bestEpoch = -1
    var wait = 0
    val history = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var epoch = 0
    while (epoch < epochs && wait <= patience) {
      val order = rng.shuffle(trainX.indices.toVector)
      var trainLoss = 0.0
      order.grouped(batchSize).foreach { batch =>
        val nSlices = (batch.size + SliceSize - 1) / SliceSize
        java.util.stream.IntStream.range(0, nSlices).parallel().forEach { s =>
          val g = grads(s)
          java.util.Arrays.fill(g, 0.0)
          var loss = 0.0
          var i = s * SliceSize
          val end = math.min(batch.size, i + SliceSize)
          while (i < end) { loss += trainers(s).lossAndGrad(flat, trainX(batch(i)), g); i += 1 }
          sliceLoss(s) = loss
        }
        val g = grads(0)
        var s = 1
        while (s < nSlices) {
          val gs = grads(s)
          var k = 0; while (k < g.length) { g(k) += gs(k); k += 1 }
          s += 1
        }
        s = 0
        while (s < nSlices) { trainLoss += sliceLoss(s); s += 1 }
        val inv = 1.0 / batch.size
        var k = 0; while (k < g.length) { g(k) *= inv; k += 1 }
        adam.step(flat, g)
      }
      trainLoss /= math.max(1, trainX.size)
      val valLoss =
        if (valX.isEmpty) trainLoss
        else {
          val scorer = new Lstm.ReusableScorer(unflatten(init, flat))
          valX.map(scorer.mse).sum / valX.size
        }
      history += ((trainLoss, valLoss))
      if (valLoss < bestVal) { bestVal = valLoss; best = flat.clone(); bestEpoch = epoch; wait = 0 }
      else wait += 1
      epoch += 1
    }
    TrainResult(unflatten(init, best), history.toSeq, bestEpoch)
  }

  /** Distributed MINIBATCH Adam — the scale path with the reference's
    * optimization schedule (`train_autoencoder.py:199`: batch 64, shuffled
    * each epoch, one Adam step per batch), not one step per epoch.
    *
    * Shape per epoch: ONE narrow hash pass assigns every window to a seeded
    * pseudo-random slice `murmur3(id, epoch, seed) mod numBatches` (the
    * distributed analogue of the driver path's per-epoch shuffle), one
    * shuffle regroups slices into `numBatches × tasksPerBatch` partitions,
    * then each batch is one Spark job over its own `tasksPerBatch`
    * partitions: executors compute gradient partial sums over broadcast
    * weights, the driver combines O(model)-sized partials and takes the
    * Adam step — classic synchronous data-parallel SGD. Per-step traffic is
    * O(model) (a few MB) regardless of window count; the shuffle map output
    * is computed once per epoch and reused by every batch job (Spark stage
    * reuse), so total data movement per epoch is one pass. At cluster scale
    * the knobs are `batchSize` (larger batches amortize the per-step
    * broadcast/allreduce barrier) and `tasksPerBatch` (parallelism within a
    * step); windows never touch the driver in any configuration.
    *
    * When `valWindows` is given, early stopping and best-weight restore key
    * on the held-out loss (a forward-only treeAggregate per epoch — shuffle
    * volume one Double per partition), matching the driver path's
    * EarlyStopping(val_loss) semantics; otherwise they fall back to the
    * training loss. Reported train loss mirrors Keras/trainDriver: the sum
    * of per-window losses as each batch was visited, over n. */
  def trainDistributed(spark: org.apache.spark.sql.SparkSession,
                       windows: org.apache.spark.rdd.RDD[DenseMatrix[Double]],
                       init: AeParams, epochs: Int = 50, lr: Double = 1e-3,
                       patience: Int = 10,
                       valWindows: Option[org.apache.spark.rdd.RDD[DenseMatrix[Double]]] = None,
                       batchSize: Int = 64, seed: Long = 42L,
                       tasksPerBatch: Int = 0): TrainResult = {
    val sc = spark.sparkContext
    val flat = flatten(init)
    // checks the layout on the driver, before any job; tasks rebuild the
    // trainer from the shape alone
    val shape = ReusableTrainer(init)
    val (nf, units) = (shape.numFeatures, shape.units)
    val adam = new Adam(lr = lr)
    val indexed = windows.zipWithIndex().map(_.swap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = indexed.count().toDouble
    val nVal = valWindows.map(_.count().toDouble).getOrElse(0.0)
    val numBatches = math.max(1, math.ceil(n / batchSize).toInt)
    // default intra-step parallelism: spread the input's partitions over the
    // batches (>=1) so one epoch occupies about as many tasks as the input had
    val tpb = if (tasksPerBatch > 0) tasksPerBatch
      else math.max(1, math.ceil(windows.getNumPartitions.toDouble / numBatches).toInt)
    val numSlices = numBatches * tpb
    var best = flat.clone(); var bestVal = Double.MaxValue; var bestEpoch = -1
    var wait = 0
    val history = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var epoch = 0
    while (epoch < epochs && wait <= patience) {
      val e = epoch
      // seeded per-epoch re-slicing; HashPartitioner on an Int key in
      // [0, numSlices) is the identity partitioner
      val sliced = indexed.map { case (id, x) =>
        (math.floorMod(scala.util.hashing.MurmurHash3.productHash((id, e, seed)),
          numSlices), x)
      }.partitionBy(new org.apache.spark.HashPartitioner(numSlices)).values
      var epochLossSum = 0.0
      var b = 0
      while (b < numBatches) {
        val bc = sc.broadcast(flat.clone())
        val results = sc.runJob(sliced,
          (it: Iterator[DenseMatrix[Double]]) => {
            val p = bc.value
            val trainer = new ReusableTrainer(nf, units)
            val g = new Array[Double](p.length)
            var loss = 0.0; var cnt = 0L
            it.foreach { x => loss += trainer.lossAndGrad(p, x, g); cnt += 1 }
            (g, loss, cnt)
          }, b * tpb until (b + 1) * tpb)
        bc.destroy()
        val cnt = results.map(_._3).sum.toDouble
        if (cnt > 0) { // a slice can hash empty on tiny inputs
          val g = results.map(_._1).reduceLeft { (g1, g2) =>
            var k = 0; while (k < g1.length) { g1(k) += g2(k); k += 1 }; g1
          }
          var k = 0; while (k < g.length) { g(k) /= cnt; k += 1 }
          adam.step(flat, g)
          epochLossSum += results.map(_._2).sum
        }
        b += 1
      }
      val loss = epochLossSum / n
      // held-out loss evaluated with the post-epoch params, as Keras
      // reports val_loss after the epoch
      val valLoss = valWindows match {
        case Some(va) if nVal > 0 =>
          val bcNew = sc.broadcast(unflatten(init, flat))
          val s = va.mapPartitions { it =>
            val scorer = new Lstm.ReusableScorer(bcNew.value)
            Iterator.single(it.foldLeft(0.0)((l, x) => l + scorer.mse(x)))
          }.treeAggregate(0.0)(_ + _, _ + _, depth = 2)
          bcNew.destroy()
          s / nVal
        case _ => loss
      }
      history += ((loss, valLoss))
      if (valLoss < bestVal) { bestVal = valLoss; best = flat.clone(); bestEpoch = epoch; wait = 0 }
      else wait += 1
      epoch += 1
    }
    indexed.unpersist(false)
    TrainResult(unflatten(init, best), history.toSeq, bestEpoch)
  }
}
