package graft.model

import breeze.linalg.{DenseMatrix, DenseVector}

/** LSTM autoencoder — the reference's model core
  * (`/root/reference/train_autoencoder.py:76-91`):
  *
  *   Input(L,F) → LSTM(64, relu, seq) → LSTM(32, relu, last)
  *   → RepeatVector(L) → LSTM(32, relu, seq) → LSTM(64, relu, seq)
  *   → TimeDistributed(Dense(F, sigmoid))
  *
  * Implemented from the public LSTM equations (Hochreiter & Schmidhuber
  * 1997; Keras gate order i,f,c,o with recurrent_activation = sigmoid and
  * activation = relu as configured). Pure Breeze — no native TF; weights are
  * plain matrices so they broadcast to executors for `mapPartitions`
  * inference (M3), which is the scale path: scoring is embarrassingly
  * parallel per window, zero shuffle.
  */
object Lstm {

  /** One LSTM layer's parameters. W: (inputDim, 4u), U: (u, 4u), b: (4u).
    * Gate column order matches Keras: [i | f | c | o]. */
  final case class LstmParams(w: DenseMatrix[Double], u: DenseMatrix[Double],
                              b: DenseVector[Double]) {
    def units: Int = u.rows
    def inputDim: Int = w.rows
  }

  /** Dense layer params: W (inputDim, out), b (out). */
  final case class DenseParams(w: DenseMatrix[Double], b: DenseVector[Double])

  /** Full autoencoder parameter set. */
  final case class AeParams(enc1: LstmParams, enc2: LstmParams,
                            dec1: LstmParams, dec2: LstmParams,
                            out: DenseParams) {
    def seqLen(l: Int): Int = l
    def numFeatures: Int = out.w.cols
  }

  /** Layout guard shared by the raw-BLAS kernels ([[ReusableScorer]] and
    * `Training.ReusableTrainer`): they index flat arrays by the declared
    * shapes, so a mis-chained parameter set would read out of bounds (or
    * garbage) where the Breeze path raises a dimension mismatch. Returns the
    * first violation, naming the layer, or None when every layer chains
    * into the next: each LSTM's W/U/b are (in × 4u)/(u × 4u)/(4u), enc2,
    * dec1 and dec2 read the previous layer's units, the output layer reads
    * dec2's units and reconstructs enc1's input width. */
  def layoutError(p: AeParams): Option[String] = {
    val lstm = Seq("enc1" -> p.enc1, "enc2" -> p.enc2, "dec1" -> p.dec1,
      "dec2" -> p.dec2)
    val shapes = lstm.map { case (n, q) =>
      (q.w.cols != 4 * q.units || q.u.cols != 4 * q.units ||
        q.b.length != 4 * q.units) -> (s"$n: w ${q.w.rows}x${q.w.cols}, " +
        s"u ${q.u.rows}x${q.u.cols}, b ${q.b.length} do not fit ${q.units} units")
    }
    val chain = lstm.sliding(2).map { case Seq((a, qa), (b, qb)) =>
      (qb.inputDim != qa.units) -> s"$b.inputDim ${qb.inputDim} != $a.units ${qa.units}"
    }
    val out = Seq(
      (p.out.w.rows != p.dec2.units) ->
        s"out.w.rows ${p.out.w.rows} != dec2.units ${p.dec2.units}",
      (p.out.b.length != p.out.w.cols) ->
        s"out.b.length ${p.out.b.length} != out.w.cols ${p.out.w.cols}",
      (p.enc1.inputDim != p.out.w.cols) ->
        s"enc1.inputDim ${p.enc1.inputDim} != out.w.cols ${p.out.w.cols}")
    (shapes ++ chain ++ out).collectFirst { case (true, msg) => msg }
  }

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
  @inline private def relu(x: Double): Double = if (x > 0) x else 0.0

  /** Run one LSTM layer over a (L, inputDim) sequence; returns (L, units)
    * hidden states (caller takes the last row for return_sequences=False). */
  def runLayer(p: LstmParams, xs: DenseMatrix[Double]): DenseMatrix[Double] = {
    val l = xs.rows
    val u = p.units
    val hs = DenseMatrix.zeros[Double](l, u)
    var h = DenseVector.zeros[Double](u)
    var c = DenseVector.zeros[Double](u)
    var t = 0
    while (t < l) {
      val x = xs(t, ::).t
      val z = (p.w.t * x) + (p.u.t * h) + p.b // (4u)
      val i = DenseVector.tabulate(u)(j => sigmoid(z(j)))
      val f = DenseVector.tabulate(u)(j => sigmoid(z(u + j)))
      val g = DenseVector.tabulate(u)(j => relu(z(2 * u + j)))
      val o = DenseVector.tabulate(u)(j => sigmoid(z(3 * u + j)))
      c = (f *:* c) + (i *:* g)
      h = o *:* DenseVector.tabulate(u)(j => relu(c(j)))
      hs(t, ::) := h.t
      t += 1
    }
    hs
  }

  /** Full forward pass: (L, F) window → (L, F) reconstruction (M1/M4). */
  def forward(p: AeParams, window: DenseMatrix[Double]): DenseMatrix[Double] = {
    val l = window.rows
    val h1 = runLayer(p.enc1, window)            // (L, 64)
    val h2 = runLayer(p.enc2, h1)                // (L, 32)
    val code = h2(l - 1, ::).t                   // last state (32)
    val repeated = DenseMatrix.tabulate(l, code.length)((_, j) => code(j))
    val h3 = runLayer(p.dec1, repeated)          // (L, 32)
    val h4 = runLayer(p.dec2, h3)                // (L, 64)
    // TimeDistributed(Dense(F, sigmoid))
    DenseMatrix.tabulate(l, p.out.w.cols) { (t, j) =>
      sigmoid((h4(t, ::).t dot p.out.w(::, j)) + p.out.b(j))
    }
  }

  /** Reconstruction MSE of one window (A6 numerator for the model path). */
  def mse(x: DenseMatrix[Double], xhat: DenseMatrix[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.rows) {
      var j = 0
      while (j < x.cols) { val d = x(i, j) - xhat(i, j); s += d * d; j += 1 }
      i += 1
    }
    s / (x.rows * x.cols)
  }

  /** Allocation-bounded scorer: `mse(x) ≡ mse(x, forward(p, x))` with the
    * buffers reused across windows instead of ~12 fresh Breeze temporaries
    * per LSTM timestep (≈0.5 MB of garbage PER WINDOW at u=64).
    *
    * Why (round-18 verdict order #1, q_detect_quality's anti-scaling):
    * the driver benches with `-Xmx96g`; at that heap G1 lets the young
    * gen balloon instead of collecting, so the scorer's allocation storm
    * turns into kernel page-zeroing + concurrent-GC CPU that the GC-pause
    * channel never sees (measured on this row, 32 cores, REPS=6:
    * proc_cpu 1298 s at 96g vs 175 s at 8g for the SAME work, gc_ms
    * ~0.5 s in both). Under machine load those extra CPU-seconds become
    * wall time — faster at 8 cores than 32, the verdict's smoking gun.
    * Bounding the allocation removes the cause instead of tuning around
    * it.
    *
    * BIT-PARITY CONTRACT (spec-pinned in LstmScorerSpec, raw-double-bits
    * vs [[forward]]+[[mse]]): every floating-point operation is the SAME
    * operation on the SAME values in the SAME order —
    *  - the two per-step GEMVs call the IDENTICAL netlib entry point
    *    Breeze's `DenseMatrix * DenseVector` resolves to
    *    (`dev.ludovic.netlib.blas.BLAS.getInstance().dgemv`) with the
    *    IDENTICAL argument mapping (trans flag, physical dims,
    *    majorStride, the row-slice's (offset=t, stride=l) access pattern
    *    — stride is NOT normalized to 1, so netlib's stride-dependent
    *    kernel selection cannot diverge), into a zeroed output exactly
    *    like Breeze's fresh `DenseVector.zeros`;
    *  - the output layer's dot replicates Breeze's `canDotD` blasPath for
    *    a strided row slice: `blas.ddot(n, h4, t, l, wCol, off, 1)`
    *    (stride ≠ 1 rules out the small-dot fast path, read from the
    *    decompiled breeze 2.1.0 bytecode);
    *  - gates/state/output are per-element scalar ops in the same
    *    shape: z = (wx + uh) + b; c' = σ(z_f)·c + σ(z_i)·relu(z_c);
    *    h = σ(z_o)·relu(c'); x̂ = σ(dot + b) — each element independent,
    *    so buffer reuse cannot reorder any accumulation;
    *  - the decoder's RepeatVector reads the code row (offset l−1,
    *    stride l) in place of materializing `repeated` — same values,
    *    same (offset, stride) SHAPE as a row slice, so the GEMV sees an
    *    identical access pattern;
    *  - mse accumulates row-major over (i, j) exactly like [[mse]].
    *
    * One scorer per task (mapPartitions closure) — NOT thread-safe. Falls
    * back to forward+mse for transposed parameter matrices and for
    * parameter sets that fail [[layoutError]] (never produced by
    * fromJson/glorotInit; belt and braces, not a hot path). */
  final class ReusableScorer(p: AeParams) {
    private val blas = dev.ludovic.netlib.blas.BLAS.getInstance
    private val layers = Array(p.enc1, p.enc2, p.dec1, p.dec2)
    private val plainLayout = layoutError(p).isEmpty && layers.forall(q =>
      !q.w.isTranspose && !q.u.isTranspose) && !p.out.w.isTranspose
    // per-(l, nf) buffers, (re)sized lazily; hidden-state matrices are
    // column-major l×units like Breeze's hs
    private var bufL = -1
    private var bufNf = -1
    private var hs: Array[Array[Double]] = _ // one (l×units) per layer
    private var xhat: Array[Double] = _      // l×nf column-major
    private val maxU = layers.map(_.units).max
    private val z = new Array[Double](4 * maxU)
    private val wx = new Array[Double](4 * maxU)
    private val uh = new Array[Double](4 * maxU)
    private val h = new Array[Double](maxU)
    private val c = new Array[Double](maxU)

    private def ensure(l: Int, nf: Int): Unit = {
      if (l != bufL || nf != bufNf) {
        hs = layers.map(q => new Array[Double](l * q.units))
        xhat = new Array[Double](l * nf)
        bufL = l; bufNf = nf
      }
    }

    /** One layer over a column-major (l × inputDim) input read as row
      * slices (offset=rowOff(t), stride=l for matrices; the repeated code
      * row passes a constant rowOff) into `out` (column-major l×units). */
    private def runLayerInto(q: LstmParams, xData: Array[Double],
                             rowOff: Int => Int, xStride: Int, l: Int,
                             out: Array[Double]): Unit = {
      val u = q.units
      val inDim = q.inputDim
      val wData = q.w.data; val wOff = q.w.offset; val wStride = q.w.majorStride
      val uData = q.u.data; val uOff = q.u.offset; val uStride = q.u.majorStride
      val bData = q.b.data; val bOff = q.b.offset; val bStrd = q.b.stride
      java.util.Arrays.fill(h, 0, u, 0.0)
      java.util.Arrays.fill(c, 0, u, 0.0)
      var t = 0
      while (t < l) {
        // wx = q.w.t * x_t  (Breeze: dgemv("T", physRows, physCols, 1.0,
        // data, offset, majorStride, x.data, x.offset, x.stride, 0.0,
        // zeros.data, 0, 1))
        java.util.Arrays.fill(wx, 0, 4 * u, 0.0)
        blas.dgemv("T", inDim, 4 * u, 1.0, wData, wOff, wStride,
          xData, rowOff(t), xStride, 0.0, wx, 0, 1)
        // uh = q.u.t * h
        java.util.Arrays.fill(uh, 0, 4 * u, 0.0)
        blas.dgemv("T", u, 4 * u, 1.0, uData, uOff, uStride,
          h, 0, 1, 0.0, uh, 0, 1)
        var j = 0
        while (j < 4 * u) {
          z(j) = (wx(j) + uh(j)) + bData(bOff + j * bStrd)
          j += 1
        }
        j = 0
        while (j < u) {
          // c' = f*c + i*g; h = o * relu(c') — the exact per-element
          // shape of runLayer's (f *:* c) + (i *:* g) and o *:* relu(c)
          val iG = sigmoid(z(j))
          val fG = sigmoid(z(u + j))
          val gG = relu(z(2 * u + j))
          val oG = sigmoid(z(3 * u + j))
          c(j) = fG * c(j) + iG * gG
          h(j) = oG * relu(c(j))
          out(t + j * l) = h(j)
          j += 1
        }
        t += 1
      }
    }

    /** Reconstruction MSE of one window — bit-identical to
      * `Lstm.mse(x, Lstm.forward(p, x))`. */
    def mse(x: DenseMatrix[Double]): Double = {
      // fall back for layouts/shapes the raw-array path doesn't cover
      // (never produced by scoreWindows; the reference path bounds-checks)
      if (!plainLayout || x.isTranspose ||
        x.cols != p.enc1.inputDim || x.cols != p.out.w.cols)
        return Lstm.mse(x, forward(p, x))
      val l = x.rows
      val nf = x.cols
      ensure(l, nf)
      runLayerInto(p.enc1, x.data, t => x.offset + t, x.majorStride, l, hs(0))
      runLayerInto(p.enc2, hs(0), t => t, l, l, hs(1))
      // decoder input = RepeatVector(code): the code row of h2, read at
      // (offset l−1, stride l) for every t
      runLayerInto(p.dec1, hs(1), _ => l - 1, l, l, hs(2))
      runLayerInto(p.dec2, hs(2), t => t, l, l, hs(3))
      val u4 = p.dec2.units
      val wData = p.out.w.data; val wOff = p.out.w.offset
      val wStride = p.out.w.majorStride
      val bData = p.out.b.data; val bOff = p.out.b.offset
      val bStrd = p.out.b.stride
      var j = 0
      while (j < nf) {
        var t = 0
        while (t < l) {
          val dot = blas.ddot(u4, hs(3), t, l, wData, wOff + j * wStride, 1)
          xhat(t + j * l) = sigmoid(dot + bData(bOff + j * bStrd))
          t += 1
        }
        j += 1
      }
      // mse: row-major accumulation, same loop shape as Lstm.mse
      var s = 0.0
      var i = 0
      while (i < l) {
        var jj = 0
        while (jj < nf) {
          val d = x.data(x.offset + i + jj * x.majorStride) - xhat(i + jj * l)
          s += d * d
          jj += 1
        }
        i += 1
      }
      s / (l * nf)
    }
  }

  /** Per-feature MSE over the time axis (A8 model path). */
  def perFeatureMse(x: DenseMatrix[Double], xhat: DenseMatrix[Double]): Array[Double] =
    Array.tabulate(x.cols) { j =>
      var s = 0.0
      var i = 0
      while (i < x.rows) { val d = x(i, j) - xhat(i, j); s += d * d; i += 1 }
      s / x.rows
    }

  /** Deterministic Glorot-uniform init (seeded) — used for the frozen-weight
    * scoring slice and as training start. */
  def glorotInit(numFeatures: Int, units: Seq[Int] = Seq(64, 32, 32, 64),
                 seed: Long = 42L): AeParams = {
    val rng = new scala.util.Random(seed)
    def mat(rows: Int, cols: Int, fanIn: Int, fanOut: Int): DenseMatrix[Double] = {
      val limit = math.sqrt(6.0 / (fanIn + fanOut))
      DenseMatrix.tabulate(rows, cols)((_, _) => (rng.nextDouble() * 2 - 1) * limit)
    }
    def lstm(in: Int, u: Int): LstmParams = {
      val b = DenseVector.zeros[Double](4 * u)
      // Keras unit_forget_bias: forget gate bias starts at 1
      (u until 2 * u).foreach(b(_) = 1.0)
      LstmParams(mat(in, 4 * u, in, u), mat(u, 4 * u, u, u), b)
    }
    val Seq(u1, u2, u3, u4) = units
    AeParams(
      enc1 = lstm(numFeatures, u1),
      enc2 = lstm(u1, u2),
      dec1 = lstm(u2, u3),
      dec2 = lstm(u3, u4),
      out = DenseParams(mat(u4, numFeatures, u4, numFeatures),
        DenseVector.zeros[Double](numFeatures)))
  }

  // --- S9: weight persistence (JSON arrays instead of .keras) ---

  def save(p: AeParams, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJson(p))

  def load(path: String): AeParams =
    fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  def toJson(p: AeParams): String = {
    // column-major "data" (Breeze's native layout) — unambiguous round-trip
    def m(x: DenseMatrix[Double]): String =
      s"""{"rows":${x.rows},"cols":${x.cols},"data":[${x.toDenseMatrix.toArray.mkString(",")}]}"""
    def v(x: DenseVector[Double]): String = s"[${x.toArray.mkString(",")}]"
    def lp(l: LstmParams): String =
      s"""{"w":${m(l.w)},"u":${m(l.u)},"b":${v(l.b)}}"""
    s"""{"enc1":${lp(p.enc1)},"enc2":${lp(p.enc2)},"dec1":${lp(p.dec1)},""" +
      s""""dec2":${lp(p.dec2)},"out":{"w":${m(p.out.w)},"b":${v(p.out.b)}}}"""
  }

  def fromJson(txt: String): AeParams = {
    // Self-format parser (row-major "data" arrays; flat, regular structure).
    def section(key: String): String = {
      val i = txt.indexOf("\"" + key + "\":")
      require(i >= 0, s"missing $key")
      var depth = 0; var j = txt.indexOf('{', i)
      val start = j
      while ({ val ch = txt(j)
        if (ch == '{') depth += 1 else if (ch == '}') depth -= 1
        depth != 0 }) j += 1
      txt.substring(start, j + 1)
    }
    def nums(s: String): Array[Double] = {
      val b = s.indexOf('[') + 1; val e = s.indexOf(']', b)
      val body = s.substring(b, e).trim
      if (body.isEmpty) Array.empty else body.split(",").map(_.toDouble)
    }
    def mat(s: String): DenseMatrix[Double] = {
      val rows = s.substring(s.indexOf("\"rows\":") + 7).takeWhile(_.isDigit).toInt
      val cols = s.substring(s.indexOf("\"cols\":") + 7).takeWhile(_.isDigit).toInt
      val data = nums(s.substring(s.indexOf("\"data\":")))
      new DenseMatrix(rows, cols, data) // column-major, matches toJson
    }
    def vecAfter(s: String, key: String): DenseVector[Double] =
      DenseVector(nums(s.substring(s.indexOf("\"" + key + "\":"))))
    def lp(s: String): LstmParams =
      LstmParams(mat(section2(s, "w")), mat(section2(s, "u")), vecAfter(s, "b"))
    def section2(s: String, key: String): String = {
      val i = s.indexOf("\"" + key + "\":{")
      var depth = 0; var j = s.indexOf('{', i)
      val start = j
      while ({ val ch = s(j)
        if (ch == '{') depth += 1 else if (ch == '}') depth -= 1
        depth != 0 }) j += 1
      s.substring(start, j + 1)
    }
    val outS = section("out")
    AeParams(lp(section("enc1")), lp(section("enc2")),
      lp(section("dec1")), lp(section("dec2")),
      DenseParams(mat(section2(outS, "w")), vecAfter(outS, "b")))
  }
}
