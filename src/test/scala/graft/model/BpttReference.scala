package graft.model

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.model.Lstm._

/** Per-timestep Breeze BPTT — the straightforward transcription of the LSTM
  * equations that `Training.ReusableTrainer` replaced. Kept in test scope
  * as the parity reference for the raw-array kernel (TrainingSpec): same
  * math, one fresh temporary per operation, no hoisting. */
object BpttReference {

  final case class Grads(enc1: LstmGrad, enc2: LstmGrad, dec1: LstmGrad,
                         dec2: LstmGrad, outW: DenseMatrix[Double],
                         outB: DenseVector[Double])

  final case class LstmGrad(w: DenseMatrix[Double], u: DenseMatrix[Double],
                            b: DenseVector[Double])

  def zeroGrads(p: AeParams): Grads = {
    def z(l: LstmParams) = LstmGrad(
      DenseMatrix.zeros[Double](l.w.rows, l.w.cols),
      DenseMatrix.zeros[Double](l.u.rows, l.u.cols),
      DenseVector.zeros[Double](l.b.length))
    Grads(z(p.enc1), z(p.enc2), z(p.dec1), z(p.dec2),
      DenseMatrix.zeros[Double](p.out.w.rows, p.out.w.cols),
      DenseVector.zeros[Double](p.out.b.length))
  }

  @inline private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
  @inline private def relu(x: Double): Double = if (x > 0) x else 0.0

  /** Per-layer forward keeping everything backward needs. */
  final class LayerCache(val xs: DenseMatrix[Double], p: LstmParams) {
    val l: Int = xs.rows
    val u: Int = p.units
    val i = DenseMatrix.zeros[Double](l, u)
    val f = DenseMatrix.zeros[Double](l, u)
    val g = DenseMatrix.zeros[Double](l, u)
    val o = DenseMatrix.zeros[Double](l, u)
    val c = DenseMatrix.zeros[Double](l, u)
    val h = DenseMatrix.zeros[Double](l, u)
    locally {
      var hPrev = DenseVector.zeros[Double](u)
      var cPrev = DenseVector.zeros[Double](u)
      var t = 0
      while (t < l) {
        val x = xs(t, ::).t
        val z = (p.w.t * x) + (p.u.t * hPrev) + p.b
        var j = 0
        while (j < u) {
          i(t, j) = sigmoid(z(j)); f(t, j) = sigmoid(z(u + j))
          g(t, j) = relu(z(2 * u + j)); o(t, j) = sigmoid(z(3 * u + j))
          c(t, j) = f(t, j) * cPrev(j) + i(t, j) * g(t, j)
          h(t, j) = o(t, j) * relu(c(t, j))
          j += 1
        }
        hPrev = h(t, ::).t; cPrev = c(t, ::).t
        t += 1
      }
    }
  }

  /** BPTT for one layer: given dH (grad wrt every h[t]), accumulate param
    * grads into `acc` and return dX (grad wrt the layer inputs). */
  def backwardLayer(p: LstmParams, cache: LayerCache,
                    dH: DenseMatrix[Double], acc: LstmGrad): DenseMatrix[Double] = {
    val l = cache.l; val u = cache.u
    val dX = DenseMatrix.zeros[Double](l, p.inputDim)
    var dhNext = DenseVector.zeros[Double](u)
    var dcNext = DenseVector.zeros[Double](u)
    var t = l - 1
    while (t >= 0) {
      val dh = dH(t, ::).t + dhNext
      val dz = DenseVector.zeros[Double](4 * u)
      val dc = DenseVector.zeros[Double](u)
      var j = 0
      while (j < u) {
        val cv = cache.c(t, j)
        val reluC = relu(cv)
        val dReluC = if (cv > 0) 1.0 else 0.0
        val ov = cache.o(t, j)
        // h = o * relu(c)
        val doo = dh(j) * reluC
        dc(j) = dcNext(j) + dh(j) * ov * dReluC
        val iv = cache.i(t, j); val fv = cache.f(t, j); val gv = cache.g(t, j)
        val cPrev = if (t == 0) 0.0 else cache.c(t - 1, j)
        dz(j) = dc(j) * gv * iv * (1 - iv)                       // d z_i
        dz(u + j) = dc(j) * cPrev * fv * (1 - fv)                // d z_f
        dz(2 * u + j) = dc(j) * iv * (if (gv > 0) 1.0 else 0.0)  // d z_g (relu)
        dz(3 * u + j) = doo * ov * (1 - ov)                      // d z_o
        dcNext(j) = dc(j) * fv
        j += 1
      }
      val x = cache.xs(t, ::).t
      val hPrev = if (t == 0) DenseVector.zeros[Double](u) else cache.h(t - 1, ::).t
      // z = W^T x + U^T hPrev + b  →  dW += x dzᵀ, dU += hPrev dzᵀ
      acc.w :+= x * dz.t
      acc.u :+= hPrev * dz.t
      acc.b :+= dz
      dX(t, ::) := (p.w * dz).t
      dhNext = p.u * dz
      t -= 1
    }
    dX
  }

  /** Full forward+backward for one window. Returns per-window loss with
    * gradients accumulated into `acc` (sum over windows; caller scales). */
  def forwardBackward(p: AeParams, x: DenseMatrix[Double], acc: Grads): Double = {
    val l = x.rows; val fDim = p.out.w.cols
    val c1 = new LayerCache(x, p.enc1)
    val c2 = new LayerCache(c1.h, p.enc2)
    val code = c2.h(l - 1, ::).t
    val repeated = DenseMatrix.tabulate(l, code.length)((_, j) => code(j))
    val c3 = new LayerCache(repeated, p.dec1)
    val c4 = new LayerCache(c3.h, p.dec2)

    // output layer + loss
    val y = DenseMatrix.zeros[Double](l, fDim)
    val dH4 = DenseMatrix.zeros[Double](l, c4.u)
    var loss = 0.0
    val dzOut = DenseMatrix.zeros[Double](l, fDim)
    var t = 0
    while (t < l) {
      var j = 0
      while (j < fDim) {
        val z = (c4.h(t, ::).t dot p.out.w(::, j)) + p.out.b(j)
        val yv = sigmoid(z)
        y(t, j) = yv
        val diff = yv - x(t, j)
        loss += diff * diff
        val dy = 2.0 * diff / (l * fDim)
        dzOut(t, j) = dy * yv * (1 - yv)
        j += 1
      }
      t += 1
    }
    loss /= (l * fDim)
    t = 0
    while (t < l) {
      acc.outW :+= c4.h(t, ::).t * dzOut(t, ::)
      acc.outB :+= dzOut(t, ::).t
      dH4(t, ::) := (p.out.w * dzOut(t, ::).t).t
      t += 1
    }

    val dH3 = backwardLayer(p.dec2, c4, dH4, acc.dec2)
    val dRepeated = backwardLayer(p.dec1, c3, dH3, acc.dec1)
    // RepeatVector: code feeds every timestep → sum the grads
    val dCode = DenseVector.zeros[Double](code.length)
    t = 0
    while (t < l) { dCode :+= dRepeated(t, ::).t; t += 1 }
    val dH2 = DenseMatrix.zeros[Double](l, c2.u)
    dH2(l - 1, ::) := dCode.t // enc2 returns last state only
    val dH1 = backwardLayer(p.enc2, c2, dH2, acc.enc2)
    backwardLayer(p.enc1, c1, dH1, acc.enc1)
    loss
  }

  /** Gradients in [[Training.flatten]]'s order. */
  def flattenGrads(g: Grads): Array[Double] = {
    val parts = Seq(
      g.enc1.w.toArray, g.enc1.u.toArray, g.enc1.b.toArray,
      g.enc2.w.toArray, g.enc2.u.toArray, g.enc2.b.toArray,
      g.dec1.w.toArray, g.dec1.u.toArray, g.dec1.b.toArray,
      g.dec2.w.toArray, g.dec2.u.toArray, g.dec2.b.toArray,
      g.outW.toArray, g.outB.toArray)
    Array.concat(parts: _*)
  }
}
