package graft.nn

/** Minimal dense row-major tensor + the inference kernels the
  * reference's networks are built from (model/faceDetector/s3fd/
  * nets.py:28–174, model/audioEncoder.py:54–108,
  * model/visualEncoder.py:100–172, model/attentionLayer.py:8–36).
  *
  * Pure-JVM double math on three shared loop nests — `conv` (every
  * conv1d/2d/3d), `pool` (every max/mean pool) and `linear` (every
  * dense product, attention included) — each with a DEFINED
  * accumulation order, stated at the kernel. Every forward is
  * bit-deterministic across runs, partitions and executors, and
  * EXACT (order-independent integer arithmetic) when weights and
  * inputs are integer-valued, which is what lets q132 oracle the
  * conv/pool/linear kernels against relational SQL.
  *
  * Layouts follow PyTorch: conv2d input C×H×W, weight O×(C/g)×KH×KW;
  * conv1d C×L, O×(C/g)×K; conv3d C×D×H×W. No batch dim — callers
  * loop samples (the batch loop lives in Spark's partition iterator,
  * which is where the parallelism belongs on a cluster).
  */
final class Tensor(val shape: Array[Int], val data: Array[Double]) extends Serializable {
  require(shape.product == data.length,
    s"shape ${shape.mkString("x")} != data ${data.length}")
  def dim(i: Int): Int = shape(i)
  def rank: Int = shape.length
  def size: Int = data.length
  def reshape(ns: Int*): Tensor = Tensor(ns.toArray, data)
  def map(f: Double => Double): Tensor = Tensor(shape, data.map(f))
  override def toString: String = s"Tensor(${shape.mkString("x")})"
}

object Tensor {
  def apply(shape: Array[Int], data: Array[Double]): Tensor = new Tensor(shape, data)
  def zeros(shape: Int*): Tensor = new Tensor(shape.toArray, new Array[Double](shape.product))

  // ---------------------------------------------------------------- conv

  /** Output length of one conv/pool axis. */
  def outLen(in: Int, k: Int, stride: Int, pad: Int, dil: Int = 1,
      ceil: Boolean = false): Int = {
    val span = in + 2 * pad - dil * (k - 1) - 1
    if (ceil) (span + stride - 1) / stride + 1 else span / stride + 1
  }

  /** First k ≥ 0 with base + k·step ≥ 0. */
  private def firstIn(base: Int, step: Int): Int =
    if (base >= 0) 0 else (step - 1 - base) / step

  /** One past the last k < n with base + k·step < in. With firstIn it
    * bounds the k that land inside [0, in), which are contiguous. */
  private def endIn(base: Int, step: Int, in: Int, n: Int): Int =
    if (base >= in) 0 else math.min(n, (in - 1 - base) / step + 1)

  /** The one convolution loop nest (zero padding, dilation, groups):
    * x C×D×H×W, w O×(C/g)×KD×KH×KW; stride, pad and dil are (depth,
    * height, width). Each output starts from its bias (or 0.0) and
    * accumulates x·w in (input channel, kz, ky, kx) ascending order.
    * The loop runs one output row at a time with the row's outputs
    * innermost, so every output still sees its terms in that order.
    * A tap in the padding is skipped, never multiplied by a zero: 0·w
    * can turn a −0.0 sum into +0.0, and 0·∞ is NaN. */
  private def conv(x: Tensor, w: Tensor, bias: Option[Array[Double]],
      stride: Array[Int], pad: Array[Int], dil: Array[Int], groups: Int): Tensor = {
    val Array(c, d, h, wd) = x.shape
    val Array(o, cg, kd, kh, kw) = w.shape
    val Array(sd, sh, sw) = stride
    val Array(pd, ph, pw) = pad
    val Array(dd, dh, dw) = dil
    require(c == cg * groups, s"conv: in-ch $c != ${cg}x$groups")
    require(o % groups == 0, "conv: out-ch not divisible by groups")
    val od = outLen(d, kd, sd, pd, dd)
    val oh = outLen(h, kh, sh, ph, dh)
    val ow = outLen(wd, kw, sw, pw, dw)
    val out = new Array[Double](o * od * oh * ow)
    val og = o / groups
    // the outputs [ox0(kx), ox1(kx)) of a row whose tap kx is in range
    val ox0 = Array.tabulate(kw)(kx => firstIn(kx * dw - pw, sw))
    val ox1 = Array.tabulate(kw)(kx => endIn(kx * dw - pw, sw, wd, ow))
    // hoisted backing arrays: the JIT keeps these in registers, where
    // the per-element `x.data(...)` field loads did not (measured ~2×
    // on the q242 visual stem)
    val xd = x.data
    val kwd = w.data
    // the in-range (kz, ky) taps of one output row, kz-major: input
    // offset within a channel, weight offset within a filter
    val rowX = new Array[Int](kd * kh)
    val rowK = new Array[Int](kd * kh)
    var oc = 0
    while (oc < o) {
      val g = oc / og
      val b = bias.map(_(oc)).getOrElse(0.0)
      var oz = 0
      while (oz < od) {
        val z0 = oz * sd - pd
        var oy = 0
        while (oy < oh) {
          val y0 = oy * sh - ph
          var rows = 0
          var kz = firstIn(z0, dd)
          while (kz < endIn(z0, dd, d, kd)) {
            var ky = firstIn(y0, dh)
            while (ky < endIn(y0, dh, h, kh)) {
              rowX(rows) = ((z0 + kz * dd) * h + y0 + ky * dh) * wd - pw
              rowK(rows) = (kz * kh + ky) * kw
              rows += 1
              ky += 1
            }
            kz += 1
          }
          val row = ((oc * od + oz) * oh + oy) * ow
          java.util.Arrays.fill(out, row, row + ow, b)
          var ic = 0
          while (ic < cg) {
            val xc = (g * cg + ic) * d * h * wd
            val kc = (oc * cg + ic) * kd * kh * kw
            var r = 0
            while (r < rows) {
              val xRow = xc + rowX(r)
              val kRow = kc + rowK(r)
              var kx = 0
              while (kx < kw) {
                val wv = kwd(kRow + kx)
                val end = row + ox1(kx)
                var i = row + ox0(kx)
                var xi = xRow + ox0(kx) * sw + kx * dw
                while (i < end) {
                  out(i) += xd(xi) * wv
                  xi += sw
                  i += 1
                }
                kx += 1
              }
              r += 1
            }
            ic += 1
          }
          oy += 1
        }
        oz += 1
      }
      oc += 1
    }
    Tensor(Array(o, od, oh, ow), out)
  }

  /** nn.Conv2d inference: the conv kernel at depth 1. */
  def conv2d(x: Tensor, w: Tensor, bias: Option[Array[Double]],
      strideH: Int = 1, strideW: Int = 1, padH: Int = 0, padW: Int = 0,
      dilH: Int = 1, dilW: Int = 1, groups: Int = 1): Tensor = {
    val Array(c, h, wd) = x.shape
    val Array(o, cg, kh, kw) = w.shape
    val y = conv(Tensor(Array(c, 1, h, wd), x.data), Tensor(Array(o, cg, 1, kh, kw), w.data),
      bias, Array(1, strideH, strideW), Array(0, padH, padW), Array(1, dilH, dilW), groups)
    Tensor(Array(o, y.shape(2), y.shape(3)), y.data)
  }

  /** nn.Conv1d inference (groups covers the depthwise DSConv1d). */
  def conv1d(x: Tensor, w: Tensor, bias: Option[Array[Double]],
      stride: Int = 1, pad: Int = 0, dil: Int = 1, groups: Int = 1): Tensor = {
    val x2 = Tensor(Array(x.shape(0), 1, x.shape(1)), x.data)
    val w2 = Tensor(Array(w.shape(0), w.shape(1), 1, w.shape(2)), w.data)
    val y = conv2d(x2, w2, bias, strideH = 1, strideW = stride,
      padH = 0, padW = pad, dilH = 1, dilW = dil, groups = groups)
    Tensor(Array(y.shape(0), y.shape(2)), y.data)
  }

  /** nn.Conv3d inference (the visualFrontend's (5,7,7) stem). */
  def conv3d(x: Tensor, w: Tensor, bias: Option[Array[Double]],
      strideD: Int, strideH: Int, strideW: Int,
      padD: Int, padH: Int, padW: Int): Tensor =
    conv(x, w, bias, Array(strideD, strideH, strideW), Array(padD, padH, padW),
      Array(1, 1, 1), groups = 1)

  // ---------------------------------------------------------------- dense

  /** nn.Linear: x N×F · wᵀ (w is O×F) + b → N×O. The one dense
    * product: each output starts from its bias (or 0.0) and
    * accumulates x·w in k-ascending order. */
  def linear(x: Tensor, w: Tensor, bias: Option[Array[Double]]): Tensor = {
    val Array(n, f) = x.shape
    val Array(o, f2) = w.shape
    require(f == f2, s"linear: $f != $f2")
    val out = new Array[Double](n * o)
    val xd = x.data // hoisted — see conv
    val wd = w.data
    var r = 0
    while (r < n) {
      var c = 0
      while (c < o) {
        var acc = bias.map(_(c)).getOrElse(0.0)
        val xRow = r * f
        val wRow = c * f
        var k = 0
        while (k < f) { acc += xd(xRow + k) * wd(wRow + k); k += 1 }
        out(r * o + c) = acc
        c += 1
      }
      r += 1
    }
    Tensor(Array(n, o), out)
  }

  /** R×C → C×R. */
  def transpose(x: Tensor): Tensor = {
    val Array(r, c) = x.shape
    val out = new Array[Double](r * c)
    var i = 0
    while (i < r) {
      var j = 0
      while (j < c) { out(j * r + i) = x.data(i * c + j); j += 1 }
      i += 1
    }
    Tensor(Array(c, r), out)
  }

  /** Columns [off, off + n) of an R×C tensor. */
  private def cols(x: Tensor, off: Int, n: Int): Tensor = {
    val Array(r, c) = x.shape
    val out = new Array[Double](r * n)
    var i = 0
    while (i < r) { System.arraycopy(x.data, i * c + off, out, i * n, n); i += 1 }
    Tensor(Array(r, n), out)
  }

  /** R×C₁, R×C₂, … side by side → R×ΣCᵢ. */
  def catCols(parts: Seq[Tensor]): Tensor = {
    val r = parts.head.shape(0)
    val c = parts.map(_.shape(1)).sum
    val out = new Array[Double](r * c)
    var off = 0
    parts.foreach { p =>
      val pc = p.shape(1)
      var i = 0
      while (i < r) { System.arraycopy(p.data, i * pc, out, i * c + off, pc); i += 1 }
      off += pc
    }
    Tensor(Array(r, c), out)
  }

  // ---------------------------------------------------------------- norms

  /** BatchNorm inference over channel = dim 0 of a C×… tensor:
    * γ·(x−μ)/√(σ²+ε)+β with running stats. */
  def batchNorm(x: Tensor, gamma: Array[Double], beta: Array[Double],
      mean: Array[Double], variance: Array[Double], eps: Double = 1e-5): Tensor = {
    val c = x.shape(0)
    val inner = x.size / c
    val out = new Array[Double](x.size)
    var ch = 0
    while (ch < c) {
      val scale = gamma(ch) / math.sqrt(variance(ch) + eps)
      val shift = beta(ch) - mean(ch) * scale
      var i = 0
      while (i < inner) { out(ch * inner + i) = x.data(ch * inner + i) * scale + shift; i += 1 }
      ch += 1
    }
    Tensor(x.shape, out)
  }

  /** S3FD L2Norm (nets.py:8–25): per-pixel channel-L2 normalize then
    * scale by the per-channel learned gamma; norm = √(Σ x²) + eps. */
  def l2normScale(x: Tensor, weight: Array[Double], eps: Double = 1e-10): Tensor = {
    val Array(c, h, w) = x.shape
    val out = new Array[Double](x.size)
    val hw = h * w
    var p = 0
    while (p < hw) {
      var ss = 0.0
      var ch = 0
      while (ch < c) { val v = x.data(ch * hw + p); ss += v * v; ch += 1 }
      val inv = 1.0 / (math.sqrt(ss) + eps)
      ch = 0
      while (ch < c) {
        out(ch * hw + p) = x.data(ch * hw + p) * inv * weight(ch)
        ch += 1
      }
      p += 1
    }
    Tensor(x.shape, out)
  }

  /** nn.LayerNorm over the LAST dim of an N×F tensor (biased var). */
  def layerNorm(x: Tensor, gamma: Array[Double], beta: Array[Double],
      eps: Double = 1e-5): Tensor = {
    val Array(n, f) = x.shape
    val out = new Array[Double](x.size)
    var r = 0
    while (r < n) {
      var s = 0.0
      var k = 0
      while (k < f) { s += x.data(r * f + k); k += 1 }
      val mu = s / f
      var v = 0.0
      k = 0
      while (k < f) { val d = x.data(r * f + k) - mu; v += d * d; k += 1 }
      val inv = 1.0 / math.sqrt(v / f + eps)
      k = 0
      while (k < f) {
        out(r * f + k) = (x.data(r * f + k) - mu) * inv * gamma(k) + beta(k)
        k += 1
      }
      r += 1
    }
    Tensor(x.shape, out)
  }

  /** visualEncoder GlobalLayerNorm (visualEncoder.py:85–99): one mean
    * and biased variance over ALL of C×L (mean-of-means over equal
    * sizes ≡ global mean), per-channel affine, eps 1e-8 inside √. */
  def globalLayerNorm(x: Tensor, gamma: Array[Double], beta: Array[Double]): Tensor = {
    val Array(c, l) = x.shape
    var s = 0.0
    var i = 0
    while (i < x.size) { s += x.data(i); i += 1 }
    val mu = s / x.size
    var v = 0.0
    i = 0
    while (i < x.size) { val d = x.data(i) - mu; v += d * d; i += 1 }
    val inv = 1.0 / math.pow(v / x.size + 1e-8, 0.5)
    val out = new Array[Double](x.size)
    var ch = 0
    while (ch < c) {
      var k = 0
      while (k < l) {
        out(ch * l + k) = gamma(ch) * (x.data(ch * l + k) - mu) * inv + beta(ch)
        k += 1
      }
      ch += 1
    }
    Tensor(x.shape, out)
  }

  // ---------------------------------------------------------------- pools

  /** Output length of one pool axis: a ceil-mode window must start
    * inside input + left pad, or it is dropped (PyTorch). */
  private def poolLen(in: Int, k: Int, s: Int, pad: Int, ceil: Boolean): Int = {
    val n = outLen(in, k, s, pad, ceil = ceil)
    if (ceil && (n - 1) * s >= in + pad) n - 1 else n
  }

  /** The one window-pool loop nest over C×D×H×W; k, s and pad are
    * (depth, height, width). Windows are clipped to the input: taps in
    * the padding or past the end are skipped. Max starts at −∞ and
    * takes a tap only when it is greater (a NaN tap never wins); mean
    * sums the taps in (kz, ky, kx) order from 0.0 and divides by the
    * full window size, PyTorch's divisor for windows that fit. */
  private def pool(x: Tensor, k: Array[Int], s: Array[Int], pad: Array[Int],
      ceil: Boolean, mean: Boolean): Tensor = {
    val Array(c, d, h, w) = x.shape
    val Array(kd, kh, kw) = k
    val Array(sd, sh, sw) = s
    val Array(pd, ph, pw) = pad
    val od = poolLen(d, kd, sd, pd, ceil)
    val oh = poolLen(h, kh, sh, ph, ceil)
    val ow = poolLen(w, kw, sw, pw, ceil)
    val out = new Array[Double](c * od * oh * ow)
    val xd = x.data
    var ch = 0
    while (ch < c) {
      var oz = 0
      while (oz < od) {
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            var m = if (mean) 0.0 else Double.NegativeInfinity
            var kz = 0
            while (kz < kd) {
              val iz = oz * sd - pd + kz
              if (iz >= 0 && iz < d) {
                var ky = 0
                while (ky < kh) {
                  val iy = oy * sh - ph + ky
                  if (iy >= 0 && iy < h) {
                    var kx = 0
                    while (kx < kw) {
                      val ix = ox * sw - pw + kx
                      if (ix >= 0 && ix < w) {
                        val v = xd(((ch * d + iz) * h + iy) * w + ix)
                        if (mean) m += v else if (v > m) m = v
                      }
                      kx += 1
                    }
                  }
                  ky += 1
                }
              }
              kz += 1
            }
            out(((ch * od + oz) * oh + oy) * ow + ox) = if (mean) m / (kd * kh * kw) else m
            ox += 1
          }
          oy += 1
        }
        oz += 1
      }
      ch += 1
    }
    Tensor(Array(c, od, oh, ow), out)
  }

  private def pool2d(x: Tensor, k: Array[Int], s: Array[Int], pad: Array[Int],
      ceil: Boolean, mean: Boolean): Tensor = {
    val Array(c, h, w) = x.shape
    val y = pool(Tensor(Array(c, 1, h, w), x.data), k, s, pad, ceil, mean)
    Tensor(Array(c, y.shape(2), y.shape(3)), y.data)
  }

  /** nn.MaxPool2d (optional ceil_mode, as vgg[16] uses). */
  def maxPool2d(x: Tensor, kh: Int, kw: Int, sh: Int, sw: Int,
      padH: Int = 0, padW: Int = 0, ceil: Boolean = false): Tensor =
    pool2d(x, Array(1, kh, kw), Array(1, sh, sw), Array(0, padH, padW), ceil, mean = false)

  /** nn.MaxPool3d for the frontend3D stem ((1,3,3) stride (1,2,2)
    * pad (0,1,1)). */
  def maxPool3d(x: Tensor, kd: Int, kh: Int, kw: Int,
      sd: Int, sh: Int, sw: Int, padD: Int, padH: Int, padW: Int): Tensor =
    pool(x, Array(kd, kh, kw), Array(sd, sh, sw), Array(padD, padH, padW),
      ceil = false, mean = false)

  /** nn.AvgPool2d, unpadded (ResNet's (4,4)): every window fits. */
  def avgPool2d(x: Tensor, kh: Int, kw: Int, sh: Int, sw: Int): Tensor =
    pool2d(x, Array(1, kh, kw), Array(1, sh, sw), Array(0, 0, 0), ceil = false, mean = true)

  /** AdaptiveAvgPool2d(1): global per-channel mean of a C×…, one
    * mean-pool window over each channel. */
  def globalAvgPool(x: Tensor): Array[Double] = {
    val c = x.shape(0)
    val inner = x.size / c
    pool(Tensor(Array(c, 1, 1, inner), x.data), Array(1, 1, inner), Array(1, 1, 1),
      Array(0, 0, 0), ceil = false, mean = true).data
  }

  // ---------------------------------------------------------------- nonlin

  def relu(x: Tensor): Tensor = x.map(v => if (v > 0) v else 0.0)
  def sigmoid(x: Tensor): Tensor = x.map(v => 1.0 / (1.0 + math.exp(-v)))

  /** nn.PReLU with a single shared alpha (its default). */
  def prelu(x: Tensor, alpha: Double): Tensor =
    x.map(v => if (v >= 0) v else alpha * v)

  /** Softmax over the last dim of an N×F tensor (max-shifted). */
  def softmaxRows(x: Tensor): Tensor = {
    val Array(n, f) = x.shape
    val out = new Array[Double](x.size)
    var r = 0
    while (r < n) {
      var m = Double.NegativeInfinity
      var k = 0
      while (k < f) { val v = x.data(r * f + k); if (v > m) m = v; k += 1 }
      var s = 0.0
      k = 0
      while (k < f) { val e = math.exp(x.data(r * f + k) - m); out(r * f + k) = e; s += e; k += 1 }
      k = 0
      while (k < f) { out(r * f + k) /= s; k += 1 }
      r += 1
    }
    Tensor(x.shape, out)
  }

  def add(a: Tensor, b: Tensor): Tensor = {
    require(a.size == b.size, s"add: $a vs $b")
    val out = new Array[Double](a.size)
    var i = 0
    while (i < a.size) { out(i) = a.data(i) + b.data(i); i += 1 }
    Tensor(a.shape, out)
  }

  /** Per-channel scale of a C×… tensor (the SE excitation apply). */
  def scaleChannels(x: Tensor, s: Array[Double]): Tensor = {
    val c = x.shape(0)
    val inner = x.size / c
    val out = new Array[Double](x.size)
    var ch = 0
    while (ch < c) {
      var i = 0
      while (i < inner) { out(ch * inner + i) = x.data(ch * inner + i) * s(ch); i += 1 }
      ch += 1
    }
    Tensor(x.shape, out)
  }

  // ---------------------------------------------------------------- attention

  /** In-proj slice `off` (0 = Q, d = K, 2d = V) applied to x. */
  private def inProj(x: Tensor, off: Int, d: Int,
      wIn: Tensor, bIn: Array[Double]): Tensor = {
    val w = Tensor(Array(d, d),
      java.util.Arrays.copyOfRange(wIn.data, off * d, (off + d) * d))
    val b = java.util.Arrays.copyOfRange(bIn, off, off + d)
    linear(x, w, Some(b))
  }

  /** Per-head scaled QKᵀ alignment scores — the tensor the attention
    * softmax normalizes, extracted so the q222 audit pins the packed
    * in-proj slicing (rows 0..d−1 = W_q, d..2d−1 = W_k) and the GEMM
    * against DuckDB on the SAME code path multiheadAttention runs.
    * Returns one T_q×T_k tensor per head: `linear` of the head's Q
    * slice, pre-multiplied by the 1/√hd scale, against its K slice.
    * With head_dim a power of 4 the scale is an exact binary
    * fraction, so integer weights give exact scores. */
  def attentionScores(query: Tensor, key: Tensor, nHead: Int,
      wIn: Tensor, bIn: Array[Double]): Array[Tensor] = {
    val d = query.shape(1)
    require(d % nHead == 0, "d_model not divisible by nhead")
    val hd = d / nHead
    val q = inProj(query, 0, d, wIn, bIn)
    val k = inProj(key, d, d, wIn, bIn)
    val scale = 1.0 / math.sqrt(hd.toDouble)
    Array.tabulate(nHead) { h =>
      linear(cols(q, h * hd, hd).map(_ * scale), cols(k, h * hd, hd), None)
    }
  }

  /** nn.MultiheadAttention inference (attentionLayer.py:28 — eval
    * mode, no dropout, no masks): query T_q×D, key/value T_k×D;
    * packed in-proj weight 3D×D (+bias 3D), out-proj D×D. Each head's
    * context is `linear` of its softmaxed scores against its Vᵀ. */
  def multiheadAttention(query: Tensor, key: Tensor, value: Tensor,
      nHead: Int, wIn: Tensor, bIn: Array[Double],
      wOut: Tensor, bOut: Array[Double]): Tensor = {
    val d = query.shape(1)
    val hd = d / nHead
    val v = inProj(value, 2 * d, d, wIn, bIn)
    val ctx = attentionScores(query, key, nHead, wIn, bIn).toSeq.zipWithIndex.map { case (s, h) =>
      linear(softmaxRows(s), transpose(cols(v, h * hd, hd)), None)
    }
    linear(catCols(ctx), wOut, Some(bOut))
  }
}
