package graft

import graft.nn.Tensor
import org.scalatest.funsuite.AnyFunSuite

/** The loop nests graft.nn.Tensor had before conv1d/2d/3d, the pools
  * and the attention products were folded into one conv, one pool and
  * one dense kernel — copied verbatim, the oracle for TensorEquivSpec. */
object TensorRef {
  import Tensor.{outLen, softmaxRows}

  /** nn.Conv2d inference (zero padding, dilation, groups). */
  def conv2d(x: Tensor, w: Tensor, bias: Option[Array[Double]],
      strideH: Int = 1, strideW: Int = 1, padH: Int = 0, padW: Int = 0,
      dilH: Int = 1, dilW: Int = 1, groups: Int = 1): Tensor = {
    val Array(c, h, wd) = x.shape
    val Array(o, cg, kh, kw) = w.shape
    require(c == cg * groups, s"conv2d: in-ch $c != ${cg}x$groups")
    require(o % groups == 0, "conv2d: out-ch not divisible by groups")
    val oh = outLen(h, kh, strideH, padH, dilH)
    val ow = outLen(wd, kw, strideW, padW, dilW)
    val out = new Array[Double](o * oh * ow)
    val og = o / groups
    // hoisted backing arrays: the JIT keeps these in registers, where
    // the per-element `x.data(...)` field loads did not (measured ~2×
    // on the q242 visual stem)
    val xd = x.data
    val kd = w.data
    var oc = 0
    while (oc < o) {
      val g = oc / og
      val b = bias.map(_(oc)).getOrElse(0.0)
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var acc = b
          var ic = 0
          while (ic < cg) {
            val xc = g * cg + ic
            var ky = 0
            while (ky < kh) {
              val iy = oy * strideH - padH + ky * dilH
              if (iy >= 0 && iy < h) {
                val xRow = (xc * h + iy) * wd
                val kRow = ((oc * cg + ic) * kh + ky) * kw
                var kx = 0
                while (kx < kw) {
                  val ix = ox * strideW - padW + kx * dilW
                  if (ix >= 0 && ix < wd)
                    acc += xd(xRow + ix) * kd(kRow + kx)
                  kx += 1
                }
              }
              ky += 1
            }
            ic += 1
          }
          out((oc * oh + oy) * ow + ox) = acc
          ox += 1
        }
        oy += 1
      }
      oc += 1
    }
    Tensor(Array(o, oh, ow), out)
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
      padD: Int, padH: Int, padW: Int): Tensor = {
    val Array(c, d, h, wd) = x.shape
    val Array(o, cg, kd, kh, kw) = w.shape
    require(c == cg, "conv3d: groups unsupported")
    val od = outLen(d, kd, strideD, padD)
    val oh = outLen(h, kh, strideH, padH)
    val ow = outLen(wd, kw, strideW, padW)
    val out = new Array[Double](o * od * oh * ow)
    val xd = x.data // hoisted — see conv2d
    val kwd = w.data
    var oc = 0
    while (oc < o) {
      val b = bias.map(_(oc)).getOrElse(0.0)
      var oz = 0
      while (oz < od) {
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            var acc = b
            var ic = 0
            while (ic < c) {
              var kz = 0
              while (kz < kd) {
                val iz = oz * strideD - padD + kz
                if (iz >= 0 && iz < d) {
                  var ky = 0
                  while (ky < kh) {
                    val iy = oy * strideH - padH + ky
                    if (iy >= 0 && iy < h) {
                      val xRow = ((ic * d + iz) * h + iy) * wd
                      val kRow = (((oc * c + ic) * kd + kz) * kh + ky) * kw
                      var kx = 0
                      while (kx < kw) {
                        val ix = ox * strideW - padW + kx
                        if (ix >= 0 && ix < wd)
                          acc += xd(xRow + ix) * kwd(kRow + kx)
                        kx += 1
                      }
                    }
                    ky += 1
                  }
                }
                kz += 1
              }
              ic += 1
            }
            out(((oc * od + oz) * oh + oy) * ow + ox) = acc
            ox += 1
          }
          oy += 1
        }
        oz += 1
      }
      oc += 1
    }
    Tensor(Array(o, od, oh, ow), out)
  }

  // ---------------------------------------------------------------- dense

  /** nn.Linear: x N×F · wᵀ (w is O×F) + b → N×O. */
  def linear(x: Tensor, w: Tensor, bias: Option[Array[Double]]): Tensor = {
    val Array(n, f) = x.shape
    val Array(o, f2) = w.shape
    require(f == f2, s"linear: $f != $f2")
    val out = new Array[Double](n * o)
    val xd = x.data // hoisted — see conv2d
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

  // ---------------------------------------------------------------- pools

  /** nn.MaxPool2d (optional ceil_mode, as vgg[16] uses). Windows are
    * clipped to the input; ceil-mode windows starting past the end
    * are dropped (PyTorch semantics). */
  def maxPool2d(x: Tensor, kh: Int, kw: Int, sh: Int, sw: Int,
      padH: Int = 0, padW: Int = 0, ceil: Boolean = false): Tensor = {
    val Array(c, h, w) = x.shape
    var oh = outLen(h, kh, sh, padH, ceil = ceil)
    var ow = outLen(w, kw, sw, padW, ceil = ceil)
    // PyTorch: a ceil-mode window must start inside input+left-pad
    if (ceil && (oh - 1) * sh >= h + padH) oh -= 1
    if (ceil && (ow - 1) * sw >= w + padW) ow -= 1
    val out = new Array[Double](c * oh * ow)
    var ch = 0
    while (ch < c) {
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var m = Double.NegativeInfinity
          var ky = 0
          while (ky < kh) {
            val iy = oy * sh - padH + ky
            if (iy >= 0 && iy < h) {
              var kx = 0
              while (kx < kw) {
                val ix = ox * sw - padW + kx
                if (ix >= 0 && ix < w) {
                  val v = x.data((ch * h + iy) * w + ix)
                  if (v > m) m = v
                }
                kx += 1
              }
            }
            ky += 1
          }
          out((ch * oh + oy) * ow + ox) = m
          ox += 1
        }
        oy += 1
      }
      ch += 1
    }
    Tensor(Array(c, oh, ow), out)
  }

  /** nn.MaxPool3d for the frontend3D stem ((1,3,3) stride (1,2,2)
    * pad (0,1,1)) — depth axis handled as an outer loop. */
  def maxPool3d(x: Tensor, kd: Int, kh: Int, kw: Int,
      sd: Int, sh: Int, sw: Int, padD: Int, padH: Int, padW: Int): Tensor = {
    val Array(c, d, h, w) = x.shape
    val od = outLen(d, kd, sd, padD)
    val oh = outLen(h, kh, sh, padH)
    val ow = outLen(w, kw, sw, padW)
    val out = new Array[Double](c * od * oh * ow)
    var ch = 0
    while (ch < c) {
      var oz = 0
      while (oz < od) {
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            var m = Double.NegativeInfinity
            var kz = 0
            while (kz < kd) {
              val iz = oz * sd - padD + kz
              if (iz >= 0 && iz < d) {
                var ky = 0
                while (ky < kh) {
                  val iy = oy * sh - padH + ky
                  if (iy >= 0 && iy < h) {
                    var kx = 0
                    while (kx < kw) {
                      val ix = ox * sw - padW + kx
                      if (ix >= 0 && ix < w) {
                        val v = x.data(((ch * d + iz) * h + iy) * w + ix)
                        if (v > m) m = v
                      }
                      kx += 1
                    }
                  }
                  ky += 1
                }
              }
              kz += 1
            }
            out(((ch * od + oz) * oh + oy) * ow + ox) = m
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

  /** nn.AvgPool2d (count includes only in-bounds cells when unpadded
    * windows clip — here kernels always fit, as in ResNet's (4,4)). */
  def avgPool2d(x: Tensor, kh: Int, kw: Int, sh: Int, sw: Int): Tensor = {
    val Array(c, h, w) = x.shape
    val oh = outLen(h, kh, sh, 0)
    val ow = outLen(w, kw, sw, 0)
    val out = new Array[Double](c * oh * ow)
    var ch = 0
    while (ch < c) {
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var s = 0.0
          var ky = 0
          while (ky < kh) {
            var kx = 0
            while (kx < kw) {
              s += x.data((ch * h + oy * sh + ky) * w + ox * sw + kx)
              kx += 1
            }
            ky += 1
          }
          out((ch * oh + oy) * ow + ox) = s / (kh * kw)
          ox += 1
        }
        oy += 1
      }
      ch += 1
    }
    Tensor(Array(c, oh, ow), out)
  }

  /** AdaptiveAvgPool2d(1): global per-channel mean of a C×H×W. */
  def globalAvgPool(x: Tensor): Array[Double] = {
    val c = x.shape(0)
    val inner = x.size / c
    Array.tabulate(c) { ch =>
      var s = 0.0
      var i = 0
      while (i < inner) { s += x.data(ch * inner + i); i += 1 }
      s / inner
    }
  }

  // ---------------------------------------------------------------- attention

  /** nn.MultiheadAttention inference (attentionLayer.py:28 — eval
    * mode, no dropout, no masks): query T_q×D, key/value T_k×D;
    * packed in-proj weight 3D×D (+bias 3D), out-proj D×D. Scaling is
    * 1/√headDim applied to Q before QKᵀ. */
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
    * Returns one T_q×T_k tensor per head. With head_dim a power of 4
    * the 1/√hd scale is an exact binary fraction, so integer weights
    * give exact scores. */
  def attentionScores(query: Tensor, key: Tensor, nHead: Int,
      wIn: Tensor, bIn: Array[Double]): Array[Tensor] = {
    val d = query.shape(1)
    require(d % nHead == 0, "d_model not divisible by nhead")
    val hd = d / nHead
    val tq = query.shape(0)
    val tk = key.shape(0)
    val q = inProj(query, 0, d, wIn, bIn)
    val k = inProj(key, d, d, wIn, bIn)
    val scale = 1.0 / math.sqrt(hd.toDouble)
    Array.tabulate(nHead) { h =>
      val sc = new Array[Double](tq * tk)
      var i = 0
      while (i < tq) {
        var j = 0
        while (j < tk) {
          var acc = 0.0
          var e = 0
          while (e < hd) { acc += q.data(i * d + h * hd + e) * scale * k.data(j * d + h * hd + e); e += 1 }
          sc(i * tk + j) = acc
          j += 1
        }
        i += 1
      }
      Tensor(Array(tq, tk), sc)
    }
  }

  def multiheadAttention(query: Tensor, key: Tensor, value: Tensor,
      nHead: Int, wIn: Tensor, bIn: Array[Double],
      wOut: Tensor, bOut: Array[Double]): Tensor = {
    val d = query.shape(1)
    require(d % nHead == 0, "d_model not divisible by nhead")
    val hd = d / nHead
    val tq = query.shape(0)
    val tk = key.shape(0)
    val v = inProj(value, 2 * d, d, wIn, bIn)
    val scores = attentionScores(query, key, nHead, wIn, bIn)
    val ctx = new Array[Double](tq * d)
    var h = 0
    while (h < nHead) {
      val at = softmaxRows(scores(h))
      var i = 0
      while (i < tq) {
        var e = 0
        while (e < hd) {
          var acc = 0.0
          var j = 0
          while (j < tk) { acc += at.data(i * tk + j) * v.data(j * d + h * hd + e); j += 1 }
          ctx(i * d + h * hd + e) = acc
          e += 1
        }
        i += 1
      }
      h += 1
    }
    linear(Tensor(Array(tq, d), ctx), wOut, Some(bOut))
  }
}

/** Bit-equivalence of the shared Tensor kernels with [[TensorRef]]:
  * seeded random shapes over every parameter a caller uses (stride,
  * pad, dilation, groups incl. depthwise, ceil mode, clipped windows,
  * multi-head attention with T_q ≠ T_k) on non-integer inputs with
  * −0.0, ±∞ and NaN mixed in, compared by doubleToLongBits. */
class TensorEquivSpec extends AnyFunSuite {
  private val CasesPerOp = 64

  /** One value profile per case: clean, sparse specials, or
    * zero-heavy (−0.0 sums only survive when no term flips them, and
    * a max over ±0.0 ties shows which tap won). */
  private final class Gen(seed: Long) {
    val rnd = new scala.util.Random(seed)
    private val (special, negZero) = rnd.nextInt(3) match {
      case 0 => (0.0, 0.0)
      case 1 => (0.03, 0.1)
      case _ => (0.01, 0.6)
    }
    def int(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
    def value(): Double = {
      val u = rnd.nextDouble()
      if (u < special) Double.NaN
      else if (u < 2 * special) Double.PositiveInfinity
      else if (u < 3 * special) Double.NegativeInfinity
      else if (u < 3 * special + negZero) -0.0
      else if (u < 3 * special + 1.5 * negZero) 0.0
      else rnd.nextGaussian() * 3
    }
    def tensor(shape: Int*): Tensor =
      Tensor(shape.toArray, Array.fill(shape.product)(value()))
    def bias(n: Int): Option[Array[Double]] =
      if (rnd.nextBoolean()) None else Some(Array.fill(n)(value()))
    def vec(n: Int): Array[Double] = Array.fill(n)(value())
  }

  private def assertBits(what: String, got: Tensor, want: Tensor): Unit = {
    assert(got.shape.toSeq == want.shape.toSeq, s"$what: shape $got vs $want")
    val bad = got.data.indices.filter(i =>
      java.lang.Double.doubleToLongBits(got.data(i)) !=
        java.lang.Double.doubleToLongBits(want.data(i)))
    bad.headOption.foreach(i => fail(s"$what: ${bad.size} of ${got.size} differ, " +
      s"first at $i: ${got.data(i)} vs ${want.data(i)}"))
  }

  /** Runs `CasesPerOp` seeded cases; `one` returns false to redraw a
    * shape whose output would be empty. */
  private def cases(op: String)(one: Gen => Boolean): Unit = {
    var seed = op.hashCode.toLong
    var ran = 0
    while (ran < CasesPerOp) {
      if (one(new Gen(seed))) ran += 1
      seed += 1
    }
  }

  private def fits(in: Int, k: Int, s: Int, p: Int, d: Int = 1): Boolean =
    in + 2 * p - d * (k - 1) - 1 >= 0

  /** (in-ch per group, groups): plain, grouped, or depthwise. */
  private def grouping(g: Gen): (Int, Int) = g.int(0, 2) match {
    case 0 => (g.int(1, 3), 1)
    case 1 => (g.int(1, 3), g.int(2, 3))
    case _ => (1, g.int(2, 4))
  }

  test("conv2d matches the reference bit for bit") {
    cases("conv2d") { g =>
      val (cg, groups) = grouping(g)
      val o = groups * g.int(1, 3)
      val (h, w, kh, kw) = (g.int(1, 7), g.int(1, 7), g.int(1, 3), g.int(1, 3))
      val (sh, sw, ph, pw, dh, dw) =
        (g.int(1, 3), g.int(1, 3), g.int(0, 2), g.int(0, 2), g.int(1, 2), g.int(1, 2))
      fits(h, kh, sh, ph, dh) && fits(w, kw, sw, pw, dw) && {
        val x = g.tensor(cg * groups, h, w)
        val k = g.tensor(o, cg, kh, kw)
        val b = g.bias(o)
        assertBits("conv2d",
          Tensor.conv2d(x, k, b, sh, sw, ph, pw, dh, dw, groups),
          TensorRef.conv2d(x, k, b, sh, sw, ph, pw, dh, dw, groups))
        true
      }
    }
  }

  test("conv1d matches the reference bit for bit") {
    cases("conv1d") { g =>
      val (cg, groups) = grouping(g)
      val o = groups * g.int(1, 3)
      val (l, k, s, p, d) = (g.int(1, 9), g.int(1, 5), g.int(1, 3), g.int(0, 2), g.int(1, 2))
      fits(l, k, s, p, d) && {
        val x = g.tensor(cg * groups, l)
        val w = g.tensor(o, cg, k)
        val b = g.bias(o)
        assertBits("conv1d", Tensor.conv1d(x, w, b, s, p, d, groups),
          TensorRef.conv1d(x, w, b, s, p, d, groups))
        true
      }
    }
  }

  test("conv3d matches the reference bit for bit") {
    cases("conv3d") { g =>
      val (c, o) = (g.int(1, 2), g.int(1, 3))
      val in = Array.fill(3)(g.int(1, 5))
      val k = Array.fill(3)(g.int(1, 3))
      val s = Array.fill(3)(g.int(1, 2))
      val p = Array.fill(3)(g.int(0, 2))
      (0 until 3).forall(i => fits(in(i), k(i), s(i), p(i))) && {
        val x = g.tensor(c +: in.toSeq: _*)
        val w = g.tensor(Seq(o, c) ++ k: _*)
        val b = g.bias(o)
        assertBits("conv3d", Tensor.conv3d(x, w, b, s(0), s(1), s(2), p(0), p(1), p(2)),
          TensorRef.conv3d(x, w, b, s(0), s(1), s(2), p(0), p(1), p(2)))
        true
      }
    }
  }

  test("maxPool2d matches the reference bit for bit, ceil mode included") {
    cases("maxPool2d") { g =>
      val (c, h, w, kh, kw) = (g.int(1, 3), g.int(1, 8), g.int(1, 8), g.int(1, 3), g.int(1, 3))
      val (sh, sw) = (g.int(1, 3), g.int(1, 3))
      val (ph, pw) = (g.int(0, kh / 2), g.int(0, kw / 2))
      val ceil = g.rnd.nextBoolean()
      fits(h, kh, sh, ph) && fits(w, kw, sw, pw) && {
        val x = g.tensor(c, h, w)
        assertBits("maxPool2d", Tensor.maxPool2d(x, kh, kw, sh, sw, ph, pw, ceil),
          TensorRef.maxPool2d(x, kh, kw, sh, sw, ph, pw, ceil))
        true
      }
    }
  }

  test("maxPool3d matches the reference bit for bit") {
    cases("maxPool3d") { g =>
      val c = g.int(1, 3)
      val in = Array.fill(3)(g.int(1, 6))
      val k = Array.fill(3)(g.int(1, 3))
      val s = Array.fill(3)(g.int(1, 3))
      val p = k.map(kk => g.int(0, kk / 2))
      (0 until 3).forall(i => fits(in(i), k(i), s(i), p(i))) && {
        val x = g.tensor(c +: in.toSeq: _*)
        assertBits("maxPool3d",
          Tensor.maxPool3d(x, k(0), k(1), k(2), s(0), s(1), s(2), p(0), p(1), p(2)),
          TensorRef.maxPool3d(x, k(0), k(1), k(2), s(0), s(1), s(2), p(0), p(1), p(2)))
        true
      }
    }
  }

  test("avgPool2d matches the reference bit for bit") {
    cases("avgPool2d") { g =>
      val (c, h, w, kh, kw) = (g.int(1, 3), g.int(1, 8), g.int(1, 8), g.int(1, 4), g.int(1, 4))
      val (sh, sw) = (g.int(1, 3), g.int(1, 3))
      fits(h, kh, sh, 0) && fits(w, kw, sw, 0) && {
        val x = g.tensor(c, h, w)
        assertBits("avgPool2d", Tensor.avgPool2d(x, kh, kw, sh, sw),
          TensorRef.avgPool2d(x, kh, kw, sh, sw))
        true
      }
    }
  }

  test("globalAvgPool matches the reference bit for bit") {
    cases("globalAvgPool") { g =>
      val x = g.tensor(g.int(1, 3), g.int(1, 4), g.int(1, 4))
      assertBits("globalAvgPool", Tensor(Array(x.dim(0)), Tensor.globalAvgPool(x)),
        Tensor(Array(x.dim(0)), TensorRef.globalAvgPool(x)))
      true
    }
  }

  test("linear matches the reference bit for bit") {
    cases("linear") { g =>
      val (n, f, o) = (g.int(1, 5), g.int(1, 8), g.int(1, 5))
      val x = g.tensor(n, f)
      val w = g.tensor(o, f)
      val b = g.bias(o)
      assertBits("linear", Tensor.linear(x, w, b), TensorRef.linear(x, w, b))
      true
    }
  }

  test("attentionScores matches the reference bit for bit") {
    cases("attentionScores") { g =>
      val (nHead, hd, tq, tk) = (g.int(1, 3), g.int(1, 4), g.int(1, 4), g.int(1, 5))
      val d = nHead * hd
      val q = g.tensor(tq, d)
      val k = g.tensor(tk, d)
      val wIn = g.tensor(3 * d, d)
      val bIn = g.vec(3 * d)
      val got = Tensor.attentionScores(q, k, nHead, wIn, bIn)
      val want = TensorRef.attentionScores(q, k, nHead, wIn, bIn)
      assert(got.length == want.length)
      got.zip(want).foreach { case (a, b) => assertBits("attentionScores", a, b) }
      true
    }
  }

  test("multiheadAttention matches the reference bit for bit") {
    cases("multiheadAttention") { g =>
      val (nHead, hd, tq, tk) = (g.int(1, 3), g.int(1, 4), g.int(1, 4), g.int(1, 5))
      val d = nHead * hd
      val q = g.tensor(tq, d)
      val (k, v) = (g.tensor(tk, d), g.tensor(tk, d))
      val (wIn, bIn, wOut, bOut) = (g.tensor(3 * d, d), g.vec(3 * d), g.tensor(d, d), g.vec(d))
      assertBits("multiheadAttention",
        Tensor.multiheadAttention(q, k, v, nHead, wIn, bIn, wOut, bOut),
        TensorRef.multiheadAttention(q, k, v, nHead, wIn, bIn, wOut, bOut))
      true
    }
  }
}
