package graft.nn

import Tensor._

/** TalkNet's audio-visual speaker-scoring forward — the model behind
  * the BatchScorer seat (operators/DurationEnsemble) — re-implemented
  * from the reference architecture:
  *  - audio temporal encoder: SE-ResNet34 layout [3,4,6,3] with
  *    filters [16,32,64,128] (model/audioEncoder.py:54–108), the
  *    block's conv→relu→bn1 order, SE excitation (reduction 8) and
  *    the final frequency-mean collapse to 128-d at 25 Hz;
  *  - visual frontend: 3D conv stem (5,7,7)/(1,2,2) + BN + ReLU +
  *    MaxPool3d(1,3,3)/(1,2,2), then an 18-layer ResNet per frame to
  *    512-d (model/visualEncoder.py:11–130), followed by the V-TCN
  *    (5 depthwise DSConv1d residual stacks with PReLU and global
  *    layer norm, :133–160) and the 512→256→128 Conv1D head (:162);
  *  - cross attention A↔V and self attention over the 256-d concat
  *    (model/attentionLayer.py:8–36, model/talkNetModel.py:29–63);
  *  - lossAV inference head: Linear(256, 2), score = logit[:,1]
  *    (loss.py:5–17).
  *
  * All kernels are the deterministic pure-JVM ops in [[Tensor]]; the
  * parameter names mirror the PyTorch state_dict so a checkpoint
  * loader fills MapWeights 1:1. One forward per (track, duration,
  * batch) slice inside a partition iterator — no shuffle, no driver.
  */
final class TalkNetModel(ws: WeightStore) extends Serializable {

  // ------------------------------------------------------------ audio

  private def bn(prefix: String, x: Tensor, eps: Double = 1e-5): Tensor = {
    val c = x.shape(0)
    batchNorm(x, ws.vector(s"$prefix.weight", c), ws.vector(s"$prefix.bias", c),
      ws.vector(s"$prefix.running_mean", c), ws.vector(s"$prefix.running_var", c), eps)
  }

  /** visualFrontend norms are BatchNorm(momentum=0.01, eps=0.001)
    * (visualEncoder.py:24–33, 112) — eps differs from the default. */
  private def bnV(prefix: String, x: Tensor): Tensor = bn(prefix, x, eps = 1e-3)

  /** SELayer (audioEncoder.py:37–52): squeeze to per-channel means,
    * fc c→c/8 relu, fc c/8→c sigmoid, channel-scale. */
  private def se(prefix: String, x: Tensor): Tensor = {
    val c = x.shape(0)
    val r = c / 8
    val y = Tensor(Array(1, c), globalAvgPool(x))
    val h = relu(linear(y, ws.tensor(s"$prefix.fc.0.weight", r, c),
      Some(ws.vector(s"$prefix.fc.0.bias", r))))
    val s = sigmoid(linear(h, ws.tensor(s"$prefix.fc.2.weight", c, r),
      Some(ws.vector(s"$prefix.fc.2.bias", c))))
    scaleChannels(x, s.data)
  }

  /** SEBasicBlock (audioEncoder.py:5–35): conv→RELU→bn1 (that order,
    * :21–23), conv→bn2→se, residual (+1×1-conv downsample when shape
    * changes), final relu. */
  private def seBlock(prefix: String, x: Tensor, inC: Int, outC: Int,
      sh: Int, sw: Int, downsample: Boolean): Tensor = {
    var out = conv2d(x, ws.tensor(s"$prefix.conv1.weight", outC, inC, 3, 3), None,
      strideH = sh, strideW = sw, padH = 1, padW = 1)
    out = bn(s"$prefix.bn1", relu(out))
    out = conv2d(out, ws.tensor(s"$prefix.conv2.weight", outC, outC, 3, 3), None,
      padH = 1, padW = 1)
    out = se(s"$prefix.se", bn(s"$prefix.bn2", out))
    val res =
      if (downsample)
        bn(s"$prefix.downsample.1",
          conv2d(x, ws.tensor(s"$prefix.downsample.0.weight", outC, inC, 1, 1), None,
            strideH = sh, strideW = sw))
      else x
    relu(add(out, res))
  }

  private val audioLayers = Seq( // (blocks, planes, strideH, strideW)
    (3, 16, 1, 1), (4, 32, 2, 2), (6, 64, 2, 2), (3, 128, 1, 1))

  /** forward_audio_frontend (talkNetModel.py:41–44): MFCC rows
    * (T×nCoef, 100 Hz) → (T/4)×128 at 25 Hz. Input laid out as the
    * reference's (1, nCoef, T) after the unsqueeze/transpose. */
  def audioFrontend(mfcc: Array[Array[Double]]): Tensor = {
    val t = mfcc.length
    require(t > 0, "audioFrontend: empty slice")
    val nCoef = mfcc(0).length
    var x = transpose(Tensor(Array(t, nCoef), mfcc.flatten)).reshape(1, nCoef, t)
    x = conv2d(x, ws.tensor("audioEncoder.conv1.weight", 16, 1, 7, 7), None,
      strideH = 2, strideW = 1, padH = 3, padW = 3)
    x = relu(bn("audioEncoder.bn1", x))
    var inC = 16
    audioLayers.zipWithIndex.foreach { case ((blocks, planes, sh, sw), li) =>
      var b = 0
      while (b < blocks) {
        val first = b == 0
        val stride = if (first) (sh, sw) else (1, 1)
        val down = first && (stride != ((1, 1)) || inC != planes)
        x = seBlock(s"audioEncoder.layer${li + 1}.$b", x,
          if (first) inC else planes, planes, stride._1, stride._2, down)
        b += 1
      }
      inC = planes
    }
    // mean over the frequency axis (audioEncoder.py:104) → T'×128
    val Array(c, f, tt) = x.shape
    transpose(avgPool2d(x, f, 1, 1, 1).reshape(c, tt))
  }

  // ------------------------------------------------------------ visual

  /** ResNetLayer (visualEncoder.py:11–54): two residual sub-blocks
    * with the downsample 1×1 on the stride-ed first one. */
  private def resNetLayer(prefix: String, x0: Tensor, inC: Int, outC: Int,
      stride: Int): Tensor = {
    var b = relu(bnV(s"$prefix.bn1a",
      conv2d(x0, ws.tensor(s"$prefix.conv1a.weight", outC, inC, 3, 3), None,
        strideH = stride, strideW = stride, padH = 1, padW = 1)))
    b = conv2d(b, ws.tensor(s"$prefix.conv2a.weight", outC, outC, 3, 3), None,
      padH = 1, padW = 1)
    val res0 =
      if (stride == 1) x0
      else conv2d(x0, ws.tensor(s"$prefix.downsample.weight", outC, inC, 1, 1), None,
        strideH = stride, strideW = stride)
    val inter = add(b, res0)
    var c = relu(bnV(s"$prefix.outbna", inter))
    c = relu(bnV(s"$prefix.bn1b",
      conv2d(c, ws.tensor(s"$prefix.conv1b.weight", outC, outC, 3, 3), None,
        padH = 1, padW = 1)))
    c = conv2d(c, ws.tensor(s"$prefix.conv2b.weight", outC, outC, 3, 3), None,
      padH = 1, padW = 1)
    relu(bnV(s"$prefix.outbnb", add(c, inter)))
  }

  /** visualFrontend (visualEncoder.py:101–130) for one track: T gray
    * frames (H×W, raw 0..255) → T×512. Includes the (x/255−0.4161)/
    * 0.1688 normalize of talkNetModel.py:31. */
  def visualFrontendF(frames: Array[Array[Double]], h: Int, w: Int): Tensor = {
    val t = frames.length
    require(t > 0, "visualFrontend: empty slice")
    val norm = new Array[Double](t * h * w)
    var i = 0
    while (i < t) {
      var p = 0
      while (p < h * w) {
        norm(i * h * w + p) = (frames(i)(p) / 255.0 - 0.4161) / 0.1688
        p += 1
      }
      i += 1
    }
    // frontend3D on (1, T, H, W): conv3d 1→64 (5,7,7)/(1,2,2) p(2,3,3)
    var x3 = conv3d(Tensor(Array(1, t, h, w), norm),
      ws.tensor("visualFrontend.frontend3D.0.weight", 64, 1, 5, 7, 7), None,
      strideD = 1, strideH = 2, strideW = 2, padD = 2, padH = 3, padW = 3)
    x3 = relu(bnV("visualFrontend.frontend3D.1", x3))
    x3 = maxPool3d(x3, 1, 3, 3, 1, 2, 2, 0, 1, 1)
    // per-frame ResNet18 to 512-d
    val Array(c64, tt, hh, ww) = x3.shape
    val out = new Array[Double](tt * 512)
    var fr = 0
    while (fr < tt) {
      val fd = new Array[Double](c64 * hh * ww)
      var ch = 0
      while (ch < c64) {
        System.arraycopy(x3.data, (ch * tt + fr) * hh * ww, fd, ch * hh * ww, hh * ww)
        ch += 1
      }
      var r = Tensor(Array(c64, hh, ww), fd)
      r = resNetLayer("visualFrontend.resnet.layer1", r, 64, 64, 1)
      r = resNetLayer("visualFrontend.resnet.layer2", r, 64, 128, 2)
      r = resNetLayer("visualFrontend.resnet.layer3", r, 128, 256, 2)
      r = resNetLayer("visualFrontend.resnet.layer4", r, 256, 512, 2)
      require(r.shape(1) >= 4 && r.shape(2) >= 4,
        s"visual input ${h}x$w too small for the (4,4) avgpool " +
          s"(resnet output ${r.shape(1)}x${r.shape(2)}; the reference crops to 112x112)")
      val pooled = avgPool2d(r, 4, 4, 1, 1)
      // (4,4)/(1,1) pooling of an exactly-4x4 map is 1x1; larger maps
      // keep their first cell like the reference's fixed kernel does
      var cch = 0
      while (cch < 512) {
        out(fr * 512 + cch) = pooled.data(cch * pooled.shape(1) * pooled.shape(2))
        cch += 1
      }
      fr += 1
    }
    Tensor(Array(tt, 512), out)
  }

  /** DSConv1d (visualEncoder.py:133–147): relu→bn→depthwise k3→
    * PReLU→gLN→pointwise, residual. x is C×L (512×T). */
  private def dsConv(prefix: String, x: Tensor): Tensor = {
    var y = bn(s"$prefix.net.1", relu(x))
    y = conv1d(y, ws.tensor(s"$prefix.net.2.weight", 512, 1, 3), None,
      pad = 1, groups = 512)
    y = prelu(y, ws.vector(s"$prefix.net.3.weight", 1)(0))
    y = globalLayerNorm(y, ws.vector(s"$prefix.net.4.gamma", 512),
      ws.vector(s"$prefix.net.4.beta", 512))
    y = conv1d(y, ws.tensor(s"$prefix.net.5.weight", 512, 512, 1), None)
    add(y, x)
  }

  /** visualTCN + visualConv1D (talkNetModel.py:35–37): T×512 → T×128. */
  def visualTemporal(feat: Tensor): Tensor = {
    // C×L for the conv stacks
    var x = transpose(feat)
    (0 until 5).foreach(k => x = dsConv(s"visualTCN.net.$k", x))
    x = conv1d(x, ws.tensor("visualConv1D.net.0.weight", 256, 512, 5),
      Some(ws.vector("visualConv1D.net.0.bias", 256)), pad = 2)
    x = relu(bn("visualConv1D.net.1", x))
    x = conv1d(x, ws.tensor("visualConv1D.net.3.weight", 128, 256, 1),
      Some(ws.vector("visualConv1D.net.3.bias", 128)))
    transpose(x) // back to T×128
  }

  // ------------------------------------------------------------ attention

  /** attentionLayer.forward (attentionLayer.py:23–36, eval mode):
    * attended = MHA(query=tar, key=src, value=src); src+attended →
    * norm1 → FFN(d→4d→d, relu) residual → norm2. */
  private def attention(prefix: String, src: Tensor, tar: Tensor, d: Int): Tensor = {
    val att = multiheadAttention(tar, src, src, nHead = 8,
      ws.tensor(s"$prefix.self_attn.in_proj_weight", 3 * d, d),
      ws.vector(s"$prefix.self_attn.in_proj_bias", 3 * d),
      ws.tensor(s"$prefix.self_attn.out_proj.weight", d, d),
      ws.vector(s"$prefix.self_attn.out_proj.bias", d))
    val s1 = layerNorm(add(src, att), ws.vector(s"$prefix.norm1.weight", d),
      ws.vector(s"$prefix.norm1.bias", d))
    val ff = linear(relu(linear(s1, ws.tensor(s"$prefix.linear1.weight", 4 * d, d),
        Some(ws.vector(s"$prefix.linear1.bias", 4 * d)))),
      ws.tensor(s"$prefix.linear2.weight", d, 4 * d),
      Some(ws.vector(s"$prefix.linear2.bias", d)))
    layerNorm(add(s1, ff), ws.vector(s"$prefix.norm2.weight", d),
      ws.vector(s"$prefix.norm2.bias", d))
  }

  /** The evaluate_network per-batch chain (demoTalkNet.py:258–266 →
    * talkNetModel forwards → lossAV score): one score per video
    * frame of the slice. */
  def score(mfcc: Array[Array[Double]], frames: Array[Array[Double]],
      h: Int, w: Int): Array[Double] = {
    val embedA0 = audioFrontend(mfcc)
    val embedV0 = visualTemporal(visualFrontendF(frames, h, w))
    val t = math.min(embedA0.shape(0), embedV0.shape(0))
    require(t > 0, "score: empty embeddings")
    def cut(x: Tensor): Tensor =
      Tensor(Array(t, x.shape(1)),
        java.util.Arrays.copyOfRange(x.data, 0, t * x.shape(1)))
    val a = cut(embedA0)
    val v = cut(embedV0)
    val aC = attention("crossA2V", a, v, 128)
    val vC = attention("crossV2A", v, a, 128)
    val cat = catCols(Seq(aC, vC))
    val av = attention("selfAV", cat, cat, 256)
    val logits = linear(av, ws.tensor("lossAV.FC.weight", 2, 256),
      Some(ws.vector("lossAV.FC.bias", 2)))
    Array.tabulate(t)(k => logits.data(k * 2 + 1))
  }
}

/** DurationEnsemble.BatchScorer running the REAL TalkNet forward on
  * the track's MFCC and face tensors, sliced with exactly the
  * aLo/aHi/vLo/vHi bounds the ensemble computes (demoTalkNet.py:
  * 258–266). The sandbox default feeds deterministic synthetic
  * tensors; a deployment passes the track's real 100 Hz MFCC matrix
  * and 25 Hz 112×112 face crops. */
final class TalkNetBatchScorer(ws: WeightStore,
    mfcc: Array[Array[Double]], faces: Array[Array[Double]],
    faceH: Int, faceW: Int) extends graft.operators.DurationEnsemble.BatchScorer {
  @transient private lazy val model = new TalkNetModel(ws)
  override def scoreBatch(in: graft.operators.DurationEnsemble.EnsembleInput,
      duration: Int, batchIdx: Int, aLo: Int, aHi: Int, vLo: Int, vHi: Int): Array[Double] = {
    val a = java.util.Arrays.copyOfRange(mfcc, math.min(aLo, mfcc.length),
      math.min(aHi, mfcc.length))
    val v = java.util.Arrays.copyOfRange(faces, math.min(vLo, faces.length),
      math.min(vHi, faces.length))
    val s = model.score(a, v, faceH, faceW)
    // contract: one score per video frame of the slice
    require(s.length == vHi - vLo,
      s"TalkNet returned ${s.length} scores for ${vHi - vLo} frames " +
        s"(audio ${a.length} rows — the ensemble guarantees 4x video)")
    s
  }
}
