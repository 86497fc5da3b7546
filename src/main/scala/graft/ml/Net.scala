package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dense feed-forward NN with the reference's exact layer semantics —
  * the activation/dropout parity gap MLlib's sigmoid-only MLP can't
  * close (reference nn.go:216-417, 898-931; modspec.go:43,173):
  *
  *   - activations per FC layer: linear (default), relu, leakyRelu(α),
  *     sigmoid, softmax (output);
  *   - SoftMax output with K classes trains K-1 logits, the K-th class
  *     probability is `1 - Σ phat` (nn.go:899-911) — algebraically a
  *     standard softmax over the K-1 logits plus a FIXED zero logit;
  *   - DropOut(p) after a hidden layer, inverted-scaling masks at train
  *     time only (nn.go:407-410);
  *   - Glorot-normal init (nn.go:309), bias on by default;
  *   - Adam (nn.go:726) with a learning rate declining linearly across
  *     epochs (nn.go:657-663), mini-batches with the tail beyond the
  *     last full batch unused per epoch (ch.go:337-350), validation
  *     early stop (nn.go:598-840);
  *   - cost: CrossEntropy `-mean(obs ⊙ log(fit))` for softmax
  *     (nn.go:575-581), RMS for regression (nn.go:555-568).
  *
  * Two trainers share one core — init, backprop, Adam, cost
  * normalization and the epoch loop (linear learning-rate schedule,
  * validation early stop with a best-weights snapshot) — and differ
  * only in what one epoch does:
  *
  *   - `fit`/`fitLocal` — the reference's mini-batch loop on a
  *     collected matrix (its memory envelope; hard row cap), for
  *     sample-sized fits;
  *   - `fitDistributed` — synchronous large-batch Adam over the FULL
  *     frame: broadcast weights, treeAggregate gradient sums, driver
  *     Adam step. No row cap; the data never moves.
  *
  * SCORING is distributed either way: the weight stack (KBs) ships in
  * the closure of one vector->vector UDF, embarrassingly parallel, no
  * shuffle.
  */
object Net {

  sealed trait Act
  case object Linear extends Act
  case object Relu extends Act
  case class LeakyRelu(alpha: Double) extends Act
  case object Sigmoid extends Act
  case object SoftMax extends Act

  /** One FC layer: `size` output units, activation, optional bias,
    * dropout probability applied to this layer's OUTPUT at train time
    * (0 = none; not allowed on the output layer).
    */
  case class LayerSpec(size: Int, act: Act = Linear, bias: Boolean = true,
      dropProb: Double = 0.0)

  case class Config(
      batchSize: Int = 100,          // reference nn_test.go batch 100
      epochs: Int = 100,
      lrStart: Double = 1e-3,        // Adam default eta (nn.go:726)
      lrEnd: Double = 1e-4,
      seed: Long = 42L,
      shuffleEachEpoch: Boolean = true,
      patience: Int = 5,             // early-stop wait on validation
      maxRows: Int = 1 << 21,        // driver-collect guard
      l2: Double = 0.0)              // WithL2Reg (nn.go:666-672)

  /** Weights of one layer: w(in)(out), b(out). */
  final case class Dense(w: Array[Array[Double]], b: Array[Double],
      spec: LayerSpec)

  /** A jointly-trained embedding block (reference FREmbed,
    * modspec.go:306-414): the one-hot slice `[offset, offset+width)`
    * of the raw feature vector maps through a trainable `width × k`
    * table, with gradients flowing from the full network.
    */
  final case class EmbedBlock(offset: Int, width: Int, k: Int)

  /** A fitted net. `classification` nets output K class probabilities
    * (softmax head); regression nets a single value.
    */
  final case class NetModel(layers: IndexedSeq[Dense], nClasses: Int,
      trainCost: Array[Double], validCost: Array[Double],
      embeds: Seq[EmbedBlock] = Nil) {

    def isClassification: Boolean = nClasses > 0

    /** The trained `width × k` lookup table of an embedding block
      * (rows = one-hot levels), read out of the adapter layer.
      */
    def embeddingTable(block: EmbedBlock): Array[Array[Double]] = {
      require(embeds.contains(block), s"net: unknown embed block $block")
      // adapter output layout: passthrough first, then blocks in order
      val nPass = layers(0).w.length -
        embeds.map(_.width).sum // raw width minus embedded slots
      var pos = nPass
      embeds.takeWhile(_ != block).foreach(b => pos += b.k)
      Array.tabulate(block.width)(r =>
        Array.tabulate(block.k)(j => layers(0).w(block.offset + r)(pos + j)))
    }

    /** Forward pass, inference mode (no dropout). */
    def predictOne(x: Array[Double]): Array[Double] = {
      var a = x
      var li = 0
      while (li < layers.length) {
        val l = layers(li)
        val z = affine(a, l.w, l.b)
        a = l.spec.act match {
          case SoftMax => softmaxK(z)
          case act => z.map(scalarAct(act, _))
        }
        li += 1
      }
      a
    }

    /** Distributed scoring: adds a probability-vector column plus
      * `__predicted_class` (classification) or a double prediction
      * column (regression). Weights ride the UDF closure.
      */
    def transform(df: DataFrame, featuresCol: String = "__features",
        outputCol: String = "__prediction"): DataFrame = {
      val self = this
      if (isClassification) {
        val f = udf { v: Vector =>
          Vectors.dense(self.predictOne(v.toArray))
        }
        val am = udf { v: Vector =>
          val a = v.toArray
          var best = 0; var i = 1
          while (i < a.length) { if (a(i) > a(best)) best = i; i += 1 }
          best
        }
        val withP = df.withColumn(outputCol, f(col(featuresCol)))
        withP.withColumn("__predicted_class", am(col(outputCol)))
      } else {
        val f = udf { v: Vector => self.predictOne(v.toArray)(0) }
        df.withColumn(outputCol, f(col(featuresCol)))
      }
    }
  }

  private def affine(a: Array[Double], w: Array[Array[Double]],
      b: Array[Double]): Array[Double] = {
    val out = java.util.Arrays.copyOf(b, b.length)
    var i = 0
    while (i < a.length) {
      val ai = a(i)
      if (ai != 0.0) {
        val wi = w(i)
        var j = 0
        while (j < out.length) { out(j) += ai * wi(j); j += 1 }
      }
      i += 1
    }
    out
  }

  private def scalarAct(act: Act, z: Double): Double = act match {
    case Linear => z
    case Relu => if (z > 0) z else 0.0
    case LeakyRelu(a) => if (z > 0) z else a * z
    case Sigmoid => 1.0 / (1.0 + math.exp(-z))
    case SoftMax => throw new IllegalStateException(
      "softmax is a vector activation")
  }

  /** act'(z); `a` is act(z) (pre-dropout) for the sigmoid shortcut. */
  private def actDeriv(act: Act, z: Double, a: Double): Double =
    act match {
      case Linear => 1.0
      case Relu => if (z > 0) 1.0 else 0.0
      case LeakyRelu(al) => if (z > 0) 1.0 else al
      case Sigmoid => a * (1.0 - a)
      case SoftMax => throw new IllegalStateException(
        "softmax derivative is handled jointly with cross-entropy")
    }

  /** K-1-logit softmax (reference SoftMaxAct): probabilities over K
    * classes from K-1 logits + an implicit zero logit for class K.
    */
  private def softmaxK(z: Array[Double]): Array[Double] = {
    var mx = 0.0 // the implicit zero logit participates in the max
    var j = 0
    while (j < z.length) { if (z(j) > mx) mx = z(j); j += 1 }
    val out = new Array[Double](z.length + 1)
    var denom = math.exp(-mx) // exp(0 - mx), the implicit class
    j = 0
    while (j < z.length) {
      val e = math.exp(z(j) - mx); out(j) = e; denom += e; j += 1
    }
    j = 0
    while (j < z.length) { out(j) /= denom; j += 1 }
    out(z.length) = math.exp(-mx) / denom
    out
  }

  /** Layer initialization shared by the local and distributed fits:
    * optional block-sparse embedding adapter as layer 0 (frozen
    * identity passthrough + trainable width×k tables, gradient-masked)
    * followed by Glorot-initialized user layers (softmax head trains
    * K-1 logits, nn.go:299-306). Consumes `rnd` in a fixed order so a
    * given seed always yields the same start point.
    */
  private[ml] def initLayers(specs: Seq[LayerSpec], nClasses: Int,
      inWidth: Int, embeds: Seq[EmbedBlock], rnd: scala.util.Random)
      : (IndexedSeq[Dense], Array[Array[Double]]) = {
    val (adapterOpt, layer0Mask) = if (embeds.isEmpty) (None, null)
    else {
      val sorted = embeds.sortBy(_.offset)
      sorted.sliding(2).foreach {
        case Seq(a, b) => require(a.offset + a.width <= b.offset,
          s"net: overlapping embed blocks $a / $b")
        case _ =>
      }
      require(sorted.last.offset + sorted.last.width <= inWidth,
        "net: embed block past the input width")
      val inBlock = new Array[Boolean](inWidth)
      embeds.foreach(b =>
        (b.offset until b.offset + b.width).foreach(inBlock(_) = true))
      val passthrough = (0 until inWidth).filterNot(inBlock)
      val adWidth = passthrough.length + embeds.map(_.k).sum
      val w0 = Array.ofDim[Double](inWidth, adWidth)
      val mask = Array.ofDim[Double](inWidth, adWidth)
      passthrough.zipWithIndex.foreach { case (raw, p) =>
        w0(raw)(p) = 1.0 // frozen identity (mask stays 0)
      }
      var pos = passthrough.length
      embeds.foreach { b =>
        val sd = math.sqrt(2.0 / (b.width + b.k))
        var r = 0
        while (r < b.width) {
          var j = 0
          while (j < b.k) {
            w0(b.offset + r)(pos + j) = rnd.nextGaussian() * sd
            mask(b.offset + r)(pos + j) = 1.0
            j += 1
          }
          r += 1
        }
        pos += b.k
      }
      (Some(Dense(w0, new Array[Double](adWidth),
        LayerSpec(adWidth, Linear, bias = false))), mask)
    }
    var last = adapterOpt.map(_.b.length).getOrElse(inWidth)
    val userLayers = specs.toIndexedSeq.map { s =>
      val out = if (s.act == SoftMax) {
        require(s.size == nClasses,
          s"net: softmax size ${s.size} != nClasses $nClasses")
        s.size - 1
      } else s.size
      val sd = math.sqrt(2.0 / (last + out)) // GlorotN(1.0)
      val w = Array.fill(last, out)(rnd.nextGaussian() * sd)
      val b = if (s.bias) Array.fill(out)(rnd.nextGaussian() * sd)
        else new Array[Double](out)
      last = out
      Dense(w, b, s)
    }
    (adapterOpt.toIndexedSeq ++ userLayers, layer0Mask)
  }

  private[ml] def zeroGrads(layers: IndexedSeq[Dense])
      : (IndexedSeq[Array[Array[Double]]], IndexedSeq[Array[Double]]) =
    (layers.map(l => Array.ofDim[Double](l.w.length, l.w(0).length)),
      layers.map(l => new Array[Double](l.b.length)))

  /** Mean cost from the sum of `n` [[sampleCost]] terms: CE/(n*K) for
    * classification (the reference's mean-over-matrix scaling,
    * nn.go:581), RMS for regression.
    */
  private def meanCost(sum: Double, n: Double, nClasses: Int): Double =
    if (nClasses > 0) sum / (n * nClasses) else math.sqrt(sum / n)

  /** Mean cost of `layers` on a matrix. */
  private[ml] def costOf(layers: IndexedSeq[Dense], nClasses: Int,
      xs: Array[Array[Double]], ys: Array[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val m = NetModel(layers, nClasses, Array.empty, Array.empty)
    var c = 0.0
    var i = 0
    while (i < xs.length) {
      c += sampleCost(m, nClasses, xs(i), ys(i))
      i += 1
    }
    meanCost(c, xs.length, nClasses)
  }

  /** Unnormalized per-sample cost term (CE numerator / squared
    * error) — the distributed cost sums these and normalizes once.
    */
  private[ml] def sampleCost(m: NetModel, nClasses: Int,
      xi: Array[Double], yi: Double): Double = {
    val p = m.predictOne(xi)
    if (nClasses > 0) -math.log(math.max(p(yi.toInt), 1e-300))
    else { val d = p(0) - yi; d * d }
  }

  /** Forward + backward for one sample, accumulating mean-gradients
    * (scaled by 1/scale) into gW/gB. `rnd` draws the inverted dropout
    * masks — pass a per-row seeded generator for reproducible
    * distributed fits.
    */
  private[ml] def backpropOne(layers: IndexedSeq[Dense], nClasses: Int,
      xi: Array[Double], yi: Double, scale: Double,
      gW: IndexedSeq[Array[Array[Double]]],
      gB: IndexedSeq[Array[Double]], rnd: scala.util.Random): Double = {
    val L = layers.length - 1
    val zs = new Array[Array[Double]](layers.length)
    val as = new Array[Array[Double]](layers.length)
    val masks = new Array[Array[Double]](layers.length)
    var a = xi
    var li = 0
    while (li < layers.length) {
      val l = layers(li)
      val z = affine(a, l.w, l.b)
      zs(li) = z
      var out = l.spec.act match {
        case SoftMax => softmaxK(z)
        case act => z.map(scalarAct(act, _))
      }
      if (l.spec.dropProb > 0) {
        val keep = 1.0 - l.spec.dropProb
        val m = Array.fill(out.length)(
          if (rnd.nextDouble() < keep) 1.0 / keep else 0.0)
        masks(li) = m
        out = Array.tabulate(out.length)(j => out(j) * m(j))
      }
      as(li) = out
      a = out
      li += 1
    }

    // dL/dz at the output layer
    var delta: Array[Double] =
      if (nClasses > 0) {
        // CE + softmax over (K-1 logits ++ fixed 0): dz_j = p_j - y_j
        // for the trained logits; /(scale*K) matches the reference's
        // mean-over-matrix CE scaling
        val p = as(L)
        val cls = yi.toInt
        Array.tabulate(zs(L).length) { j =>
          (p(j) - (if (j == cls) 1.0 else 0.0)) /
            (scale * nClasses)
        }
      } else {
        // mean-MSE gradient (RMS differs only by a 1/(2*RMS) LR
        // scale, reabsorbed by Adam's per-step normalization)
        Array(2.0 * (as(L)(0) - yi) *
          actDeriv(layers(L).spec.act, zs(L)(0), as(L)(0)) / scale)
      }

    var li2 = L
    while (li2 >= 0) {
      val l = layers(li2)
      val dz =
        if (li2 == L) delta
        else {
          // delta holds dL/da(li2) (post-dropout); fold in the mask,
          // then act'
          val d = delta
          if (masks(li2) != null) {
            var j = 0
            while (j < d.length) { d(j) *= masks(li2)(j); j += 1 }
          }
          var j = 0
          while (j < d.length) {
            val aPre = l.spec.act match {
              case Sigmoid => 1.0 / (1.0 + math.exp(-zs(li2)(j)))
              case _ => as(li2)(j) // relu/leaky/linear ignore a
            }
            d(j) *= actDeriv(l.spec.act, zs(li2)(j), aPre)
            j += 1
          }
          d
        }

      val aIn = if (li2 == 0) xi else as(li2 - 1)
      val gw = gW(li2); val gb = gB(li2)
      var i2 = 0
      while (i2 < aIn.length) {
        val av = aIn(i2)
        if (av != 0.0) {
          val gr = gw(i2)
          var j2 = 0
          while (j2 < dz.length) { gr(j2) += av * dz(j2); j2 += 1 }
        }
        i2 += 1
      }
      var j2 = 0
      while (j2 < dz.length) { gb(j2) += dz(j2); j2 += 1 }

      if (li2 > 0) { // propagate dL/da(li2-1) = W · dz
        val nd = new Array[Double](l.w.length)
        var i3 = 0
        while (i3 < l.w.length) {
          val wr = l.w(i3)
          var s = 0.0
          var j3 = 0
          while (j3 < dz.length) { s += wr(j3) * dz(j3); j3 += 1 }
          nd(i3) = s
          i3 += 1
        }
        delta = nd
      }
      li2 -= 1
    }
    // the forward pass already computed the output — return this
    // sample's unnormalized cost term so a distributed gradient pass
    // can fold the cost sum into the same scan (identical to
    // sampleCost UNLESS dropout perturbed the forward; callers gate
    // on that)
    if (nClasses > 0) -math.log(math.max(as(L)(yi.toInt), 1e-300))
    else { val d = as(L)(0) - yi; d * d }
  }

  /** Driver-side Adam state (one instance per fit; both the local
    * mini-batch loop and the distributed large-batch loop step it).
    * Consumes and zeroes the gradient accumulators in place;
    * `layer0Mask` freezes the identity passthrough of an embedding
    * adapter.
    */
  private[ml] final class AdamState(layers: IndexedSeq[Dense]) {
    private val mW = layers.map(l =>
      Array.ofDim[Double](l.w.length, l.w(0).length))
    private val vW = layers.map(l =>
      Array.ofDim[Double](l.w.length, l.w(0).length))
    private val mB = layers.map(l => new Array[Double](l.b.length))
    private val vB = layers.map(l => new Array[Double](l.b.length))
    private val (b1, b2, eps) = (0.9, 0.999, 1e-8)
    private var step = 0

    def update(layers: IndexedSeq[Dense],
        layer0Mask: Array[Array[Double]],
        gW: IndexedSeq[Array[Array[Double]]],
        gB: IndexedSeq[Array[Double]], lr: Double, l2: Double): Unit = {
      step += 1
      val bc1 = 1.0 - math.pow(b1, step)
      val bc2 = 1.0 - math.pow(b2, step)
      var li = 0
      while (li < layers.length) {
        val l = layers(li)
        val msk = if (li == 0) layer0Mask else null
        var i2 = 0
        while (i2 < l.w.length) {
          val wr = l.w(i2); val gr = gW(li)(i2)
          val mr = mW(li)(i2); val vr = vW(li)(i2)
          val mskR = if (msk == null) null else msk(i2)
          var j2 = 0
          while (j2 < wr.length) {
            if (mskR == null || mskR(j2) == 1.0) {
              // L2 folds into the gradient at the solver, as
              // gorgonia's WithL2Reg does (nn.go:728-729)
              val g = gr(j2) + l2 * wr(j2)
              mr(j2) = b1 * mr(j2) + (1 - b1) * g
              vr(j2) = b2 * vr(j2) + (1 - b2) * g * g
              wr(j2) -= lr * (mr(j2) / bc1) /
                (math.sqrt(vr(j2) / bc2) + eps)
            }
            gr(j2) = 0.0
            j2 += 1
          }
          i2 += 1
        }
        if (l.spec.bias) {
          var j2 = 0
          while (j2 < l.b.length) {
            val g = gB(li)(j2) + l2 * l.b(j2)
            mB(li)(j2) = b1 * mB(li)(j2) + (1 - b1) * g
            vB(li)(j2) = b2 * vB(li)(j2) + (1 - b2) * g * g
            l.b(j2) -= lr * (mB(li)(j2) / bc1) /
              (math.sqrt(vB(li)(j2) / bc2) + eps)
            gB(li)(j2) = 0.0
            j2 += 1
          }
        } else java.util.Arrays.fill(gB(li), 0.0)
        li += 1
      }
    }
  }

  private def validateSpecs(specs: Seq[LayerSpec], nClasses: Int): Unit = {
    require(specs.nonEmpty, "net: no layers")
    require(specs.last.dropProb == 0.0,
      "net: dropout on the output layer is not supported")
    if (nClasses > 0) require(specs.last.act == SoftMax,
      "net: classification needs a softmax output layer")
    else require(specs.last.size == 1,
      "net: regression needs a single output unit")
  }

  /** The epoch loop both trainers share (reference Fit.Do,
    * nn.go:598-840). Epoch `e` runs `epoch(e, lr)` at a learning rate
    * falling linearly from lrStart to lrEnd (nn.go:657-663); its
    * result, if any, is recorded as that epoch's train cost. Given a
    * validation cost, each epoch records it and snapshots the weights
    * on a new best; `cfg.patience` epochs without one stop training,
    * and the model carries the best snapshot.
    */
  private def trainEpochs(layers: IndexedSeq[Dense], nClasses: Int,
      cfg: Config, embeds: Seq[EmbedBlock],
      validCostOf: Option[() => Double])(
      epoch: (Int, Double) => Option[Double]): NetModel = {
    val trainCost = scala.collection.mutable.ArrayBuffer[Double]()
    val validCost = scala.collection.mutable.ArrayBuffer[Double]()
    var bestValid = Double.MaxValue
    var bestSnap: IndexedSeq[Dense] = null
    var waits = 0
    val epochs = math.max(cfg.epochs, 1)
    var e = 0
    var stopped = false
    while (e < epochs && !stopped) {
      val lr = if (epochs == 1) cfg.lrStart
        else cfg.lrStart + (cfg.lrEnd - cfg.lrStart) *
          (e.toDouble / (epochs - 1.0))
      trainCost ++= epoch(e, lr)
      validCostOf.foreach { cost =>
        val vc = cost()
        validCost += vc
        if (vc < bestValid - 1e-12) {
          bestValid = vc
          bestSnap = layers.map(l =>
            Dense(l.w.map(_.clone()), l.b.clone(), l.spec))
          waits = 0
        } else {
          waits += 1
          if (waits >= cfg.patience) stopped = true
        }
      }
      e += 1
    }
    NetModel(if (bestSnap != null) bestSnap else layers, nClasses,
      trainCost.toArray, validCost.toArray, embeds)
  }

  /** Fit on a collected matrix. `y` is the class index (classification,
    * `nClasses >= 2`) or the target value (regression, `nClasses = 0`).
    * `validX` rows (if any) drive early stopping on validation cost.
    */
  def fitLocal(x: Array[Array[Double]], y: Array[Double],
      specs: Seq[LayerSpec], nClasses: Int, cfg: Config = Config(),
      validX: Array[Array[Double]] = Array.empty,
      validY: Array[Double] = Array.empty,
      embeds: Seq[EmbedBlock] = Nil,
      // test instrumentation: called once with (init layers,
      // accumulated gW, accumulated gB) after the FIRST batch's
      // backprop, before any weight update — lets a spec compare
      // analytic gradients against finite differences of the cost
      gradProbe: (IndexedSeq[Dense], Seq[Array[Array[Double]]],
        Seq[Array[Double]]) => Unit = null): NetModel = {
    require(x.nonEmpty, "net: empty training set")
    require(x.length == y.length, "net: x/y length mismatch")
    validateSpecs(specs, nClasses)
    val rnd = new scala.util.Random(cfg.seed)
    val (layers, layer0Mask) =
      initLayers(specs, nClasses, x(0).length, embeds, rnd)
    val (gW, gB) = zeroGrads(layers)
    val adam = new AdamState(layers)

    val n = x.length
    val idx = Array.range(0, n)
    var probed = false
    val validCostOf =
      if (validX.isEmpty) None
      else Some(() => costOf(layers, nClasses, validX, validY))
    trainEpochs(layers, nClasses, cfg, embeds, validCostOf) { (_, lr) =>
      if (cfg.shuffleEachEpoch) {
        var i = n - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val t = idx(i); idx(i) = idx(j); idx(j) = t
          i -= 1
        }
      }
      val nBatches = math.max(n / cfg.batchSize, 1)
      var bi = 0
      while (bi < nBatches) {
        val lo = bi * cfg.batchSize
        val hi = math.min(lo + cfg.batchSize, n)
        var r = lo
        while (r < hi) {
          backpropOne(layers, nClasses, x(idx(r)), y(idx(r)),
            hi - lo, gW, gB, rnd)
          r += 1
        }
        if (gradProbe != null && !probed) { gradProbe(layers, gW, gB); probed = true }
        adam.update(layers, layer0Mask, gW, gB, lr, cfg.l2)
        bi += 1
      }
      Some(costOf(layers, nClasses, x, y))
    }
  }

  /** Save a fitted net as `<fileRoot>P.nn` — the reference's
    * parameter-file shape (nn.go:441-486: JSON weights, spec saved
    * separately by the caller).
    */
  def save(m: NetModel, fileRoot: String): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    def actName(a: Act): String = a match {
      case Linear => "linear"
      case Relu => "relu"
      case LeakyRelu(al) => s"leakyrelu($al)"
      case Sigmoid => "sigmoid"
      case SoftMax => "softmax"
    }
    val j =
      ("nClasses" -> m.nClasses) ~
        ("embeds" -> m.embeds.map(b =>
          ("offset" -> b.offset) ~ ("width" -> b.width) ~ ("k" -> b.k))) ~
        ("layers" -> m.layers.map { l =>
          ("size" -> l.spec.size) ~
            ("act" -> actName(l.spec.act)) ~
            ("bias" -> l.spec.bias) ~
            ("dropProb" -> l.spec.dropProb) ~
            ("w" -> l.w.map(_.toSeq).toSeq) ~
            ("b" -> l.b.toSeq)
        })
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fileRoot + "P.nn"),
      JsonMethods.compact(JsonMethods.render(j))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a net saved by [[save]]. */
  def load(fileRoot: String): NetModel = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fileRoot + "P.nn")),
      java.nio.charset.StandardCharsets.UTF_8))
    val lrRe = """leakyrelu\(([-\d.eE+]+)\)""".r
    def act(s: String): Act = s match {
      case "linear" => Linear
      case "relu" => Relu
      case lrRe(a) => LeakyRelu(a.toDouble)
      case "sigmoid" => Sigmoid
      case "softmax" => SoftMax
      case other => throw new IllegalArgumentException(
        s"net: unknown activation '$other' in saved model")
    }
    val layers = (j \ "layers").extract[Seq[JValue]].map { lj =>
      Dense(
        (lj \ "w").extract[Seq[Seq[Double]]].map(_.toArray).toArray,
        (lj \ "b").extract[Seq[Double]].toArray,
        LayerSpec((lj \ "size").extract[Int],
          act((lj \ "act").extract[String]),
          (lj \ "bias").extract[Boolean],
          (lj \ "dropProb").extract[Double]))
    }.toIndexedSeq
    val embeds = (j \ "embeds").extract[Seq[JValue]].map(bj =>
      EmbedBlock((bj \ "offset").extract[Int],
        (bj \ "width").extract[Int], (bj \ "k").extract[Int]))
    NetModel(layers, (j \ "nClasses").extract[Int],
      Array.empty, Array.empty, embeds)
  }

  /** Fit from DataFrames: collects `featuresCol`/`labelCol` to the
    * driver (row-capped — the reference's own memory envelope), trains
    * locally, returns a model that SCORES distributed.
    */
  def fit(train: DataFrame, specs: Seq[LayerSpec], nClasses: Int,
      cfg: Config = Config(), featuresCol: String = "__features",
      labelCol: String = "label", valid: Option[DataFrame] = None,
      embeds: Seq[EmbedBlock] = Nil): NetModel = {
    def matrixOf(df: DataFrame): (Array[Array[Double]], Array[Double]) = {
      val capped = df.select(col(featuresCol), col(labelCol)
        .cast("double")).limit(cfg.maxRows + 1).collect()
      require(capped.length <= cfg.maxRows,
        s"net: training frame exceeds ${cfg.maxRows} rows; fit on a " +
          "Sampling.hashSample or use ModSpec.fitNative(distributed = true) " +
          "/ Net.fitDistributed, which have no row cap")
      (capped.map(_.getAs[Vector](0).toArray),
        capped.map(_.getDouble(1)))
    }
    val (x, y) = matrixOf(train)
    val (vx, vy) = valid.map(matrixOf)
      .getOrElse((Array.empty[Array[Double]], Array.empty[Double]))
    fitLocal(x, y, specs, nClasses, cfg, vx, vy, embeds)
  }

  /** DISTRIBUTED fit with the same exact layer semantics — no row cap,
    * no driver matrix: synchronous large-batch Adam, the shape MLlib's
    * own solvers use. Each step broadcasts the weight stack (KBs),
    * `treeAggregate`s per-partition gradient sums over the FULL frame
    * (one pass, map-side combine, O(weights) driver traffic per step),
    * and applies the Adam update on the driver. The trade vs the
    * driver-local mini-batch loop: more data per step, fewer steps —
    * cfg.epochs is the step count, cfg.batchSize is ignored.
    *
    * Dropout masks draw from a per-(step, row) seeded generator, so
    * every row contributes an identical gradient under retries and
    * speculation; the only run-to-run jitter is the float combine
    * order of the cross-partition sum (last-ulp).
    * Validation cost (early stopping) is one more distributed pass per
    * step. At 100 TB: the data never moves — each step reads the
    * cached/columnar frame once; gradients and weights (KBs-MBs) are
    * the only shuffle-free driver traffic.
    */
  def fitDistributed(train: DataFrame, specs: Seq[LayerSpec],
      nClasses: Int, cfg: Config = Config(),
      featuresCol: String = "__features", labelCol: String = "label",
      valid: Option[DataFrame] = None,
      embeds: Seq[EmbedBlock] = Nil): NetModel = {
    validateSpecs(specs, nClasses)
    val hasDropout = specs.exists(_.dropProb > 0)
    val seed = cfg.seed
    def pairsOf(df: DataFrame) = df
      .select(col(featuresCol), col(labelCol).cast("double")).rdd
      .map(r => (r.getAs[Vector](0).toArray, r.getDouble(1)))
    // every persisted copy is released on the way out, also when a
    // pass throws (e.g. a class label >= nClasses)
    val held = scala.collection.mutable.ArrayBuffer[RDD[_]]()
    def hold[T](rdd: RDD[T]): RDD[T] = {
      held += rdd
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val raw = hold(pairsOf(train))
      val n = raw.count()
      require(n > 0, "net: empty training set")
      // right-size partitions to the DATA, not the machine: every step
      // schedules one task per partition, so a small frame spread over
      // local[32] defaults pays ~32x pure scheduler overhead per step
      // (measured ~2x end-to-end at 150k rows x 60 steps). ~50k rows
      // per task keeps steps overhead-free; at real scale n/50k exceeds
      // the cluster's partitioning and this is a no-op. Gradient sums
      // are order-insensitive up to float regrouping (already the
      // documented last-ulp jitter), so coalescing never changes the
      // model beyond that envelope.
      val targetParts = math.max(1, math.min(raw.getNumPartitions,
        ((n + 49999) / 50000L).toInt))
      val pairs =
        if (targetParts < raw.getNumPartitions) {
          val d = hold(raw.coalesce(targetParts, shuffle = false))
          d.count() // materialize before dropping the wide copy
          raw.unpersist(blocking = false)
          d
        } else raw
      // row ids exist only to seed per-(step,row) dropout streams;
      // zipWithIndex runs an EAGER count job at construction, so the
      // no-dropout path skips it (a constant id) and reads the cache
      // through a free narrow map instead
      val data: RDD[((Array[Double], Double), Long)] =
        if (hasDropout) pairs.zipWithIndex() else pairs.map((_, 0L))
      val validData = valid.map(v => hold(pairsOf(v)))
      val nValid = validData.map(_.count().toDouble)

      val rnd = new scala.util.Random(cfg.seed)
      val inWidth = pairs.first()._1.length
      val (layers, layer0Mask) =
        initLayers(specs, nClasses, inWidth, embeds, rnd)
      val adam = new AdamState(layers)
      val sc = train.sparkSession.sparkContext

      /** One full pass: per-partition gradient sums (scale = n so the
        * aggregate is the mean-gradient), tree-combined. Also returns
        * the summed cost of the forward passes — the cost of the
        * CURRENT weights, fused into the same scan (meaningful for the
        * cost history only when dropout didn't perturb the forward).
        */
      def gradientPass(step: Int): (IndexedSeq[Array[Array[Double]]],
          IndexedSeq[Array[Double]], Double) = {
        val bc = sc.broadcast(layers)
        val nInt = n
        val zero: (IndexedSeq[Array[Array[Double]]],
          IndexedSeq[Array[Double]], Array[Double]) = null
        val res = data.treeAggregate(zero)(
          seqOp = (acc, row) => {
            val a = if (acc != null) acc else {
              val z = zeroGrads(bc.value); (z._1, z._2, new Array[Double](1))
            }
            val ((xi, yi), rowId) = row
            // deterministic per-(step,row) dropout stream; cheap skip
            // when the spec has no dropout layers
            val r = if (hasDropout) new scala.util.Random(
              seed ^ (step.toLong * 0x9E3779B97F4A7C15L) ^ rowId) else null
            a._3(0) += backpropOne(bc.value, nClasses, xi, yi,
              nInt.toDouble, a._1, a._2, r)
            a
          },
          combOp = (a, b) => {
            if (a == null) b else if (b == null) a
            else {
              var li = 0
              while (li < a._1.length) {
                val aw = a._1(li); val bw = b._1(li)
                var i = 0
                while (i < aw.length) {
                  val ar = aw(i); val br = bw(i)
                  var j = 0
                  while (j < ar.length) { ar(j) += br(j); j += 1 }
                  i += 1
                }
                val ab = a._2(li); val bb = b._2(li)
                var j = 0
                while (j < ab.length) { ab(j) += bb(j); j += 1 }
                li += 1
              }
              a._3(0) += b._3(0)
              a
            }
          }, depth = 2)
        bc.destroy()
        (res._1, res._2, res._3(0))
      }

      /** Distributed cost: sum of per-sample terms, normalized once. */
      def costPass(rdd: RDD[(Array[Double], Double)], cnt: Double): Double = {
        val m = NetModel(layers, nClasses, Array.empty, Array.empty)
        val bc = sc.broadcast(m)
        val c = rdd.treeAggregate(0.0)(
          (acc, row) => acc + sampleCost(bc.value, nClasses,
            row._1, row._2),
          _ + _, depth = 2)
        bc.destroy()
        meanCost(c, cnt, nClasses)
      }

      // trainCost(i) is the cost AFTER step i's update (fitLocal parity,
      // pinned at 1e-9 by NetSpec). Without dropout that value equals
      // the cost the NEXT step's gradient pass computes with the same
      // (updated) weights — so the history rides the fused scan and only
      // the last entry needs a dedicated pass: epochs+1 passes total
      // instead of 2*epochs. Dropout perturbs the fused forward, so that
      // path keeps the dedicated clean cost pass per step.
      val validCostOf =
        validData.map(vd => () => costPass(vd, nValid.get))
      val m = trainEpochs(layers, nClasses, cfg, embeds, validCostOf) {
        (epoch, lr) =>
          val (gw, gb, preCost) = gradientPass(epoch)
          adam.update(layers, layer0Mask, gw, gb, lr, cfg.l2)
          if (hasDropout) Some(costPass(pairs, n.toDouble))
          else if (epoch > 0) Some(meanCost(preCost, n.toDouble, nClasses))
          else None
      }
      if (hasDropout) m
      else m.copy(trainCost = m.trainCost :+ costPass(pairs, n.toDouble))
    } finally held.foreach(_.unpersist(blocking = false))
  }
}
