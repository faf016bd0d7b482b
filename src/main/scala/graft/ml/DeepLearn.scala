package graft.ml

import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/**
 * Deep-learning family of the reference's `deeplearn` module, two halves:
 *
 * 1. SEEDED DRIVER MODELS — denoising autoencoder, RBM, and their stacks
 *    (SdA, DBN) with a softmax head, recovering the behavior of the
 *    reference's public-domain Sugomori transcriptions (ref
 *    modules/deeplearn/app/tuktu/deeplearn/models/{dA,RBM,SdA,DBN,
 *    HiddenLayer,LogisticRegression}.scala). The reference nets are tiny,
 *    trained per-packet with sequential SGD from `new Random(1234)` —
 *    order-dependent by construction, so the driver-model shape (like the
 *    ARIMA/normalization registry models) IS the faithful one; every
 *    random draw here follows the reference's consumption order so the
 *    same seed walks the same stream. The SCALE path for supervised nets
 *    is [[mlpClassifier]] (spark.ml's distributed L-BFGS MLP below).
 *
 *    Reproduced reference contracts worth naming:
 *    - STANDALONE dA/RBM weight init uses the reference's `1 / n_visible`
 *      INTEGER division (dA.scala:24, RBM.scala:24): scale 0 for
 *      n_visible > 1, so weights start at zero yet still consume one
 *      uniform draw per cell. Stacked nets are unaffected (layers share
 *      the HiddenLayer's real-division `1.0 / n_in` init).
 *    - sigmoid is `1/(1 + pow(E, -x))` (dA.scala:63) — pow(E,·), not
 *      exp(·), which can differ in the last ulp.
 *    - binomial(1, p) with p outside [0,1] returns 0 WITHOUT drawing.
 *    - corruption draws one bernoulli only for NONZERO inputs
 *      (dA.scala:66-75), so rng position depends on the datum.
 *
 * 2. A DISTRIBUTED, INTEGER-QUANTIZED FORWARD PASS
 *    ([[quantizedMlpForward]]) — weights ride `typedlit` literals through
 *    pure HOF expressions (zip_with/aggregate), inputs quantize to
 *    integers by a power-of-two scale, and the single transcendental
 *    (sigmoid) is floor-quantized so the whole pass replays bit-for-bit
 *    in another engine: the hash-gate formulation, and the shape a
 *    100 TB scoring pass wants (no UDF, no shuffle, model as literals).
 */
object DeepLearn {

  type Mat = Array[Array[Double]]

  /** pow(E,·) form matches the reference's sigmoid bit-for-bit. */
  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.pow(math.E, -x))

  /** The reference nets' random stream: java.util.Random under
    * scala.util.Random(1234), one nextDouble per uniform/bernoulli. */
  final class NetRng(seed: Long = 1234L) {
    private val r = new java.util.Random(seed)
    def uniform(lo: Double, hi: Double): Double = r.nextDouble() * (hi - lo) + lo
    /** One draw; out-of-range p returns 0 without drawing (the reference's
      * binomial(n,p) guard). */
    def bernoulli(p: Double): Int =
      if (p < 0 || p > 1) 0
      else if (r.nextDouble() < p) 1 else 0
  }

  /** Row-major U(-a, a) init — the order every reference constructor
    * consumes its draws in. */
  private def initMatrix(nOut: Int, nIn: Int, a: Double, rng: NetRng): Mat =
    Array.tabulate(nOut, nIn)((_, _) => rng.uniform(-a, a))

  private def affine(w: Mat, b: Array[Double], x: Array[Double]): Array[Double] =
    Array.tabulate(b.length) { i =>
      var s = b(i); val row = w(i)
      var j = 0
      while (j < row.length) { s += row(j) * x(j); j += 1 }
      s
    }

  private def toDoubles(x: Array[Int]): Array[Double] = x.map(_.toDouble)

  // ------------------------------------------------------------- sigmoid layer
  /** Hidden layer of a stack: real-division init scale 1.0/nIn, zero bias;
    * binary propagation samples one bernoulli per unit (ref
    * HiddenLayer.scala). */
  final class SigmoidLayer(val nIn: Int, val nOut: Int, rng: NetRng) {
    val w: Mat = initMatrix(nOut, nIn, 1.0 / nIn, rng)
    val b: Array[Double] = new Array[Double](nOut)
    def activate(x: Array[Double]): Array[Double] = affine(w, b, x).map(sigmoid)
    def sampleBinary(x: Array[Int], rng: NetRng): Array[Int] =
      activate(toDoubles(x)).map(rng.bernoulli)
  }

  // ------------------------------------------------- denoising autoencoder
  /** Denoising autoencoder (ref dA.scala). Standalone construction keeps
    * the reference's integer-division init scale (zero for nVisible > 1,
    * draws still consumed); a stacked layer ties w/hbias to its
    * SigmoidLayer instead. */
  final class Autoencoder private (val nVisible: Int, val nHidden: Int,
                                   val w: Mat, val hbias: Array[Double],
                                   val vbias: Array[Double]) {

    def hidden(x: Array[Double]): Array[Double] = affine(w, hbias, x).map(sigmoid)

    def reconstructFrom(y: Array[Double]): Array[Double] =
      Array.tabulate(nVisible) { i =>
        var s = vbias(i)
        var j = 0
        while (j < nHidden) { s += w(j)(i) * y(j); j += 1 }
        sigmoid(s)
      }

    def reconstruct(x: Array[Int]): Array[Double] =
      reconstructFrom(hidden(toDoubles(x)))

    /** Keep-probability corruption: zero inputs stay zero without a draw
      * (ref dA.scala:66-75). */
    private def corrupt(x: Array[Int], keep: Double, rng: NetRng): Array[Int] =
      x.map(v => if (v == 0) 0 else rng.bernoulli(keep))

    /** One SGD step of denoising reconstruction (ref dA.scala:104-140);
      * n is the packet size the reference divides every update by. */
    def trainStep(x: Array[Int], lr: Double, corruptionLevel: Double,
                  n: Int, rng: NetRng): Unit = {
      val tilde = corrupt(x, 1 - corruptionLevel, rng)
      val y = hidden(toDoubles(tilde))
      val z = reconstructFrom(y)

      val dv = Array.tabulate(nVisible)(i => x(i) - z(i))
      var i = 0
      while (i < nVisible) { vbias(i) += lr * dv(i) / n; i += 1 }

      val dh = Array.tabulate(nHidden) { k =>
        var s = 0.0
        var j = 0
        while (j < nVisible) { s += w(k)(j) * dv(j); j += 1 }
        s * y(k) * (1 - y(k))
      }
      i = 0
      while (i < nHidden) { hbias(i) += lr * dh(i) / n; i += 1 }

      i = 0
      while (i < nHidden) {
        var j = 0
        while (j < nVisible) {
          w(i)(j) += lr * (dh(i) * tilde(j) + dv(j) * y(i)) / n
          j += 1
        }
        i += 1
      }
    }
  }

  object Autoencoder {
    /** Standalone: integer-division init scale, fresh biases. */
    def apply(nVisible: Int, nHidden: Int, rng: NetRng): Autoencoder =
      new Autoencoder(nVisible, nHidden,
        initMatrix(nHidden, nVisible, 1 / nVisible, rng),
        new Array[Double](nHidden), new Array[Double](nVisible))
    /** Stack layer: w and hbias TIED to the sigmoid layer (ref SdA.scala:38). */
    def tied(layer: SigmoidLayer): Autoencoder =
      new Autoencoder(layer.nIn, layer.nOut, layer.w, layer.b,
        new Array[Double](layer.nIn))
  }

  // ------------------------------------------------------------------- RBM
  /** Restricted Boltzmann machine trained by CD-k (ref RBM.scala); same
    * standalone-vs-tied init contract as [[Autoencoder]]. */
  final class Rbm private (val nVisible: Int, val nHidden: Int,
                           val w: Mat, val hbias: Array[Double],
                           val vbias: Array[Double]) {

    private def propUp(v: Array[Int]): Array[Double] =
      affine(w, hbias, toDoubles(v)).map(sigmoid)

    private def propDown(h: Array[Int]): Array[Double] =
      Array.tabulate(nVisible) { i =>
        var s = vbias(i)
        var j = 0
        while (j < nHidden) { s += w(j)(i) * h(j); j += 1 }
        sigmoid(s)
      }

    private def sampleH(v: Array[Int], rng: NetRng): (Array[Double], Array[Int]) = {
      val m = propUp(v); (m, m.map(rng.bernoulli))
    }
    private def sampleV(h: Array[Int], rng: NetRng): (Array[Double], Array[Int]) = {
      val m = propDown(h); (m, m.map(rng.bernoulli))
    }

    /** One CD-k step (ref RBM.scala:66-100): positive phase uses the MEAN
      * hidden activation for the weight update and the SAMPLE for the
      * hidden-bias update, exactly as the reference wrote it. */
    def cdStep(x: Array[Int], lr: Double, k: Int, n: Int, rng: NetRng): Unit = {
      val (phMean, phSample) = sampleH(x, rng)
      var nvSamples: Array[Int] = null
      var nhMeans: Array[Double] = null
      var nhSamples: Array[Int] = null
      var step = 0
      while (step < k) {
        val fromH = if (step == 0) phSample else nhSamples
        val v = sampleV(fromH, rng); nvSamples = v._2
        val h = sampleH(nvSamples, rng); nhMeans = h._1; nhSamples = h._2
        step += 1
      }
      var i = 0
      while (i < nHidden) {
        var j = 0
        while (j < nVisible) {
          w(i)(j) += lr * (phMean(i) * x(j) - nhMeans(i) * nvSamples(j)) / n
          j += 1
        }
        hbias(i) += lr * (phSample(i) - nhMeans(i)) / n
        i += 1
      }
      i = 0
      while (i < nVisible) {
        vbias(i) += lr * (x(i) - nvSamples(i)) / n
        i += 1
      }
    }

    def reconstruct(v: Array[Int]): Array[Double] = {
      val h = propUp(v)
      Array.tabulate(nVisible) { i =>
        var s = vbias(i)
        var j = 0
        while (j < nHidden) { s += w(j)(i) * h(j); j += 1 }
        sigmoid(s)
      }
    }
  }

  object Rbm {
    def apply(nVisible: Int, nHidden: Int, rng: NetRng): Rbm =
      new Rbm(nVisible, nHidden,
        initMatrix(nHidden, nVisible, 1 / nVisible, rng),
        new Array[Double](nHidden), new Array[Double](nVisible))
    def tied(layer: SigmoidLayer): Rbm =
      new Rbm(layer.nIn, layer.nOut, layer.w, layer.b,
        new Array[Double](layer.nIn))
  }

  // ----------------------------------------------------------- softmax head
  /** Zero-initialized multinomial logistic head (ref
    * LogisticRegression.scala): max-shifted softmax, per-datum SGD. */
  final class SoftmaxHead(val nIn: Int, val nOut: Int) {
    val w: Mat = Array.ofDim[Double](nOut, nIn)
    val b: Array[Double] = new Array[Double](nOut)

    def softmax(z: Array[Double]): Array[Double] = {
      // the reference shifts by max(0, z...) — its max starts at 0.0
      val mx = math.max(0.0, z.max)
      val e = z.map(v => math.exp(v - mx))
      val s = e.sum
      e.map(_ / s)
    }

    def predict(x: Array[Double]): Array[Double] = softmax(affine(w, b, x))

    def trainStep(x: Array[Int], y: Array[Int], lr: Double, n: Int): Unit = {
      val p = predict(toDoubles(x))
      var i = 0
      while (i < nOut) {
        val dy = y(i) - p(i)
        var j = 0
        while (j < nIn) { w(i)(j) += lr * dy * x(j) / n; j += 1 }
        b(i) += lr * dy / n
        i += 1
      }
    }
  }

  // ------------------------------------------------------------ stacked nets
  /** Shared stack machinery: construction order (per layer: SigmoidLayer
    * draws, then the tied pretrainer — NO extra draws), stochastic binary
    * propagation during pretraining/finetuning, deterministic real-valued
    * activation for prediction (ref SdA.scala / DBN.scala). */
  sealed abstract class StackedNet(val nIns: Int, val hiddenSizes: Seq[Int],
                                   val nOuts: Int, seed: Long) {
    protected val rng = new NetRng(seed)
    // the reference interleaves (SigmoidLayer, tied dA/RBM) construction;
    // tied pretrainers consume NO draws, so building all layers first
    // walks the identical rng stream
    val layers: Array[SigmoidLayer] = {
      val out = new Array[SigmoidLayer](hiddenSizes.size)
      var i = 0
      while (i < hiddenSizes.size) {
        val in = if (i == 0) nIns else hiddenSizes(i - 1)
        out(i) = new SigmoidLayer(in, hiddenSizes(i), rng)
        i += 1
      }
      out
    }
    val head = new SoftmaxHead(hiddenSizes.last, nOuts)

    /** Binary-sample x up through `depth` layers (ref pretrain/finetune
      * propagation). */
    protected def sampleUpTo(x: Array[Int], depth: Int): Array[Int] = {
      var cur = x
      var l = 0
      while (l < depth) { cur = layers(l).sampleBinary(cur, rng); l += 1 }
      cur
    }

    /** Greedy layer-wise pretraining: layer loop outer, then epochs, then
      * data, re-sampling the propagation fresh per datum. */
    def pretrain(xs: Array[Array[Int]], lr: Double, epochs: Int): Unit = {
      var layer = 0
      while (layer < layers.length) {
        var e = 0
        while (e < epochs) {
          var n = 0
          while (n < xs.length) {
            pretrainStep(layer, sampleUpTo(xs(n), layer), lr, xs.length)
            n += 1
          }
          e += 1
        }
        layer += 1
      }
    }

    protected def pretrainStep(layer: Int, input: Array[Int], lr: Double, n: Int): Unit

    /** Supervised head training over stochastically propagated codes. */
    def finetune(xs: Array[Array[Int]], ys: Array[Array[Int]],
                 lr: Double, epochs: Int): Unit = {
      var e = 0
      while (e < epochs) {
        var n = 0
        while (n < xs.length) {
          head.trainStep(sampleUpTo(xs(n), layers.length), ys(n), lr, xs.length)
          n += 1
        }
        e += 1
      }
    }

    /** Deterministic prediction: real-valued sigmoid activations through
      * the stack, softmax head on top. */
    def predict(x: Array[Int]): Array[Double] = {
      var cur = toDoubles(x)
      var l = 0
      while (l < layers.length) { cur = layers(l).activate(cur); l += 1 }
      head.predict(cur)
    }

    def predictClass(x: Array[Int]): Int = {
      val p = predict(x)
      p.indexOf(p.max)
    }
  }

  /** Stacked denoising autoencoder (ref SdA.scala). */
  final class StackedDenoisingAutoencoder(nIns: Int, hiddenSizes: Seq[Int],
                                          nOuts: Int, seed: Long = 1234L,
                                          corruptionLevel: Double = 0.3)
      extends StackedNet(nIns, hiddenSizes, nOuts, seed) {
    val autoencoders: IndexedSeq[Autoencoder] =
      layers.toIndexedSeq.map(Autoencoder.tied)
    protected def pretrainStep(layer: Int, input: Array[Int], lr: Double, n: Int): Unit =
      autoencoders(layer).trainStep(input, lr, corruptionLevel, n, rng)
  }

  /** Deep belief net of stacked RBMs (ref DBN.scala). */
  final class DeepBeliefNet(nIns: Int, hiddenSizes: Seq[Int], nOuts: Int,
                            seed: Long = 1234L, cdK: Int = 1)
      extends StackedNet(nIns, hiddenSizes, nOuts, seed) {
    val rbms: IndexedSeq[Rbm] = layers.toIndexedSeq.map(Rbm.tied)
    protected def pretrainStep(layer: Int, input: Array[Int], lr: Double, n: Int): Unit =
      rbms(layer).cdStep(input, lr, cdK, n, rng)
  }

  // --------------------------------------------------- spark.ml supervised
  /** The SCALE path for supervised nets: spark.ml's distributed MLP
    * (L-BFGS over partitioned gradients) on an array<double> feature
    * column — what the reference's per-packet SGD becomes on a cluster. */
  def mlpClassifier(df: DataFrame, featuresCol: String, labelCol: String,
                    layers: Array[Int], maxIter: Int = 100, seed: Long = 1234L)
      : org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel = {
    val prepped = df.withColumn("__dl_features",
      org.apache.spark.ml.functions.array_to_vector(
        col(featuresCol).cast(org.apache.spark.sql.types.ArrayType(DoubleType))))
      .withColumn("__dl_label", col(labelCol).cast(DoubleType))
    new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
      .setLayers(layers).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__dl_features").setLabelCol("__dl_label")
      .fit(prepped)
  }

  /** Apply a fitted MLP over the same array-column encoding. */
  def mlpPredict(model: org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel,
                 df: DataFrame, featuresCol: String, resultCol: String): DataFrame =
    model.transform(df.withColumn("__dl_features",
        org.apache.spark.ml.functions.array_to_vector(
          col(featuresCol).cast(org.apache.spark.sql.types.ArrayType(DoubleType)))))
      .withColumn(resultCol, col("prediction"))
      .drop("__dl_features", "prediction", "rawPrediction", "probability")

  // ------------------------------------------- quantized distributed forward
  /** Distributed 2-layer MLP forward pass with integer-exact replay:
    *
    *   xq_j  = floor(x_j · 2^xScaleBits)                 (exact in IEEE)
    *   z1q_i = b1_i·2^xScaleBits + Σ_j w1_ij·xq_j        (integer)
    *   a1_i  = floor(1e4 / (1 + exp(-z1q_i / zDenom)))   (the ONE
    *           transcendental, floor-quantized: divergence window ~1e-12
    *           per eval, the lm_perplexity mitigation)
    *   z2q_c = b2_c + Σ_i w2_ci·a1_i                     (integer)
    *
    * Output per row: the argmax class (ties → lowest index), Σ a1 and
    * Σ z2q as integrity sums. Weights are integer literals riding the
    * plan; everything is HOF expressions over the embedding array — no
    * UDF, no shuffle, the per-row scoring shape that survives 100 TB.
    */
  def quantizedMlpForward(df: DataFrame, idCol: String, embCol: String,
                          w1: Seq[Seq[Long]], b1: Seq[Long],
                          w2: Seq[Seq[Long]], b2: Seq[Long],
                          xScaleBits: Int = 10, zDenom: Double = 8192.0): DataFrame = {
    // loud shape validation: zip/zip_with would otherwise silently
    // truncate (Scala zip) or null-pad (zip_with) a mismatched model,
    // and greatest() needs >= 2 output classes
    require(w1.nonEmpty && w1.head.nonEmpty, "quantizedMlpForward: w1 is empty")
    require(w1.forall(_.size == w1.head.size),
      "quantizedMlpForward: w1 rows are ragged")
    require(w1.size == b1.size,
      s"quantizedMlpForward: w1 has ${w1.size} rows but b1 has ${b1.size}")
    require(w2.size == b2.size,
      s"quantizedMlpForward: w2 has ${w2.size} rows but b2 has ${b2.size}")
    require(w2.size >= 2,
      "quantizedMlpForward: need >= 2 output classes (argmax over greatest)")
    require(w2.forall(_.size == w1.size),
      s"quantizedMlpForward: w2 row width != hidden size ${w1.size}")
    val xScale = math.pow(2.0, xScaleBits)
    // runtime guard on the data side of the same contract: a wrong-width
    // embedding would null-pad through zip_with into all-null outputs
    val emb = assertedWidth(col(embCol), w1.head.size, "quantizedMlpForward")
    // Each stage materializes into its OWN Project (a named column) before
    // the next references it: the aggregate/zip_with subtrees contain
    // lambda variables, which whole-stage codegen's subexpression
    // elimination skips, so an inlined layer would be re-evaluated once
    // per downstream reference — multiplicative in depth. CollapseProject
    // keeps the stages apart because the produced column is non-cheap and
    // multiply-referenced, and codegen then computes each layer once per
    // row into a local, still inside one WholeStageCodegen span.
    val xq = df.select(col(idCol), transform(emb,
      x => floor(x.cast(DoubleType) * xScale).cast(LongType)).as("__xq"))
    // native codegen integer dot (plans.VecDotLong): exact arithmetic, so
    // bit-identical to the HOF fold it replaces, minus the interpreted
    // per-element lambda dispatch
    val z1 = w1.zip(b1).map { case (row, bias) =>
      lit(bias * xScale.toLong) + Similarity.idot(col("__xq"), typedlit(row))
    }
    // array() would resurrect a null input into a non-null array of null
    // elements, so re-null explicitly: null embedding → null outputs
    val hid = xq.select(col(idCol), when(col("__xq").isNull, lit(null))
      .otherwise(array(z1.map(z =>
        floor(lit(10000.0) / (lit(1.0) + exp(-(z.cast(DoubleType) / zDenom))))
          .cast(LongType)): _*)).as("__a1"))
    val z2 = w2.zip(b2).map { case (row, bias) =>
      lit(bias) + Similarity.idot(col("__a1"), typedlit(row))
    }
    val lg = hid.select(col(idCol), col("__a1"),
      when(col("__a1").isNull, lit(null)).otherwise(array(z2: _*)).as("__z2"))
    val zc = w2.indices.map(i => element_at(col("__z2"), i + 1))
    val mx = greatest(zc: _*)
    val cls = zc.zipWithIndex.foldRight(lit(-1): Column) { case ((z, i), rest) =>
      when(z === mx, lit(i)).otherwise(rest)
    }
    // foldRight puts index 0's `when` OUTERMOST so ties resolve to the
    // lowest index, matching the oracle's CASE order
    lg.select(col(idCol),
      when(col("__z2").isNull, lit(null).cast(IntegerType))
        .otherwise(cls.cast(IntegerType)).as("cls"),
      w1.indices.map(i => element_at(col("__a1"), i + 1))
        .reduce(_ + _).cast(LongType).as("h_sum"),
      zc.reduce(_ + _).cast(LongType).as("logit_sum"))
  }

  /** Plan-level width guard with an explicit null contract: a NULL array
    * passes through (null in → null out, standard column semantics — one
    * bad row must not kill a 100 TB job), while a present-but-wrong-width
    * array fails loudly, because it would otherwise silently null-pad
    * through `zip_with`. */
  private def assertedWidth(arr: Column, expected: Int, who: String): Column =
    when(arr.isNull, arr)
      .when(size(arr) === expected, arr)
      .otherwise(raise_error(concat(
        lit(s"$who: input array length != $expected, got "),
        size(arr).cast("string"))))

  /** Export a trained stack's weights as floor-quantized integer literals
    * for [[sdaPredictQuantized]]: per hidden layer (floor(w·2^bits),
    * floor(b·2^bits)), then the softmax head's (w, b) the same way. The
    * head's argmax is scale-invariant, so one shared positive scale
    * preserves the predicted class up to quantization error. */
  def quantizeStack(net: StackedNet, wScaleBits: Int = 12)
      : (Seq[(Seq[Seq[Long]], Seq[Long])], Seq[Seq[Long]], Seq[Long]) = {
    val s = math.pow(2.0, wScaleBits)
    def qm(m: Mat): Seq[Seq[Long]] =
      m.toIndexedSeq.map(_.toIndexedSeq.map(v => math.floor(v * s).toLong))
    def qv(v: Array[Double]): Seq[Long] =
      v.toIndexedSeq.map(x => math.floor(x * s).toLong)
    (net.layers.toIndexedSeq.map(l => (qm(l.w), qv(l.b))),
      qm(net.head.w), qv(net.head.b))
  }

  /** Distributed SdA/DBN PREDICT pass — the stack-deep sibling of
    * [[quantizedMlpForward]]: the deterministic inference path of a seeded
    * stacked net (real-valued sigmoid activations up the tied-weight
    * layers, softmax-head argmax on top, ref SdA.scala predict) replayed
    * as pure HOF expressions with every layer's sigmoid floor-quantized
    * to 1e-4 fixed point so another engine reproduces it bit-for-bit.
    *
    * Scale bookkeeping per layer: inputs arrive at integer scale S (the
    * first layer's floor(x·2^xScaleBits), thereafter 1e4), weights at
    * 2^wScaleBits, so z_i = b_i·S + Σ w_ij·in_j sits at S·2^wScaleBits —
    * the sigmoid divides by exactly that before floor-quantizing back to
    * [0, 1e4]. The head is argmax-only: softmax is monotone (including the
    * reference's max(0,·) shift), so integer logits decide the class.
    * Weights ride the plan as literals; no UDF, no shuffle — the same
    * 100 TB scan-only scoring shape, now stack-deep. */
  def sdaPredictQuantized(df: DataFrame, idCol: String, embCol: String,
                          layers: Seq[(Seq[Seq[Long]], Seq[Long])],
                          headW: Seq[Seq[Long]], headB: Seq[Long],
                          xScaleBits: Int = 10, wScaleBits: Int = 12): DataFrame = {
    require(layers.nonEmpty, "sdaPredictQuantized: no hidden layers")
    layers.zipWithIndex.foreach { case ((w, b), i) =>
      require(w.nonEmpty && w.head.nonEmpty, s"sdaPredictQuantized: layer $i is empty")
      require(w.forall(_.size == w.head.size), s"sdaPredictQuantized: layer $i is ragged")
      require(w.size == b.size, s"sdaPredictQuantized: layer $i w/b size mismatch")
    }
    layers.map(_._1).sliding(2).foreach {
      case Seq(prev, next) =>
        require(next.head.size == prev.size,
          s"sdaPredictQuantized: layer width ${next.head.size} != previous output ${prev.size}")
      case _ => ()
    }
    require(headW.size >= 2 && headW.size == headB.size,
      "sdaPredictQuantized: head needs >= 2 classes and matching biases")
    require(headW.forall(_.size == layers.last._1.size),
      "sdaPredictQuantized: head row width != last hidden size")

    val wScale = math.pow(2.0, wScaleBits)
    val emb = assertedWidth(col(embCol), layers.head._1.head.size, "sdaPredictQuantized")
    // One Project PER LAYER (see quantizedMlpForward): the HOF subtrees
    // carry lambda variables, so codegen CSE cannot deduplicate them —
    // threading a composite Column through the loop re-inlines the whole
    // previous stack into every downstream reference, making per-row work
    // multiplicative in depth. Named per-layer columns keep it additive;
    // CollapseProject leaves the non-cheap multiply-referenced stages
    // apart, and they still fuse into one WholeStageCodegen span.
    var cur: DataFrame = df.select(col(idCol), transform(emb,
      x => floor(x.cast(DoubleType) * math.pow(2.0, xScaleBits)).cast(LongType))
      .as("__act"))
    var inScale: Long = 1L << xScaleBits
    for ((w, b) <- layers) {
      val z = w.zip(b).map { case (row, bias) =>
        lit(bias * inScale) + Similarity.idot(col("__act"), typedlit(row))
      }
      val denom = inScale.toDouble * wScale
      // array() would turn a null previous layer into a non-null array of
      // nulls; re-null so a null embedding yields null outputs end-to-end
      cur = cur.select(col(idCol), when(col("__act").isNull, lit(null))
        .otherwise(array(z.map(zc =>
          floor(lit(10000.0) / (lit(1.0) + exp(-(zc.cast(DoubleType) / denom))))
            .cast(LongType)): _*)).as("__act"))
      inScale = 10000L
    }
    val z3 = headW.zip(headB).map { case (row, bias) =>
      lit(bias * inScale) + Similarity.idot(col("__act"), typedlit(row))
    }
    cur = cur.select(col(idCol), col("__act"),
      when(col("__act").isNull, lit(null)).otherwise(array(z3: _*)).as("__z3"))
    val zc = headW.indices.map(i => element_at(col("__z3"), i + 1))
    val mx = greatest(zc: _*)
    val cls = zc.zipWithIndex.foldRight(lit(-1): Column) { case ((z, i), rest) =>
      when(z === mx, lit(i)).otherwise(rest)
    }
    cur.select(col(idCol),
      when(col("__z3").isNull, lit(null).cast(IntegerType))
        .otherwise(cls.cast(IntegerType)).as("cls"),
      (0 until layers.last._1.size).map(i => element_at(col("__act"), i + 1))
        .reduce(_ + _).cast(LongType).as("h_sum"),
      zc.reduce(_ + _).cast(LongType).as("logit_sum"))
  }

  /** Bridge a spark.ml-TRAINED one-hidden-layer MLP into the quantized
    * distributed scoring pass: slice the model's packed weight vector
    * (per affine layer a column-major (out × in) matrix then its bias,
    * interior sigmoid, softmax head) and floor-quantize into
    * [[quantizedMlpForward]] literals. Layer-2 biases pre-scale by the
    * 1e4 sigmoid fixed point × 2^wScaleBits so the integer logits sit at
    * one shared positive scale — argmax-preserving. Returns
    * (w1, b1, w2, b2, zDenom) ready to splat into the forward pass with
    * the same xScaleBits. */
  def quantizeMlpModel(
      model: org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel,
      xScaleBits: Int = 10, wScaleBits: Int = 12)
      : (Seq[Seq[Long]], Seq[Long], Seq[Seq[Long]], Seq[Long], Double) = {
    val spec = model.getLayers
    require(spec.length == 3,
      s"quantizeMlpModel: expected one hidden layer [in, hidden, out], got ${spec.mkString("[", ",", "]")}")
    val Array(d, h, o) = spec
    val wts = model.weights.toArray
    require(wts.length == d * h + h + h * o + o,
      s"quantizeMlpModel: weight vector length ${wts.length} != ${d * h + h + h * o + o}")
    val s = math.pow(2.0, wScaleBits)
    def q(x: Double): Long = math.floor(x * s).toLong
    val w1 = (0 until h).map(i => (0 until d).map(j => q(wts(j * h + i))))
    val b1 = (0 until h).map(i => q(wts(d * h + i)))
    val off = d * h + h
    val w2 = (0 until o).map(c => (0 until h).map(i => q(wts(off + i * o + c))))
    // layer-2 inputs are 1e4-scaled sigmoids, so the bias joins at 1e4·2^bits
    val b2 = (0 until o).map(c =>
      math.floor(wts(off + h * o + c) * s * 10000.0).toLong)
    (w1, b1, w2, b2, math.pow(2.0, xScaleBits + wScaleBits))
  }

  /** The ANY-depth spark.ml bridge: slice a trained
    * `MultilayerPerceptronClassificationModel`'s packed weight vector
    * (per affine layer a column-major (in × out) block then its bias)
    * into [[sdaPredictQuantized]] literals — every affine (hidden AND
    * head) floor-quantized at 2^wScaleBits, the [[quantizeStack]]
    * convention: the stack scorer itself multiplies each bias by the
    * incoming activation scale, so the integer logits share one positive
    * scale (argmax-preserving, softmax monotone).
    *
    * A depth-independent caveat the one-layer bridge doesn't have:
    * spark.ml's interior activation is the real sigmoid and the stack
    * scorer's is the 1e-4 floor-quantized one, so quantization error
    * compounds per layer — argmax equality holds on confidently-separated
    * data (spec-asserted) with near-ties flippable, exactly like
    * [[quantizeStack]] on driver nets. */
  def quantizeMlpModelStack(
      model: org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel,
      wScaleBits: Int = 12)
      : (Seq[(Seq[Seq[Long]], Seq[Long])], Seq[Seq[Long]], Seq[Long]) = {
    val spec = model.getLayers
    require(spec.length >= 3,
      s"quantizeMlpModelStack: need >= 1 hidden layer, got ${spec.mkString("[", ",", "]")}")
    val wts = model.weights.toArray
    require(wts.length == spec.sliding(2).map { case Array(i, o) => i * o + o }.sum,
      s"quantizeMlpModelStack: weight vector length ${wts.length} mismatches layer spec")
    val s = math.pow(2.0, wScaleBits)
    def q(x: Double): Long = math.floor(x * s).toLong
    var off = 0
    val affines = spec.sliding(2).map { case Array(in, out) =>
      val w = (0 until out).map(i => (0 until in).map(j => q(wts(off + j * out + i))))
      val b = (0 until out).map(i => wts(off + in * out + i))
      off += in * out + out
      (w, b)
    }.toIndexedSeq
    val hidden = affines.init.map { case (w, b) => (w, b.map(q)) }
    val (hw, hbRaw) = affines.last
    (hidden, hw, hbRaw.map(q))
  }
}
