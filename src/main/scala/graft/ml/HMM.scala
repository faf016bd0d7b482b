package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Discrete hidden Markov model (SURVEY.md §2.11 — the reference's
 * modules/ml/app/tuktu/ml/models/hmm trains/decodes HMMs; no spark.ml
 * analog exists). Spark-native layout: model parameters are small local
 * matrices broadcast to executors; sequences live one-per-group in a
 * DataFrame and are decoded/scored in parallel with `groupByKey.mapGroups`
 * — each sequence is independent, so this scales to any corpus with
 * one shuffle on the sequence key.
 *
 * Parameters: pi(initial), a(transition s→s'), b(emission s→symbol),
 * all log-space for numeric stability.
 */
final case class HmmModel(pi: Array[Double], a: Array[Array[Double]], b: Array[Array[Double]]) {
  def nStates: Int = pi.length

  /** log P(observations) via the forward algorithm. */
  def logLikelihood(obs: Seq[Int]): Double = {
    val n = nStates
    var alpha = Array.tabulate(n)(s => pi(s) + b(s)(obs.head))
    for (t <- 1 until obs.length) {
      alpha = Array.tabulate(n) { s =>
        val m = (0 until n).map(p => alpha(p) + a(p)(s)).max
        m + math.log((0 until n).map(p => math.exp(alpha(p) + a(p)(s) - m)).sum) + b(s)(obs(t))
      }
    }
    val m = alpha.max
    m + math.log(alpha.map(v => math.exp(v - m)).sum)
  }

  /** Most likely state path via Viterbi. */
  def decode(obs: Seq[Int]): Seq[Int] = decodeWithDelta(obs)._2

  /** Viterbi path plus its raw-space max path probability — the reference
    * HMMApplyDecodeProcessor's `delta` (ViterbiAlgorithm result._1). */
  def decodeWithDelta(obs: Seq[Int]): (Double, Seq[Int]) = {
    val (ld, path) = decodeWithLogDelta(obs)
    (math.exp(ld), path)
  }

  /** Viterbi path plus the LOG-space max path probability. Kept exp-free:
    * every delta is a chain of IEEE additions of the model's log
    * parameters in a fixed left-to-right order, so a SQL replay of the
    * same DP over the same literals is bit-identical (the exact-replay
    * property the `hmm_viterbi_decode` oracle gates); `decodeWithDelta`'s
    * exp would re-introduce a transcendental at the output boundary. */
  def decodeWithLogDelta(obs: Seq[Int]): (Double, Seq[Int]) = {
    val n = nStates
    val T = obs.length
    val delta = Array.ofDim[Double](T, n)
    val psi = Array.ofDim[Int](T, n)
    for (s <- 0 until n) delta(0)(s) = pi(s) + b(s)(obs.head)
    for (t <- 1 until T; s <- 0 until n) {
      val (best, arg) = (0 until n).map(p => (delta(t - 1)(p) + a(p)(s), p)).maxBy(_._1)
      delta(t)(s) = best + b(s)(obs(t))
      psi(t)(s) = arg
    }
    val path = new Array[Int](T)
    path(T - 1) = (0 until n).maxBy(delta(T - 1))
    for (t <- T - 2 to 0 by -1) path(t) = psi(t + 1)(path(t + 1))
    (delta(T - 1).max, path.toSeq)
  }
}

object HMM {

  /** Supervised training from (state, symbol) pair sequences: maximum-
    * likelihood counts with add-one smoothing — a pure DataFrame aggregation
    * (three grouped counts), fully distributed. */
  def fitSupervised(df: DataFrame, seqCol: String, orderCol: String,
                    stateCol: String, symbolCol: String,
                    nStates: Int, nSymbols: Int): HmmModel = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(seqCol)).orderBy(col(orderCol))
    val withPrev = df.withColumn("__prev", lag(col(stateCol), 1).over(w))
    val init = withPrev.filter(col("__prev").isNull)
      .groupBy(col(stateCol)).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val trans = withPrev.filter(col("__prev").isNotNull)
      .groupBy(col("__prev"), col(stateCol)).count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val emit = df.groupBy(col(stateCol), col(symbolCol)).count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

    def norm(counts: Seq[Double]): Array[Double] = {
      val tot = counts.sum
      counts.map(c => math.log(c / tot)).toArray
    }
    HmmModel(
      pi = norm((0 until nStates).map(s => init.getOrElse(s, 0L) + 1.0)),
      a = (0 until nStates).map(p =>
        norm((0 until nStates).map(s => trans.getOrElse((p, s), 0L) + 1.0))).toArray,
      b = (0 until nStates).map(s =>
        norm((0 until nSymbols).map(o => emit.getOrElse((s, o), 0L) + 1.0))).toArray)
  }

  /** Decode every sequence in parallel, emitting the Viterbi path (comma-
    * joined) and the LOG-space max path probability (ref
    * HMMApplyDecodeProcessor appends both the path and its delta;
    * modules/ml/app/tuktu/ml/processors/hmm/HMM.scala:107): one shuffle on
    * the sequence key, the model broadcast via closure, per-group DP on
    * executors. */
  def decodeAllDelta(df: DataFrame, seqCol: String, orderCol: String,
                     symbolCol: String, model: HmmModel)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(seqCol).cast("long"), col(orderCol).cast("long"),
        col(symbolCol).cast("int"))
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (key, rows) =>
        val obs = rows.toSeq.sortBy(_._2).map(_._3)
        val (logDelta, path) = model.decodeWithLogDelta(obs)
        (key, path.mkString(","), logDelta)
      }
      .toDF(seqCol, "path", "log_delta")
  }

  // -------------------------------------------------- unsupervised training
  /** Scaled forward-backward expected counts for ONE sequence (Rabiner's
    * scaling — probability space, per-step renormalization): returns the
    * (pi, A, B) sufficient statistics this sequence contributes. A sequence
    * containing a zero-probability step contributes nothing (the guard
    * against impossible symbols under the current model). */
  private[ml] def expectedCounts(obs: Seq[Int], pi: Array[Double],
      a: Array[Array[Double]], b: Array[Array[Double]], nSym: Int,
      piAcc: Array[Double], aAcc: Array[Array[Double]],
      bAcc: Array[Array[Double]]): Unit = {
    val n = pi.length; val T = obs.length
    if (T == 0 || obs.exists(o => o < 0 || o >= nSym)) return
    val alpha = Array.ofDim[Double](T, n)
    val scale = new Array[Double](T)
    for (i <- 0 until n) alpha(0)(i) = pi(i) * b(i)(obs(0))
    scale(0) = alpha(0).sum
    if (scale(0) <= 0) return
    for (i <- 0 until n) alpha(0)(i) /= scale(0)
    for (t <- 1 until T) {
      for (j <- 0 until n)
        alpha(t)(j) = (0 until n).map(i => alpha(t - 1)(i) * a(i)(j)).sum * b(j)(obs(t))
      scale(t) = alpha(t).sum
      if (scale(t) <= 0) return
      for (j <- 0 until n) alpha(t)(j) /= scale(t)
    }
    val beta = Array.ofDim[Double](T, n)
    for (i <- 0 until n) beta(T - 1)(i) = 1.0
    for (t <- T - 2 to 0 by -1; i <- 0 until n)
      beta(t)(i) = (0 until n).map(j =>
        a(i)(j) * b(j)(obs(t + 1)) * beta(t + 1)(j)).sum / scale(t + 1)
    // gamma_t(i) = alphaHat_t(i)·betaHat_t(i) sums to 1 per t by scaling
    for (i <- 0 until n) piAcc(i) += alpha(0)(i) * beta(0)(i)
    for (t <- 0 until T - 1; i <- 0 until n; j <- 0 until n)
      aAcc(i)(j) += alpha(t)(i) * a(i)(j) * b(j)(obs(t + 1)) * beta(t + 1)(j) / scale(t + 1)
    for (t <- 0 until T; i <- 0 until n)
      bAcc(i)(obs(t)) += alpha(t)(i) * beta(t)(i)
  }

  /** One distributed Baum-Welch EM step (ref modules/ml/app/tuktu/ml/models/
    * hmm/BaumWelchMethod.scala via HMMTrainProcessor): each row of `obsCol`
    * is one observation sequence (array<int>). E-step sufficient statistics
    * accumulate per partition and tree-reduce to the driver — the shuffled
    * payload is one (n + n² + n·m)-double matrix set per partition, never
    * the sequences. States whose expected visits are zero keep their old
    * distributions (the reference's normalize() guard). */
  def baumWelchStep(df: DataFrame, obsCol: String, model: HmmModel,
                    nSymbols: Int): HmmModel = {
    val n = model.nStates
    val pi = model.pi.map(math.exp)
    val a = model.a.map(_.map(math.exp))
    val b = model.b.map(_.map(math.exp))
    val seqs = df.select(col(obsCol).cast(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)))
      .filter(col(obsCol).isNotNull)
    if (seqs.isEmpty) return model // reference: empty observations → unchanged
    val (piA, aA, bA) = seqs.rdd.mapPartitions { it =>
      val piAcc = new Array[Double](n)
      val aAcc = Array.ofDim[Double](n, n)
      val bAcc = Array.ofDim[Double](n, nSymbols)
      it.foreach(r => expectedCounts(r.getSeq[Int](0), pi, a, b, nSymbols,
        piAcc, aAcc, bAcc))
      Iterator.single((piAcc, aAcc, bAcc))
    }.treeReduce { case ((p1, a1, b1), (p2, a2, b2)) =>
      for (i <- 0 until n) p1(i) += p2(i)
      for (i <- 0 until n; j <- 0 until n) a1(i)(j) += a2(i)(j)
      for (i <- 0 until n; j <- 0 until nSymbols) b1(i)(j) += b2(i)(j)
      (p1, a1, b1)
    }
    def renorm(acc: Array[Double], old: Array[Double]): Array[Double] = {
      val tot = acc.sum
      if (tot <= 0) old else acc.map(v => math.log(v / tot))
    }
    HmmModel(
      pi = renorm(piA, model.pi),
      a = (0 until n).map(i => renorm(aA(i), model.a(i))).toArray,
      b = (0 until n).map(i => renorm(bA(i), model.b(i))).toArray)
  }

  /** Uniform initial model (the reference HMMTrainProcessor's no-priors
    * branch: every entry 1/n resp. 1/m). */
  def uniformModel(nStates: Int, nSymbols: Int): HmmModel = HmmModel(
    pi = Array.fill(nStates)(math.log(1.0 / nStates)),
    a = Array.fill(nStates)(Array.fill(nStates)(math.log(1.0 / nStates))),
    b = Array.fill(nStates)(Array.fill(nSymbols)(math.log(1.0 / nSymbols))))

  /** Model from explicit prior matrices (rows renormalized like the
    * reference's normalize()). */
  def modelFromPriors(start: Seq[Double], transitions: Seq[Seq[Double]],
                      emissions: Seq[Seq[Double]]): HmmModel = {
    def row(xs: Seq[Double]): Array[Double] = {
      val tot = xs.sum
      xs.map(x => math.log(x / tot)).toArray
    }
    HmmModel(row(start), transitions.map(row).toArray, emissions.map(row).toArray)
  }

  /** JSON persistence of the parameter matrices in PROBABILITY space
    * (finite [0,1] values — the log matrices contain -Infinity, which is
    * not valid JSON). The reference java-serializes its matrices
    * (models/hmm Serializable); JSON loads anywhere. */
  def save(model: HmmModel, path: String): Unit = {
    def a1(xs: Array[Double]) = xs.map(math.exp).mkString("[", ",", "]")
    def a2(xs: Array[Array[Double]]) = xs.map(a1).mkString("[", ",", "]")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s"""{"pi":${a1(model.pi)},"a":${a2(model.a)},"b":${a2(model.b)}}"""
        .getBytes("UTF-8"))
  }

  def load(path: String): HmmModel = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    import scala.jdk.CollectionConverters._
    def a1(n: com.fasterxml.jackson.databind.JsonNode): Array[Double] =
      n.elements().asScala.map(x => math.log(x.asDouble)).toArray
    def a2(n: com.fasterxml.jackson.databind.JsonNode): Array[Array[Double]] =
      n.elements().asScala.map(a1).toArray
    HmmModel(a1(root.get("pi")), a2(root.get("a")), a2(root.get("b")))
  }

  /** Sample the most probable output walk (ref models/hmm/
    * PredictAlgorithm.scala:9 — cumulative inverse-CDF draws). The
    * reference seeds from the wall clock; a config seed makes the draw
    * reproducible, which is strictly better for pipelines. */
  def predictSteps(model: HmmModel, steps: Int, seed: Long = 42L): Seq[Int] = {
    val rand = new java.util.Random(seed)
    def draw(dist: Array[Double]): Int = {
      val r = rand.nextDouble()
      var cumul = 0.0; var s = 0
      while (s < dist.length - 1 && cumul + math.exp(dist(s)) < r) {
        cumul += math.exp(dist(s)); s += 1
      }
      s
    }
    var hidden = draw(model.pi)
    (0 until steps).map { _ =>
      val out = draw(model.b(hidden))
      hidden = draw(model.a(hidden))
      out
    }
  }
}

/** Registry adapter so HMMs live in [[ModelRegistry]] like every other
  * model: `transform` appends Viterbi results (`<prefix>_delta` raw-space
  * path probability and `<prefix>_sequence`, the reference
  * HMMApplyDecodeProcessor's result map) for the configured observations
  * column. */
class HmmTransformer(val model: HmmModel, val obsCol: String,
                     val prefix: String = "hmm")
    extends org.apache.spark.ml.Transformer {
  import org.apache.spark.sql.functions.{col => fcol, struct, udf}
  override val uid: String =
    org.apache.spark.ml.util.Identifiable.randomUID("hmm")
  private val decodeUdf = udf((obs: Seq[Int]) =>
    if (obs == null || obs.isEmpty) None
    else Some(model.decodeWithDelta(obs)))
  private def asInts(obs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    obs.cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType))
  /** Viterbi result as ONE struct{delta, sequence} column — the batch
    * analog of the reference's `Map("delta" -> …, "sequence" -> …)`. */
  def decodeColumn(obs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val raw = decodeUdf(asInts(obs))
    struct(raw.getField("_1").as("delta"), raw.getField("_2").as("sequence"))
  }
  override def transform(ds: org.apache.spark.sql.Dataset[_]): DataFrame =
    ds.toDF().withColumn("__hmm", decodeUdf(asInts(fcol(obsCol))))
      .withColumn(s"${prefix}_delta", fcol("__hmm._1"))
      .withColumn(s"${prefix}_sequence", fcol("__hmm._2"))
      .drop("__hmm")
  override def transformSchema(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    schema.add(s"${prefix}_delta", DoubleType).add(s"${prefix}_sequence",
      ArrayType(IntegerType))
  }
  override def copy(extra: org.apache.spark.ml.param.ParamMap): HmmTransformer = this
}
