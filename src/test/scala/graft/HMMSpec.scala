package graft

import graft.ml.{HMM, HmmModel}

/** HMM train/decode: supervised fit recovers planted dynamics; Viterbi
  * decodes the generating states; likelihood ranks typical > atypical. */
class HMMSpec extends SparkSpec {
  import spark.implicits._

  // two states with distinct emissions: state0 → symbol 0/1, state1 → 2/3
  private def genSeq(seed: Int, len: Int): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    var s = 0
    (0 until len).map { _ =>
      s = if (rnd.nextDouble() < 0.85) s else 1 - s
      val sym = (if (s == 0) 0 else 2) + (if (rnd.nextDouble() < 0.9) 0 else 1)
      (s, sym)
    }
  }

  private lazy val train = (0 until 20).flatMap { i =>
    genSeq(i, 50).zipWithIndex.map { case ((s, o), t) => (i.toLong, t.toLong, s, o) }
  }.toDF("seq", "t", "state", "symbol")

  private lazy val model: HmmModel =
    HMM.fitSupervised(train, "seq", "t", "state", "symbol", nStates = 2, nSymbols = 4)

  test("supervised fit recovers the planted transition structure") {
    // self-transitions dominate (0.85 stay probability)
    assert(math.exp(model.a(0)(0)) > 0.7 && math.exp(model.a(1)(1)) > 0.7)
    // state 0 emits symbols {0,1}, state 1 emits {2,3}
    assert(math.exp(model.b(0)(0)) + math.exp(model.b(0)(1)) > 0.95)
    assert(math.exp(model.b(1)(2)) + math.exp(model.b(1)(3)) > 0.95)
  }

  test("distributed Viterbi decode recovers most generating states") {
    implicit val s = spark
    val test = genSeq(99, 60).zipWithIndex.map { case ((st, o), t) => (0L, t.toLong, st, o) }
    val df = test.toDF("seq", "t", "state", "symbol")
    val out = HMM.decodeAllDelta(df, "seq", "t", "symbol", model).head
    val decoded = out.getString(1).split(",").map(_.toInt).toSeq
    val truth = test.map(_._3)
    val acc = decoded.zip(truth).count { case (a, b) => a == b } / truth.size.toDouble
    assert(acc >= 0.85, s"accuracy $acc")
  }

  test("likelihood ranks a typical sequence above a shuffled one") {
    val typical = genSeq(7, 40).map(_._2)
    val shuffled = new scala.util.Random(3).shuffle(typical)
    assert(model.logLikelihood(typical) > model.logLikelihood(shuffled))
  }

  test("Baum-Welch improves corpus likelihood monotonically from a rough start") {
    val corpus = (0 until 20).map(i => Tuple1(genSeq(i, 50).map(_._2)))
      .toDF("obs")
    // rough but informative start: correct emission TENDENCY, wrong rates
    val init = HMM.modelFromPriors(
      start = Seq(0.5, 0.5),
      transitions = Seq(Seq(0.6, 0.4), Seq(0.4, 0.6)),
      emissions = Seq(Seq(0.4, 0.3, 0.2, 0.1), Seq(0.1, 0.2, 0.3, 0.4)))
    def corpusLL(m: HmmModel): Double =
      (0 until 20).map(i => m.logLikelihood(genSeq(i, 50).map(_._2))).sum
    val lls = Iterator.iterate(init)(m => HMM.baumWelchStep(corpus, "obs", m, 4))
      .take(6).map(corpusLL).toSeq
    assert(lls.sliding(2).forall { case Seq(a, b) => b >= a - 1e-9 },
      s"not monotone: $lls")
    assert(lls.last > lls.head + 10, s"no real improvement: $lls")
    // EM should sharpen self-transitions toward the planted 0.85
    val fit = (1 to 10).foldLeft(init)((m, _) => HMM.baumWelchStep(corpus, "obs", m, 4))
    assert(math.exp(fit.a(0)(0)) > 0.7 && math.exp(fit.a(1)(1)) > 0.7)
  }

  test("decodeWithDelta exposes the Viterbi max-path probability; save/load round-trips") {
    val obs = genSeq(5, 12).map(_._2)
    val (delta, path) = model.decodeWithDelta(obs)
    assert(path == model.decode(obs))
    assert(delta > 0 && delta <= 1.0)
    assert(math.log(delta) <= model.logLikelihood(obs) + 1e-9) // max path ≤ total
    val tmp = java.nio.file.Files.createTempDirectory("hmm").resolve("m.json")
    HMM.save(model, tmp.toString)
    val re = HMM.load(tmp.toString)
    // JSON stores probability space: log∘exp costs ulps, not structure
    val (delta2, path2) = re.decodeWithDelta(obs)
    assert(path2 == path && math.abs(delta2 - delta) < 1e-12)
    assert(math.abs(re.logLikelihood(obs) - model.logLikelihood(obs)) < 1e-9)
  }

  test("Baum-Welch on an empty corpus returns the model unchanged") {
    val empty = Seq.empty[Tuple1[Seq[Int]]].toDF("obs")
    val init = HMM.uniformModel(2, 4)
    val out = HMM.baumWelchStep(empty, "obs", init, 4)
    assert(out.pi.toSeq == init.pi.toSeq && out.a.map(_.toSeq).toSeq == init.a.map(_.toSeq).toSeq)
  }

  test("hmm_viterbi_decode's demo model equals fitSupervised on the same fixture") {
    // the oracle query trains its model in pure Scala at class-init (the
    // generated SQL needs the literals data-independently); this pins that
    // local trainer bit-equal to the distributed fitSupervised path, so
    // the DuckDB gate transitively covers supervised training too
    val fx = QueriesLLM.hmmDemoFixture
      .map { case (sq, t, st, sym) => (sq.toLong, t.toLong, st, sym) }
      .toDF("seq", "t", "state", "symbol")
    val fitted = HMM.fitSupervised(fx, "seq", "t", "state", "symbol",
      nStates = 3, nSymbols = 4)
    val demo = QueriesLLM.hmmDemoModel
    assert(fitted.pi.toSeq == demo.pi.toSeq)
    assert(fitted.a.map(_.toSeq).toSeq == demo.a.map(_.toSeq).toSeq)
    assert(fitted.b.map(_.toSeq).toSeq == demo.b.map(_.toSeq).toSeq)
    // and the decoder exposes the log-space delta the oracle replays
    val obs = genSeq(3, 9).map(_._2)
    val (ld, path) = demo.decodeWithLogDelta(obs)
    assert(ld <= 0.0 && path.length == obs.length)
    assert(demo.decodeWithDelta(obs) == ((math.exp(ld), path)))
  }

  test("predictSteps draws a reproducible walk over valid symbols") {
    val w1 = HMM.predictSteps(model, 20, seed = 7)
    val w2 = HMM.predictSteps(model, 20, seed = 7)
    assert(w1 == w2 && w1.size == 20 && w1.forall(s => s >= 0 && s < 4))
    assert(HMM.predictSteps(model, 20, seed = 8) != w1)
  }
}
