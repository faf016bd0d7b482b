package graft.ml

import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.feature._
import org.apache.spark.ml.fpm.{FPGrowth, FPGrowthModel}
import org.apache.spark.sql.DataFrame

/**
 * ML/NLP capabilities on spark.ml (SURVEY.md §2.11) that no `tuktu.ml`
 * train entry builds. The reference's train/apply lifecycle processors fit
 * their spark.ml estimators directly in `TuktuCompat` and keep the models
 * in [[ModelRegistry]]; what stays here is FP-Growth (the FPGrowthProcessor
 * entry and the `fpgrowth_itemsets` query), the preprocessing capabilities
 * the suite queries gate, and the NBSVM, LDA and Word2Vec bodies.
 */
object ML {

  /** FP-Growth frequent itemsets (ref: .../FPGrowthProcessor.scala:15).
    * `minSupport` is relative: spark.ml keeps an itemset seen at least
    * ceil(minSupport · n) times, n the non-null transactions. */
  def fpGrowth(df: DataFrame, itemsCol: String, minSupport: Double = 0.3,
               minConfidence: Double = 0.6): FPGrowthModel =
    new FPGrowth().setItemsCol(itemsCol)
      .setMinSupport(minSupport).setMinConfidence(minConfidence).fit(df)

  /** Word2Vec (ref: .../Word2Vec.scala:13). */
  def word2vec(df: DataFrame, tokensCol: String, out: String, dim: Int = 16,
               seed: Long = 42): DataFrame =
    new Word2Vec().setInputCol(tokensCol).setOutputCol(out)
      .setVectorSize(dim).setSeed(seed).setMinCount(1).fit(df).transform(df)

  /** MinMaxScaler (ref NormalizationProcessor.scala:12); the Normalization
    * FQCN entries keep the reference's per-field body. */
  def minMaxScale(df: DataFrame, features: Seq[String], out: String): DataFrame = {
    val a = new VectorAssembler().setInputCols(features.toArray).setOutputCol("__f")
      .transform(df)
    new MinMaxScaler().setInputCol("__f").setOutputCol(out).fit(a).transform(a).drop("__f")
  }

  /** StringIndexer + OneHotEncoder (ref DummyVariableProcessor.scala:10);
    * the DummyVariable FQCN entry keeps the reference's digit string. */
  def oneHot(df: DataFrame, in: String, out: String): DataFrame = {
    val idx = new StringIndexer().setInputCol(in).setOutputCol("__idx")
      .setStringOrderType("alphabetAsc").fit(df).transform(df)
    new OneHotEncoder().setInputCols(Array("__idx")).setOutputCols(Array(out))
      .fit(idx).transform(idx).drop("__idx")
  }

  /** Imputer (ref MissingvaluesProcessor.scala:14); the Missingvalues FQCN
    * entry keeps the reference's typed replacement chain. */
  def impute(df: DataFrame, cols: Seq[String], strategy: String = "mean"): DataFrame =
    new Imputer().setInputCols(cols.toArray).setOutputCols(cols.toArray)
      .setStrategy(strategy).fit(df).transform(df)

  /** LDA topic model (ref: modules/nlp/.../LDA.scala): token counts →
    * spark.ml LDA; returns the transformed frame with `topicDistribution`.
    * Distributed EM/online inference — the reference runs a single-node
    * collapsed sampler. */
  def lda(df: DataFrame, tokensCol: String, k: Int, maxIter: Int = 30,
          seed: Long = 42): DataFrame = {
    // uniquified temp column: a fixed "__tf" collides with frames that
    // already carry one (e.g. a chained lda/nbsvm output)
    val tfCol = s"__tf_${java.util.UUID.randomUUID.toString.take(8)}"
    val cv = new CountVectorizer().setInputCol(tokensCol).setOutputCol(tfCol).fit(df)
    val tf = cv.transform(df)
    new org.apache.spark.ml.clustering.LDA()
      .setK(k).setMaxIter(maxIter).setSeed(seed).setFeaturesCol(tfCol)
      .fit(tf).transform(tf).drop(tfCol)
  }

  /** NBSVM text classifier (ref: modules/nlp/.../NBSVM.scala via
    * NBSVMProcessor; the public Wang & Manning 2012 recipe): binarized token
    * presence, Naive-Bayes log-count-ratio feature scaling, linear SVM on
    * the scaled features. The heavy passes (vocabulary, per-class feature
    * sums, SVM fit) are all distributed; only the vocab-sized ratio vector
    * touches the driver. Binary labels (0/1). */
  final case class NbsvmModel(cv: org.apache.spark.ml.feature.CountVectorizerModel,
                              scale: org.apache.spark.ml.linalg.Vector,
                              svc: org.apache.spark.ml.classification.LinearSVCModel) {
    def transform(df: DataFrame): DataFrame = {
      val tfCol = cv.getOutputCol
      val fCol = svc.getFeaturesCol
      val tf = cv.transform(df)
      val scaled = new ElementwiseProduct().setScalingVec(scale)
        .setInputCol(tfCol).setOutputCol(fCol).transform(tf)
      svc.transform(scaled).drop(tfCol, fCol)
    }
  }

  def nbsvm(df: DataFrame, tokensCol: String, labelCol: String,
            vocabSize: Int = 1 << 16, regParam: Double = 0.01): NbsvmModel = {
    import org.apache.spark.sql.functions._
    // uniquified temp columns (see lda) — the model carries them for transform
    val tag = java.util.UUID.randomUUID.toString.take(8)
    val tfCol = s"__tf_$tag"; val fCol = s"__f_$tag"
    val cv = new CountVectorizer().setInputCol(tokensCol).setOutputCol(tfCol)
      .setVocabSize(vocabSize).setBinary(true).fit(df)
    val tf = cv.transform(df)
    val sums = tf.groupBy(col(labelCol))
      .agg(org.apache.spark.ml.stat.Summarizer.sum(col(tfCol)).as("__s"))
      .collect()
      .map(r => r.get(0).toString.toDouble -> r.getAs[org.apache.spark.ml.linalg.Vector]("__s"))
      .toMap
    val dim = cv.vocabulary.length
    val p = sums.getOrElse(1.0, org.apache.spark.ml.linalg.Vectors.zeros(dim)).toArray
    val q = sums.getOrElse(0.0, org.apache.spark.ml.linalg.Vectors.zeros(dim)).toArray
    val pNorm = p.map(_ + 1.0).sum
    val qNorm = q.map(_ + 1.0).sum
    val r = org.apache.spark.ml.linalg.Vectors.dense(
      Array.tabulate(dim)(i => math.log((p(i) + 1.0) / pNorm) - math.log((q(i) + 1.0) / qNorm)))
    val scaled = new ElementwiseProduct().setScalingVec(r)
      .setInputCol(tfCol).setOutputCol(fCol).transform(tf)
    val svc = new LinearSVC().setFeaturesCol(fCol).setLabelCol(labelCol)
      .setRegParam(regParam).fit(scaled)
    NbsvmModel(cv, r, svc)
  }
}
