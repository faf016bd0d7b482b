package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * language-ID (marker-token heuristic), quality scoring, token counting,
 * document fingerprinting (rolling hash). All pure Column expressions —
 * whole-stage-codegen'd, no UDFs, embarrassingly parallel per-row (no
 * shuffle), so they scale linearly to 100 TB.
 *
 * Deterministic cross-engine contract: every function here has an exact
 * DuckDB-SQL equivalent (same integer arithmetic, same regex class), used by
 * the oracle in SparkEntry.
 */
object TextAnalysis {

  /** Whitespace tokens of lowercased, trimmed text. */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Deterministic 60-bit token hash shared with the DuckDB oracle:
    * first 15 hex chars of md5, parsed base-16. */
  def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  // ---------------------------------------------------------------- language id
  /** Marker words per language; tiny n-gram-free heuristic. Scores are
    * marker-token counts; argmax with alphabetical tie-break, encoded as
    * score*8+priority so the DuckDB oracle is identical integer math. A
    * text with no marker word of any language is "und" (undetermined). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is", "not"),
    "es" -> Seq("el", "la", "los", "y", "no", "es"),
    "fr" -> Seq("le", "la", "les", "et", "ne", "est"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "he2"))

  def langId(text: Column): Column = {
    val toks = tokens(text)
    // one pass over tokens: per-language marker counts via zip_with against
    // the literal marker lists (HOFs get no codegen subexpr elimination, so
    // per-language filters would re-tokenize 5×)
    val markerLists = array(langMarkers.map { case (_, ms) =>
      array(ms.map(lit): _*)
    }: _*)
    val init = array(Seq.fill(langMarkers.size)(lit(0)): _*)
    val counts = aggregate(toks, init,
      (acc, t) => zip_with(acc, markerLists,
        (c, ms) => c + when(array_contains(ms, t), 1).otherwise(0)))
    // argmax with alphabetical tie-break, as ONE nested expression so every
    // subtree is evaluated once: key = score*8 + (7-i); winner index = 8 - key%8
    val prios = array(langMarkers.indices.map(i => lit(7 - i)): _*)
    val langs = array(langMarkers.map { case (l, _) => lit(l) }: _*)
    val best = array_max(zip_with(counts, prios, (c, p) => c * 8 + p))
    when(best < 8, lit("und")).otherwise(element_at(langs, lit(8) - best % 8))
  }

  // ---------------------------------------------------------------- quality
  /** Quality scoring: length, punctuation ratio, stopword ratio, mean token
    * length — combined to one double score with a fixed formula (identical
    * IEEE op order in the SQL oracle). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "not", "to", "in")

  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("n_chars_m", length(col(textCol)).cast(LongType))
      .withColumn("n_punct",
        length(regexp_replace(col(textCol), "[A-Za-z0-9 ]", "")).cast(LongType))
      .withColumn("n_stop",
        size(filter(toks, t => t.isin(stopwords: _*))).cast(LongType))
  }

  /** score = 0.4*min(ntok,256)/256 + 0.3*(1-punct/chars) + 0.3*min(4*stop/ntok, 1) */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualityFeatures(df, textCol).withColumn("quality",
      lit(0.4) * least(col("n_tokens").cast(DoubleType), lit(256.0)) / lit(256.0)
        + lit(0.3) * (lit(1.0) - col("n_punct").cast(DoubleType) / col("n_chars_m").cast(DoubleType))
        + lit(0.3) * least(lit(4.0) * col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType), lit(1.0)))

  // ---------------------------------------------------------------- token counting
  /** Whitespace token count plus a BPE-ish regex token count
    * (letter-runs | single digits | single punctuation). */
  val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(tokens(col(textCol))).cast(LongType))
      .withColumn("bpeish_tokens",
        size(regexp_extract_all(col(textCol), lit(bpeishPattern), lit(0))).cast(LongType))

  // ---------------------------------------------------------------- repetition
  /** Gopher/C4-style repetition signals (Rae et al. 2021 §A1.1, public):
    * documents dominated by repeated lines or n-grams are boilerplate.
    * Fractions are single divisions of exact integer counts, so the doubles
    * are bit-identical cross-engine. Pure expressions, no shuffle. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, textCol: String): org.apache.spark.sql.DataFrame = {
    // STAGED projections: the index lambdas below reference the token array
    // per element, and HOF lambdas get no codegen CSE — element_at against
    // the raw split EXPRESSION would re-split the whole text per index
    // (O(n²)/doc, measured 13s vs <1s at sf0.1). Materialize first.
    val staged = df
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__toks", tokens(col(textCol)))
    val toks = col("__toks")
    // explicit index windows: a zip_with against the shifted array would pad
    // the tail with null and concat_ws would silently emit a spurious 1-gram
    val grams2 = when(size(toks) < 2, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
    staged
      .withColumn("__g2", grams2)
      .withColumn("dup_line_frac",
        lit(1.0) - size(array_distinct(col("__lines"))).cast(DoubleType) /
          size(col("__lines")).cast(DoubleType))
      .withColumn("dup_2gram_frac",
        when(size(col("__g2")) > 0,
          lit(1.0) - size(array_distinct(col("__g2"))).cast(DoubleType) /
            size(col("__g2")).cast(DoubleType)).otherwise(0.0))
      .withColumn("mean_word_len",
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
          size(col("__toks")).cast(DoubleType))
      .drop("__lines", "__toks", "__g2")
  }

  /** Stopwords a quality document must hit (Gopher rule 8). */
  val gopherRequiredStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Quality-classifier APPLY over a hashed bag-of-words linear model —
    * the FineWeb-Edu-shaped inference stage: a trained classifier scores
    * every document and a threshold keeps the head. The model here is a
    * deterministic fixture ([[classifierFixtureWeights]]: per-bucket
    * integer milli-weights derived from md5 of the bucket id, so the oracle
    * reproduces them); a real deployment feeds coefficients from
    * [[classifierTrain]] through [[classifierExportWeights]] into the same
    * apply, [[classifierScoreWeights]]. */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
                      buckets: Int = 1 << 15, seed: String = "qc1",
                      threshold: Double = 0.0): DataFrame =
    classifierScoreWeights(df, idCol, textCol,
      classifierFixtureWeights(df.sparkSession, buckets, seed), buckets, threshold)

  /** The fixture model of [[classifierScore]] as a (bucket, w_milli)
    * table: w_milli = md5("seed:bucket") mod 2001 − 1000, one row per
    * bucket (32k rows at the default — kilobytes, broadcast). */
  def classifierFixtureWeights(spark: SparkSession, buckets: Int,
                               seed: String): DataFrame =
    spark.range(0, buckets).select(
      col("id").cast(IntegerType).as("bucket"),
      (tokenHash(concat(lit(seed + ":"), col("id").cast(StringType))) % 2001 - 1000)
        .as("w_milli"))

  /** Quality-classifier TRAIN — the other half of the FineWeb-Edu shape
    * (label a seed set → fit a linear model on hashed bag-of-words →
    * broadcast the learned weights and threshold the corpus). Features are
    * the SAME hashed buckets [[classifierScore]] scores with
    * (`tokenHash(token) % buckets`, shared with the DuckDB oracle), so a
    * model trained here drops straight into [[classifierScoreWeights]].
    *
    * Scale shape: featurization is the tokenize+hash scan plus one
    * (doc, bucket) count shuffle; each document becomes ONE sparse vector
    * (≤ distinct-tokens entries, never `buckets`), and spark.ml's
    * LogisticRegression aggregates gradients tree-wise — the only
    * driver-sized object is the coefficient vector itself (buckets
    * doubles). The returned model is a standard spark.ml Transformer:
    * register / serialize / deserialize through [[graft.ml.ModelRegistry]]
    * like every other model in the engine. */
  def classifierTrain(df: DataFrame, idCol: String, textCol: String,
                      labelCol: String, buckets: Int = 1 << 15,
                      maxIter: Int = 100, regParam: Double = 0.0)
      : org.apache.spark.ml.classification.LogisticRegressionModel = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    val counts = df
      .select(col(idCol), col(labelCol).cast(DoubleType).as("label"),
        explode(tokens(col(textCol))).as("__t"))
      .withColumn("__bucket", (tokenHash(col("__t")) % buckets).cast(IntegerType))
      .groupBy(col(idCol), col("label"), col("__bucket"))
      .agg(count(lit(1)).cast(DoubleType).as("__c"))
    // sort_array orders the (index, value) structs by index — SparseVector
    // requires strictly increasing indices (distinct by the groupBy above)
    val toVec = udf { (iv: Seq[org.apache.spark.sql.Row]) =>
      Vectors.sparse(buckets,
        iv.map(_.getInt(0)).toArray, iv.map(_.getDouble(1)).toArray)
    }
    val assembled = counts.groupBy(col(idCol), col("label"))
      .agg(sort_array(collect_list(struct(col("__bucket").as("i"),
        col("__c").as("v")))).as("__iv"))
      .select(col("label"), toVec(col("__iv")).as("features"))
    new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(assembled)
  }

  /** Export a trained model's nonzero coefficients as the (bucket, w_milli)
    * weight table [[classifierScoreWeights]] broadcast-joins — integer
    * milli-weights keep the apply path's score an order-free integer sum
    * (the determinism contract of [[classifierScore]]). */
  def classifierExportWeights(
      model: org.apache.spark.ml.classification.LogisticRegressionModel)
      : DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    model.coefficients.foreachActive { (i, w) =>
      val milli = math.round(w * 1000.0)
      if (milli != 0L) buf += ((i, milli))
    }
    buf.toSeq.toDF("bucket", "w_milli")
  }

  /** Quality-classifier APPLY with the weights as DATA: the (bucket,
    * w_milli) table — learned, or [[classifierFixtureWeights]] — rides a
    * BroadcastHashJoin against the tokenized corpus (it is at most
    * `buckets` rows — kilobytes). Buckets absent from the table contribute
    * 0 (unseen features).
    *
    * Determinism: weights are INTEGERS (milli-units) and the per-doc score
    * is their order-free integer sum; the logit is one double division
    * chain of exact integers. No exp/sigmoid in the compared output —
    * monotone in the logit, so thresholding is equivalent.
    *
    * Scale shape: tokenize+hash+bucket runs in the scan stage (all
    * codegen'd md5/conv expressions, no dictionary), then the broadcast
    * join and one doc-keyed sum shuffle. */
  def classifierScoreWeights(df: DataFrame, idCol: String, textCol: String,
                             weights: DataFrame, buckets: Int = 1 << 15,
                             threshold: Double = 0.0): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .withColumn("__bucket", tokenHash(col("__t")) % buckets)
    val w = weights.select(col("bucket").cast(LongType).as("__bucket"),
      col("w_milli").cast(LongType).as("__w"))
    val scored = tok.join(broadcast(w), Seq("__bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("__w"), lit(0L))).as("score_milli"))
    val base = df.select(col(idCol))
    base.join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("score_milli"), lit(0L)).as("score_milli"))
      .withColumn("logit",
        when(col("n_toks") > 0,
          col("score_milli") / lit(1000.0) / col("n_toks"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("logit") > threshold)
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson & Zaragoza 2009) — the retrieval primitive for targeted
    * curation (rank a web corpus against seed queries, keep the head).
    * Per term t: idf = ln((N − df_t + 0.5)/(df_t + 0.5) + 1), contribution
    * = idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)). Determinism: ln is
    * not correctly-rounded cross-engine, so idf is quantized to
    * floor(1e4·idf) first (the scoreBigram mitigation); each term
    * contribution is then quantized to floor(100·…) and the per-doc score
    * is an ORDER-FREE integer sum (double accumulation order would differ
    * between engines). Docs containing no query term are absent (standard
    * retrieval semantics).
    *
    * One query through [[bm25TopKJoin]] (the terms become a one-query
    * table); rows come back in rank order (score desc, id asc). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bm25TopKJoin(df, idCol, textCol, terms.map(t => (0, t)).toDF("query_id", "term"),
        k, k1, b)
      .orderBy(col("score_q").desc, col(idCol).asc)
      .drop("query_id")
  }

  /** [[bm25TopK]] for many queries at once: targeted curation ranks a
    * corpus against THOUSANDS of seed queries, so the term set is a
    * (query_id, term) DataFrame (terms lowercased into the token space —
    * tokens() lowercases the corpus). Returns (query_id, id, score_q), the
    * top `k` per query.
    *
    * Scale shape: corpus stats (N, Σdl) and the per-term df/idf table ride
    * as broadcast one-row/tiny frames, and the (doc, term) tf postings are
    * materialized once for their two consumers (idf and scoring). The
    * corpus-side work — tokenize, filter to the DISTINCT term vocabulary
    * (one BroadcastHashJoin), per-(doc, term) tf, per-term idf — happens
    * ONCE regardless of query count; fanning out to queries
    * is a second broadcast join of the ≤|qt| row term table against the
    * already-tiny (doc, term, contribution) frame. Per-query top-k is a
    * row_number window partitioned BY QUERY — each query's candidates sort
    * within their own partition, no global sort. */
  def bm25TopKJoin(df: DataFrame, idCol: String, textCol: String,
                   queryTerms: DataFrame, k: Int = 10,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qt = queryTerms.select(col("query_id"),
      lower(col("term")).as("__t")).distinct()
    val vocab = qt.select(col("__t")).distinct()
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    val stats = base.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast(DoubleType) / count(lit(1))).as("__avgdl"))
    // 2 consumers: the idf branch and the scoring branch
    val tf = base
      .select(col("id"), col("__dl"), explode(col("__toks")).as("__t"))
      .join(broadcast(vocab), Seq("__t"))
      .groupBy(col("id"), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
      .transform(Ops.materialize)
    val idf = tf.groupBy(col("__t"))
      .agg(count_distinct(col("id")).as("__df"))
      .crossJoin(broadcast(stats))
      .select(col("__t"),
        floor(lit(1e4) * log((col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0))).as("__idf_q4"))
    val contrib = tf.join(broadcast(idf), Seq("__t"))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("__t"),
        floor(lit(100.0) * col("__idf_q4") * (col("__tf") * (lit(k1) + lit(1.0))) /
          (col("__tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("__dl") / col("__avgdl")))).as("__c"))
    val perQuery = contrib.join(broadcast(qt), Seq("__t"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("__c")).as("score_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("id").asc)
    perQuery.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("id").as(idCol), col("score_q"))
  }

  /** The Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446
    * §A1.1 — public) as one pure-expression pass: word count in [50, 100k];
    * mean word length in [3, 10]; hash-symbol and ellipsis symbol-to-word
    * ratios ≤ 0.1; ≤ 90% of lines starting with a bullet (•, -, *); ≤ 30%
    * of lines ending with "…"/"..."; ≥ 80% of words containing an
    * alphabetic character; ≥ 2 of the required stopwords present. Emits the
    * raw statistics plus the composite `keep`. Ratios are integer-count
    * divisions — bit-identical in the SQL oracle. Zero shuffles. */
  def gopherFilter(df: DataFrame, textCol: String): DataFrame = {
    // staged projections: HOF lambdas get no codegen CSE (see repetitionStats)
    val staged = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__lines", split(col(textCol), "\n"))
    val toks = col("__toks")
    val lines = col("__lines")
    val nW = size(toks).cast(LongType)
    val nL = size(lines).cast(LongType)
    val nHash = (length(col(textCol)) -
      length(replace(col(textCol), lit("#"), lit("")))).cast(LongType)
    val nEll = ((length(col(textCol)) -
      length(replace(col(textCol), lit("..."), lit("")))) / 3).cast(LongType)
    val nBullet = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("-") || l.startsWith("*"))).cast(LongType)
    val nEllLine = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast(LongType)
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]"))).cast(LongType)
    val nStop = gopherRequiredStops
      .map(w => when(array_contains(toks, w), 1L).otherwise(0L))
      .reduce(_ + _)
    staged
      .withColumn("n_words", nW)
      .withColumn("mean_word_len",
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
          nW.cast(DoubleType))
      .withColumn("hash_ratio", nHash.cast(DoubleType) / nW.cast(DoubleType))
      .withColumn("ellipsis_ratio", nEll.cast(DoubleType) / nW.cast(DoubleType))
      .withColumn("bullet_frac", nBullet.cast(DoubleType) / nL.cast(DoubleType))
      .withColumn("ellipsis_line_frac", nEllLine.cast(DoubleType) / nL.cast(DoubleType))
      .withColumn("alpha_frac", nAlpha.cast(DoubleType) / nW.cast(DoubleType))
      .withColumn("n_req_stop", nStop)
      .withColumn("keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("hash_ratio") <= 0.1 && col("ellipsis_ratio") <= 0.1 &&
          col("bullet_frac") <= 0.9 && col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_frac") >= 0.8 && col("n_req_stop") >= 2L)
      .drop("__toks", "__lines")
  }

  /** The Gopher n-gram repetition rules (Rae et al. 2021 §A1.1, Table A1 —
    * public): per document, the character fraction covered by the single
    * most frequent {2,3,4}-gram and by all duplicated {5..10}-grams, with
    * the paper's removal thresholds (0.20/0.18/0.16 and 0.15 down to 0.10).
    * Conventions (the paper leaves them open; both engines replay them
    * identically): characters are counted over the whitespace-normalized
    * token text (Σ token lengths + gaps); duplicated-gram coverage counts
    * every occurrence (overlaps double-count) and is capped at 1.0.
    *
    * Gram identity is (rolling hash, char length), not the gram text: the
    * count shuffle then carries three longs per gram instead of up-to-60
    * char strings (measured 7.7 s → see SCALE.md — the string form was the
    * most expensive query in the suite). The output is unchanged up to md5
    * collisions shared by both engines: ties at equal count resolve by
    * char length first, and any further tie contributes the identical
    * cnt·len chars regardless of which gram wins, so the byte-order
    * tie-break the string form used was never observable in the fractions.
    *
    * Shape: tokens explode ONCE; per-token hash + length feed one window's
    * lead chain (codegen'd); each position stacks 9 (n, hash, len) triples
    * → one count with map-side combine → one (doc, n) reduce → one per-doc
    * pivot. Linear in corpus size; no joins. */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topNs = 2 to 4
    val dupNs = 5 to 10
    val maxN = dupNs.max
    val staged = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .withColumn("__tot",
        aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)) +
          size(col("__toks")) - 1)
    // hash and char length ride ONE packed long through the lead chain
    // (9 window functions, not 18); token length saturates at 2^20-1 chars
    val PACK = 1L << 20
    val ex = staged.select(col("id"), col("__tot"),
      posexplode(col("__toks")).as(Seq("pos", "t")))
      .select(col("id"), col("__tot"), col("pos"),
        ((tokenHash(col("t")) % Dedup.P) * PACK +
          least(length(col("t")).cast(LongType), lit(PACK - 1))).as("p0"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withLeads = ex.select(col("id") +: col("__tot") +: col("p0") +:
      (1 until maxN).map(k => lead(col("p0"), k).over(w).as(s"p$k")): _*)
    def h(k: Int): Column = shiftright(col(s"p$k"), 20)
    def l(k: Int): Column = col(s"p$k").bitwiseAND(PACK - 1)
    // rolling hash/length chains: width n extends width n-1 by one term,
    // so the 9 exprs share prefixes
    val ghash = scala.collection.mutable.Map(1 -> h(0))
    val glen = scala.collection.mutable.Map(1 -> l(0))
    for (n <- 2 to maxN) {
      ghash(n) = (ghash(n - 1) * 131 + h(n - 1)) % Dedup.P
      glen(n) = glen(n - 1) + l(n - 1)
    }
    // gram of width n starts here iff its last token exists (leads go null
    // only past the tail; null then propagates through the hash chain). A
    // plain codegen'd filter AFTER the explode — a filter() HOF on the
    // struct array would drag the whole expression tree into interpreted
    // per-row eval (measured: the HOF form is the difference between this
    // being the slowest query in the suite and a mid-pack one)
    val gramStructs = (topNs ++ dupNs).map { n =>
      struct(lit(n).as("n"), ghash(n).as("gh"),
        (glen(n) + (n - 1)).as("gl"))
    }
    val exploded = withLeads
      .select(col("id"), col("__tot"),
        explode(array(gramStructs: _*)).as("s"))
      .filter(col("s.gh").isNotNull)
      .select(col("id"), col("__tot"), col("s.n").as("n"),
        col("s.gh").as("gh"), col("s.gl").as("gl"))
    val counts = exploded.groupBy(col("id"), col("__tot"), col("n"),
      col("gh"), col("gl"))
      .agg(count(lit(1)).as("cnt"))
    val perN = counts.groupBy(col("id"), col("__tot"), col("n"))
      .agg(
        max(struct(col("cnt"), col("gl"), col("gh"))).as("top"),
        sum(when(col("cnt") >= 2, col("cnt") * col("gl"))
          .otherwise(0L)).as("dupchars"))
    // coalesce the char count BEFORE the cap: least() skips nulls, so
    // least(null/tot, 1.0) would yield 1.0 for a width the doc is too
    // short to have, not 0.0
    def frac(chars: Column): Column =
      least(coalesce(chars, lit(0L)).cast(DoubleType) /
        col("__tot").cast(DoubleType), lit(1.0))
    val topCols = topNs.map(n => frac(
      max(when(col("n") === n, col("top.cnt") * col("top.gl"))))
      .as(s"top_${n}gram_frac"))
    val dupCols = dupNs.map(n => frac(
      max(when(col("n") === n, col("dupchars"))))
      .as(s"dup_${n}gram_frac"))
    val thresholds = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16,
      5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
    val keep = (topNs.map(n => col(s"top_${n}gram_frac") <= thresholds(n)) ++
      dupNs.map(n => col(s"dup_${n}gram_frac") <= thresholds(n))).reduce(_ && _)
    val perDoc = perN.groupBy(col("id"), col("__tot"))
      .agg(topCols.head, (topCols.tail ++ dupCols): _*)
      .withColumn("keep", keep)
      .drop("__tot")
    // a doc with no 2..10-grams at all (single token) has no count rows —
    // it re-enters with zero fractions and keep=true
    val allCols = topNs.map(n => s"top_${n}gram_frac") ++
      dupNs.map(n => s"dup_${n}gram_frac")
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select((col("id").as(idCol) +:
        allCols.map(c => coalesce(col(c), lit(0.0)).as(c))) :+
        coalesce(col("keep"), lit(true)).as("keep"): _*)
  }

  // ---------------------------------------------------------------- PII scrub
  /** Training-corpus PII scrubbing: redact emails and phone-shaped numbers,
    * reporting match counts. Patterns stay in the RE2-compatible subset so
    * the DuckDB oracle applies the identical regexes. Pure expressions. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
  def piiScrub(df: org.apache.spark.sql.DataFrame, textCol: String,
               out: String): org.apache.spark.sql.DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast(LongType))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast(LongType))
      .withColumn(out,
        regexp_replace(regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))

  /** Credit-card-shaped digit runs (13–19 digits, optional single space or
    * dash separators) — RE2-compatible, so DuckDB applies the identical
    * pattern. Candidates are then Luhn-validated; only valid numbers are
    * treated as PII. */
  val cardRe = "(?:[0-9][ -]?){12,18}[0-9]"

  /** Luhn checksum (ISO/IEC 7812) of a digit string, as a pure HOF fold:
    * from the rightmost digit, double every second one (−9 when >9), sum.
    * Valid numbers sum to ≡ 0 (mod 10). Identical integer arithmetic to
    * the DuckDB oracle's lambda. */
  def luhnSum(ds: Column): Column = {
    val n = length(ds)
    aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = ds.substr(n - i + lit(1), lit(1)).cast(IntegerType)
      acc + when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
  }

  /** Scrub Luhn-VALID card numbers (counting them), leaving Luhn-invalid
    * digit runs untouched — the checksum is what separates a card from an
    * order id, so a regex-only scrubber both over-redacts and under-counts.
    * Pure expressions: extract candidates, validate each with [[luhnSum]],
    * string-replace only the valid ones. No shuffle, codegen throughout. */
  def cardScrub(df: org.apache.spark.sql.DataFrame, textCol: String,
                out: String): org.apache.spark.sql.DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit(cardRe), lit(0))
    val valid = filter(cands, c =>
      luhnSum(regexp_replace(c, "[ -]", "")) % 10 === 0)
    df.withColumn("__valid", valid)
      .withColumn("n_cards", size(col("__valid")).cast(LongType))
      .withColumn(out,
        aggregate(col("__valid"), col(textCol),
          (acc, v) => replace(acc, v, lit("<CARD>"))))
      .drop("__valid")
  }

  // ---------------------------------------------------------------- C4 filters
  /** C4-style heuristic page cleaning (Raffel et al. 2020 §2.2, public):
    * keep only lines that end in terminal punctuation, have at least
    * `minWordsPerLine` words and do not mention javascript; flag pages that
    * contain a curly brace (code) or the "lorem ipsum" placeholder, or
    * retain fewer than `minLines` lines — those pages are dropped by the
    * corpus pass (`keep = false`). Returns the page with only its kept
    * lines (`clean`) plus the decision signals, so downstream stages can
    * audit why a page fell out. Pure expressions, no shuffle. */
  def c4Filter(df: DataFrame, textCol: String, minWordsPerLine: Int = 5,
               minLines: Int = 3): DataFrame = {
    // stage the split arrays: HOF lambdas get no codegen subexpression
    // elimination, so reusing the raw split() expression would re-split the
    // page once per consumer (see repetitionStats)
    val staged = df.withColumn("__lines", split(col(textCol), "\n"))
    val kept = filter(col("__lines"), l =>
      (length(trim(l)) > 0) &&
        l.rlike("[.!?\"]$") &&
        (size(split(trim(l), "\\s+")) >= minWordsPerLine) &&
        !lower(l).contains("javascript"))
    staged
      .withColumn("__kept", kept)
      .withColumn("clean", array_join(col("__kept"), "\n"))
      .withColumn("n_lines", size(col("__lines")).cast(LongType))
      .withColumn("n_kept", size(col("__kept")).cast(LongType))
      .withColumn("has_lorem", lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("has_brace", col(textCol).contains("{"))
      .withColumn("keep",
        !col("has_lorem") && !col("has_brace") && col("n_kept") >= minLines)
      .drop("__lines", "__kept")
  }

  // ---------------------------------------------------------------- tagging
  /** Social keyword tagger (ref: modules/social/app/tuktu/social/processors/
    * SocialProcessors.scala:30 TwitterTaggerProcessor keywords branch —
    * users/geos are platform-object fields, out of scope): tag each row with
    * the keywords its text matches. `exact` matches whole tokens
    * (arrays_overlap), otherwise substring; `caseSensitive` skips the lower
    * fold. Pure expressions — the keyword list compiles into the plan.
    * `excludeOnNone` mirrors the reference's drop-untagged flag. */
  final case class Keyword(keyword: String, caseSensitive: Boolean = false,
                           exact: Boolean = false)
  def keywordTagger(df: org.apache.spark.sql.DataFrame, textCol: String,
                    keywords: Seq[Keyword], result: String,
                    excludeOnNone: Boolean = false): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val matched = keywords.map { kw =>
      val (hay, needle) =
        if (kw.caseSensitive) (text, kw.keyword)
        else (lower(text), kw.keyword.toLowerCase)
      val hit = // exact = token-boundary match, so multi-word phrases work too
        if (kw.exact)
          hay.rlike("(^|\\s)" + java.util.regex.Pattern.quote(needle) + "(\\s|$)")
        else hay.contains(needle)
      when(hit, lit(kw.keyword))
    }
    val tagged = df.withColumn(result, filter(array(matched: _*), t => t.isNotNull))
    if (excludeOnNone) tagged.filter(size(col(result)) > 0) else tagged
  }

  // ------------------------------------------------------------- code/prose
  /** Code-vs-prose signals: the structural counts that separate source
    * code from natural language in a mixed crawl (brace/semicolon/operator
    * density, indented-line fraction) — the router in front of every
    * code-corpus pipeline. All exact integer counts over ONE codegen pass;
    * `is_code` = the standard density vote (≥ 2 of: symbol density ≥ 3%,
    * ≥ 20% indented lines, semicolon density ≥ 1%), an integer-only
    * threshold test that replays exactly. Returns (id, n_chars, n_sym,
    * n_semi, n_lines, n_indent, is_code). */
  def codeProse(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(re: String): Column =
      (length(t) - length(regexp_replace(t, re, ""))).cast(LongType)
    val nChars = length(t).cast(LongType)
    val nSym = cnt("[{}()\\[\\];=<>]")
    val nSemi = cnt(";")
    // lines + indented lines: count via newline removal / regex multiline
    val nLines = (cnt("\n") + 1).cast(LongType)
    val nIndent = size(filter(split(t, "\n"),
      l => l.startsWith("    ") || l.startsWith("\t"))).cast(LongType)
    val votes =
      when(nSym * 100 >= nChars * 3, 1).otherwise(0) +
        when(nIndent * 5 >= nLines, 1).otherwise(0) +
        when(nSemi * 100 >= nChars, 1).otherwise(0)
    df.select(col(idCol).as("id"), nChars.as("n_chars"), nSym.as("n_sym"),
      nSemi.as("n_semi"), nLines.as("n_lines"), nIndent.as("n_indent"),
      (votes >= 2).as("is_code"))
  }

  // ---------------------------------------------------------------- secrets
  /** High-entropy secret/token scan (the detect-secrets shape): candidate
    * runs of `minLen`+ base64-ish characters are scored by per-character
    * Shannon entropy; a candidate is a "secret" when its entropy reaches
    * `minEntropyQ4`/1e4 nats (API keys / tokens sit near ln 62 ≈ 4.13;
    * hex digests near ln 16 ≈ 2.77; repeated filler near 0). The leak
    * scan every corpus release needs, and one regex-only scrubbers can't
    * do — entropy separates keys from long identifiers.
    *
    * Determinism: the score is the all-integer
    * `q = ⌊1e4·L·ln L⌋ − Σ_d ⌊1e4·n_d·ln n_d⌋ = ~1e4·L·entropy` — each
    * term floors ONE double product (the ppl-query ln convention), the
    * sum is order-free integer, and the threshold test `q ≥ thr·L` is an
    * exact integer comparison. Returns (id, n_candidates, n_secrets,
    * max_ent_q4) with max_ent_q4 = ⌊max q/L⌋, −1 when no candidates.
    *
    * Scale shape: pure per-row codegen expressions — zero shuffle, zero
    * state; per-candidate work is O(len·distinct-chars) on ≤ ~100-char
    * tokens. */
  def secretScan(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, minLen: Int = 20,
                 minEntropyQ4: Long = 25000L): DataFrame = {
    // null text scans as "no candidates" (0 counts, −1 max), not as a
    // null row — the shape a downstream keep/drop filter expects
    val cands = coalesce(
      regexp_extract_all(col(textCol), lit(s"[A-Za-z0-9+/=_-]{$minLen,}"),
        lit(0)),
      array().cast("array<string>"))
    def scoreQ(t: Column): Column = {
      val chars = split(t, "")
      val L = length(t).cast(DoubleType)
      val sumTerms = aggregate(array_distinct(chars), lit(0L), (acc, d) => {
        val n = size(filter(chars, c => c === d)).cast(DoubleType)
        acc + floor(lit(1e4) * n * log(n)).cast(LongType)
      })
      floor(lit(1e4) * L * log(L)).cast(LongType) - sumTerms
    }
    val scored = transform(cands,
      t => struct(scoreQ(t).as("q"), length(t).cast(LongType).as("L")))
    df.select(col(idCol).as("id"), scored.as("__sc"))
      .select(col("id"),
        size(col("__sc")).cast(LongType).as("n_candidates"),
        size(filter(col("__sc"),
          x => x("q") >= lit(minEntropyQ4) * x("L"))).cast(LongType)
          .as("n_secrets"),
        coalesce(array_max(transform(col("__sc"),
          x => floor(x("q").cast(DoubleType) / x("L").cast(DoubleType))
            .cast(LongType))), lit(-1L)).as("max_ent_q4"))
  }

  // ---------------------------------------------------------------- fingerprint
  /** Polynomial rolling-hash document fingerprint over codepoints,
    * mod 2^31-1 — identical fold in the DuckDB oracle (list_reduce). */
  def fingerprint(c: Column): Column =
    // split-to-chars is linear; substr(i,1) per index would seek from the
    // string start each time (O(n²) per document)
    when(length(c) === 0, lit(0L)).otherwise(aggregate(
      transform(split(c, ""), ch => ascii(ch).cast(LongType)),
      lit(0L),
      (acc, ch) => (acc * 31 + ch) % 2147483647L))
}
