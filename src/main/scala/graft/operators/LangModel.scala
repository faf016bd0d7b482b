package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * N-gram language-model scoring for corpus quality filtering (the CCNet-style
 * perplexity pass: score each document under a language model trained on a
 * trusted corpus; outlier perplexity means boilerplate, gibberish, or wrong
 * language).
 *
 * The model is an add-one-smoothed bigram LM kept as DataFrames — counts are
 * plain aggregations, so training is two map-side-combined shuffles and the
 * model stays distributed (no driver-side table). Scoring joins each
 * document's bigram stream against the count tables.
 *
 * Scale shape: at 100 TB the reference pipelines prune the LM (top-M n-grams)
 * and broadcast it; here the count tables flow through AQE, which broadcasts
 * them automatically when they fit and shuffle-joins otherwise. Everything is
 * integer counts + one ln() per scored bigram — codegen'd expressions, no
 * UDFs, no driver loops.
 */
object LangModel {

  /** Bigram LM counts over a text column: (contexts, bigrams, vocab) where
    * contexts = (a, c_a) with c_a the number of bigrams whose left token is
    * `a`, bigrams = (a, b, c_ab), and vocab is a 1-row (vocab_size) frame —
    * kept as a DataFrame so scoring can fold it in as a broadcast instead of
    * an eager driver-side count. */
  def trainBigram(df: DataFrame, idCol: String,
                  textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val pairs = bigramPairs(df, idCol, textCol)
    val bigrams = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    // c_a = Σ_b c_ab by construction: derive contexts from the already-reduced
    // bigram table instead of a second corpus-wide explode + shuffle
    val contexts = bigrams.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val vocab = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("vocab_size"))
    (contexts, bigrams, vocab)
  }

  /** Per-document add-one-smoothed bigram log-probability under a trained LM:
    * sum over bigrams of ln((c_ab + 1) / (c_a + V)). Returns
    * (id, n_bigrams, logprob_q4) with the sum quantized per term as
    * floor(1e4 · term) — 0.1-millinat resolution. The quantization is a
    * determinism MITIGATION, not a guarantee: ln is not IEEE
    * correctly-rounded, so two engines can differ by an ulp, and a floor
    * boundary coincidence flips the quantized term. The coincidence window
    * is ~ulp(term)·1e4 ≈ 1e-11 per distinct (c_ab, c_a, V) triple — chosen
    * so the expected cross-engine divergence over a full corpus is ≪ 1.
    * Documents with fewer than two tokens score (0, 0). Unseen bigrams and
    * contexts smooth to c = 0 rather than dropping the term. */
  def scoreBigram(df: DataFrame, idCol: String, textCol: String,
                  contexts: DataFrame, bigrams: DataFrame,
                  vocab: DataFrame): DataFrame = {
    val pairs = bigramPairs(df, idCol, textCol)
    val withV = pairs.crossJoin(broadcast(vocab))
    val term = floor(lit(1e4) *
      (log(coalesce(col("c_ab"), lit(0L)) + lit(1L)) -
        log(coalesce(col("c_a"), lit(0L)) + col("vocab_size"))))
    val scored = withV
      .join(bigrams, Seq("a", "b"), "left")
      .join(contexts, Seq("a"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(term).as("logprob_q4"))
    // dataframe-qualified refs: idCol may itself be named "id"
    val base = df.select(col(idCol))
    base.join(scored, base(idCol) === scored("id"), "left")
      .select(base(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_q4"), lit(0L)).as("logprob_q4"))
  }

  /** Train on the corpus itself and score every document (the self-scoring
    * variant used for intra-corpus outlier filtering).
    *
    * r15 note: checkpointing ONE shared bigramPairs stream for train+score
    * was tried and is a measured LOSS (ppl_buckets warm 2.3 → 2.8 s at
    * sf0.1): the corpus-token-sized pairs materialization costs more than
    * re-running the cheap array-indexed pairs pass — the same verdict the
    * doc_embedding_pool token stream reached. Recompute stays.
    *
    * Also tried (r15): checkpointing the REDUCED bigram-type table inside
    * trainBigram/trainKneserNey so its 2-4 consumers stop replaying the
    * pairs pass. Measured loss too (same-harness 5-rep medians, sf0.1:
    * kn_bigram_score 3.14 → 3.34 s, lm_perplexity 2.21 → 2.66 s,
    * ppl_buckets_hist 2.33 → 2.60 s): this fixture's text is
    * high-entropy, so the "reduced" type table is nearly pair-stream-sized
    * and materializing it costs more than the replays it saves. On a
    * natural-language corpus (types ≪ tokens) the checkpoint is the right
    * call — callers scoring a 100 TB corpus against a trained LM should
    * persist the model tables themselves before fanning out. */
  def selfScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (contexts, bigrams, vocab) = trainBigram(df, idCol, textCol)
    scoreBigram(df, idCol, textCol, contexts, bigrams, vocab)
  }

  /** Interpolated Kneser–Ney bigram counts (Kneser & Ney 1995; Chen &
    * Goodman 1999's empirical study made it the standard n-gram
    * smoothing): alongside the raw (a, b, c_ab) table, KN needs the
    * type-diversity statistics — n_follow(a) = distinct continuations of
    * each context, n_prec(b) = distinct contexts preceding each word (the
    * continuation counts that make "Francisco" unlikely outside "San"),
    * and the distinct-bigram-type total. All three derive from the
    * already-reduced bigram table, so training stays two map-side-combined
    * shuffles + type-count aggregations over the TYPE table (≪ corpus) —
    * the model never touches the driver.
    *
    * Returns (bigrams (a, b, c_ab), contexts (a, c_a, n_follow),
    * cont (b, n_prec), totals 1-row (n_types, vocab_size)). */
  def trainKneserNey(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pairs = bigramPairs(df, idCol, textCol)
    val bigrams = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val contexts = bigrams.groupBy(col("a"))
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("n_follow"))
    val cont = bigrams.groupBy(col("b")).agg(count(lit(1)).as("n_prec"))
    val vocab = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("vocab_size"))
    val totals = bigrams.agg(count(lit(1)).as("n_types")).crossJoin(vocab)
    (bigrams, contexts, cont, totals)
  }

  /** Per-document interpolated Kneser–Ney bigram log-probability with
    * absolute discount `d`:
    *
    *   P(b|a) = max(c_ab − d, 0)/c_a + d·n_follow(a)/c_a · P_cont(b)
    *   P_cont(b) = (n_prec(b) + 1) / (n_types + V)
    *
    * with the continuation distribution add-one smoothed over the
    * distinct-bigram-type space so every word — including out-of-vocab —
    * keeps positive mass, and an UNSEEN CONTEXT backing off to P_cont(b)
    * entirely (the interpolation weight is undefined at c_a = 0). Each log
    * term is quantized floor(1e4·term) under the same ln-mitigation
    * contract as [[scoreBigram]]; everything else is single
    * correctly-rounded IEEE ops, replayable in the oracle.
    *
    * Scale shape mirrors [[scoreBigram]]: the scored corpus's bigram
    * stream left-joins the count tables (AQE broadcasts them when they
    * fit), totals ride as a broadcast 1-row frame, no UDFs, no driver
    * loops. Returns (id, n_bigrams, kn_logprob_q4); documents with fewer
    * than two tokens score (0, 0). */
  def scoreKneserNey(df: DataFrame, idCol: String, textCol: String,
                     bigrams: DataFrame, contexts: DataFrame,
                     cont: DataFrame, totals: DataFrame,
                     d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, s"absolute discount in (0, 1), got $d")
    val pairs = bigramPairs(df, idCol, textCol)
    val withT = pairs.crossJoin(broadcast(totals))
    val pc = (coalesce(col("n_prec"), lit(0L)).cast(DoubleType) + lit(1.0)) /
      (col("n_types").cast(DoubleType) + col("vocab_size").cast(DoubleType))
    val pSeen =
      greatest(coalesce(col("c_ab"), lit(0L)).cast(DoubleType) - lit(d), lit(0.0)) /
        col("c_a").cast(DoubleType) +
      lit(d) * col("n_follow").cast(DoubleType) / col("c_a").cast(DoubleType) * pc
    val term = floor(lit(1e4) *
      log(when(col("c_a").isNotNull, pSeen).otherwise(pc)))
    val scored = withT
      .join(bigrams, Seq("a", "b"), "left")
      .join(contexts, Seq("a"), "left")
      .join(cont, Seq("b"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(term).as("kn_logprob_q4"))
    val base = df.select(col(idCol))
    base.join(scored, base(idCol) === scored("id"), "left")
      .select(base(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_logprob_q4"), lit(0L)).as("kn_logprob_q4"))
  }

  /** DSIR's final selection step (Xie et al. 2023 §2.3): k documents
    * sampled without replacement with probability ∝ importance weight via
    * the Gumbel top-k trick — key = log w + Gumbel(0,1), keep the k
    * largest keys. The Gumbel draw is deterministic: u = md5-derived
    * uniform in (0,1) (h + 0.5)/2⁶⁰ over the salted doc id,
    * g = −ln(−ln u), quantized floor(1e4·g) (the ln mitigation shared
    * with [[scoreBigram]]) so key_q4 = logw_q4 + g_q4 is an exact integer
    * comparison. One TakeOrderedAndProject — no full sort, no shuffle
    * beyond it; re-runs are identical and changing `salt` redraws.
    * Input is [[dsirWeights]] output (or anything with idCol + logw_q4). */
  def dsirResample(weights: DataFrame, idCol: String, k: Int,
                   salt: String = "dsir"): DataFrame = {
    val h = TextAnalysis.tokenHash(
      concat(lit(salt + ":"), col(idCol).cast(StringType)))
    val u = (h.cast(DoubleType) + lit(0.5)) / lit(1152921504606846976.0)
    weights
      .withColumn("g_q4", floor(lit(1e4) * -log(-log(u))).cast(LongType))
      .withColumn("key_q4", col("logw_q4") + col("g_q4"))
      .orderBy(col("key_q4").desc, col(idCol).asc)
      .limit(k)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data" —
    * public): per language, split documents into head/middle/tail terciles
    * of language-model perplexity, the standard coarse quality tiering for
    * web corpora. Perplexity proxy = −logprob_q4 / n_bigrams over the
    * [[selfScore]] integer-quantized scores, so ordering is deterministic
    * cross-engine (one IEEE division of identical integers); docs with no
    * bigrams get bucket 0 / label "none" rather than riding a null through
    * engine-dependent null ordering.
    *
    * Scale shape: the only addition over scoring is one ntile window
    * partitioned BY LANGUAGE — each language's docs shuffle to its
    * partition, no global sort. Skew note: a 100 TB corpus is mostly one
    * language, so the window key is skewed by construction; for that
    * deployment swap ntile for the percentile-of-histogram variant (two
    * aggregations, no window) — at the reference's scale the window is the
    * simpler, equally-correct plan. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        langCol: String, buckets: Int = 3): DataFrame = {
    // 2 consumers: the non-empty and the empty branch
    val scored = selfScore(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .transform(Ops.materialize)
    val ppl = (-col("logprob_q4").cast(DoubleType)) / col("n_bigrams")
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("ppl").asc, col(idCol).asc)
    val nonEmpty = scored.filter(col("n_bigrams") > 0)
      .withColumn("ppl", ppl)
      .withColumn("ppl_bucket", ntile(buckets).over(w))
    val empty = scored.filter(col("n_bigrams") === 0)
      .withColumn("ppl", lit(null).cast(DoubleType))
      .withColumn("ppl_bucket", lit(0))
    nonEmpty.unionByName(empty)
      .withColumn("bucket_label",
        when(col("ppl_bucket") === 0, "none")
          .when(col("ppl_bucket") === 1, "head")
          .when(col("ppl_bucket") === buckets, "tail")
          .otherwise("middle"))
      .select(col(idCol), col(langCol), col("n_bigrams"), col("ppl"),
        col("ppl_bucket"), col("bucket_label"))
  }

  /** Percentile-of-histogram variant of [[perplexityBuckets]] — the shape
    * for the 100 TB deployment where one language dominates the corpus and
    * `ntile`'s per-language window would sort that language's entire slice
    * on one partition chain. Here no corpus-sized sort exists: documents
    * histogram into integer perplexity bins (`floor(ppl)` — ppl is already
    * 1e4-quantized nats/bigram, so bin count is bounded by the score range,
    * not the corpus), per-language cumulative counts over the BIN table
    * yield the tercile thresholds t_q = min bin with cum ≥ ceil(q·N/k), and
    * each doc's bucket is 1 + |{q : bin > t_q}| via a language-count-sized
    * broadcast join. Corpus-wide work = one groupBy(lang, bin) aggregation
    * plus the scoring pass itself.
    *
    * Semantics vs the ntile variant: all docs in the same (lang, bin) get
    * the SAME bucket — boundary bins are not split by doc id — so bucket
    * populations are balanced only up to bin granularity. That is the
    * documented CCNet behavior (Wenzek et al. 2020 compute head/middle/tail
    * cutoffs from a perplexity histogram, then assign by threshold). */
  def perplexityBucketsHist(df: DataFrame, idCol: String, textCol: String,
                            langCol: String, buckets: Int = 3): DataFrame = {
    // 4 consumers: hist, tot, assignment join, empty branch
    val scored = selfScore(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .transform(Ops.materialize)
    val ppl = (-col("logprob_q4").cast(DoubleType)) / col("n_bigrams")
    val nonEmpty = scored.filter(col("n_bigrams") > 0)
      .withColumn("ppl", ppl)
      .withColumn("__bin", floor(col("ppl")).cast(LongType))
    val hist = nonEmpty.groupBy(col(langCol), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    // cum runs over the BIN table (≤ score-range rows per language), so the
    // skewed-language concern the ntile variant has does not apply
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.partitionBy(col(langCol)).orderBy(col("__bin"))))
    // rename before the self-derived joins: cum/tot/nonEmpty share lineage,
    // so a raw langCol <=> langCol condition would resolve trivially true
    val tot = nonEmpty.groupBy(col(langCol)).agg(count(lit(1)).as("__n"))
      .withColumnRenamed(langCol, "__tlang")
    // ceil(q·N/k) in exact integer arithmetic: (q·N + k − 1) div k
    val thrAggs = (1 until buckets).map { q =>
      min(when(col("__cum") >= expr(s"(${q}L * __n + ${buckets - 1}) div $buckets"),
        col("__bin"))).as(s"__t$q")
    }
    val thr = cum.join(tot, col(langCol) <=> col("__tlang"))
      .groupBy(col(langCol)).agg(thrAggs.head, thrAggs.tail: _*)
      .withColumnRenamed(langCol, "__lang")
    val bucketCol = (1 until buckets).foldLeft(lit(1)) { (acc, q) =>
      acc + when(col("__bin") > col(s"__t$q"), 1).otherwise(0)
    }
    val binned = nonEmpty.join(broadcast(thr), col(langCol) <=> col("__lang"))
      .withColumn("ppl_bucket", bucketCol)
      .drop((1 until buckets).map(q => s"__t$q") :+ "__lang": _*)
    val empty = scored.filter(col("n_bigrams") === 0)
      .withColumn("ppl", lit(null).cast(DoubleType))
      .withColumn("__bin", lit(null).cast(LongType))
      .withColumn("ppl_bucket", lit(0))
    binned.unionByName(empty)
      .withColumn("bucket_label",
        when(col("ppl_bucket") === 0, "none")
          .when(col("ppl_bucket") === 1, "head")
          .when(col("ppl_bucket") === buckets, "tail")
          .otherwise("middle"))
      .select(col(idCol), col(langCol), col("n_bigrams"), col("ppl"),
        col("ppl_bucket"), col("bucket_label"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 — public):
    * select pretraining data that "looks like" a trusted target set by
    * importance weighting in a hashed n-gram feature space. Word unigram and
    * bigram hashes (the md5/rolling-131 scheme shared with Dedup) fold into
    * `buckets` buckets; target and source bucket distributions are add-one
    * smoothed; each source document scores
    * log w(x) = Σ_grams [ln p_tgt(b) − ln p_cur(b)], each term quantized as
    * floor(1e4·term) (same cross-engine-ln mitigation as [[scoreBigram]]).
    * Returns (id, n_grams, logw_q4); the paper's final Gumbel resampling
    * ∝ w is a caller-side orderBy/sample on the weight.
    *
    * Scale shape: both bucket tables are ≤ `buckets` rows — broadcast
    * joins, totals as broadcast one-row frames; the only corpus-wide
    * shuffle is the per-document sum. */
  def dsirWeights(source: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 10000): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val withTh = df.select(col(idCol).as("id"),
        Dedup.tokenHashes(col(textCol)).as("__th"))
      // sequence(1, k) descends for k<1 — guard single-token docs
      val bi = when(size(col("__th")) < 2, array().cast(ArrayType(LongType)))
        .otherwise(transform(sequence(lit(1), size(col("__th")) - 1), i =>
          (element_at(col("__th"), i) * 131 + element_at(col("__th"), i + 1)) % Dedup.P))
      withTh.select(col("id"), explode(concat(col("__th"), bi)).as("h"))
        .select(col("id"), (col("h") % buckets).as("bucket"))
    }
    val srcG = grams(source)
    val tgtG = grams(target)
    // 2 consumers each (histogram and total); <= `buckets` rows at any scale
    val cT = tgtG.groupBy(col("bucket")).agg(count(lit(1)).as("c_t"))
      .transform(Ops.materialize)
    val cS = srcG.groupBy(col("bucket")).agg(count(lit(1)).as("c_s"))
      .transform(Ops.materialize)
    val totT = cT.agg(coalesce(sum(col("c_t")), lit(0L)).as("tot_t"))
    val totS = cS.agg(coalesce(sum(col("c_s")), lit(0L)).as("tot_s"))
    val term = floor(lit(1e4) *
      (log(coalesce(col("c_t"), lit(0L)) + lit(1L)) -
        log(col("tot_t") + lit(buckets.toLong)) -
        log(coalesce(col("c_s"), lit(0L)) + lit(1L)) +
        log(col("tot_s") + lit(buckets.toLong))))
    val scored = srcG
      .join(broadcast(cT), Seq("bucket"), "left")
      .join(broadcast(cS), Seq("bucket"), "left")
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totS))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), sum(term).as("logw_q4"))
    val base = source.select(col(idCol))
    base.join(scored, base(idCol) === scored("id"), "left")
      .select(base(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("logw_q4"), lit(0L)).as("logw_q4"))
  }

  /** Pairwise Jensen–Shannon divergence between the groups' unigram token
    * distributions — the exact distributional drift metric beside
    * [[graft.operators.Sketch.kmvPairwiseOverlap]]'s set-overlap estimate
    * (sources can share vocabulary yet use it with very different
    * frequencies; JS sees that, set overlap can't). 0 = identical usage,
    * ln 2 = disjoint support.
    *
    * Shape: one token-count aggregation (map-side combined, result is
    * vocabulary-sized per group), then ONE inner join on the token across
    * group pairs — only SHARED tokens join, because the one-sided terms of
    * JS collapse analytically: a token only in P contributes
    * ½·p·ln 2, so the one-sided mass is ½·ln 2·(2 − Σ_shared p − Σ_shared q)
    * and never needs the anti-join sides. Per-token fan-out is bounded by
    * the group count, the corpus itself is touched once.
    *
    * Determinism: p = c/n are single IEEE divisions; each shared-token log
    * term is floor-quantized at 1e4 (the [[scoreBigram]] ln mitigation) and
    * the probability masses integerize at 1e9 before summing, so every
    * aggregate is an integer sum — order-free — and `js_est` derives from
    * those integers with fixed literals. Pairs sharing NO token are absent
    * from the output (their JS is exactly ln 2).
    *
    * Returns (groupCol_a, groupCol_b, n_shared, shared_q4, pa_q9, qb_q9,
    * js_est). */
  def jsDivergencePairwise(df: DataFrame, groupCol: String,
                           textCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("__g"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("__g")).agg(sum(col("c")).as("n"))
    val probs = counts.join(totals, Seq("__g"))
      .select(col("__g"), col("tok"),
        (col("c").cast(DoubleType) / col("n").cast(DoubleType)).as("p"))
    val sh = probs.select(col("__g").as(s"${groupCol}_a"), col("tok"), col("p"))
      .join(probs.select(col("__g").as(s"${groupCol}_b"), col("tok"),
        col("p").as("q")), Seq("tok"))
      .filter(col(s"${groupCol}_a") < col(s"${groupCol}_b"))
    val m = col("p") + col("q")
    val term = floor(lit(1e4) *
      (col("p") * log(lit(2.0) * col("p") / m) +
       col("q") * log(lit(2.0) * col("q") / m)))
    sh.groupBy(col(s"${groupCol}_a"), col(s"${groupCol}_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(term).as("shared_q4"),
        sum(floor(lit(1e9) * col("p"))).as("pa_q9"),
        sum(floor(lit(1e9) * col("q"))).as("qb_q9"))
      .withColumn("js_est",
        lit(0.5) * (col("shared_q4").cast(DoubleType) / lit(1e4)) +
          lit(0.5) * lit(0.6931471805599453) *
            ((lit(1.0) - col("pa_q9").cast(DoubleType) / lit(1e9)) +
             (lit(1.0) - col("qb_q9").cast(DoubleType) / lit(1e9))))
  }

  /** Adjacent-token pairs per document, derived directly from the token
    * array (r15, guide §2.4): the old posexplode → Window(id, pos) → lead
    * form paid a corpus-sized sort (and, un-fanned, an exchange) PER CALL —
    * and [[selfScore]] calls this twice. Every consumer aggregates the
    * pairs order-free (groupBy counts / per-id sums), so the same multiset
    * built by indexed array access is plan-equivalent with zero windows:
    * one explode, all codegen.
    *
    * Equivalence dependency (r15 advice): the old posexplode form carried a
    * `b.isNotNull` filter that this form drops. That is safe ONLY because
    * [[TextAnalysis.tokens]] (whitespace split) can never yield null array
    * elements — if tokens() ever changes to emit nulls, this form keeps
    * null-containing pairs the old form dropped; re-add
    * `a.isNotNull && b.isNotNull` then. */
  private def bigramPairs(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      // sequence(1, n-1) is DESCENDING for n < 2 — guard like kmv_distinct
      .filter(size(col("__toks")) >= 2)
      .select(col("id"),
        explode(transform(sequence(lit(1), size(col("__toks")) - 1), i =>
          struct(element_at(col("__toks"), i).as("a"),
            element_at(col("__toks"), i + 1).as("b")))).as("__p"))
      .select(col("id"), col("__p.a").as("a"), col("__p.b").as("b"))
  }
}
