package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * NLP operators (SURVEY.md §2.11): Snowball/Porter stemming, rule-based POS
 * tagging, and RBEM sentiment — self-contained re-implementations of what the
 * reference delegates to external libraries
 * (modules/nlp/.../Snowball.scala:17 — org.tartarus SnowballStemmer;
 * POSTagging.scala:17 — nl.et4it.POSWrapper;
 * Sentiment.scala:20,79 — nl.et4it.RBEMPolarity/RBEMEmotion).
 *
 * These are dictionary/automaton-driven per-token algorithms with data-
 * dependent control flow — the one operator family where a Scala UDF is the
 * honest Spark shape (same judgement as the reference, which calls opaque
 * library code per datum). The UDFs are pure functions over the token array:
 * no I/O, no state, so they parallelize perfectly; they are simply not
 * codegen-fused. Everything around them (tokenization, aggregation) stays
 * expression-level.
 *
 * - Porter stemmer: the classic algorithm (Porter 1980), verified in specs
 *   against the published example vocabulary. The reference's Dutch variant
 *   falls back to Porter here, mirroring its own `case _ => porterStemmer`.
 * - POS tagger: closed-class lexicon + suffix heuristics + one contextual
 *   fixup, producing a Penn-style tag subset. The reference wraps an opaque
 *   per-language model; this is the deterministic, dependency-free baseline.
 * - RBEM: Rule-Based Emission Model (Tromp & Pechenizkiy 2011, public
 *   algorithm): positive/negative patterns emit, amplifiers/attenuators
 *   scale, left/right flips negate within a window, stops reset the clause.
 */
object Nlp {

  // ------------------------------------------------------------ Porter stemmer

  private def isVowelAt(w: String, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => true
    case 'y' => i > 0 && !isVowelAt(w, i - 1)
    case _ => false
  }

  /** m = number of VC sequences in the word. */
  private def measure(w: String): Int = {
    var m = 0; var i = 0; val n = w.length
    while (i < n && !isVowelAt(w, i)) i += 1 // skip initial C*
    while (i < n) {
      while (i < n && isVowelAt(w, i)) i += 1
      if (i < n) { m += 1; while (i < n && !isVowelAt(w, i)) i += 1 }
    }
    m
  }

  private def containsVowel(w: String): Boolean = w.indices.exists(isVowelAt(w, _))

  private def endsDoubleC(w: String): Boolean =
    w.length >= 2 && w.charAt(w.length - 1) == w.charAt(w.length - 2) &&
      !isVowelAt(w, w.length - 1)

  /** *o: stem ends cvc where the last c is not w, x or y. */
  private def endsCvc(w: String): Boolean =
    w.length >= 3 && !isVowelAt(w, w.length - 3) && isVowelAt(w, w.length - 2) &&
      !isVowelAt(w, w.length - 1) && !"wxy".contains(w.charAt(w.length - 1))

  /** First matching suffix wins (lists ordered longest-overlap first); if its
    * measure condition fails the step ends without trying shorter suffixes —
    * the algorithm's "longest matching suffix" contract. */
  private def replaceFirst(w: String, rules: Seq[(String, String)], minM: Int): String = {
    rules.collectFirst { case (suf, rep) if w.endsWith(suf) =>
      val stem = w.dropRight(suf.length)
      if (measure(stem) > minM) stem + rep else w
    }.getOrElse(w)
  }

  def porterStem(word: String): String = {
    if (word == null || word.length <= 2) return if (word == null) null else word.toLowerCase
    var w = word.toLowerCase
    // Step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ies")) w = w.dropRight(2)
    else if (w.endsWith("ss")) ()
    else if (w.endsWith("s")) w = w.dropRight(1)
    // Step 1b
    var extraCleanup = false
    if (w.endsWith("eed")) {
      if (measure(w.dropRight(3)) > 0) w = w.dropRight(1)
    } else if (w.endsWith("ed") && containsVowel(w.dropRight(2))) {
      w = w.dropRight(2); extraCleanup = true
    } else if (w.endsWith("ing") && containsVowel(w.dropRight(3))) {
      w = w.dropRight(3); extraCleanup = true
    }
    if (extraCleanup) {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w = w + "e"
      else if (endsDoubleC(w) && !"lsz".contains(w.charAt(w.length - 1))) w = w.dropRight(1)
      else if (measure(w) == 1 && endsCvc(w)) w = w + "e"
    }
    // Step 1c
    if (w.endsWith("y") && containsVowel(w.dropRight(1))) w = w.dropRight(1) + "i"
    // Step 2 (m > 0)
    w = replaceFirst(w, Seq(
      "ational" -> "ate", "tional" -> "tion", "enci" -> "ence", "anci" -> "ance",
      "izer" -> "ize", "abli" -> "able", "alli" -> "al", "entli" -> "ent",
      "eli" -> "e", "ousli" -> "ous", "ization" -> "ize", "ation" -> "ate",
      "ator" -> "ate", "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
      "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble",
      "logi" -> "log"), 0)
    // Step 3 (m > 0)
    w = replaceFirst(w, Seq(
      "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
      "ical" -> "ic", "ful" -> "", "ness" -> ""), 0)
    // Step 4 (m > 1); ion only after s/t
    val step4 = Seq("al", "ance", "ence", "er", "ic", "able", "ible", "ant",
      "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize")
      .sortBy(-_.length)
    step4.collectFirst { case suf if w.endsWith(suf) =>
      val stem = w.dropRight(suf.length)
      val ok = measure(stem) > 1 &&
        (suf != "ion" || stem.endsWith("s") || stem.endsWith("t"))
      if (ok) w = stem
    }
    // Step 5a
    if (w.endsWith("e")) {
      val stem = w.dropRight(1)
      val m = measure(stem)
      if (m > 1 || (m == 1 && !endsCvc(stem))) w = stem
    }
    // Step 5b
    if (measure(w) > 1 && w.endsWith("ll")) w = w.dropRight(1)
    w
  }

  // ------------------------------------------------------------ POS tagging

  private val lexicon: Map[String, String] = Map(
    // determiners / articles
    "the" -> "DT", "a" -> "DT", "an" -> "DT", "this" -> "DT", "that" -> "DT",
    "these" -> "DT", "those" -> "DT", "some" -> "DT", "any" -> "DT", "no" -> "DT",
    "each" -> "DT", "every" -> "DT",
    // pronouns
    "i" -> "PRP", "you" -> "PRP", "he" -> "PRP", "she" -> "PRP", "it" -> "PRP",
    "we" -> "PRP", "they" -> "PRP", "me" -> "PRP", "him" -> "PRP", "her" -> "PRP$",
    "us" -> "PRP", "them" -> "PRP",
    "my" -> "PRP$", "your" -> "PRP$", "his" -> "PRP$", "its" -> "PRP$",
    "our" -> "PRP$", "their" -> "PRP$",
    // prepositions / particles
    "in" -> "IN", "on" -> "IN", "at" -> "IN", "by" -> "IN", "for" -> "IN",
    "with" -> "IN", "from" -> "IN", "of" -> "IN", "over" -> "IN", "under" -> "IN",
    "into" -> "IN", "through" -> "IN", "about" -> "IN", "as" -> "IN",
    "to" -> "TO",
    // conjunctions
    "and" -> "CC", "or" -> "CC", "but" -> "CC", "nor" -> "CC",
    // modals
    "can" -> "MD", "could" -> "MD", "will" -> "MD", "would" -> "MD",
    "shall" -> "MD", "should" -> "MD", "may" -> "MD", "might" -> "MD", "must" -> "MD",
    // be / have / do
    "is" -> "VBZ", "are" -> "VBP", "am" -> "VBP", "was" -> "VBD", "were" -> "VBD",
    "be" -> "VB", "been" -> "VBN", "being" -> "VBG",
    "has" -> "VBZ", "have" -> "VBP", "had" -> "VBD",
    "does" -> "VBZ", "do" -> "VBP", "did" -> "VBD",
    // adverbs / negation
    "not" -> "RB", "never" -> "RB", "very" -> "RB", "really" -> "RB",
    "quite" -> "RB", "too" -> "RB", "so" -> "RB", "just" -> "RB",
    "here" -> "RB", "there" -> "RB", "now" -> "RB", "then" -> "RB",
    // wh-words
    "what" -> "WP", "who" -> "WP", "whom" -> "WP", "which" -> "WDT",
    "when" -> "WRB", "where" -> "WRB", "why" -> "WRB", "how" -> "WRB",
    // frequent adjectives the suffix rules cannot reach
    "good" -> "JJ", "bad" -> "JJ", "big" -> "JJ", "small" -> "JJ", "new" -> "JJ",
    "old" -> "JJ", "high" -> "JJ", "low" -> "JJ", "great" -> "JJ", "quick" -> "JJ",
    "lazy" -> "JJ", "brown" -> "JJ", "happy" -> "JJ", "sad" -> "JJ", "free" -> "JJ",
    "first" -> "JJ", "last" -> "JJ", "other" -> "JJ", "own" -> "JJ", "same" -> "JJ")

  private val nounsSuffixes = Seq("ness", "ment", "tion", "sion", "ship", "ance", "ence", "ity", "ism")
  private val adjSuffixes = Seq("ous", "ful", "able", "ible", "ive", "ish", "less", "ic")

  /** Tag one token given the previous token's tag. */
  private def tagOne(raw: String, prevTag: String, first: Boolean): String = {
    val word = raw.toLowerCase
    if (word.isEmpty) "SYM"
    else if (lexicon.contains(word)) lexicon(word)
    else if (word.forall(c => c.isDigit || c == '.' || c == ',') && word.exists(_.isDigit)) "CD"
    else if (!first && raw.headOption.exists(_.isUpper)) "NNP"
    else if (word.endsWith("ly")) "RB"
    else if (word.endsWith("ing") && word.length > 4) "VBG"
    else if (word.endsWith("ed") && word.length > 3) "VBD"
    else if (nounsSuffixes.exists(word.endsWith)) "NN"
    else if (adjSuffixes.exists(word.endsWith)) "JJ"
    else if (word.endsWith("est") && word.length > 4) "JJS"
    else if (word.endsWith("er") && word.length > 3) "JJR"
    else if (word.endsWith("s") && !word.endsWith("ss") && word.length > 2) {
      // plural noun vs 3rd-person verb: verb after a nominal/pronoun subject
      if (Set("NN", "NNS", "NNP", "PRP").contains(prevTag)) "VBZ" else "NNS"
    }
    else if (Set("MD", "TO").contains(prevTag)) "VB" // infinitive after modal/to
    else "NN"
  }

  def posTag(tokens: Seq[String]): Seq[String] = {
    var prev = ""
    tokens.zipWithIndex.map { case (t, i) =>
      val tag = tagOne(t, prev, i == 0)
      prev = tag
      tag
    }
  }

  // ------------------------------------------------------------ RBEM sentiment

  /** RBEM model: token groups + action window. Default English seed model;
    * callers supply their own lexicons for other languages, mirroring the
    * reference's per-language model files. */
  final case class RbemModel(
    positive: Set[String] = Set("good", "great", "excellent", "love", "loves",
      "loved", "like", "likes", "happy", "nice", "best", "awesome", "fantastic",
      "wonderful", "amazing", "perfect", "enjoy", "enjoyed"),
    negative: Set[String] = Set("bad", "terrible", "awful", "hate", "hates",
      "hated", "worst", "sad", "poor", "horrible", "disappointing", "boring",
      "broken", "wrong", "fail", "failed", "useless"),
    amplifiers: Set[String] = Set("very", "really", "extremely", "so", "totally",
      "absolutely", "incredibly"),
    attenuators: Set[String] = Set("slightly", "somewhat", "barely", "hardly",
      "marginally", "mildly"),
    rightFlips: Set[String] = Set("not", "never", "no", "cannot", "nobody", "nothing"),
    leftFlips: Set[String] = Set("though", "although"),
    stops: Set[String] = Set("but", "however", "yet"),
    window: Int = 4)

  val defaultModel: RbemModel = RbemModel()

  /** Emission-model polarity of a tagged token sequence. Rule order (each a
    * full pass, as in the published algorithm): emit → stop (reset the clause
    * left of the stop) → amplify/attenuate → flip. Negation ("n't" clitics
    * count) flips emissions inside the action window. Score is the sum of
    * surviving emissions; sign is the discretized polarity. */
  def rbemPolarity(tokens: Seq[String], tags: Seq[String],
                   model: RbemModel = defaultModel): Double = {
    val n = tokens.size
    val toks = tokens.map(t => t.toLowerCase.stripSuffix(".").stripSuffix(",").stripSuffix("!"))
    val e = Array.ofDim[Double](n)
    // 1. emitting patterns (adjectives/verbs/nouns all allowed to emit — the
    // tag stream gates only obvious non-content tags)
    for (i <- 0 until n)
      if (model.positive(toks(i))) e(i) = 1.0
      else if (model.negative(toks(i))) e(i) = -1.0
    // 2. stops reset everything to their left (clause boundary)
    for (i <- 0 until n; if model.stops(toks(i)); j <- 0 until i) e(j) = 0.0
    // 3. amplifiers / attenuators scale within the window to their right
    for (i <- 0 until n; if model.amplifiers(toks(i));
         j <- (i + 1) to math.min(n - 1, i + model.window)) e(j) *= 2.0
    for (i <- 0 until n; if model.attenuators(toks(i));
         j <- (i + 1) to math.min(n - 1, i + model.window)) e(j) *= 0.5
    // 4. flips negate within the window
    for (i <- 0 until n; if model.rightFlips(toks(i)) || toks(i).endsWith("n't");
         j <- (i + 1) to math.min(n - 1, i + model.window)) e(j) = -e(j)
    for (i <- 0 until n; if model.leftFlips(toks(i));
         j <- math.max(0, i - model.window) until i) e(j) = -e(j)
    e.sum
  }

  /** RBEM emotion scores (ref Sentiment.scala:79 RBEMEmotionProcessor):
    * one emission pass per emotion lexicon with the same modifier machinery. */
  private val emotionLexicons: Map[String, Set[String]] = Map(
    "happiness" -> Set("happy", "joy", "delighted", "glad", "cheerful", "love", "enjoy"),
    "sadness" -> Set("sad", "unhappy", "depressed", "miserable", "cry", "grief"),
    "anger" -> Set("angry", "furious", "mad", "outraged", "annoyed", "hate"),
    "fear" -> Set("afraid", "scared", "terrified", "fear", "anxious", "worried"))

  def rbemEmotion(tokens: Seq[String], tags: Seq[String],
                  discretize: Boolean = false): Map[String, Double] =
    emotionLexicons.map { case (emo, lex) =>
      val score = rbemPolarity(tokens, tags, defaultModel.copy(positive = lex, negative = Set.empty))
      emo -> (if (discretize) math.signum(score) else score)
    }

  // ------------------------------------------------------------ summarize

  /** Per-document token → tf·idf map (idf = ln(N/df)), the input contract of
    * [[summarize]] (the reference's SummarizeProcessor consumes a
    * pre-computed TF-IDF map field). Corpus size folds in as a broadcast
    * 1-row aggregate; document frequencies broadcast-join back. */
  def tfidfMap(df: DataFrame, idCol: String, tokensCol: String, out: String): DataFrame = {
    val total = df.agg(count(lit(1)).as("__n_docs"))
    val toks = df.select(col(idCol), explode(col(tokensCol)).as("__tok"))
    val docFreq = toks.distinct().groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val tf = toks.groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__tf"))
    val maps = tf.join(broadcast(docFreq), Seq("__tok"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("__tok"),
        (col("__tf") * log(col("__n_docs").cast("double") / col("__df"))).as("__s"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__tok"), col("__s")))).as(out))
    df.join(maps, Seq(idCol), "left")
  }

  /** SummarizeProcessor (ref Summarize.scala:14): split text into sentences,
    * score each by mean TF-IDF of its >2-char tokens damped by
    * base^-|len-optimal|, keep the top numLines (original order if
    * preserveOrder). Entirely expression-level — nested HOFs over one row,
    * no UDF, no shuffle. */
  def summarize(df: DataFrame, textCol: String, tfidfCol: String, out: String,
                numLines: Int = 3, optimalLength: Int = 11, base: Double = 1.1,
                preserveOrder: Boolean = true): DataFrame = {
    val sentences = filter(
      transform(split(col(textCol), "[.?!]"), l => trim(l)), l => length(l) > 0)
    val withToks = zip_with(sentences, sequence(lit(1), greatest(size(sentences), lit(1))),
      (l, i) => struct(i.as("idx"), l.as("line"),
        filter(split(l, "\\s+"), t => length(t) > 2).as("toks")))
    val scored = transform(withToks, s => {
      val toks = s.getField("toks")
      val raw = aggregate(toks, lit(0.0),
        (a, t) => a + coalesce(element_at(col(tfidfCol), t), lit(0.0)))
      val score = when(size(toks) === 0, lit(0.0)).otherwise(
        raw / size(toks).cast("double") *
          pow(lit(base), -abs(size(toks) - lit(optimalLength)).cast("double")))
      struct((-score).as("neg_score"), s.getField("idx").as("idx"),
        s.getField("line").as("line"))
    })
    val top = slice(array_sort(scored), 1, numLines)
    val picked =
      if (preserveOrder)
        array_sort(transform(top, s =>
          struct(s.getField("idx").as("idx"), s.getField("line").as("line"))))
      else transform(top, s =>
        struct(s.getField("idx").as("idx"), s.getField("line").as("line")))
    df.withColumn(out, array_join(transform(picked, _.getField("line")), ". "))
  }

  /** DocumentProcessor (ref DocumentProcessor.scala:14): merge a group of
    * lines into one document string in explicit order, dropping empties. */
  def assembleDocument(df: DataFrame, groupCols: Seq[String], field: String,
                       orderField: String, out: String, sep: String = " ",
                       removeEmpty: Boolean = true): DataFrame = {
    val base = if (removeEmpty) df.filter(col(field).isNotNull && length(col(field)) > 0) else df
    base.groupBy(groupCols.map(col): _*)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(orderField).as("o"), col(field).as("v")))),
        _.getField("v")), sep).as(out))
  }

  // ------------------------------------------------------------ Spark surface

  private val stemArrayUdf = udf((toks: Seq[String]) =>
    if (toks == null) null else toks.map(porterStem))
  private val stemWordUdf = udf((w: String) => porterStem(w))
  // UDF justified like Porter: a per-token string automaton (the published
  // Snowball Dutch algorithm) with no expression-level equivalent
  private val stemDutchArrayUdf = udf((toks: Seq[String]) =>
    if (toks == null) null else toks.map(SnowballDutch.stem))
  private val posUdf = udf((toks: Seq[String]) =>
    if (toks == null) null else posTag(toks))
  private val polarityUdf = udf((toks: Seq[String], tags: Seq[String]) =>
    rbemPolarity(if (toks == null) Nil else toks, if (tags == null) Nil else tags))
  private val emotionUdf = udf((toks: Seq[String], tags: Seq[String]) =>
    rbemEmotion(if (toks == null) Nil else toks, if (tags == null) Nil else tags))
  private val emotionDiscreteUdf = udf((toks: Seq[String], tags: Seq[String]) =>
    rbemEmotion(if (toks == null) Nil else toks, if (tags == null) Nil else tags,
      discretize = true))

  def stem(c: Column): Column = stemWordUdf(c)
  def stemAll(c: Column): Column = stemArrayUdf(c)
  def stemAllDutch(c: Column): Column = stemDutchArrayUdf(c)

  /** The reference's default tokenization (ref modules/nlp/.../models/
    * utils.scala:100): scrub line breaks, URLs, #hashtags and @mentions,
    * pad sentence punctuation into its own token, squeeze 4+ repeated
    * characters, split on spaces. Replicated as the same regexp chain in
    * the same order — pure expressions (the squeeze backreference is Java
    * regex, fine for Spark; not RE2-portable, so this op is spec-checked
    * rather than oracle-checked). */
  def defaultTokenize(c: Column): Column = {
    val clean = Seq(
      "[\\r|\\n|\\t]" -> " ",
      "(http:|ftp:|https:|www.)[^ ]+" -> " ",
      "(http:|ftp:|https:|www.).*" -> "",
      "#[0-9a-zA-z_]+" -> " ",
      "@[0-9a-zA-z_]+" -> " ",
      "([\\.|!|\\?|\"|¡|¿|,|:|;])" -> " $1 ",
      " +" -> " ",
      "(.)\\1{3,}" -> "$1"
    ).foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }
    filter(transform(split(clean, " "), trim(_)), t => length(t) > 0)
  }

  /** NgramProcessor (ref NgramProcessor.scala:14): n-grams over a token
    * array (each gram an array of n elements). Empty when fewer than n
    * tokens. */
  def ngrams(tokens: Column, n: Int): Column =
    // explicit empty guard: sequence(n, size) flips DESCENDING when
    // size < n and would fabricate grams
    when(size(tokens) < n,
      array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))))
      .otherwise(transform(sequence(lit(n), size(tokens)),
        i => slice(tokens, i - n + 1, lit(n))))

  /** SnowballProcessor (ref Snowball.scala:17): stem a token-array field. */
  def stemTokens(df: DataFrame, tokensCol: String, out: String): DataFrame =
    df.withColumn(out, stemArrayUdf(col(tokensCol)))

  /** POSTaggerProcessor (ref POSTagging.scala:17). */
  def posTags(df: DataFrame, tokensCol: String, out: String): DataFrame =
    df.withColumn(out, posUdf(col(tokensCol)))

  /** RBEMPolarityProcessor (ref Sentiment.scala:20); discretize ⇄ sign. */
  def polarity(df: DataFrame, tokensCol: String, tagsCol: String, out: String,
               discretize: Boolean = false): DataFrame = {
    val raw = polarityUdf(col(tokensCol), col(tagsCol))
    df.withColumn(out, if (discretize) signum(raw) else raw)
  }

  /** RBEMEmotionProcessor (ref Sentiment.scala:79); discretize ⇄ sign per
    * emotion. */
  def emotion(df: DataFrame, tokensCol: String, tagsCol: String, out: String,
              discretize: Boolean = false): DataFrame =
    df.withColumn(out,
      if (discretize) emotionDiscreteUdf(col(tokensCol), col(tagsCol))
      else emotionUdf(col(tokensCol), col(tagsCol)))

  // Fused stem+POS+polarity in ONE UDF invocation: the chained per-operator
  // UDFs each pay array serialization in and out of the JVM row format, and
  // the polarity pass re-reads both arrays — fusing cuts the UDF boundary
  // crossings from 5 array transfers to 1 (profiled ~2× on the bench corpus).
  // The individual operators above remain the reference-shaped surface.
  private val nlpPipelineUdf = udf((toks: Seq[String]) =>
    if (toks == null) null
    else {
      val tags = posTag(toks)
      (toks.map(porterStem).mkString(" "), tags.mkString(" "), rbemPolarity(toks, tags))
    })

  /** One-pass stem → POS → RBEM polarity; emits joined strings + polarity. */
  def nlpPipeline(df: DataFrame, tokensCol: String,
                  stemsOut: String, tagsOut: String, polarityOut: String): DataFrame = {
    val tmp = "__nlp_" + java.util.UUID.randomUUID.toString.take(8)
    df.withColumn(tmp, nlpPipelineUdf(col(tokensCol)))
      .withColumn(stemsOut, col(tmp)("_1"))
      .withColumn(tagsOut, col(tmp)("_2"))
      .withColumn(polarityOut, col(tmp)("_3"))
      .drop(tmp)
  }
}
