package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Distributed byte-pair-encoding tokenizer training and encoding
 * (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
 * Words with Subword Units" — the public BPE algorithm every modern LLM
 * tokenizer descends from). The reference engine stops at regex token
 * *counting*; a training-data pipeline at 100 TB also needs to LEARN the
 * tokenizer from the corpus, so this is a first-class extension.
 *
 * Algorithm: words (lowercase `[a-z]+` runs) collapse to a frequency
 * table; each word starts as its character symbols plus an end-of-word
 * marker `</w>`. Per merge step: count adjacent symbol pairs weighted by
 * word frequency, take the most frequent pair (ties broken by symbol
 * order), and fuse every occurrence. The learned model is the ordered
 * merge list; encoding replays the merges in order.
 *
 * Spark shape — this is where the 100 TB design lives:
 *  - The corpus is touched ONCE (tokenize → word-count shuffle). All K
 *    training iterations run over the *vocabulary* table (distinct words
 *    + freq), which is ~√corpus-sized and materialized; per-iteration cost is
 *    one vocab scan + one pair-count partial-aggregate whose distinct-key
 *    space is symbol-pair-sized (tiny), so map-side combine collapses it.
 *  - Only the argmax pair (one row) ever reaches the driver per step —
 *    the model is driver-sized like every other trained model here.
 *  - Encoding never re-derives per-occurrence state: each DISTINCT word
 *    is encoded once on the vocab table, then broadcast-joined back to
 *    per-document word counts, so 100 TB of text costs one tokenize pass
 *    plus a broadcast lookup, not per-row merge replay.
 *
 * Merge application uses a delimiter encoding replayable in the DuckDB
 * oracle: symbols joined with a DOUBLED U+0001 separator and single
 * U+0001 at the edges. A pair (a, b) fuses via plain left-to-right
 * replace of "\u0001a\u0001\u0001b\u0001" with "\u0001ab\u0001" — the
 * shared boundary byte keeps adjacent matches independent, so one
 * non-overlapping replace pass IS the canonical left-to-right greedy
 * merge (verified by spec against hand-merged sequences, including the
 * alternating "a b a b" and repeated "a a a" cases).
 */
object Bpe {

  /** Delimiter byte — cannot appear in `[a-z]+` / `</w>` symbols. */
  val D = "\u0001"

  val EOW = "</w>"

  /** One learned merge rule. */
  final case class Merge(step: Int, lft: String, rgt: String, merged: String,
                         cnt: Long)

  /** Lowercase alphabetic word stream (the paper's pre-tokenization,
    * simplified to the oracle-replayable subset). */
  def words(text: Column): Column =
    filter(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)),
      w => length(w) > 0)

  /** Word frequency table over a corpus: one shuffle, map-side combined. */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Initial delimiter encoding of a word: chars + `</w>`, doubled-D
    * joined, single-D edges. Spark `split(w, "")` keeps a trailing empty
    * string (Java split semantics) — filtered so the oracle's
    * `string_split(w, '')` matches exactly. */
  def initRep(w: Column): Column =
    concat(lit(D),
      array_join(concat(filter(split(w, ""), s => s =!= ""),
        array(lit(EOW))), D + D),
      lit(D))

  /** Fuse pair (lft, rgt) everywhere in a delimiter-encoded rep. */
  def applyMerge(rep: Column, lft: String, rgt: String): Column =
    call_function("replace", rep,
      lit(D + lft + D + D + rgt + D), lit(D + lft + rgt + D))

  /** Symbols of a delimiter-encoded rep. */
  def symbols(rep: Column): Column =
    split(trim(rep, D), java.util.regex.Pattern.quote(D + D))

  /** Adjacent symbol pairs of the current reps, weighted by word freq:
    * (lft, rgt, cnt). The HOF runs over the vocab table only. */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = symbols(col("rep"))
    vocab.select(col("freq"), explode(
      when(size(syms) < 2, array().cast(ArrayType(StructType(Seq(
        StructField("lft", StringType), StructField("rgt", StringType))))))
        .otherwise(transform(sequence(lit(1), size(syms) - 1), i =>
          struct(element_at(syms, i).as("lft"),
            element_at(syms, i + 1).as("rgt"))))).as("p"))
      .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Learn `numMerges` merge rules from a corpus. Returns the rules in
    * order plus the final vocab table (w, rep, freq) for encoding.
    *
    * Lineage discipline: each step stacks one `replace` on the vocab plan,
    * so without truncation step i would replay all i-1 prior merges from
    * the materialized base (O(K²) total work) and Catalyst analysis depth
    * would grow linearly — fatal at realistic tokenizer sizes (tens of
    * thousands of merges). The vocab is therefore materialized every
    * `MaterializeEvery` merges, bounding both replay and plan depth to one
    * window; the practical merge-count ceiling is then driver memory for
    * the merge list, not Catalyst. */
  def train(df: DataFrame, textCol: String, numMerges: Int): (Seq[Merge], DataFrame) =
    trainFromBase(wordFreqs(df, textCol)
      .select(col("w"), initRep(col("w")).as("rep"), col("freq")),
      numMerges)

  /** Merge steps between vocab materializations in the training loop. */
  private val MaterializeEvery = 32

  /** Shared training loop over a prepared (w, rep, freq) vocabulary base —
    * the word-level and byte-level pretokenizations differ only in how
    * that base is built. */
  private def trainFromBase(vocabBase: DataFrame,
                            numMerges: Int): (Seq[Merge], DataFrame) = {
    var vocab = Ops.materialize(vocabBase) // read by every merge step
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var continue = true
    while (step <= numMerges && continue) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else {
        val r = top(0)
        val (l, g, c) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += Merge(step, l, g, l + g, c)
        vocab = vocab.select(col("w"),
          applyMerge(col("rep"), l, g).as("rep"), col("freq"))
        if (step % MaterializeEvery == 0) vocab = Ops.materialize(vocab) // loop depth
        step += 1
      }
    }
    // the final reps (vocab-sized) feed the caller's encode
    (merges.result(), Ops.materialize(vocab))
  }

  /** Encode: token count per document under the learned merges. Each
    * distinct word is encoded once (fold of K replaces on the vocab
    * table), then broadcast-joined to per-document word counts. Words
    * absent from the vocab (encoding fresh text with a trained model)
    * fall back to their unmerged symbol count. */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
                   merges: Seq[Merge]): DataFrame = {
    val docWords = df.select(col(idCol).as("id"),
      explode(words(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
    val enc = docWords.select(col("w")).distinct()
      .withColumn("rep", merges.foldLeft(initRep(col("w"))) {
        (r, m) => applyMerge(r, m.lft, m.rgt)
      })
      .select(col("w"), size(symbols(col("rep"))).cast(LongType).as("n_syms"))
    docWords.join(broadcast(enc), Seq("w"))
      .groupBy(col("id"))
      .agg(sum(col("c") * col("n_syms")).as("n_bpe_tokens"),
        sum(col("c")).as("n_words"))
      .select(col("id").as(idCol), col("n_bpe_tokens"), col("n_words"))
  }

  /** Persist the learned merge table (the tokenizer artifact a training
    * run ships): ordered parquet of (step, lft, rgt, merged, cnt). */
  def saveMerges(spark: SparkSession, merges: Seq[Merge], path: String): Unit = {
    import spark.implicits._
    merges.toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge table saved by [[saveMerges]], in application order. */
  def loadMerges(spark: SparkSession, path: String): Seq[Merge] = {
    import spark.implicits._
    graft.sources.Sources.load(spark, "parquet", Map.empty, path)
      .as[Merge].collect().toSeq.sortBy(_.step)
  }

  /** Encode against a trained vocab table (w, rep, freq) — the final reps
    * [[train]] already computed — so nothing refolds the merges; words
    * missing from the vocab (fresh text) fall back to their unmerged
    * symbol count via the merge fold. */
  def encodeCountsFromVocab(df: DataFrame, idCol: String, textCol: String,
                            vocab: DataFrame,
                            merges: Seq[Merge]): DataFrame = {
    val docWords = df.select(col(idCol).as("id"),
      explode(words(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
    val known = vocab.select(col("w"),
      size(symbols(col("rep"))).cast(LongType).as("n_syms"))
    val fresh = docWords.select(col("w")).distinct()
      .join(known.select(col("w")), Seq("w"), "left_anti")
      .withColumn("rep", merges.foldLeft(initRep(col("w"))) {
        (r, m) => applyMerge(r, m.lft, m.rgt)
      })
      .select(col("w"), size(symbols(col("rep"))).cast(LongType).as("n_syms"))
    docWords.join(broadcast(known.unionByName(fresh)), Seq("w"))
      .groupBy(col("id"))
      .agg(sum(col("c") * col("n_syms")).as("n_bpe_tokens"),
        sum(col("c")).as("n_words"))
      .select(col("id").as(idCol), col("n_bpe_tokens"), col("n_words"))
  }

  /** Tokenize one text column into BPE tokens (array<string>) with the
    * learned merges — the per-row form for downstream operators; the
    * scale path for counting is `encodeCounts`. */
  def encodeTokens(text: Column, merges: Seq[Merge]): Column = {
    val toks = transform(words(text), w =>
      symbols(merges.foldLeft(initRep(w)) { (r, m) =>
        call_function("replace", r,
          lit(D + m.lft + D + D + m.rgt + D), lit(D + m.lft + m.rgt + D))
      }))
    flatten(toks)
  }

  // ------------------------------------------------------ byte-level BPE
  // GPT-2-style byte-level pretokenization (Radford et al. 2019, public
  // gpt-2 reference code): the regex splits text into pretokens that KEEP
  // their leading space, and every pretoken is mapped byte-for-byte
  // through a 256-entry bijection onto printable unicode (space ->
  // U+0120 'Ġ' is the famous one), so the BPE alphabet is exactly 256
  // symbols, any UTF-8 input is representable, and there is no
  // end-of-word marker — word boundaries live IN the tokens.

  /** GPT-2 bytes_to_unicode bijection: bytes in [33,126] ∪ [161,172] ∪
    * [174,255] map to their own code point; the 68 remaining bytes map to
    * 256+n in byte order (so byte 32, space, lands on 256+32 = U+0120). */
  val byteToUnicode: Array[Char] = {
    val direct = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val m = new Array[Char](256)
    var n = 0
    for (b <- 0 until 256) {
      if (direct(b)) m(b) = b.toChar
      else { m(b) = (256 + n).toChar; n += 1 }
    }
    m
  }

  /** Byte-encode arbitrary UTF-8 text, expression-only: reinterpret the
    * UTF-8 bytes as Latin-1 (one char per byte, bijective) and translate
    * each byte-char through [[byteToUnicode]] — a single codegen'd
    * `translate`, no UDF, no per-byte explode. */
  def byteEncode(text: Column): Column =
    translate(decode(encode(text, "UTF-8"), "ISO-8859-1"),
      (0 until 256).map(_.toChar).mkString,
      new String(byteToUnicode))

  /** GPT-2-style pretokenization pattern, restricted to RE2-compatible
    * syntax so the DuckDB oracle runs the identical regex: the reference
    * pattern's `\s+(?!\S)` branch needs lookahead (RE2 has none), so
    * whitespace runs stay whole here instead of donating their last space
    * to the next token — a documented, deterministic divergence. */
  val bytePretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Byte-encoded pretoken stream of a text column. */
  def bytePretokens(text: Column): Column =
    transform(regexp_extract_all(text, lit(bytePretokenPattern), lit(0)),
      t => byteEncode(t))

  /** Initial delimiter encoding of a byte-encoded pretoken: its chars,
    * doubled-D joined, single-D edges — no `</w>` marker (byte-level BPE
    * carries boundaries inside the tokens). */
  def initRepBytes(tok: Column): Column =
    concat(lit(D),
      array_join(filter(split(tok, ""), s => s =!= ""), D + D),
      lit(D))

  /** Byte-level pretoken frequency table: one shuffle, map-side combined. */
  def bytePretokenFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(bytePretokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Learn `numMerges` byte-level merge rules — same loop, same scale
    * shape as [[train]]: all iterations run over the materialized pretoken
    * vocabulary, one argmax row per step reaches the driver. */
  def trainBytes(df: DataFrame, textCol: String, numMerges: Int): (Seq[Merge], DataFrame) =
    trainFromBase(bytePretokenFreqs(df, textCol)
      .select(col("w"), initRepBytes(col("w")).as("rep"), col("freq")),
      numMerges)

  /** Byte-level encode against a trained vocab table: distinct pretokens
    * ride the broadcast vocab (fresh ones fold the merges), per-document
    * counts stay one doc-keyed shuffle — [[encodeCountsFromVocab]] with
    * the byte pretokenization. */
  def encodeCountsFromVocabBytes(df: DataFrame, idCol: String, textCol: String,
                                 vocab: DataFrame,
                                 merges: Seq[Merge]): DataFrame = {
    val docToks = df.select(col(idCol).as("id"),
      explode(bytePretokens(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
    val known = vocab.select(col("w"),
      size(symbols(col("rep"))).cast(LongType).as("n_syms"))
    val fresh = docToks.select(col("w")).distinct()
      .join(known.select(col("w")), Seq("w"), "left_anti")
      .withColumn("rep", merges.foldLeft(initRepBytes(col("w"))) {
        (r, m) => applyMerge(r, m.lft, m.rgt)
      })
      .select(col("w"), size(symbols(col("rep"))).cast(LongType).as("n_syms"))
    docToks.join(broadcast(known.unionByName(fresh)), Seq("w"))
      .groupBy(col("id"))
      .agg(sum(col("c") * col("n_syms")).as("n_bpe_tokens"),
        sum(col("c")).as("n_pretokens"))
      .select(col("id").as(idCol), col("n_bpe_tokens"), col("n_pretokens"))
  }
}
