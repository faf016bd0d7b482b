package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Unigram-LM subword segmentation (the SentencePiece inference shape,
 * Kudo 2018): a (piece, score) vocabulary rides as DATA and every word is
 * segmented by Viterbi — the maximum-log-likelihood split under the
 * unigram model. [[Bpe]] covers the merge-list tokenizer family; this is
 * the other family production tokenizers come from.
 *
 * Everything is deterministic and SQL-replayable: piece scores are
 * quantized log-probs `⌊1e4·(ln f − ln F)⌋` (the ppl-query ln
 * convention — one floored double per piece, integer sums after), and
 * Viterbi ties break by (score, fewer pieces, smaller split point), a
 * total order.
 *
 * Scale shape (the bpe_train lesson): every stage after the one corpus
 * scan runs on the DISTINCT-WORD table, which grows sublinearly in corpus
 * size — candidate explode is O(len·maxPieceLen) per distinct word, the
 * vocab join is piece-keyed, and the Viterbi DP is a pure per-row HOF
 * fold over the word's own edge list (no shuffle, no state). Segmenting
 * 100 TB costs one token-count scan plus vocabulary-sized work.
 */
object Unigram {

  /** Distinct [a-z]+ words with total occurrence counts (the same word
    * stream the BPE trainer consumes). */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Frequency-seeded piece vocabulary: all substrings up to
    * `maxPieceLen` of every distinct word, weighted by word frequency ×
    * occurrence multiplicity; the top `k` by (freq desc, piece asc) UNION
    * every single character (so Viterbi never dead-ends), scored
    * `⌊1e4·(ln f − ln F)⌋` with F = the selected vocabulary's own mass.
    * This is the seed vocabulary of the SentencePiece pipeline — the EM
    * refinement re-weights the same table with the same Viterbi machinery
    * and is omitted here. Returns (piece, sq). */
  def pieceVocab(wf: DataFrame, k: Int, maxPieceLen: Int = 6): DataFrame = {
    val pieces = wf
      .select(col("w"), col("freq"), length(col("w")).as("L"))
      .select(explode(expr(
        s"""flatten(transform(sequence(1, L), j ->
              transform(sequence(1, least($maxPieceLen, L - j + 1)), len ->
                substr(w, j, len))))""")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("freq"))
    val top = pieces.orderBy(col("freq").desc, col("piece").asc).limit(k)
    val chars = pieces.filter(length(col("piece")) === 1)
    val vocab = top.unionAll(chars)
      .groupBy("piece").agg(max("freq").as("freq")) // dedup; freq identical
    val tot = vocab.agg(sum("freq").as("__F"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(lit(1e4) * (log(col("freq").cast(DoubleType)) -
          log(col("__F").cast(DoubleType)))).cast(LongType).as("sq"))
  }

  /** One EM refinement round (the SentencePiece loop made explicit):
    * piece counts re-estimated from the CURRENT vocabulary's Viterbi
    * segmentations (hard-EM — the max-likelihood split stands in for the
    * expectation, weighted by word frequency), single characters floored
    * at count 1 so coverage never dies, then re-scored against the new
    * total. Feed the result back to [[segmentWords]]; iterate to taste.
    * Same scale shape as one segmentation pass — everything rides the
    * distinct-word table. */
  def emRefine(wf: DataFrame, vocab: DataFrame, maxPieceLen: Int = 6,
               maxWordLen: Int = 16): DataFrame = {
    val segs = segmentWords(wf, vocab, maxPieceLen, maxWordLen)
      .select(col("w"), col("seg"))
    val counts = segs.join(wf, "w")
      .select(explode(split(col("seg"), " ")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("c"))
    val chars = wf.select(explode(split(col("w"), "")).as("piece")).distinct()
    val charsFloor = chars.join(counts, Seq("piece"), "left")
      .select(col("piece"),
        greatest(coalesce(col("c"), lit(0L)), lit(1L)).as("c"))
    val vocab2 = counts.unionAll(charsFloor)
      .groupBy("piece").agg(max("c").as("c"))
    val tot = vocab2.agg(sum("c").as("__F"))
    vocab2.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(lit(1e4) * (log(col("c").cast(DoubleType)) -
          log(col("__F").cast(DoubleType)))).cast(LongType).as("sq"))
      // plan depth: cut the round-1 DP out of the next round's plan
      .transform(Ops.materialize)
  }

  /** Viterbi-segment every distinct word of `wf` (length ≤ `maxWordLen`)
    * against `vocab` (piece, sq): returns (w, n_pieces, score_q,
    * last_piece) — the max-likelihood piece count, its total quantized
    * log-prob, and the final piece (the DP's backpointer witness).
    *
    * Candidate edges (j → i = word[j..i) ∈ vocab) come from one
    * piece-keyed equality join; the DP itself is a single aggregate()
    * fold per word over its own edge array — positions are reached in
    * order, every position is reachable (single chars are always in
    * vocab), and ties resolve by (score desc, n_pieces asc, split asc). */
  def segmentWords(wf: DataFrame, vocab: DataFrame, maxPieceLen: Int = 6,
                   maxWordLen: Int = 16): DataFrame = {
    val dw = wf.select(col("w"), length(col("w")).as("L"))
      .filter(col("L") >= 1 && col("L") <= maxWordLen)
    val cand = dw.select(col("w"), col("L"),
      explode(expr(
        s"""flatten(transform(sequence(1, L), j ->
              transform(sequence(1, least($maxPieceLen, L - j + 1)), len ->
                struct(j - 1 AS j, j - 1 + len AS i, substr(w, j, len) AS piece))))"""))
        .as("e"))
      .select(col("w"), col("L"), col("e.j").as("j"), col("e.i").as("i"),
        col("e.piece").as("piece"))
    val edges = cand.join(vocab, "piece")
      .groupBy("w", "L")
      .agg(collect_list(struct(col("j"), col("i"), col("sq"))).as("edges"))
    // dp: acc(index p+1) = best struct at position p; candidates for i
    // pull acc(e.j + 1), always already computed (e.j < i)
    val dp = aggregate(
      sequence(lit(1), col("L")),
      array(struct(lit(0L).as("bq"), lit(0L).as("n"), lit(-1).as("bj"))),
      (acc: Column, i: Column) => {
        val cands = transform(
          filter(col("edges"), e => e("i") === i),
          e => {
            val prev = element_at(acc, e("j") + 1)
            struct((prev("bq") + e("sq")).as("bq"),
              (-(prev("n") + 1L)).as("nn"),
              (-e("j")).as("nj"),
              (prev("n") + 1L).as("n"), e("j").as("bj"))
          })
        val best = array_max(cands)
        concat(acc, array(struct(best("bq").as("bq"), best("n").as("n"),
          best("bj").as("bj"))))
      })
    // backtrack: walk the bj chain from L to 0 (≤ L steps, strictly
    // decreasing), prepending each piece — same fold discipline as the DP
    val withDp = edges.withColumn("__dp", dp)
    val seg = aggregate(
      sequence(lit(1), col("L")),
      struct(col("L").as("pos"), lit("").as("seg")),
      (acc: Column, _: Column) => {
        val f = element_at(col("__dp"), acc("pos") + 1)
        val piece = col("w").substr(f("bj") + 1, acc("pos") - f("bj"))
        when(acc("pos") > 0,
          struct(f("bj").as("pos"),
            concat(piece,
              when(acc("seg") === "", lit("")).otherwise(concat(lit(" "),
                acc("seg")))).as("seg")))
          .otherwise(acc)
      },
      acc => acc("seg"))
    withDp.withColumn("__f", element_at(col("__dp"), col("L") + 1))
      .select(col("w"), col("__f.n").as("n_pieces"),
        col("__f.bq").as("score_q"),
        col("w").substr(col("__f.bj") + 1, col("L") - col("__f.bj"))
          .as("last_piece"),
        seg.as("seg"))
  }
}
