package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

/**
 * WordPiece subword tokenization (the BERT inference shape, Wu et al.
 * 2016 / Devlin et al. 2019): greedy longest-match-first against a piece
 * vocabulary whose word-internal pieces carry the `##` continuation
 * prefix. With [[Bpe]] (merge-list family), [[Bpe.trainBytes]] (byte
 * level) and [[Unigram]] (unigram-LM Viterbi family) this completes the
 * three tokenizer families production pipelines draw from.
 *
 * The vocabulary rides as DATA — the production case is a shipped
 * vocab.txt loaded into a DataFrame — and [[vocab]] gives a
 * frequency-seeded one for self-contained runs.
 *
 * Scale shape (the bpe_train / unigram lesson): after the one corpus
 * token-count scan, everything runs on the DISTINCT-WORD table. The
 * vocabulary is model-sized, so it comes to the driver once under the
 * hard cap [[Unigram.MaxVocabPieces]] and is never joined: the greedy
 * walk is one compiled per-word function over a driver set — no shuffle,
 * no state, at most L steps each consuming ≥ 1 character. Encoding
 * 100 TB costs one token-count pass plus vocabulary-sized work and a
 * broadcast join back.
 */
object WordPiece {

  val UNK = "[UNK]"

  /** Frequency-seeded piece vocabulary: every (position-aware) candidate
    * piece of every distinct word weighted by word frequency, top `k` by
    * (freq desc, piece asc), UNION every single-character piece in both
    * its initial and `##` forms so the greedy walk never dead-ends on
    * in-corpus words. Fetched in one bounded collect; returns a
    * LocalRelation of one `piece` column. */
  def vocab(wf: DataFrame, k: Int, maxPieceLen: Int = 6): DataFrame = {
    val pieces = wf
      .select(explode(Unigram.substringsCol(maxPieceLen, "##")(col("w")))
        .as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("freq"))
    val top = pieces.orderBy(col("freq").desc, col("piece").asc).limit(k)
    val chars = pieces.filter(
      length(col("piece")) === 1 ||
        (length(col("piece")) === 3 && col("piece").startsWith("##")))
    val kept = Unigram.collectVocab(top.unionAll(chars).select("piece"))
      .map(_.getString(0)).distinct.sorted
    wf.sparkSession.createDataFrame(kept.toSeq.map(Row(_)).asJava,
      StructType(Seq(StructField("piece", StringType, nullable = false))))
  }

  /** Greedy longest-match-first walk of one word: (n_pieces, seg,
    * is_unk). Each step takes the LONGEST piece (≤ `maxPieceLen` code
    * points, `##`-prefixed past the word start) in `pieces` at the current
    * position; a dead end voids the whole word to one [[UNK]]. */
  private def walk(w: String, pieces: Set[String],
                   maxPieceLen: Int): (Long, String, Boolean) = {
    val cp = w.codePoints.toArray
    @tailrec def go(pos: Int, acc: List[String]): (Long, String, Boolean) =
      if (pos == cp.length) (acc.length.toLong, acc.reverse.mkString(" "), false)
      else (math.min(cp.length, pos + maxPieceLen) until pos by -1).iterator
        .map(i => i -> ((if (pos == 0) "" else "##") + new String(cp, pos, i - pos)))
        .find(p => pieces(p._2)) match {
        case Some((i, piece)) => go(i, piece :: acc)
        case None => (1L, UNK, true)
      }
    go(0, Nil)
  }

  /** Greedy longest-match-first encode of every distinct word of `wf`
    * (length ≤ `maxWordLen`) against `vocab` (one `piece` column, `##`
    * marks continuations): returns (w, n_pieces, seg, is_unk) — BERT's
    * whole-word [[UNK]] fallback when any position has no matching piece.
    *
    * The vocabulary is collected once under [[Unigram.MaxVocabPieces]]
    * (no job for a LocalRelation) into a set, and the walk runs as one
    * compiled per-word function over it — no candidate explode, no join,
    * no shuffle. */
  def encodeWords(wf: DataFrame, vocab: DataFrame, maxPieceLen: Int = 6,
                  maxWordLen: Int = 16): DataFrame = {
    val pieces = Unigram.collectVocab(vocab.select(col("piece")))
      .collect { case r if !r.isNullAt(0) => r.getString(0) }.toSet
    val greedy = udf((w: String) => walk(w, pieces, maxPieceLen))
      .withName("wordpiece_walk")
    wf.select(col("w"))
      .filter(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .select(col("w"), greedy(col("w")).as("__s"))
      .select(col("w"), col("__s._1").as("n_pieces"), col("__s._2").as("seg"),
        col("__s._3").as("is_unk"))
  }

  /** Per-document WordPiece token counts: distinct words encoded once,
    * broadcast-joined back to per-doc word counts — the same scale shape
    * as [[Bpe.encodeCounts]]. Words longer than `maxWordLen` count as one
    * [[UNK]] apiece (BERT's max_input_chars_per_word rule). */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
                   vocab: DataFrame, maxPieceLen: Int = 6,
                   maxWordLen: Int = 16): DataFrame = {
    val docWords = df.select(col(idCol).as("id"),
      explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
    val wf = docWords.select(col("w")).distinct()
      .withColumn("freq", lit(1L))
    // words over maxWordLen never enter encodeWords (length filter) —
    // the left join + coalesce below is what applies the one-[UNK] rule
    val enc = encodeWords(wf, vocab, maxPieceLen, maxWordLen)
      .select(col("w"), col("n_pieces"), col("is_unk"))
    docWords.join(broadcast(enc), Seq("w"), "left")
      .select(col("id"), col("c"),
        coalesce(col("n_pieces"), lit(1L)).as("n_pieces"),
        coalesce(col("is_unk"), lit(true)).as("is_unk"))
      .groupBy(col("id"))
      .agg(sum(col("c") * col("n_pieces")).as("n_wp_tokens"),
        sum(col("c")).as("n_words"),
        sum(when(col("is_unk"), col("c")).otherwise(lit(0L))).as("n_unk_words"))
      .select(col("id").as(idCol), col("n_wp_tokens"), col("n_words"),
        col("n_unk_words"))
  }
}
