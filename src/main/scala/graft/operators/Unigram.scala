package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

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
 * size. A vocabulary is model-sized by construction (top-k plus single
 * characters), so it comes to the driver once, under the hard cap
 * [[MaxVocabPieces]], and is never joined: [[pieceVocab]] and
 * [[emRefine]] score it on the driver and return a LocalRelation, and
 * [[segmentWords]] runs Viterbi as one compiled per-word function over
 * the driver map (no shuffle, no state). Segmenting 100 TB costs one
 * token-count scan plus vocabulary-sized work.
 */
object Unigram {

  /** Size bound of a tokenizer vocabulary on the driver, in pieces (the
    * largest production vocabularies are a few hundred thousand). A
    * vocabulary frame over it fails loudly instead of exhausting the
    * driver. */
  val MaxVocabPieces: Int = 1 << 20

  /** Distinct [a-z]+ words with total occurrence counts (the same word
    * stream the BPE trainer consumes). */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** A vocabulary frame's rows on the driver, at most `cap` of them. */
  private[graft] def collectVocab(vocab: DataFrame,
                                  cap: Int = MaxVocabPieces): Array[Row] =
    Ops.collectBounded(vocab, cap, "tokenizer vocabulary",
      "a vocabulary is collected to the driver and is model-sized by " +
        "construction; lower k or prune the vocabulary")

  /** A word's candidate pieces as one compiled per-word function: every
    * substring up to `maxPieceLen` code points (Spark's `substr` unit),
    * one that does not start the word with `cont` in front. */
  private[operators] def substringsCol(maxPieceLen: Int, cont: String) =
    udf[Seq[String], String] { w =>
      val cp = if (w == null) Array.emptyIntArray else w.codePoints.toArray
      for (j <- cp.indices; len <- 1 to math.min(maxPieceLen, cp.length - j))
        yield (if (j == 0) "" else cont) + new String(cp, j, len)
    }.withName("word_pieces")

  /** Score a (piece, mass) frame on the driver: collected under the cap,
    * a duplicate piece keeps its max mass, and sq = ⌊1e4·(ln f − ln F)⌋
    * with F the vocabulary's own total mass. `StrictMath.log` is what
    * Spark's `log` calls, so every sq keeps the bits a SQL replay
    * computes; like `log`, a non-positive mass scores null. Returns a
    * LocalRelation of (piece, sq). */
  private def scored(pieceMass: DataFrame): DataFrame = {
    val mass = collectVocab(pieceMass)
      .filter(!_.isNullAt(1))
      .groupMapReduce(_.getString(0))(_.getLong(1))(math.max)
    val total = mass.values.sum
    val lnF = StrictMath.log(total.toDouble)
    val rows = mass.toSeq.sortBy(_._1).map { case (p, f) =>
      Row(p, if (f > 0 && total > 0)
        math.floor(1e4 * (StrictMath.log(f.toDouble) - lnF)).toLong else null)
    }
    pieceMass.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("sq", LongType))))
  }

  /** Frequency-seeded piece vocabulary: all substrings up to
    * `maxPieceLen` of every distinct word, weighted by word frequency ×
    * occurrence multiplicity; the top `k` by (freq desc, piece asc) UNION
    * every single character (so Viterbi never dead-ends), fetched in one
    * bounded collect and scored `⌊1e4·(ln f − ln F)⌋` on the driver with
    * F = the selected vocabulary's own mass. This is the seed vocabulary
    * of the SentencePiece pipeline; [[emRefine]] re-weights it. Returns a
    * LocalRelation of (piece, sq). */
  def pieceVocab(wf: DataFrame, k: Int, maxPieceLen: Int = 6): DataFrame = {
    val pieces = wf
      .select(explode(substringsCol(maxPieceLen, "")(col("w"))).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").as("freq"))
    val top = pieces.orderBy(col("freq").desc, col("piece").asc).limit(k)
    val chars = pieces.filter(length(col("piece")) === 1)
    scored(top.unionAll(chars)) // a top-k character arrives twice
  }

  /** One EM refinement round (the SentencePiece loop made explicit):
    * piece counts re-estimated from the CURRENT vocabulary's Viterbi
    * segmentations (hard-EM — the max-likelihood split stands in for the
    * expectation, weighted by word frequency), single characters floored
    * at count 1 so coverage never dies, then re-scored on the driver
    * against the new total. Returns a LocalRelation of (piece, sq); feed
    * it back to [[segmentWords]]; iterate to taste. */
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
    scored(counts.unionAll(charsFloor))
  }

  /** Max-likelihood split of one word under the piece scores `sq`:
    * (n_pieces, score_q, last_piece, seg), or None when some character
    * has no piece to cover it. Edges are the word's substrings of at
    * most `maxPieceLen` code points; the DP keeps one best state per
    * position, ties broken by (score desc, fewer pieces, smaller split
    * point) — ascending split points with strict improvement keep the
    * smallest. */
  private def viterbi(w: String, sq: Map[String, Long],
                      maxPieceLen: Int): Option[(Long, Long, String, String)] = {
    val cp = w.codePoints.toArray
    val len = cp.length
    val bq = new Array[Long](len + 1)
    val n = new Array[Long](len + 1) // 0 past position 0: not reached
    val bj = new Array[Int](len + 1)
    for (i <- 1 to len; j <- math.max(0, i - maxPieceLen) until i
         if j == 0 || n(j) > 0) {
      sq.get(new String(cp, j, i - j)).foreach { s =>
        val q = bq(j) + s
        if (n(i) == 0 || q > bq(i) || (q == bq(i) && n(j) + 1 < n(i))) {
          bq(i) = q; n(i) = n(j) + 1; bj(i) = j
        }
      }
    }
    if (n(len) == 0) None
    else {
      val cuts = Iterator.iterate(len)(bj(_)).takeWhile(_ > 0).toList.reverse
      val pieces = (0 :: cuts).zip(cuts).map { case (j, i) => new String(cp, j, i - j) }
      Some((n(len), bq(len), pieces.last, pieces.mkString(" ")))
    }
  }

  /** Viterbi-segment every distinct word of `wf` (length ≤ `maxWordLen`)
    * against `vocab` (piece, sq): returns (w, n_pieces, score_q,
    * last_piece, seg) — the max-likelihood piece count, its total
    * quantized log-prob, the final piece, and the space-joined split; all
    * four are null for a word the vocabulary cannot cover.
    *
    * The vocabulary is collected once under [[MaxVocabPieces]] (no job
    * for a LocalRelation), a duplicate piece keeps its max sq, and the DP
    * runs as one compiled per-word function over the driver map — no
    * candidate explode, no join, no shuffle. */
  def segmentWords(wf: DataFrame, vocab: DataFrame, maxPieceLen: Int = 6,
                   maxWordLen: Int = 16): DataFrame = {
    val sq = collectVocab(vocab.select(col("piece"), col("sq").cast(LongType)))
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupMapReduce(_.getString(0))(_.getLong(1))(math.max)
    val best = udf((w: String) => viterbi(w, sq, maxPieceLen))
      .withName("unigram_viterbi")
    wf.select(col("w"))
      .filter(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .select(col("w"), best(col("w")).as("__v"))
      .select(col("w"), col("__v._1").as("n_pieces"),
        col("__v._2").as("score_q"), col("__v._3").as("last_piece"),
        col("__v._4").as("seg"))
  }
}
