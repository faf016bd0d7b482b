package graft

import org.apache.spark.sql.functions._
import graft.operators.Unigram

/** Unigram-LM Viterbi segmentation behavior. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def vocabDf(rows: (String, Long)*) =
    rows.toSeq.toDF("piece", "sq")
  private def wfDf(rows: (String, Long)*) =
    rows.toSeq.toDF("w", "freq")

  test("segmentWords picks the max-likelihood split") {
    // "abab" as one piece (-15) beats ab+ab (-20) and char soup (-400)
    val out = Unigram.segmentWords(
      wfDf("abab" -> 1L),
      vocabDf("abab" -> -15L, "ab" -> -10L, "a" -> -100L, "b" -> -100L))
      .head()
    assert(out.getAs[Long]("n_pieces") == 1L)
    assert(out.getAs[Long]("score_q") == -15L)
    assert(out.getAs[String]("last_piece") == "abab")
    assert(out.getAs[String]("seg") == "abab")
  }

  test("segmentWords splits when pieces beat the whole") {
    // ab+ab (-20) beats abab (-50)
    val out = Unigram.segmentWords(
      wfDf("abab" -> 1L),
      vocabDf("abab" -> -50L, "ab" -> -10L, "a" -> -100L, "b" -> -100L))
      .head()
    assert(out.getAs[Long]("n_pieces") == 2L)
    assert(out.getAs[Long]("score_q") == -20L)
    assert(out.getAs[String]("last_piece") == "ab")
    assert(out.getAs[String]("seg") == "ab ab")
  }

  test("segmentWords breaks score ties toward fewer pieces") {
    // ab = -10 exactly equals a+b = -5 + -5: the single piece must win
    val out = Unigram.segmentWords(
      wfDf("ab" -> 1L),
      vocabDf("ab" -> -10L, "a" -> -5L, "b" -> -5L)).head()
    assert(out.getAs[Long]("n_pieces") == 1L)
    assert(out.getAs[String]("last_piece") == "ab")
  }

  test("segmentWords always succeeds via single characters") {
    val out = Unigram.segmentWords(
      wfDf("xyz" -> 1L),
      vocabDf("x" -> -7L, "y" -> -8L, "z" -> -9L)).head()
    assert(out.getAs[Long]("n_pieces") == 3L)
    assert(out.getAs[Long]("score_q") == -24L)
    assert(out.getAs[String]("last_piece") == "z")
    assert(out.getAs[String]("seg") == "x y z")
  }

  test("segmentWords breaks score and piece-count ties toward the smaller split point") {
    // "abc": a+bc and ab+c both score -10 in 2 pieces; the split at 1
    // (a|bc) is smaller than the split at 2 (ab|c)
    val out = Unigram.segmentWords(
      wfDf("abc" -> 1L),
      vocabDf("a" -> -5L, "bc" -> -5L, "ab" -> -5L, "c" -> -5L, "b" -> -50L))
      .head()
    assert(out.getAs[Long]("n_pieces") == 2L)
    assert(out.getAs[Long]("score_q") == -10L)
    assert(out.getAs[String]("last_piece") == "bc")
    assert(out.getAs[String]("seg") == "a bc")
  }

  test("segmentWords keeps the max score of a duplicated piece") {
    val out = Unigram.segmentWords(
      wfDf("ab" -> 1L),
      vocabDf("ab" -> -11L, "ab" -> -10L, "a" -> -100L, "b" -> -100L)).head()
    assert(out.getAs[Long]("n_pieces") == 1L)
    assert(out.getAs[Long]("score_q") == -10L)
  }

  test("segmentWords returns nulls for a word the vocabulary cannot cover") {
    // no piece covers "q": there is no segmentation, so no made-up one
    val out = Unigram.segmentWords(
      wfDf("xqz" -> 1L, "xz" -> 1L),
      vocabDf("x" -> -7L, "z" -> -9L))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("xqz").toSeq.tail.forall(_ == null), out("xqz"))
    assert(out("xz").getAs[String]("seg") == "x z")
  }

  test("the vocabulary collect fails loudly past its cap") {
    val e = intercept[IllegalArgumentException](
      Unigram.collectVocab(vocabDf("a" -> -1L, "b" -> -2L, "c" -> -3L), cap = 2))
    assert(e.getMessage.contains("tokenizer vocabulary exceeds 2 rows"), e.getMessage)
    assert(Unigram.collectVocab(vocabDf("a" -> -1L, "b" -> -2L), cap = 2).length == 2)
  }

  test("a driver-built vocabulary enters segmentWords without a job") {
    val wf = wfDf("abab" -> 3L, "ba" -> 1L)
    val vocab = Unigram.pieceVocab(wf, k = 4, maxPieceLen = 3)
    val (out, jobs) = jobsIn(Unigram.segmentWords(wf, vocab))
    assert(jobs == 0, s"building segmentWords over a LocalRelation ran $jobs jobs")
    assert(out.count() == 2)
  }

  test("pieceVocab keeps top-k plus every single character") {
    val wf = Unigram.wordFreqs(
      Seq("the the the cat sat", "the cat").toDF("text"), "text")
    val v = Unigram.pieceVocab(wf, k = 3, maxPieceLen = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every character of the corpus must be present regardless of k
    for (c <- "thecats".map(_.toString)) assert(v.contains(c), s"missing $c")
    // scores are negative log-probs: more frequent pieces score higher
    assert(v("t") > v("s")) // 't' occurs far more than 's'
    assert(v.values.forall(_ < 0L))
  }

  test("segmentWords of a frequency-built vocab segments real words") {
    val wf = Unigram.wordFreqs(
      Seq("internationalization international nation nation nation")
        .toDF("text"), "text")
    val vocab = Unigram.pieceVocab(wf, k = 50, maxPieceLen = 6)
    val out = Unigram.segmentWords(wf, vocab, maxWordLen = 16)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_pieces")).toMap
    // "internationalization" (20 chars) exceeds maxWordLen 16 → excluded
    assert(!out.contains("internationalization"))
    assert(out("nation") >= 1L && out("nation") <= 2L)
    assert(out.contains("international"))
  }

  test("emRefine prunes unused pieces, keeps chars, sharpens used pieces") {
    val wf = wfDf("abab" -> 10L, "ab" -> 5L, "cd" -> 1L)
    val v0 = Unigram.pieceVocab(wf, k = 20, maxPieceLen = 4)
    val v1 = Unigram.emRefine(wf, v0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every corpus character survives the refinement
    for (c <- Seq("a", "b", "c", "d")) assert(v1.contains(c), s"missing $c")
    // "ab" is the dominant used piece: it must outscore any unused floor-1
    // char ("c"/"d" are only ever used as singles with freq 1)
    assert(v1.contains("ab") && v1("ab") > v1("c"))
    // scores are log-probs: all negative
    assert(v1.values.forall(_ < 0L))
    // re-segmentation under the refined vocab still succeeds everywhere
    val out = Unigram.segmentWords(wf, Unigram.emRefine(wf, v0))
    assert(out.count() == 3)
  }
}