package graft

import org.apache.spark.sql.functions._
import graft.operators.WordPiece

/** WordPiece greedy longest-match-first tokenization (BERT inference
  * shape): external-vocab encoding, the classic `unaffable` example,
  * whole-word UNK fallback, and the frequency-seeded vocab path. */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  private def vocabDf(pieces: String*) = pieces.toDF("piece")

  private def enc(words: Seq[String], vocab: Seq[String],
                  maxPieceLen: Int = 6): Map[String, (Long, String, Boolean)] = {
    val wf = words.toDF("w").withColumn("freq", lit(1L))
    WordPiece.encodeWords(wf, vocabDf(vocab: _*), maxPieceLen)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
  }

  test("the published unaffable example splits un ##aff ##able") {
    val v = Seq("un", "##aff", "##able", "u", "n", "a", "f", "b", "l", "e",
      "##a", "##f", "##b", "##l", "##e", "##n", "##u")
    val out = enc(Seq("unaffable"), v)
    assert(out("unaffable") == ((3L, "un ##aff ##able", false)))
  }

  test("greedy takes the LONGEST match even when a shorter path has fewer pieces") {
    // vocab has "abc" and "##d" but not "##cd": greedy takes "abc" then
    // "##d"; it never reconsiders (that is the defining difference from
    // Viterbi) — with vocab {ab, ##cd} instead, "ab ##cd" emerges
    val out1 = enc(Seq("abcd"), Seq("abc", "ab", "##cd", "##d"))
    assert(out1("abcd") == ((2L, "abc ##d", false)))
    val out2 = enc(Seq("abcd"), Seq("ab", "##cd"))
    assert(out2("abcd") == ((2L, "ab ##cd", false)))
  }

  test("a position with no matching piece collapses the whole word to [UNK]") {
    // "xyz": x matches, then no ##y/##yz piece exists -> whole-word UNK
    // (BERT's rule: any dead end voids the word, not just the tail)
    val out = enc(Seq("xyz", "xx"), Seq("x", "##x", "z"))
    assert(out("xyz") == ((1L, "[UNK]", true)))
    assert(out("xx") == ((2L, "x ##x", false)))
  }

  test("word with no initial match is [UNK]; continuation pieces never start a word") {
    val out = enc(Seq("ab"), Seq("##a", "##b", "b"))
    assert(out("ab") == ((1L, "[UNK]", true)))
  }

  test("duplicate vocabulary rows encode the same as the deduplicated vocabulary") {
    val words = Seq("unaffable", "abcd", "xyz")
    val v = Seq("un", "##aff", "##able", "abc", "##d", "x", "##y")
    assert(enc(words, v ++ v ++ Seq("un", "##d")) == enc(words, v))
  }

  test("frequency-seeded vocab keeps every single char so corpus words never UNK") {
    implicit val s = spark
    val corpus = Seq((1L, "the cat sat"), (2L, "the bat"), (3L, "zq"))
      .toDF("doc_id", "text")
    val wf = graft.operators.Unigram.wordFreqs(corpus, "text")
    val vocab = WordPiece.vocab(wf, k = 5, maxPieceLen = 4)
    val out = WordPiece.encodeWords(wf, vocab)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(out.values.forall(_ == false), s"no UNK on in-corpus words: $out")
    // the rare word still segments through single-char fallback pieces
    val pieces = WordPiece.encodeWords(wf, vocab)
      .filter(col("w") === "zq").select("seg").as[String].head()
    assert(pieces.split(" ").length == 2)
  }

  test("per-document counts: UNK words count once, others by piece count") {
    implicit val s = spark
    val docs = Seq((1L, "aa xyz aa"), (2L, "xyz")).toDF("doc_id", "text")
    val vocab = vocabDf("a", "##a")
    val out = WordPiece.encodeCounts(docs, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    // doc 1: aa=2 pieces ×2 + xyz=1 UNK → 5 tokens, 3 words, 1 unk word
    assert(out == Seq((1L, 5L, 3L, 1L), (2L, 1L, 1L, 1L)))
  }
}
