package graft

import org.apache.spark.sql.functions._
import graft.operators.Cleanup
import graft.engine.Flow

/** NLP cleanup family + fixed-width cutting (reference
  * modules/nlp/.../cleanup/Cleanup.scala, SentenceSplitter.scala,
  * modules/csv/.../CsvProcessors.scala:179), including the compat rows. */
class CleanupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val toks = Seq(
    (1L, Seq("The", "quick", ".", "!!", "a", "fox", "ab", "café!", "xéz"))
  ).toDF("id", "toks")

  test("caseConvert folds the whole sequence either way") {
    val up = toks.select(Cleanup.caseConvert(col("toks"), uppercase = true))
      .as[Seq[String]].head
    assert(up.take(2) == Seq("THE", "QUICK"))
    val lo = toks.select(Cleanup.caseConvert(col("toks"))).as[Seq[String]].head
    assert(lo.take(2) == Seq("the", "quick"))
  }

  test("punctuationRemover drops only single-punctuation-character tokens") {
    val out = toks.select(Cleanup.punctuationRemover(col("toks")))
      .as[Seq[String]].head
    assert(!out.contains("."))
    assert(out.contains("!!"))    // two chars: the reference regex keeps it
    assert(out.contains("café!")) // mixed content survives
  }

  test("nCharsRemover keeps tokens strictly longer than n") {
    val out = toks.select(Cleanup.nCharsRemover(col("toks"), 2))
      .as[Seq[String]].head
    assert(out == Seq("The", "quick", "fox", "café!", "xéz"))
  }

  test("oddCharacterRemover NFD-flattens to ascii letters and spaces") {
    val out = toks.select(Cleanup.oddCharacterRemover(col("toks")))
      .as[Seq[String]].head
    assert(out.contains("cafe")) // é -> e, ! -> gone
    assert(out.contains("xez"))
    assert(out.contains(""))     // "." flattens to empty, token stays
  }

  test("emojiRemover strips emoji codepoints, keeps the token") {
    val d = Seq(Seq("hi😀there", "ok", "🚀", "up✅"))
      .toDF("toks")
    val out = d.select(Cleanup.emojiRemover(col("toks"))).as[Seq[String]].head
    assert(out == Seq("hithere", "ok", "", "up"))
  }

  test("emojiRemover strips keycap combiner and both variation selectors") {
    // "1️⃣" = '1' U+FE0F U+20E3 — base digit survives, modifiers go;
    // U+2764 U+FE0E is the TEXT-presentation heart (whole glyph removed)
    val d = Seq(Seq("1️⃣", "x❤︎y")).toDF("toks")
    val out = d.select(Cleanup.emojiRemover(col("toks"))).as[Seq[String]].head
    assert(out == Seq("1", "xy"))
  }

  test("stopwordRemover uses the language part of the tag and exact matches") {
    val d = Seq(Seq("the", "theory", "of", "spark")).toDF("toks")
    val out = d.select(Cleanup.stopwordRemover(col("toks"), "en_US"))
      .as[Seq[String]].head
    assert(out == Seq("theory", "spark")) // "the"/"of" exact, "theory" kept
    val custom = d.select(Cleanup.stopwordRemover(col("toks"), Seq("spark")))
      .as[Seq[String]].head
    assert(custom == Seq("the", "theory", "of"))
  }

  test("sentenceSplit is the locale BreakIterator contract") {
    val d = Seq("First sentence. Second one! And a third?").toDF("text")
    val out = d.select(Cleanup.sentenceSplit(col("text"))).as[Seq[String]].head
    assert(out.size == 3)
    assert(out.mkString("") == "First sentence. Second one! And a third?")
    assert(out.head.startsWith("First sentence."))
  }

  test("fixedWidth cuts at widths and keeps the remainder as final piece") {
    val d = Seq((1L, "abcdefghij"), (2L, "abcd")).toDF("id", "s")
    val arr = Cleanup.fixedWidth(d, "s", Seq(3, 5))
      .orderBy("id").select("fixed").as[Seq[String]].collect()
    assert(arr(0) == Seq("abc", "defgh", "ij"))
    assert(arr(1) == Seq("abc", "d", "")) // short input: empty remainder
    val flat = Cleanup.fixedWidth(d, "s", Seq(3, 5),
      headers = Some(Seq("x", "y", "rest")), flatten = true).orderBy("id")
    assert(flat.columns.toSeq == Seq("id", "s", "x", "y", "rest"))
    assert(flat.select("x", "y", "rest").as[(String, String, String)]
      .collect().toSeq == Seq(("abc", "defgh", "ij"), ("abc", "d", "")))
  }

  test("csvField parses a CSV record field into columns (opencsv semantics)") {
    import graft.sources.Sources
    val d = Seq(
      (1L, """x;"a;b";c"""),
      (2L, """y;q;r""")).toDF("id", "line")
    // explicit headers
    val named = Sources.csvField(d, "line", headers = Some(Seq("h1", "h2", "h3")))
      .orderBy("id")
    assert(named.columns.toSeq == Seq("id", "line", "h1", "h2", "h3"))
    assert(named.select("h1", "h2", "h3").as[(String, String, String)]
      .collect().toSeq == Seq(("x", "a;b", "c"), ("y", "q", "r")))
    // positional headers
    val pos = Sources.csvField(d, "line", removeOriginal = true).orderBy("id")
    assert(pos.columns.toSeq == Seq("id", "0", "1", "2"))
    // headers from the first record: it names columns and is consumed
    val hdr = Seq((0L, "name;value"), (1L, "a;1"), (2L, "b;2"))
      .toDF("ord", "line")
    val fromFirst = Sources.csvField(hdr, "line", headersFromFirst = true)
      .orderBy("ord")
    assert(fromFirst.columns.toSeq == Seq("ord", "line", "name", "value"))
    assert(fromFirst.select("name", "value").as[(String, String)]
      .collect().toSeq == Seq(("a", "1"), ("b", "2")))
  }

  test("defaultTokenize matches the reference chain: urls, mentions, punct, squeeze") {
    import graft.operators.Nlp
    val d = Seq(
      "Check https://example.com/x and #tag by @user, pleaseeeee!",
      "line\nbreaks\tand. closure").toDF("text")
    val out = d.select(Nlp.defaultTokenize(col("text"))).as[Seq[String]].collect()
    assert(out(0) == Seq("Check", "and", "by", ",", "please", "!"))
    assert(out(1) == Seq("line", "breaks", "and", ".", "closure"))
  }

  test("ngrams match the reference window (empty below n, flatten joins)") {
    import graft.operators.Nlp
    val d = Seq(Seq("a", "b", "c", "d"), Seq("x")).toDF("toks")
    val grams = d.select(Nlp.ngrams(col("toks"), 3)).as[Seq[Seq[String]]].collect()
    assert(grams(0) == Seq(Seq("a", "b", "c"), Seq("b", "c", "d")))
    assert(grams(1) == Seq.empty)
    // NgramProcessor's flatten form over a token array
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"i": 0, "toks": ["a", "b", "c", "d"]}, {"i": 1, "toks": ["x"]}
        ]}, "next": ["n"]} ],
      "processors": [
        {"id": "n", "name": "tuktu.nlp.processors.NgramProcessor", "result": "flat",
         "config": {"field": "toks", "n": 2, "flatten": true}, "next": []} ] }"""
    val flat = Flow.runSingle(spark, flow).orderBy("i").select("flat").as[String].collect()
    assert(flat.toSeq == Seq("ab bc cd", ""))
  }

  test("nlp-module FQCNs: tokenize → ngrams → stem → POS → polarity → langid") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"text": "the cat is not a dog and walking is great"}
        ]}, "next": ["t"]} ],
      "processors": [
        {"id": "t", "name": "tuktu.nlp.processors.TokenizerProcessor",
         "result": "toks", "config": {"field": "text"}, "next": ["n"]},
        {"id": "n", "name": "tuktu.nlp.processors.NgramProcessor",
         "result": "grams", "config": {"field": "toks", "n": 2}, "next": ["s"]},
        {"id": "s", "name": "tuktu.nlp.processors.SnowballProcessor",
         "result": "stems", "config": {"field": "toks", "language": "en"},
         "next": ["p"]},
        {"id": "p", "name": "tuktu.nlp.processors.POSTaggerProcessor",
         "result": "tags", "config": {"language": "en", "tokens": "toks"},
         "next": ["r"]},
        {"id": "r", "name": "tuktu.nlp.processors.RBEMPolarityProcessor",
         "result": "pol", "config": {"language": "en", "tokens": "toks",
           "pos": "tags"}, "next": ["l"]},
        {"id": "l", "name": "tuktu.nlp.processors.LIGAProcessor",
         "result": "lang", "config": {"field": "text"}, "next": []} ] }"""
    val row = Flow.run(spark, flow).values.head.head
    val toks = row.getAs[scala.collection.Seq[String]]("toks")
    assert(toks.head == "the" && toks.size == 10)
    assert(row.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("grams").size == 9)
    assert(row.getAs[scala.collection.Seq[String]]("stems").contains("walk"))
    assert(row.getAs[scala.collection.Seq[String]]("tags").size == 10)
    assert(row.schema.fieldNames.contains("pol"))
    assert(row.getAs[String]("lang") == "en")
  }

  test("nlp FQCNs accept space-joined string fields and reference gram windows") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"s": "abcd", "t": "hello world ", "toks_str": "the cat is not a dog"}
        ]}, "next": ["cn"]} ],
      "processors": [
        {"id": "cn", "name": "tuktu.nlp.processors.NgramProcessor",
         "result": "char_grams", "config": {"field": "s", "n": 2,
           "chars": true, "flatten": true}, "next": ["tn"]},
        {"id": "tn", "name": "tuktu.nlp.processors.NgramProcessor",
         "result": "tok_grams", "config": {"field": "t", "n": 2}, "next": ["p"]},
        {"id": "p", "name": "tuktu.nlp.processors.POSTaggerProcessor",
         "result": "tags", "config": {"language": "en", "tokens": "toks_str"},
         "next": ["r"]},
        {"id": "r", "name": "tuktu.nlp.processors.RBEMPolarityProcessor",
         "result": "pol", "config": {"language": "en", "tokens": "toks_str",
           "pos": "tags", "discretize": true}, "next": []} ] }"""
    val row = Flow.run(spark, flow).values.head.head
    // getNgramsChar drops the final window: "abcd"/2 -> ab bc (not cd)
    assert(row.getAs[String]("char_grams") == "ab bc")
    // Java split(" ") drops the trailing empty: exactly one token gram
    val tg = row.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("tok_grams")
    assert(tg.map(_.toSeq).toSeq == Seq(Seq("hello", "world")))
    // tokens given as a space-joined STRING still tag + score
    assert(row.getAs[scala.collection.Seq[String]]("tags").size == 6)
    assert(Set(-1.0, 0.0, 1.0).contains(row.getAs[Double]("pol")))
  }

  test("cleanup FQCNs run with reference config schemas, string field unwraps") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"words": "HELLO", "n": 1}
        ]}, "next": ["c"]} ],
      "processors": [
        {"id": "c", "name": "tuktu.nlp.processors.cleanup.CaseConverterProcessor",
         "result": "lowered", "config": {"field": "words"}, "next": ["s"]},
        {"id": "s", "name": "tuktu.nlp.processors.SentenceSplitterProcessor",
         "result": "sentences", "config": {"field": "lowered", "locale": "en"},
         "next": ["f"]},
        {"id": "f", "name": "tuktu.csv.processors.FixedWidthProcessor",
         "result": "fixed", "config": {"field": "lowered", "widths": [2, 2]},
         "next": []} ] }"""
    val out = Flow.run(spark, flow).values.head
    val row = out.head
    assert(row.getAs[String]("lowered") == "hello") // string field unwrapped
    assert(row.getAs[scala.collection.Seq[String]]("sentences").toSeq == Seq("hello"))
    assert(row.getAs[scala.collection.Seq[String]]("fixed").toSeq ==
      Seq("he", "ll", "o"))
  }
}
