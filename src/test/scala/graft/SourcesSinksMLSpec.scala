package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Sources}
import graft.ml.ML

/** Sources/sinks round-trips, ML wrappers. */
class SourcesSinksMLSpec extends SparkSpec {
  import spark.implicits._

  test("csv sink → csv source round-trip with options and line range") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1, "a;x"), (2, "b"), (3, "c")).toDF("id", "v")
    Sinks.csv(df, dir, header = true, sep = "|")
    val back = Sources.csv(spark, dir, header = true, sep = "|")
    assert(back.count() == 3)
    assert(back.columns.toSeq == Seq("id", "v"))
    val sliced = Sources.csv(spark, dir, header = true, sep = "|",
      startLine = Some(1), endLine = Some(2))
    assert(sliced.count() == 2)
  }

  test("linesPerRow runs a line generator per datum (GeneratorWrapper shape)") {
    val dir = Files.createTempDirectory("graft_lpr").toFile
    def write(name: String, lines: Seq[String]): String = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f); lines.foreach(w.println); w.close()
      f.getAbsolutePath
    }
    val fa = write("a.txt", Seq("a1", "a2"))
    val fb = write("b.txt", Seq("b1"))
    val df = Seq((fa, "A"), (fb, "B"), ("/nope/missing.txt", "C")).toDF("path", "tag")
    val out = Sources.linesPerRow(df, "path", "line")
      .select("tag", "line").as[(String, String)].collect().toSet
    assert(out == Set(("A", "a1"), ("A", "a2"), ("B", "b1"))) // missing file -> no rows
  }

  test("linesPerRow resolves file: URIs via Hadoop FS and tolerates empty files + early abandon") {
    val dir = Files.createTempDirectory("graft_lpr2").toFile
    val f = new java.io.File(dir, "a.txt")
    val w = new java.io.PrintWriter(f); Seq("a1", "a2", "a3").foreach(w.println); w.close()
    val fe = new java.io.File(dir, "empty.txt"); fe.createNewFile()
    val df = Seq(("file:" + f.getAbsolutePath, "A"), ("file:" + fe.getAbsolutePath, "E"))
      .toDF("path", "tag")
    val out = Sources.linesPerRow(df, "path", "line")
    assert(out.count() == 3) // empty file contributes no rows (and closes its handle)
    assert(out.limit(1).count() == 1) // abandoned iterator: completion listener closes
  }

  test("fileToString / fileToJson whole-file readers (Hadoop FS, variant JSON)") {
    val dir = Files.createTempDirectory("graft_whole").toFile
    val f = new java.io.File(dir, "doc.json")
    val w = new java.io.PrintWriter(f)
    w.print("""{"a":1,"b":{"c":"x"}}"""); w.close()
    val df = Seq((f.getAbsolutePath, 1), ("/nope/missing.json", 2)).toDF("path", "id")
    val s = Sources.fileToString(df, "path", "content")
    val byId = s.select("id", "content").as[(Int, String)].collect().toMap
    assert(byId(1) == """{"a":1,"b":{"c":"x"}}""")
    assert(byId(2) == null) // unreadable -> null, not a failure
    val j = Sources.fileToJson(df, "path", "doc")
    val v = j.filter(col("id") === 1)
      .select(expr("variant_get(doc, '$.b.c', 'string')")).head.getString(0)
    assert(v == "x")
    assert(j.filter(col("id") === 2).select("doc").head.isNullAt(0))
  }

  test("partitioned parquet sink prunes partitions on read-back") {
    val dir = Files.createTempDirectory("graft_pq").toString
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    Sinks.parquet(df, dir, partitionBy = Seq("k"))
    val back = spark.read.parquet(dir).filter(col("k") === "a")
    assert(back.count() == 2)
    // partition pruning visible in the plan
    val plan = back.queryExecution.executedPlan.toString
    assert(back.rdd.getNumPartitions >= 1)
  }

  test("timeRange generates stepped timestamps") {
    val out = Sources.timeRange(spark, "2024-01-01 00:00:00", "2024-01-01 06:00:00", "2 HOUR")
    assert(out.count() == 4)
  }

  test("xmlToMap parses attributes and child elements") {
    val d = Seq("""<r id="7"><name>x</name><v>1</v></r>""").toDF("xml")
    val m = d.select(Sources.xmlToMap(col("xml")).as("m"))
      .select(col("m")("@id"), col("m")("name"), col("m")("v"))
      .head
    assert(m.getString(0) == "7" && m.getString(1) == "x" && m.getString(2) == "1")
  }

  private def causeChain(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
    sb.toString
  }

  test("xmlToMap rejects DOCTYPE external entities (XXE hardening)") {
    val target = Files.createTempFile("xxe_target", ".txt")
    Files.writeString(target, "SECRET")
    val evil =
      s"""<?xml version="1.0"?><!DOCTYPE r [<!ENTITY x SYSTEM "file://$target">]><r><name>&x;</name></r>"""
    val d = Seq(evil).toDF("xml")
    val e = intercept[Exception] {
      d.select(Sources.xmlToMap(col("xml")).as("m")).collect()
    }
    val chain = causeChain(e)
    assert(chain.contains("DOCTYPE") && !chain.contains("SECRET"))
    // well-formed XML without a DTD still parses through the same loader
    val ok = Seq("""<r a="1"><v>x</v></r>""").toDF("xml")
      .select(Sources.xmlToMap(col("xml")).as("m")).head
    assert(ok.getMap[String, String](0)("v") == "x")
  }

  test("xslt: secure default blocks document() + row-XML entities; opt-out works") {
    import graft.operators.Xslt
    val secret = Files.createTempFile("xxe_doc", ".xml")
    Files.writeString(secret, "<secret>s3kr3t</secret>")
    val stealXsl =
      s"""<?xml version="1.0"?>
         <xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
           <xsl:output method="text"/>
           <xsl:template match="/">
             <xsl:value-of select="document('file://$secret')"/>
           </xsl:template>
         </xsl:stylesheet>"""
    val rows = Seq("<r/>").toDF("xml")
    // secure (default): document() is refused at transform time
    val e = intercept[Exception] {
      rows.select(Xslt.transformColumn(col("xml"), stealXsl).as("t")).collect()
    }
    assert(!causeChain(e).contains("s3kr3t"))
    // trusted opt-out: the same stylesheet reads the document
    val out = rows.select(Xslt.transformColumn(col("xml"), stealXsl, secure = false).as("t"))
      .as[String].head
    assert(out.contains("s3kr3t"))
    // hostile ROW xml (DOCTYPE entity) is also rejected under the secure factory
    val idXsl =
      """<?xml version="1.0"?>
        <xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:output method="text"/>
          <xsl:template match="/"><xsl:value-of select="/r"/></xsl:template>
        </xsl:stylesheet>"""
    val evilRow =
      s"""<?xml version="1.0"?><!DOCTYPE r [<!ENTITY x SYSTEM "file://$secret">]><r>&x;</r>"""
    val e2 = intercept[Exception] {
      Seq(evilRow).toDF("xml")
        .select(Xslt.transformColumn(col("xml"), idXsl).as("t")).collect()
    }
    assert(!causeChain(e2).contains("s3kr3t"))
    // and a benign row still transforms
    val benign = Seq("<r>hello</r>").toDF("xml")
      .select(Xslt.transformColumn(col("xml"), idXsl).as("t")).as[String].head
    assert(benign == "hello")
  }

  test("kmeans separates two obvious clusters") {
    val pts = (Seq.fill(20)((0.0, 0.1)) ++ Seq.fill(20)((10.0, 9.9)))
      .toDF("x", "y")
    val model = ML.kmeans(pts, Seq("x", "y"), k = 2)
    val preds = model.transform(pts).select("prediction").as[Int].collect()
    assert(preds.slice(0, 20).toSet.size == 1)
    assert(preds.slice(20, 40).toSet.size == 1)
    assert(preds(0) != preds(39))
  }

  test("logistic regression learns a linear boundary") {
    val rows = (0 until 100).map { i =>
      val x = i / 100.0
      (x, if (x > 0.5) 1.0 else 0.0)
    }
    val df = rows.toDF("x", "label")
    val model = ML.logisticRegression(df, Seq("x"), "label")
    val acc = model.transform(df)
      .filter(col("prediction") === col("label")).count() / 100.0
    assert(acc >= 0.95)
  }

  test("decision tree learns a planted axis-aligned split") {
    val rows = (0 until 200).map { i =>
      val x = i / 200.0
      val y = (i % 7) / 7.0 // irrelevant feature
      (x, y, if (x > 0.37) 1.0 else 0.0)
    }
    val df = rows.toDF("x", "y", "label")
    val model = ML.decisionTreeClassifier(df, Seq("x", "y"), "label", maxDepth = 3)
    val acc = model.transform(df)
      .filter(col("prediction") === col("label")).count() / 200.0
    assert(acc >= 0.99, s"acc $acc — a depth-3 tree must nail one planted threshold")
  }

  test("GBT beats a single shallow tree on planted nonlinearity (XOR)") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map { _ =>
      val x = rnd.nextDouble(); val y = rnd.nextDouble()
      (x, y, if ((x > 0.5) != (y > 0.5)) 1.0 else 0.0)
    }
    val df = rows.toDF("x", "y", "label")
    def acc(m: org.apache.spark.ml.PipelineModel): Double =
      m.transform(df).filter(col("prediction") === col("label")).count() / 300.0
    val stump = acc(ML.decisionTreeClassifier(df, Seq("x", "y"), "label", maxDepth = 1))
    val gbt = acc(ML.gbtClassifier(df, Seq("x", "y"), "label", maxIter = 10, maxDepth = 3))
    assert(gbt >= 0.95, s"gbt acc $gbt")
    assert(gbt > stump, s"gbt $gbt should beat a depth-1 stump $stump on XOR")
  }

  test("decision tree / GBT regressors fit a step function") {
    val rows = (0 until 200).map { i =>
      val x = i / 200.0
      (x, if (x > 0.5) 10.0 else -10.0)
    }
    val df = rows.toDF("x", "label")
    for (m <- Seq(ML.decisionTreeRegressor(df, Seq("x"), "label", maxDepth = 2),
                  ML.gbtRegressor(df, Seq("x"), "label", maxIter = 5, maxDepth = 2))) {
      val mae = m.transform(df)
        .select(abs(col("prediction") - col("label"))).as[Double].collect().sum / 200.0
      assert(mae < 1.0, s"mae $mae")
    }
  }

  test("fpGrowth finds frequent itemsets") {
    val tx = Seq(Seq("a", "b"), Seq("a", "b", "c"), Seq("a", "d"), Seq("a", "b"))
      .toDF("items")
    val model = ML.fpGrowth(tx, "items", minSupport = 0.5)
    val itemsets = model.freqItemsets.select("items").as[Seq[String]].collect().map(_.sorted.mkString(","))
    assert(itemsets.contains("a") && itemsets.contains("a,b"))
  }

  test("nbsvm separates planted positive/negative vocabularies") {
    val rnd = new scala.util.Random(17)
    val pos = Seq("great", "superb", "love", "wonderful")
    val neg = Seq("awful", "dreadful", "hate", "broken")
    val noise = Seq("the", "a", "movie", "plot", "acting", "scene")
    def doc(words: Seq[String]) =
      Seq.fill(6)(noise(rnd.nextInt(noise.size))) ++ Seq.fill(2)(words(rnd.nextInt(words.size)))
    val rows = (0 until 200).map { i =>
      val label = i % 2
      (doc(if (label == 1) pos else neg), label.toDouble)
    }
    val df = rows.toDF("toks", "label")
    val model = ML.nbsvm(df, "toks", "label", vocabSize = 64)
    val acc = model.transform(df)
      .filter(col("prediction") === col("label")).count() / 200.0
    assert(acc >= 0.95, s"acc $acc")
  }

  test("lda separates two disjoint-vocabulary topics") {
    val rnd = new scala.util.Random(23)
    val sports = Seq("goal", "match", "team", "score", "league")
    val cooking = Seq("recipe", "oven", "flour", "butter", "simmer")
    val rows = (0 until 60).map { i =>
      val voc = if (i % 2 == 0) sports else cooking
      (i % 2, Seq.fill(12)(voc(rnd.nextInt(voc.size))))
    }
    val df = rows.toDF("cls", "toks")
    val out = ML.lda(df, "toks", k = 2)
    // dominant topic should align with the class for nearly all docs
    val tdist = org.apache.spark.ml.functions.vector_to_array(col("topicDistribution"))
    val dominant = out.select(col("cls"),
      array_position(tdist, array_max(tdist)).as("topic"))
      .as[(Int, Long)].collect()
    val purity = Seq(0, 1).map { c =>
      val topics = dominant.filter(_._1 == c).map(_._2)
      topics.groupBy(identity).values.map(_.size).max.toDouble / topics.length
    }.min
    assert(purity >= 0.9, s"purity $purity")
  }

  test("nlp: tokenize → ngrams → tfidf → word2vec shapes") {
    val d = Seq("spark compiles plans", "spark runs fast plans").toDF("text")
    val t = ML.tokenize(d, "text", "toks")
    assert(t.select(size(col("toks"))).as[Int].collect().forall(_ >= 3))
    val n = ML.ngrams(t, "toks", "bi", 2)
    assert(n.select(size(col("bi"))).as[Int].head == 2)
    val tf = ML.tfidf(t, "toks", "vec", numFeatures = 64)
    assert(tf.columns.contains("vec"))
    val w2v = ML.word2vec(t, "toks", "emb", dim = 8)
    assert(w2v.select("emb").head.get(0).asInstanceOf[org.apache.spark.ml.linalg.Vector].size == 8)
  }

  test("preprocessing: minmax scale, one-hot, impute") {
    val d = Seq((0.0, "x"), (5.0, "y"), (10.0, "x")).toDF("v", "c")
    val scaled = ML.minMaxScale(d, Seq("v"), "s")
    val svals = scaled.select("s").collect()
      .map(_.get(0).asInstanceOf[org.apache.spark.ml.linalg.Vector](0))
    assert(svals.min == 0.0 && svals.max == 1.0)
    val oh = ML.oneHot(d, "c", "ohe")
    assert(oh.columns.contains("ohe"))
    val withNull = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val imp = ML.impute(withNull, Seq("v"))
    assert(imp.filter(col("v").isNull).count() == 0)
  }

  test("word2vec readers parse the text and C binary formats (plain + gzip)") {
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("w2v").toString
    // text form: word + floats per line
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/m.txt"),
      "hello 1.0 2.0 3.0\nworld -1.5 0.25 4.0\n")
    val txt = Sources.word2vecText(spark, s"$dir/m.txt").orderBy("word")
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(txt("hello") == Seq(1.0f, 2.0f, 3.0f))
    assert(txt("world") == Seq(-1.5f, 0.25f, 4.0f))
    // binary form: "2 3\n" header then word + 3 LE float32 each
    def bin(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("2 3\n".getBytes)
      def rec(w: String, vs: Seq[Float]): Unit = {
        bos.write((w + " ").getBytes)
        val bb = java.nio.ByteBuffer.allocate(4 * vs.size)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vs.foreach(bb.putFloat)
        bos.write(bb.array())
        bos.write('\n')
      }
      rec("hello", Seq(1.0f, 2.0f, 3.0f))
      rec("world", Seq(-1.5f, 0.25f, 4.0f))
      bos.toByteArray
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/m.bin"), bin())
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/m2.bin.gz"))
    gz.write(bin()); gz.close()
    for (f <- Seq("m.bin", "m2.bin.gz")) {
      val got = Sources.word2vecBinary(spark, s"$dir/$f").orderBy("word")
        .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toSeq).toMap
      assert(got("hello") == Seq(1.0f, 2.0f, 3.0f), f)
      assert(got("world") == Seq(-1.5f, 0.25f, 4.0f), f)
    }
  }

  test("pretrained word2vec text source feeds the ANN cosine path end-to-end") {
    import graft.sources.Sources
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("w2vann").toString
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => (((i + 1) * (d + 3)) % 11 - 5).toFloat)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/emb.txt"),
      (0 until 20).map(i => s"w$i " + vec(i).mkString(" ")).mkString("\n"))
    val emb = Sources.word2vecText(spark, s"$dir/emb.txt")
      .withColumn("vec_id", regexp_extract(col("word"), "\\d+", 0).cast("long"))
    val got = Similarity.cosineTopK(emb, "vec_id", "vector", queryId = 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // same double math, same left-to-right fold order → exact equality
    def dotd(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dotd(a, b) / (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b)))
    val want = (1 until 20).map(i => (i.toLong, cos(vec(0), vec(i))))
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got == want)
  }
}
