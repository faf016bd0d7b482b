package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Dedup / similarity / text-analysis / multimodal operator behavior. */
class LLMOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different content about spark query engines at scale"),
    (4L, "el rapido zorro marron salta sobre el perro perezoso la la")
  ).toDF("doc_id", "text")

  /** Centroids as the (centroid_id, centroid) table the IVF operators
    * take; ids are positions. */
  private def centroidTable(cents: Seq[Array[Double]], s: SparkSession = spark): DataFrame =
    s.createDataFrame(cents.zipWithIndex.map { case (c, j) => (j, c.toSeq) })
      .toDF("centroid_id", "centroid")

  /** The planted-cluster IVF fixture: 200 vectors around the axis
    * directions e0, e4, e8, e12 (16 dims) — those four are the centroids —
    * plus vector 200 = ½e0 + ½e4, at squared L2 exactly 0.5 from each of
    * the first two centroids: a planted tie. */
  private def plantedTie: (Seq[(Long, Array[Float])], Seq[Array[Double]]) = {
    val rnd = new scala.util.Random(23)
    val rows = (0L until 200L).map { i =>
      val base = Array.fill(16)(0f)
      base((i % 4).toInt * 4) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val tie = Array.fill(16)(0f)
    tie(0) = 0.5f; tie(4) = 0.5f
    val cents = (0 until 4).map { c =>
      val a = Array.fill(16)(0.0); a(c * 4) = 1.0; a
    }
    (rows :+ (200L -> tie), cents)
  }

  /** Driver-side squared L2, in vec_l2sq's left-to-right fold order. */
  private def l2sqRef(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))

  /** Centroid indices nearest first, ties to the lower index. */
  private def nearestCells(v: Array[Double], cents: Seq[Array[Double]]): Seq[Int] =
    cents.indices.sortBy(j => (l2sqRef(v, cents(j)), j))

  /** Driver-side cosine in Similarity.cosine's operation order; None
    * where a norm is zero. */
  private def cosineRef(a: Array[Double], b: Array[Double]): Option[Double] = {
    def dot(x: Array[Double], y: Array[Double]) =
      x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
    val d = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (d == 0.0) None else Some(dot(a, b) / d)
  }

  test("exactDedup groups identical texts") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
    assert(out.count() == 4)
    assert(out.filter(col("dup_count") === 2).select("keep_id").as[Long].head == 0L)
  }

  test("minhash near-dups finds the planted near-duplicate pair") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", n = 3, k = 16, bands = 8,
      threshold = 0.3).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((0L, 1L))) // identical pair, jaccard 1.0
    assert(ids.contains((0L, 2L)) || ids.contains((1L, 2L))) // near pair
    assert(!ids.exists { case (a, b) => a == 3L || b == 3L }) // unrelated doc excluded
  }

  test("minhash band join carries only (band, id) — shingle sets join back per pair") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", n = 3, k = 16,
      bands = 8, threshold = 0.3)
    val joins = pairs.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 3) // band self-join + one shingle-set join per side
    // collect is pre-order, so the band self-join is last (deepest): its
    // sides must be pruned to the scalar key pair — no shingle payload
    val band = joins.last
    for (side <- Seq(band.left, band.right))
      assert(side.output.map(_.name).forall(n => n == "band" || n.startsWith("id")),
        s"band join side carries extra columns: ${side.output.map(_.name)}")
  }

  test("decontaminate flags docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon suffix words"), // contains the 5-gram
      (2L, "alpha beta gamma but never the full run of them here"),     // only shorter overlap
      (3L, "entirely unrelated content with no shared runs at all"),
      (4L, "tiny")                                                      // shorter than n
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 0L, false), (3L, 0L, false), (4L, 0L, false)))
    // the bloom semi-join path is exact: false positives die in the verify
    // join, false negatives cannot exist
    val bloom = Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(bloom == out)
    // degenerate bench sides (empty, all-short docs) must not crash the build
    val empty = Dedup.decontaminateBloom(corpus, bench.limit(0), "doc_id", "text", n = 5)
      .as[(Long, Long, Boolean)].collect()
    assert(empty.forall(r => r._2 == 0L && !r._3))
  }

  test("mixtureSample keeps the smallest domain whole, downsamples deterministically") {
    import graft.operators.Corpus
    val d = (0L until 40L).map(i => (i, if (i < 32) "big" else "small"))
      .toDF("doc_id", "source")
    val out = Corpus.mixtureSample(d, "source", "doc_id", alpha = 0.5)
    val rates = out.select("source", "mix_rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates.get("small").forall(_ == 1.0)) // smallest domain kept whole
    assert(rates("big") == 0.5)                 // sqrt(8/32)
    assert(out.filter(col("source") === "small").count() == 8)
    val kept = out.select("doc_id").as[Long].collect().toSet
    val again = Corpus.mixtureSample(d, "source", "doc_id", alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == again) // same rows every run, not a fresh random draw
    assert(Corpus.mixtureSample(d, "source", "doc_id", alpha = 1.0).count() == 40)
    // a null domain is its own sampled group, not silently dropped
    val withNull = d.union(Seq((100L, null.asInstanceOf[String]),
      (101L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val nulls = Corpus.mixtureSample(withNull, "source", "doc_id", alpha = 1.0)
      .filter(col("source").isNull).select("doc_id").as[Long].collect().toSet
    assert(nulls == Set(100L, 101L))
  }

  test("splitAssign buckets by fraction, stable under corpus growth") {
    import graft.operators.Corpus
    val fr = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)
    val d = (0L until 1000L).toDF("doc_id")
    val out = Corpus.splitAssign(d, "doc_id", fr)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash-proportional within a loose tolerance on 1000 ids
    assert(counts("train") > 700 && counts("train") < 900, counts)
    assert(counts("validation") > 50 && counts("validation") < 170, counts)
    assert(counts("test") > 50 && counts("test") < 170, counts)
    // growth never migrates existing ids
    val grown = Corpus.splitAssign((0L until 2000L).toDF("doc_id"), "doc_id", fr)
      .filter(col("doc_id") < 1000)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(grown == orig)
    // degenerate single bucket
    assert(Corpus.splitAssign(d, "doc_id", Seq("all" -> 1.0))
      .filter(col("split") === "all").count() == 1000)
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(d, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("deterministicShuffle produces a reproducible salt-keyed permutation") {
    import graft.operators.Corpus
    val d = (0L until 500L).toDF("doc_id")
    val out = Corpus.deterministicShuffle(d, "doc_id")
      .select("doc_id", "shuffle_key", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // pos is a dense 0-based permutation index in shuffle_key order
    assert(out.map(_._3).sorted.toSeq == (0L until 500L).toSeq)
    val byPos = out.sortBy(_._3)
    assert(byPos.map(x => (x._2, x._1)).toSeq == byPos.map(x => (x._2, x._1)).sortBy(identity).toSeq)
    // reruns give the identical permutation; a different salt gives another
    val again = Corpus.deterministicShuffle(d, "doc_id")
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.map(x => (x._1, x._3)).toMap == again)
    val other = Corpus.deterministicShuffle(d, "doc_id", salt = "epoch2")
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again != other)
    // and the shuffled order is not the input order
    assert(byPos.map(_._1).toSeq != (0L until 500L).toSeq)
  }

  test("packSequences lays docs head-to-tail per shard and cuts at the budget") {
    import graft.operators.Corpus
    val d = (0L until 30L).map(i => (i, Seq.fill((i % 5).toInt + 1)("tok").mkString(" ")))
      .toDF("doc_id", "text") // token counts cycle 1..5
    val out = Corpus.packSequences(d, "doc_id",
      size(TextAnalysis.tokens(col("text"))), nShards = 2, budget = 7)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length == 30)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._3) // by pos
      assert(ordered.map(_._3).toSeq == (1L to ordered.length).toSeq)
      var cum = 0L
      ordered.foreach { case (_, _, _, nTok, off, seqId) =>
        assert(off == cum)          // exclusive running sum of token counts
        assert(seqId == off / 7)    // sequence = 7-token chunk the doc starts in
        cum += nTok
      }
    }
  }

  test("chunkSliding: overlap invariants, no token dropped, short final window, disjoint at stride==window") {
    import graft.operators.Corpus
    // 10 tokens "t0..t9", window 4, stride 3 → starts 0,3,6,9
    val d = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, "single")).toDF("doc_id", "text")
    val out = Corpus.chunkSliding(d, "doc_id", "text", window = 4, stride = 3)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)))
    assert(doc1.map(_._5).toSeq == Seq(
      "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9"))
    // consecutive chunks share window − stride tokens
    doc1.sliding(2).foreach {
      case Array(a, b) =>
        val at = a._5.split(" "); val bt = b._5.split(" ")
        assert(at.takeRight(at.length - 3).sameElements(bt.take(at.length - 3)))
      case _ => ()
    }
    // no token dropped: every position 0..9 covered by some [start, start+n)
    val covered = doc1.flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered == (0 until 10).toSet)
    // a one-token document yields exactly one one-token chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 1, "single")))
    // stride == window → disjoint exact partition of the token stream
    val disjoint = Corpus.chunkSliding(d.filter(col("doc_id") === 1), "doc_id", "text",
      window = 4, stride = 4).as[(Long, Int, Int, Int, String)].collect()
    assert(disjoint.map(_._4).sum == 10)
    assert(disjoint.flatMap(_._5.split(" ")).toSeq == (0 until 10).map(i => s"t$i"))
    // stride > window rejects loudly (would silently drop tokens)
    intercept[IllegalArgumentException] {
      Corpus.chunkSliding(d, "doc_id", "text", window = 4, stride = 5)
    }
    // null text → no chunks, and the job survives (size(null) would
    // otherwise feed sequence() an illegal descending range and throw)
    val withNull = Seq((1L, Some("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val nn = Corpus.chunkSliding(withNull, "doc_id", "text", window = 2, stride = 2)
      .as[(Long, Int, Int, Int, String)].collect()
    assert(nn.map(_._1).toSet == Set(1L))
  }

  test("chunkSliding property: random docs tile exactly under random window/stride") {
    import graft.operators.Corpus
    // seeded sweep over (window, stride, token-count) combinations; every
    // emitted span must match the driver-side model exactly and the spans
    // must cover every token position
    val rng = new scala.util.Random(7L)
    for (_ <- 1 to 4) {
      val w = 1 + rng.nextInt(8)
      val s = 1 + rng.nextInt(w)
      val docs = (0 until 6).map { d =>
        val n = 1 + rng.nextInt(30)
        (d.toLong, (0 until n).map(i => s"t$i").mkString(" "))
      }
      val out = Corpus.chunkSliding(docs.toDF("doc_id", "text"), "doc_id", "text", w, s)
        .as[(Long, Int, Int, Int, String)].collect().groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split(" ")
        val n = toks.length
        val got = out(id).sortBy(_._2)
        assert(got.map(_._3).toSeq == (0 until n by s).toSeq, s"w=$w s=$s n=$n")
        got.foreach { case (_, cid, st, nt, chunk) =>
          assert(cid == st / s)
          assert(nt == math.min(w, n - st), s"w=$w s=$s n=$n start=$st")
          assert(chunk == toks.slice(st, st + w).mkString(" "))
        }
        assert(got.flatMap(r => r._3 until (r._3 + r._4)).toSet == (0 until n).toSet)
      }
    }
  }

  test("writeShards partitions deterministically and readers prune to one shard") {
    import graft.operators.Corpus
    val d = (0L until 50L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Corpus.writeShards(d, "doc_id", dir, nShards = 4, maxRecordsPerFile = 10)
    Corpus.writeShards(d, "doc_id", dir, nShards = 4) // re-run overwrites cleanly
    val back = spark.read.parquet(dir)
    assert(back.count() == 50)
    assert(back.select("shard").distinct().count() == 4)
    // same doc lands in the same shard on every run (resumable pipelines)
    val one = back.filter(col("shard") === 0)
    val firstIds = one.select("doc_id").as[Long].collect().toSet
    assert(firstIds.nonEmpty)
    // shard filter prunes at the file-listing level, not per-row
    val scan = one.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.exists(_.partitionFilters.nonEmpty))
  }

  test("bigram LM self-score matches hand-computed add-one log-probs") {
    import graft.operators.LangModel
    val d = Seq((0L, "a b a"), (1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    // pairs: doc0 (a,b),(b,a); doc1 (a,b) → c_ab: (a,b)=2, (b,a)=1;
    // c_a: a=2, b=1; vocab {a,b,x} = 3
    def q4(cab: Long, ca: Long) =
      math.floor(1e4 * (math.log(cab + 1.0) - math.log(ca + 3.0))).toLong
    val out = LangModel.selfScore(d, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, 2L, q4(2, 2) + q4(1, 1)),
      (1L, 1L, q4(2, 2)),
      (2L, 0L, 0L))) // single-token doc: no bigrams, scores zero
    // scoring fresh text against a trained model smooths unseen bigrams
    val (ctx, big, voc) = LangModel.trainBigram(d, "doc_id", "text")
    val fresh = Seq((9L, "a z")).toDF("doc_id", "text") // (a,z) unseen, ctx a=2
    val f = LangModel.scoreBigram(fresh, "doc_id", "text", ctx, big, voc)
      .as[(Long, Long, Long)].head()
    assert(f == ((9L, 1L, q4(0, 2))))
  }

  test("substringDedup removes later copies of shared 8-token runs, merging overlaps") {
    val shared = "one two three four five six seven eight nine ten" // 10 tokens
    val d = Seq(
      (1L, s"intro words here $shared closing part"),
      (2L, s"different opening text $shared and a tail"), // later copy → removed
      (3L, "totally unrelated content with no duplicated run at all"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, "doc_id", "text", l = 8)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 holds the minimal occurrences — untouched
    assert(out(1L)._2 == 0L && out(1L)._4.contains("one two three"))
    // doc 2: three overlapping 8-token windows merge into ONE 10-token span
    assert(out(2L)._2 == 1L, s"merged spans: ${out(2L)}")
    assert(out(2L)._3 == 10L, s"removed tokens: ${out(2L)}")
    assert(out(2L)._4 == "different opening text and a tail")
    assert(out(3L)._2 == 0L && out(3L)._3 == 0L)
  }

  test("gopherFilter: each rule flips keep; a conforming doc passes") {
    import graft.operators.TextAnalysis
    // 66 words, mean length in range, stopwords present, clean lines
    val good = (("the quick brown fox jumps over that lazy dog have with " * 6).trim)
    val rows = Seq(
      (0L, good),                                        // passes all rules
      (1L, "tiny doc the that have with"),               // < 50 words
      (2L, good + " " + ("#" * 1) * 12),                 // hash ratio > 0.1
      (3L, good.split(" ").map("- " + _).mkString("\n")), // every line bulleted
      (4L, ("aa " * 60).trim + " the that have with"))   // stopwords but mean len < 3
    val df = rows.toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(df, "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(0L), "conforming doc must pass")
    assert(!out(1L) && !out(2L) && !out(3L) && !out(4L))
    // rule-level stats are exact integer ratios
    val r = TextAnalysis.gopherFilter(df, "text")
      .select("doc_id", "n_words", "n_req_stop", "bullet_frac")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(0L)._2 == 66L && r(0L)._3 >= 4L)
    assert(r(3L)._4 == 1.0, "all lines bulleted")
  }

  test("gopherRepetition: exact top/dup n-gram char fractions and keep flags") {
    import graft.operators.TextAnalysis
    val d = Seq(
      // 6 tokens "a b a b a b": tot = 6 chars + 5 gaps = 11.
      // top 2-gram "a b" ×3 → 9/11; top 3-gram ties at cnt=2, byte-order
      // break picks "b a b" → 10/11; top 4-gram "a b a b" ×2 → 14/11 → cap 1.
      (0L, "a b a b a b"),
      (1L, "solo"), // single token: no grams at all → zero fracs, keep=true
      // 8 tokens "x y ..." : both 5-grams occur twice (dup 36/15 → cap 1),
      // the repeated 6-gram occurs twice (22/15 → cap 1), 7-grams unique.
      (2L, "x y x y x y x y")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).getAs[Double](c)
    assert(math.abs(f(0L, "top_2gram_frac") - 9.0 / 11) < 1e-12)
    assert(math.abs(f(0L, "top_3gram_frac") - 10.0 / 11) < 1e-12)
    assert(f(0L, "top_4gram_frac") == 1.0)
    assert((5 to 10).forall(n => f(0L, s"dup_${n}gram_frac") == 0.0))
    assert(!out(0L).getAs[Boolean]("keep"))
    assert((2 to 4).forall(n => f(1L, s"top_${n}gram_frac") == 0.0))
    assert(out(1L).getAs[Boolean]("keep"))
    assert(f(2L, "dup_5gram_frac") == 1.0 && f(2L, "dup_6gram_frac") == 1.0)
    assert(f(2L, "dup_7gram_frac") == 0.0)
    assert(!out(2L).getAs[Boolean]("keep"))
  }

  test("dsirWeights ranks target-like documents above off-distribution ones") {
    import graft.operators.LangModel
    val target = Seq((100L, "the cat sat on the mat"), (101L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val source = Seq(
      (1L, "the cat sat on the rug"),       // target-like
      (2L, "qq ww ee rr tt yy"),            // off-distribution
      (3L, "the dog sat on the mat"))       // target-like
      .toDF("doc_id", "text")
    val w = LangModel.dsirWeights(source, target, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(w(1L) > w(2L) && w(3L) > w(2L),
      s"target-like docs must outweigh off-distribution: $w")
    // n_grams = unigrams + bigrams = 2·tokens − 1
    val n = LangModel.dsirWeights(source, target, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(n(1L) == 11L && n(2L) == 11L)
  }

  test("removeBoilerplate: template lines go, rare and unique lines stay, order kept") {
    import graft.operators.Boilerplate
    val in = Seq(
      (1L, "siteA", "NAV BAR\nunique body one\nRare Promo\nfooter (c)"),
      (2L, "siteA", "NAV BAR\nunique body two\nfooter (c)"),
      (3L, "siteA", "NAV BAR\nunique body three\nfooter (c)"),
      (4L, "siteA", "NAV BAR\nfooter (c)"), // all-boilerplate doc → empty text
      (5L, "siteB", "NAV BAR\nsolo doc in its own group keeps everything")
    ).toDF("doc_id", "source", "text")
    val out = Boilerplate.removeBoilerplate(in, "doc_id", "text", "source",
      fracPct = 50, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "unique body one\nRare Promo") // 1/4 docs < 50% → kept
    assert(out(2L) == "unique body two")
    assert(out(4L) == "", "all-boilerplate doc must survive as empty")
    // siteB has one doc: minDocs=2 protects it entirely
    assert(out(5L) == "NAV BAR\nsolo doc in its own group keeps everything")
    // trimmed-form matching: a padded variant of a template line is removed
    val pad = Seq((1L, "s", "  tpl  \nbody"), (2L, "s", "tpl\nother"))
      .toDF("doc_id", "source", "text")
    val o2 = Boilerplate.removeBoilerplate(pad, "doc_id", "text", "source", 50, 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(o2(1L) == "body" && o2(2L) == "other")
  }

  test("kmvDistinct: exact below k, estimator lands within KMV error above") {
    import graft.operators.Sketch
    // group "small": 10 distinct values (< k=64) → exact; group "big":
    // 20 000 distinct values → estimate within the sketch's error regime
    val rows = (1 to 10).map(i => ("small", s"v$i")) ++
      (1 to 20000).map(i => ("big", s"value-$i"))
    val d = rows.toDF("grp", "v")
    val out = Sketch.kmvDistinct(d, Seq("grp"), col("v"), k = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("small") == ((10L, 10.0)))
    val (kept, est) = out("big")
    assert(kept == 64L)
    // stderr ≈ n/sqrt(k−1) ≈ 12.6% at k=64; 4 sigma leaves ~0 flake odds
    assert(math.abs(est - 20000.0) < 20000.0 * 0.5, s"est=$est")
    // duplicates don't move the sketch (distinct-reduce first)
    val dup = Sketch.kmvDistinct(d.union(d), Seq("grp"), col("v"), k = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(dup("big") == est && dup("small") == 10.0)
  }

  test("kmvDistinct equals a driver-side bottom-k, nulls skipped") {
    import graft.operators.{Sketch, TextAnalysis}
    val rows = (1 to 10).map(i => ("small", s"v$i")) ++
      (1 to 20000).map(i => ("big", s"value-$i")) ++
      (1 to 500).map(i => ("big", s"value-$i")) // duplicates: sketch must dedup
    val d = rows.toDF("grp", "v").repartition(7) // force multi-partition merge()
    // the reference: every hash collected, bottom-64 and estimate on the driver
    val ref = d.select(col("grp"), TextAnalysis.tokenHash(col("v")).as("h"))
      .as[(String, Long)].collect().groupBy(_._1).map { case (g, hs) =>
        val bk = hs.map(_._2).distinct.sorted.take(64)
        val est = if (bk.length < 64) bk.length.toDouble
          else math.floor(63.0 * 1152921504606846976.0 / bk.last.toDouble)
        (g, bk.length.toLong, est)
      }.toSet
    val out = Sketch.kmvDistinct(d, Seq("grp"), col("v"), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == ref, s"out=$out ref=$ref")
    // nulls are skipped; an all-null group vanishes
    val withNulls = (rows.map { case (g, v) => (g, v: String) } ++
      Seq(("big", null: String), ("allnull", null: String))).toDF("grp", "v")
    val hn = Sketch.kmvDistinct(withNulls, Seq("grp"), col("v"), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hn == ref, s"null handling diverged: $hn")
    // the scale claim: ObjectHashAggregate, no Window and no Sort in the plan
    val plan = Sketch.kmvDistinct(d, Seq("grp"), col("v"), k = 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), "kmvDistinct must not plan a window")
    assert(!plan.toLowerCase.contains("sort "), "kmvDistinct must not plan a sort")
  }

  test("meanPoolEmbedding: exact per-dimension means, ordered dims, OOV dropped") {
    val toks = Seq((1L, "a"), (1L, "b"), (1L, "zz"), (2L, "b"))
      .toDF("doc_id", "w")
    val vecs = Seq(("a", Seq(2L, 4L, -6L)), ("b", Seq(0L, 10L, 2L)))
      .toDF("w", "v")
    val out = Similarity.meanPoolEmbedding(toks, "doc_id", "w", vecs, "w", "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // doc 1: mean of a and b ("zz" has no vector → dropped from the pool)
    assert(out(1L) == Seq(1.0, 7.0, -2.0))
    // doc 2: a single token's embedding is the token's vector
    assert(out(2L) == Seq(0.0, 10.0, 2.0))
  }

  test("cardScrub: Luhn-valid numbers redacted, invalid digit runs untouched") {
    val in = Seq(
      (1L, "pay 4111111111111111 today"),            // valid Visa test number
      (2L, "ref 4111111111111112 is an order id"),   // fails Luhn → kept
      (3L, "card 5500 0000 0000 0004 and 4111111111111111 both"), // two valid
      (4L, "call 555-123-4567 maybe"),               // 10 digits: not a candidate
      (5L, "no digits at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cardScrub(in, "text", "clean")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, "pay <CARD> today")))
    assert(out(2L) == ((0L, "ref 4111111111111112 is an order id")))
    assert(out(3L) == ((2L, "card <CARD> and <CARD> both")))
    assert(out(4L) == ((0L, "call 555-123-4567 maybe")))
    assert(out(5L) == ((0L, "no digits at all")))
    // luhnSum ground truth: 79927398713 is the canonical Luhn example
    val s = Seq("79927398713").toDF("d")
      .select(TextAnalysis.luhnSum(col("d")).as("s")).as[Int].collect()(0)
    assert(s % 10 == 0, s"canonical Luhn example must validate: sum=$s")
  }

  test("packDocsNoSplit: next-fit invariants — no bin overflows except oversize, bins dense") {
    import graft.operators.Corpus
    val docs = (1L to 300L).map(i => (i, s"doc-$i", (i % 90 + 10))).toDF("doc_id", "txt", "n")
    val out = Corpus.packDocsNoSplit(docs, "doc_id", col("n"), nShards = 4, budget = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 300)
    // replay each shard's walk: bins must match next-fit exactly
    out.groupBy(_._2).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._3)
      var bin = 1L; var fill = 0L
      ordered.zipWithIndex.foreach { case ((id, _, pos, n, b), idx) =>
        if (idx == 0) { bin = 1L; fill = n }
        else if (fill + n <= 128) fill += n
        else { bin += 1; fill = n }
        assert(b == bin, s"doc $id pos $pos: bin $b != expected $bin")
      }
    }
    // per-bin totals never exceed budget unless the bin is one oversize doc
    out.groupBy(r => (r._2, r._5)).foreach { case ((sh, b), rows) =>
      val tot = rows.map(_._4).sum
      assert(tot <= 128 || rows.length == 1, s"shard $sh bin $b total $tot over budget")
    }
    // an oversize doc gets a bin alone and doesn't corrupt its successors
    val over = Seq((1L, 50L), (2L, 500L), (3L, 60L), (4L, 60L))
      .toDF("doc_id", "n")
    val o = Corpus.packDocsNoSplit(over, "doc_id", col("n"), nShards = 1, budget = 128)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    val oversizeBin = o(2L)
    assert(o.count(_._2 == oversizeBin) == 1, "oversize doc must sit alone")
  }

  test("poissonWeightedSample: expected size, certain whales, zero-weight excluded, deterministic") {
    import graft.operators.Corpus
    val df = (1 to 2000).map(i => (i.toLong, 100L)).toDF("doc_id", "w")
    val s1 = Corpus.poissonWeightedSample(df, "doc_id", col("w"), k = 100)
      .select("doc_id").as[Long].collect().toSet
    // Binomial(2000, 0.05): σ ≈ 9.7; ±50 is >5σ — no flake odds
    assert(math.abs(s1.size - 100) < 50, s"n=${s1.size}")
    val s2 = Corpus.poissonWeightedSample(df, "doc_id", col("w"), k = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "same input must select the identical row set")
    // a row with weight ≥ W/k has inclusion probability 1 (never missed);
    // a zero-weight row has probability 0 (never picked)
    val skew = ((1 to 99).map(i => (i.toLong, 1L)) ++ Seq((1000L, 1000L), (2000L, 0L)))
      .toDF("doc_id", "w")
    val picked = Corpus.poissonWeightedSample(skew, "doc_id", col("w"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(picked.contains(1000L), "whale with k·w ≥ W must always be kept")
    assert(!picked.contains(2000L), "zero-weight row must never be kept")
  }

  test("sq8TopK: codes bounded, zero vector guarded, high recall vs exact dot") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, (0 until 16).map(j => (math.sin(i * 16 + j) * 0.9).toFloat).toArray)
    } :+ (200L, Array.fill(16)(0f))
    val df = vecs.toDF("vec_id", "embedding")
    val enc = df.select(Similarity.sq8Encode(col("embedding")).as("e"))
      .select(col("e.codes")).as[Seq[Long]].collect()
    assert(enc.flatten.forall(c => c >= -127L && c <= 127L), "codes out of int8 range")
    val sq = Similarity.sq8TopK(df, "vec_id", "embedding", queryId = 0, k = 10).collect()
    assert(sq.length == 10)
    val q = vecs.head._2
    val exactTop = vecs.drop(1).dropRight(1).map { case (id, a) =>
      id -> a.zip(q).map { case (x, y) => x.toDouble * y.toDouble }.sum
    }.sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    val sqTop = sq.map(_.getLong(0)).toSet
    assert((exactTop intersect sqTop).size >= 8,
      s"8-bit quantization recall too low: exact=$exactTop sq8=$sqTop")
    // the zero vector neither crashes the encode nor outranks real matches
    assert(!sqTop.contains(200L))
  }

  test("hllDistinct: estimate within HLL error; small range flagged via n_zero") {
    import graft.operators.Sketch
    val rows = (1 to 10).map(i => ("small", s"v$i")) ++
      (1 to 20000).map(i => ("big", s"value-$i"))
    val d = rows.toDF("grp", "v")
    val out = Sketch.hllDistinct(d, Seq("grp"), col("v"), p = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // big: relative stderr ≈ 1.04/√256 = 6.5%; 4σ = 26% leaves ~0 flake odds
    val (_, estBig) = out("big")
    assert(math.abs(estBig - 20000.0) < 20000.0 * 0.26, s"est=$estBig")
    // small range: the RAW estimate is biased high by design (that's what
    // linear counting corrects); n_zero carries the correction's input:
    // m·ln(m/V) with V = zero registers ≈ the true 10
    val (zeros, _) = out("small")
    val lc = 256.0 * math.log(256.0 / zeros)
    assert(math.abs(lc - 10.0) < 3.0, s"linear count=$lc zeros=$zeros")
    // duplicates never move a register (max of an idempotent rank)
    val dup = Sketch.hllDistinct(d.union(d), Seq("grp"), col("v"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(dup("big") == estBig)
  }

  test("hllRegisters merge: max-union of shard sketches equals whole-corpus sketch") {
    import graft.operators.Sketch
    import org.apache.spark.sql.types.LongType
    val a = (1 to 3000).map(i => Tuple1(s"item-$i")).toDF("v")
    val b = (2000 to 5000).map(i => Tuple1(s"item-$i")).toDF("v")
    val merged = Sketch.hllRegisters(a, Nil, col("v"), p = 8)
      .union(Sketch.hllRegisters(b, Nil, col("v"), p = 8))
      .groupBy(col("bucket")).agg(max(col("r")).cast(LongType).as("r"))
    val whole = Sketch.hllRegisters(a.union(b), Nil, col("v"), p = 8)
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      whole.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val estM = Sketch.hllEstimate(merged, Nil, p = 8).collect()(0)
    val estW = Sketch.hllEstimate(whole, Nil, p = 8).collect()(0)
    assert(estM == estW)
    // 5000 true distinct; merged estimate within 4σ
    assert(math.abs(estM.getDouble(2) - 5000.0) < 5000.0 * 0.26, estM.toString)
    // the scale claim: register build is a straight two-level hash agg —
    // no window, no sort, no distinct-reduce of the value column
    val plan = Sketch.hllDistinct(a, Nil, col("v"), p = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "HLL must not plan a window")
    assert(!plan.toLowerCase.contains("sort "), "HLL must not plan a sort")
  }

  test("kmvPairwiseOverlap equals driver-side set algebra, invariance") {
    import graft.operators.{Sketch, TextAnalysis}
    val rows = (1 to 1500).map(i => ("a", s"item-$i")) ++
      (1001 to 2500).map(i => ("b", s"item-$i")) ++
      (5000 to 5030).map(i => ("c", s"other-$i"))
    val df = rows.toDF("grp", "v")
    val out = Sketch.kmvPairwiseOverlap(df, "grp", col("v"), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")), s"pairs: ${out.keySet}")
    // the reference: per-group bottom-64 of the collected hashes, then the
    // union bottom-64 and its coincidences with both sketches on the driver
    val sketches = df.select(col("grp"), TextAnalysis.tokenHash(col("v")).as("h"))
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (g, hs) => g -> hs.map(_._2).distinct.sorted.take(64).toSet }
    for ((ga, gb) <- out.keySet) {
      val (sa, sb) = (sketches(ga), sketches(gb))
      val u = (sa ++ sb).toSeq.sorted.take(64)
      val nKept = u.length.toLong
      val nCommon = u.count(h => sa(h) && sb(h)).toLong
      val union = if (nKept < 64) nKept.toDouble
        else math.floor(63.0 * 1152921504606846976.0 / u.last.toDouble)
      val jac = nCommon.toDouble / nKept
      assert(out((ga, gb)) == ((nKept, nCommon, union, jac, math.floor(jac * union))),
        s"($ga, $gb)")
    }
    // c is tiny (31 values) and disjoint: unions with it stay estimates of
    // disjoint sets — zero coincidences, jaccard 0
    assert(out(("a", "c"))._2 == 0L && out(("a", "c"))._4 == 0.0)
    // exact regime: two tiny overlapping groups, union below k
    val tiny = Sketch.kmvPairwiseOverlap(
      Seq(("x", "p"), ("x", "q"), ("y", "q"), ("y", "r")).toDF("grp", "v"),
      "grp", col("v"), k = 64).head()
    assert(tiny.getLong(2) == 3L && tiny.getDouble(4) == 3.0)
    assert(tiny.getDouble(5) == 1.0 / 3)
    // partitioning/order invariance (the sketches are set properties)
    val shuffled = Sketch.kmvPairwiseOverlap(
      df.orderBy(col("v").desc).repartition(7), "grp", col("v"), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(shuffled == out)
  }

  test("prioritySample: sample size, tau semantics, subset-sum estimator, invariance") {
    import graft.operators.Corpus
    val big = (0L until 300L).map(i => ("big", i, 1.0 + (i % 7).toDouble))
    val small = (1000L until 1005L).map(i => ("small", i, 2.0))
    val df = (big ++ small).toDF("grp", "id", "w")
    val k = 16
    val out = Corpus.prioritySample(df, Seq("grp"), "id", "w", k)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // exactly min(k, |group|) rows per group
    val byGrp = rows.groupBy(_._1)
    assert(byGrp("big").length == k && byGrp("small").length == 5)
    // a group below k has tau = 0 and w_hat = w exactly (the sample IS the
    // group; the subset-sum estimate is exact)
    assert(byGrp("small").forall(r => r._5 == 0.0 && r._6 == r._3))
    assert(byGrp("small").map(_._6).sum == 10.0)
    // a full group's tau is positive and every sampled priority >= tau
    // (the k largest priorities are kept, tau is the (k+1)-th)
    val tauBig = byGrp("big").head._5
    assert(tauBig > 0.0 && byGrp("big").forall(_._5 == tauBig))
    assert(byGrp("big").forall(_._4 >= tauBig))
    // w_hat = max(w, tau) rowwise; the DLT estimator sums to the right
    // order of magnitude (unbiasedness is an expectation over the hash,
    // so assert a loose band, not equality)
    assert(byGrp("big").forall(r => r._6 == math.max(r._3, tauBig)))
    val exact = big.map(_._3).sum
    val est = byGrp("big").map(_._6).sum
    assert(est > exact * 0.4 && est < exact * 2.5, s"estimator off: $est vs $exact")
    // partitioning/order invariance (hash priorities, mergeable heap)
    val again = Corpus.prioritySample(
      df.orderBy(col("id").desc).repartition(5), Seq("grp"), "id", "w", k)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(again == rows.toSet)
  }

  test("rankEval: hand-computed recall/MRR/NDCG, truth-only queries report zeros") {
    import graft.operators.Similarity
    val predicted = Seq(
      (1L, 100L, 0.9), (1L, 200L, 0.8), (1L, 300L, 0.7), // q1: ranks 1,2,3
      (3L, 500L, 0.5), (3L, 400L, 0.5)                   // q3: tie → id asc
    ).toDF("qid", "item", "score")
    val truth = Seq(
      (1L, 100L), (1L, 300L), (1L, 999L), // q1 hits at ranks 1 and 3
      (2L, 700L),                         // q2: truth only, no predictions
      (3L, 500L)                          // q3: hit at rank 2 (400 wins the tie)
    ).toDF("qid", "item")
    val out = Similarity.rankEval(predicted, truth, "qid", "item", "score", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    def f(r: Int) = math.floor(1e9 * 0.6931471805599453 / math.log(r + 1.0)).toLong
    val (nRel1, nHits1, rec1, mrr1, dcg1, idcg1, ndcg1) = out(1L)
    assert((nRel1, nHits1) == ((3L, 2L)) && rec1 == 2.0 / 3 && mrr1 == 1.0)
    assert(dcg1 == f(1) + f(3) && idcg1 == f(1) + f(2) + f(3))
    assert(ndcg1 == dcg1.toDouble / idcg1.toDouble)
    // q2 never predicted: zero hits, zero mrr, idcg over min(k, n_rel)=1
    assert(out(2L) == ((1L, 0L, 0.0, 0.0, 0L, f(1), 0.0)))
    // q3's tie ranks 400 first (id asc), so the hit on 500 lands at rank 2
    val (_, nHits3, _, mrr3, dcg3, _, _) = out(3L)
    assert(nHits3 == 1L && mrr3 == 0.5 && dcg3 == f(2))
  }

  test("cmsHeavyChange: planted surge and collapse surface, stable keys don't") {
    import graft.operators.Sketch
    val before = (Seq.fill(500)("stable") ++ Seq.fill(300)("fading") ++
      Seq.fill(10)("rising")).toDF("v")
    val after = (Seq.fill(505)("stable") ++ Seq.fill(20)("fading") ++
      Seq.fill(400)("rising")).toDF("v")
    val out = Sketch.cmsHeavyChange(before, after, col("v"), minDelta = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.contains("rising") && out.contains("fading"), s"$out")
    assert(!out.contains("stable"), s"stable key flagged: $out")
    // CMS one-sided error: every estimate >= its true count; the planted
    // deltas keep their signs and clear the threshold
    val (rb, ra, rd) = out("rising")
    assert(rb >= 10L && ra >= 400L && rd >= 100L)
    val (fb, fa, fd) = out("fading")
    assert(fb >= 300L && fa >= 20L && fd <= -100L)
  }

  test("rrfFuse: rank-only fusion, consensus beats one high rank, ties by id") {
    import graft.operators.Similarity
    // list A: 10 > 20 > 30; list B: 30 > 20 > 40
    val la = Seq((10L, 0.9), (20L, 0.8), (30L, 0.7)).toDF("id", "s")
    val lb = Seq((30L, 5.0), (20L, 4.0), (40L, 3.0)).toDF("id", "s")
    val out = Similarity.rrfFuse(Seq((la, "id", "s"), (lb, "id", "s")), c = 60, k = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def contrib(r: Int) = math.floor(1e12 / (60.0 + r)).toLong
    // two-list presence beats any single-list rank: 2/(c+2) > 1/(c+1) for
    // c > 58, and among two-list ids 1/x convexity puts ranks (1,3) just
    // above (2,2)
    assert(out(20L) == ((2L, 2 * contrib(2))))
    assert(out(10L) == ((1L, contrib(1))) && out(30L) == ((2L, contrib(1) + contrib(3))))
    assert(out(30L)._2 > out(20L)._2 && out(20L)._2 > out(10L)._2)
    assert(out(40L) == ((1L, contrib(3))))
    // scores that tie within a list rank deterministically by id asc
    val tied = Seq((7L, 1.0), (3L, 1.0)).toDF("id", "s")
    val t = Similarity.rrfFuse(Seq((tied, "id", "s")), c = 60, k = 2).collect()
    assert(t.map(_.getLong(0)).toSeq == Seq(3L, 7L))
    assert(t.map(_.getLong(2)).toSeq == Seq(contrib(1), contrib(2)))
  }

  test("jsDivergencePairwise: zero for identical usage, absent when disjoint, inside (0, ln 2)") {
    import graft.operators.LangModel
    val df = Seq(
      (1L, "a", "x y x z"), (2L, "b", "x y x z"), // identical distributions
      (3L, "c", "q q r"),                         // disjoint support
      (4L, "d", "x x x x y")                      // shared support, shifted mass
    ).toDF("id", "grp", "text")
    val out = LangModel.jsDivergencePairwise(df, "grp", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(6))).toMap
    // c shares no token with anyone → its pairs are absent (JS = ln 2)
    assert(out.keySet == Set(("a", "b"), ("a", "d"), ("b", "d")), s"${out.keySet}")
    // identical usage → every shared term is ln(1) = 0 and the one-sided
    // mass vanishes up to the 1e9 integerization (≤ vocab ulps)
    assert(out(("a", "b"))._1 == 3L)
    assert(math.abs(out(("a", "b"))._2) < 1e-6, s"js(a,b)=${out(("a", "b"))._2}")
    // shifted mass on shared support: strictly inside (0, ln 2)
    val jsAD = out(("a", "d"))._2
    assert(jsAD > 0.0 && jsAD < 0.6931471805599453, s"js(a,d)=$jsAD")
    // symmetric construction: (a,d) and (b,d) see identical distributions
    assert(out(("a", "d")) == out(("b", "d")))
  }

  test("scoreKneserNey: distribution normalizes, backoff branches, short docs") {
    import graft.operators.LangModel
    // trained corpus: contexts with different continuation diversity
    val train = Seq(
      (0L, "san francisco san diego san francisco"),
      (2L, "new york new jersey"),
      (4L, "the cat the dog the cat sat")).toDF("doc_id", "text")
    val (big, ctx, cont, tot) = LangModel.trainKneserNey(train, "doc_id", "text")
    val vocab = train.select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
      .distinct().as[String].collect().sorted
    // KN exactness: for a SEEN context a, sum over the trained vocab of
    // P(b|a) = 1 exactly — the discounted ML mass (c_a − d·n_follow)/c_a
    // plus d·n_follow/c_a times Σ P_cont(b) = (Σ n_prec + V)/(n_types + V)
    // = 1. Recover each P from single-bigram docs' quantized log terms.
    for (a <- Seq("san", "the")) {
      val probes = vocab.zipWithIndex.toSeq
        .map { case (b, i) => (i.toLong, s"$a $b") }.toDF("doc_id", "text")
      val scored = LangModel.scoreKneserNey(probes, "doc_id", "text",
        big, ctx, cont, tot).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val total = vocab.indices.map(i => math.exp(scored(i.toLong) / 1e4)).sum
      // each P is floor-quantized at 1e-4 nats, so the sum undershoots 1
      // by at most vocab·1e-4
      assert(total <= 1.0 + 1e-9 && total > 1.0 - vocab.length * 2e-4,
        s"sum_b P(b|$a) = $total")
    }
    // unseen context backs off to the continuation distribution alone:
    // "zzz francisco" scores ln P_cont(francisco), independent of context
    val bo = LangModel.scoreKneserNey(
      Seq((0L, "zzz francisco"), (1L, "qqq francisco")).toDF("doc_id", "text"),
      "doc_id", "text", big, ctx, cont, tot).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bo(0L) == bo(1L) && bo(0L)._1 == 1L)
    // short docs score (0, 0)
    val short = LangModel.scoreKneserNey(
      Seq((9L, "lonely")).toDF("doc_id", "text"),
      "doc_id", "text", big, ctx, cont, tot).head()
    assert(short.getLong(1) == 0L && short.getLong(2) == 0L)
    // diverse context ("san": follows = {francisco, diego}) discounts less
    // per continuation than a one-way context would: sanity that a seen
    // bigram outscores the same word under an unseen context
    val cmp = LangModel.scoreKneserNey(
      Seq((0L, "san francisco"), (1L, "zzz francisco")).toDF("doc_id", "text"),
      "doc_id", "text", big, ctx, cont, tot).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cmp(0L) > cmp(1L), s"seen bigram must outscore backoff: $cmp")
  }

  test("kmvOverlap: Jaccard estimate from sketch coincidences, exact edges") {
    import graft.operators.Sketch
    val a = (1 to 1500).map(i => Tuple1(s"item-$i")).toDF("v")
    val b = (1001 to 2500).map(i => Tuple1(s"item-$i")).toDF("v")
    // planted J = 500 / 2500 = 0.2
    val r = Sketch.kmvOverlap(a, b, col("v"), k = 64).head()
    val (nKept, jac, union, inter) =
      (r.getLong(0), r.getDouble(3), r.getDouble(2), r.getDouble(4))
    assert(nKept == 64L)
    assert(math.abs(jac - 0.2) < 0.2, s"jaccard_est=$jac")   // ±1.6 sigma·few
    assert(math.abs(union - 2500.0) < 2500.0 * 0.5, s"union_est=$union")
    assert(inter == math.floor(jac * union))
    // identical corpora → every union minimum coincides: exact Jaccard 1
    val same = Sketch.kmvOverlap(a, a, col("v"), k = 64).head()
    assert(same.getDouble(3) == 1.0)
    // disjoint corpora → zero coincidences
    val disj = Sketch.kmvOverlap(a,
      (5000 to 6000).map(i => Tuple1(s"other-$i")).toDF("v"), col("v"), k = 64).head()
    assert(disj.getLong(1) == 0L && disj.getDouble(3) == 0.0)
    // small inputs: union below k is exact
    val tiny = Sketch.kmvOverlap(
      Seq("x", "y").toDF("v"), Seq("y", "z").toDF("v"), col("v"), k = 64).head()
    assert(tiny.getLong(0) == 3L && tiny.getDouble(2) == 3.0)
    assert(tiny.getDouble(3) == 1.0 / 3)
    // one empty side still yields one row: the other side's exact count
    val empty = Sketch.kmvOverlap(Seq("x", "y", "z").toDF("v"),
      Seq.empty[String].toDF("v"), col("v"), k = 64).collect()
    assert(empty.map(_.toSeq).toSeq == Seq(Seq(3L, 0L, 3.0, 0.0, 0.0)))
    // two global sketches joined 1×1: building the frame runs no job
    assert(jobsIn(Sketch.kmvOverlap(a, b, col("v"), k = 64))._2 == 0)
  }

  test("CMS: overestimate-only, partition-invariant, exact when uncrowded") {
    import graft.operators.Sketch
    // 3 heavy values + a long tail; w=1024 ≫ 103 distinct values, so with
    // d=4 independent rows collisions are overwhelmingly unlikely to hit
    // the SAME value in every row → estimates are exact here
    val rows = Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(100)("gamma") ++ (1 to 100).flatMap(i => Seq.fill(3)(s"tail$i"))
    val d = rows.map(Tuple1(_)).toDF("v")
    val est = Sketch.cmsHeavyHitters(d, col("v"), minCount = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("alpha" -> 500L, "beta" -> 300L, "gamma" -> 100L))
    // one-sided error: est >= exact for EVERY candidate, any threshold
    val all = Sketch.cmsHeavyHitters(d, col("v"), minCount = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    exact.foreach { case (v, n) =>
      assert(all(v) >= n, s"CMS underestimated $v: ${all(v)} < $n") }
    // counters are order-free sums: the sketch is partition-invariant
    val a = Sketch.cmsBuild(d, col("v"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val b = Sketch.cmsBuild(d.repartition(13), col("v"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
    // sketch size is bounded by d·w regardless of input size
    assert(a.size <= 4 * 1024)
    // merging two corpora = union + sum: equals the sketch of the union
    val half1 = rows.take(600).map(Tuple1(_)).toDF("v")
    val half2 = rows.drop(600).map(Tuple1(_)).toDF("v")
    val merged = Sketch.cmsBuild(half1, col("v"))
      .unionByName(Sketch.cmsBuild(half2, col("v")))
      .groupBy("row", "cell").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(merged == a)
    // nulls are skipped
    val withNull = (rows.map(v => Tuple1(v: String)) :+ Tuple1(null: String)).toDF("v")
    val c = Sketch.cmsBuild(withNull, col("v"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(c == a)
  }

  test("frequentItems: exact below capacity, retention guarantee under eviction") {
    import graft.operators.Sketch
    // exact regime: capacity >= distinct → identical to groupBy count
    // with the (cnt desc, item) total order
    val rows = Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(100)("gamma") ++ (1 to 50).flatMap(i => Seq.fill(2)(f"tail$i%02d"))
    val d = rows.map(Tuple1(_)).toDF("v")
    val got = Sketch.frequentItems(d, col("v"), k = 5, maxTracked = 256)
      .as[(String, Long)].collect().toSeq
    val want = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (item, n) => (-n, item) }.take(5)
    assert(got == want, s"got=$got want=$want")
    // partition-invariant in the exact regime (sketch-merge is exact sums)
    val got13 = Sketch.frequentItems(d.repartition(13), col("v"), k = 5, maxTracked = 256)
      .as[(String, Long)].collect().toSeq
    assert(got13 == want)
    // nulls are SKIPPED (the sketch-family contract; bare approx_top_k
    // would count null as an item and let it occupy a top slot)
    val withNulls = (rows.map(Option(_)) ++ Seq.fill(600)(Option.empty[String]))
      .map(Tuple1(_)).toDF("v")
    val gotN = Sketch.frequentItems(withNulls, col("v"), k = 5, maxTracked = 256)
      .as[(String, Long)].collect().toSeq
    assert(gotN == want, s"nulls leaked into the summary: $gotN")
    // eviction regime: 3 planted heavies over a 5000-distinct tail with
    // capacity 64 — the frequent-items guarantee (any item with true
    // count > N/capacity survives) must hold, ranked first, with
    // estimates >= true count (the sketch over-counts evicted re-inserts)
    val skew = Seq.fill(2000)("hot1") ++ Seq.fill(1500)("hot2") ++
      Seq.fill(1000)("hot3") ++ (1 to 5000).map(i => s"cold$i")
    val ds = skew.map(Tuple1(_)).toDF("v").repartition(7)
    val top = Sketch.frequentItems(ds, col("v"), k = 3, maxTracked = 64)
      .as[(String, Long)].collect().toSeq
    assert(top.map(_._1) == Seq("hot1", "hot2", "hot3"), s"got $top")
    val trueCounts = Map("hot1" -> 2000L, "hot2" -> 1500L, "hot3" -> 1000L)
    top.foreach { case (item, est) =>
      assert(est >= trueCounts(item), s"$item underestimated: $est")
      assert(est <= trueCounts(item) + skew.size / 64 * 4,
        s"$item overestimate beyond sketch error: $est")
    }
    // shard-then-merge route: per-shard accumulate + combine must equal
    // the unsharded route bit-for-bit in the exact regime, and keep the
    // retention guarantee under eviction
    val sharded = rows.zipWithIndex.map { case (v, i) => (s"s${i % 5}", v) }
      .toDF("src", "v")
    val gotSharded = Sketch.frequentItemsSharded(sharded, col("src"), col("v"),
      k = 5, maxTracked = 256).as[(String, Long)].collect().toSeq
    assert(gotSharded == want, s"got=$gotSharded want=$want")
    val skewSharded = skew.zipWithIndex.map { case (v, i) => (s"s${i % 5}", v) }
      .toDF("src", "v").repartition(7)
    val topSharded = Sketch.frequentItemsSharded(skewSharded, col("src"), col("v"),
      k = 3, maxTracked = 64).as[(String, Long)].collect().toSeq
    assert(topSharded.map(_._1) == Seq("hot1", "hot2", "hot3"), s"got $topSharded")
  }

  test("dsirResample: Gumbel top-k is deterministic, weight-biased, salt-redrawn") {
    import graft.operators.LangModel
    // planted weights with a wide spread: the heavy doc must always be in
    // a small top-k and keys must come back sorted
    val w = ((1L to 30L).map(i => (i, 2L * i, 0L)) :+ ((31L, 40L, 500000L)))
      .toDF("doc_id", "n_grams", "logw_q4")
    val top = LangModel.dsirResample(w, "doc_id", k = 5)
      .select("doc_id", "key_q4").as[(Long, Long)].collect()
    assert(top.length == 5)
    assert(top.map(_._2).toSeq == top.map(_._2).toSeq.sorted.reverse)
    assert(top.map(_._1).contains(31L)) // +50 nats dwarfs any Gumbel draw
    // identical rerun; different salt = different draw order
    val again = LangModel.dsirResample(w, "doc_id", k = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(again == top.map(_._1).toSeq)
    val other = LangModel.dsirResample(w, "doc_id", k = 5, salt = "epoch2")
      .select("doc_id").as[Long].collect().toSeq
    assert(other != again) // 30 near-tied docs: a fixed draw would be ~impossible
    assert(other.contains(31L))
  }

  test("lineDedup strips lines shared across docs, keeps order and blanks") {
    val d = Seq(
      (1L, "keep me\ncommon footer\nunique line a"),
      (2L, "common footer\nunique line b\n\nafter blank"),
      (3L, "common footer\nunique line c"),
      (4L, "totally original")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "doc_id", "text", maxDocs = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // "common footer" is in 3 docs (> 2) → removed everywhere, order kept
    assert(out(0) == ((1L, "keep me\nunique line a", 1L)))
    assert(out(1) == ((2L, "unique line b\n\nafter blank", 1L)))
    assert(out(2) == ((3L, "unique line c", 1L)))
    assert(out(3) == ((4L, "totally original", 0L)))
  }

  test("segmentDedup: blank segments never count; fully-removed docs survive") {
    val d = Seq(
      (1L, "dup\n\ndup2"), (2L, "dup\n\ndup2"), (3L, "dup\ndup2"), (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "doc_id", "text", maxDocs = 1)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    // every non-blank line is shared by 3 docs → removed; blanks remain
    assert(out == Seq((1L, "", 2L), (2L, "", 2L), (3L, "", 2L), (4L, "", 0L)))
  }

  test("connectedComponents labels chains, cycles, stars and singleton edges") {
    // chain 1-2-3-4-5, cycle 10-11-12-10, star 20-{21,22,23}, pair 30-31,
    // plus self-loop and duplicate/reversed edges that must be ignored/merged
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L),
      (30L, 31L), (31L, 30L), (30L, 30L), (30L, 31L)
    ).toDF("src", "dst")
    val comp = Dedup.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L, 23L).forall(comp(_) == 20L))
    assert(Seq(30L, 31L).forall(comp(_) == 30L))
    assert(comp.size == 14) // every node present exactly once
    // the driver union-find fast path and the distributed star loop are the
    // same function — identical labels on the same graph
    val dist = Dedup.connectedComponents(edges, "src", "dst",
      localSolveMaxEdges = 0).as[(Long, Long)].collect().toMap
    assert(dist == comp)
  }

  test("connectedComponents keeps self-loop-only nodes and works on string ids") {
    // a node seen ONLY in a self-loop edge must still appear as its own
    // component, and ids keep their native type (string URLs here)
    val edges = Seq(("e", "e"), ("a", "b"), ("b", "c")).toDF("src", "dst")
    val comp = Dedup.connectedComponents(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "e" -> "e"))
  }

  test("connectedComponents throws instead of returning split components") {
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException](
      Dedup.connectedComponents(edges, "src", "dst", maxIter = 1,
        localSolveMaxEdges = 0).collect())
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connectedComponents handles a long path (multi-round convergence)") {
    // a 64-node path needs several star-contraction rounds; pin the
    // distributed loop (the local fast path would hide it)
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Dedup.connectedComponents(edges, "src", "dst",
      localSolveMaxEdges = 0).as[(Long, Long)].collect().toMap
    assert(comp.size == 64 && comp.values.forall(_ == 0L))
  }

  test("nearDupClusters groups the planted dups and keeps singletons alone") {
    val out = Dedup.nearDupClusters(docs, "text", "doc_id",
      n = 3, k = 16, bands = 8, threshold = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 0L && out(1L) == 0L && out(2L) == 0L) // dup cluster → min id
    assert(out(3L) == 3L && out(4L) == 4L)                  // singletons untouched
  }

  test("semanticDedup groups within-cluster near-dups and keeps the least-central member") {
    // two well-separated centroids; around c0: an exact pair (1,2) plus an
    // outlier-leaning member 3 (lower centroid similarity than 1/2 but still
    // cosine ≥ τ to them); around c1: a lone vector. SemDeDup must cluster
    // {1,2,3} and keep exactly 3 (least similar to its centroid).
    val c0 = Array(1.0, 0.0, 0.0, 0.0)
    val c1 = Array(0.0, 1.0, 0.0, 0.0)
    val rows = Seq(
      (1L, Seq(10.0, 0.0, 0.0, 0.0)),   // == c0 direction
      (2L, Seq(10.0, 0.0, 0.0, 0.0)),   // exact dup of 1
      (3L, Seq(9.0, 0.0, 3.0, 0.0)),    // tilted: cos to 1/2 ≈ 0.95, to c0 lower
      (4L, Seq(0.0, 5.0, 0.0, 0.0)))    // alone near c1
    val df = rows.toDF("id", "v")
    val out = Dedup.semanticDedup(df, "id", "v", centroidTable(Seq(c0, c1)), 0.9,
        "centroid_id", "centroid")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, false)),
      "central dups are dropped")
    assert(out(3L) == ((1L, true)), "the least-central group member is kept")
    assert(out(4L) == ((4L, true)), "singletons keep themselves")
  }

  test("semanticDecontaminate flags paraphrase-level cosine hits, null-safe on zero norms") {
    // bench spans the x and y axes; corpus: an exact bench hit (cos 1), a
    // paraphrase-level tilt (cos ≈ 0.948 to x̂), an orthogonal vector
    // (max cos 0 — clean), and a zero vector (cosine undefined → null/false)
    val bench = Seq(Seq(2.0, 0.0, 0.0), Seq(0.0, 3.0, 0.0)).toDF("v")
    val corpus = Seq(
      (1L, Seq(5.0, 0.0, 0.0)),  // parallel to bench x̂: max_cos = 1.0
      (2L, Seq(3.0, 0.0, 1.0)),  // cos to x̂ = 3/sqrt(10) ≈ 0.9487 ≥ τ
      (3L, Seq(0.0, 0.0, 7.0)),  // orthogonal to both: max_cos = 0.0
      (4L, Seq(0.0, 0.0, 0.0)))  // zero norm: null, never suspect
      .toDF("id", "v")
    val out = Dedup.semanticDecontaminate(corpus, bench, "id", "v", tau = 0.9)
      .select("id", "max_cos", "suspect").collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))))
      .toMap
    assert(out(1L) == ((Some(1.0), true)))
    assert(out(2L)._2 && math.abs(out(2L)._1.get - 3.0 / math.sqrt(10.0)) < 1e-12)
    assert(out(3L) == ((Some(0.0), false)))
    assert(out(4L) == ((None, false)))
    // empty benchmark (all zero-norm): nothing can leak — every row clean
    val noBench = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
    val clean = Dedup.semanticDecontaminate(corpus, noBench, "id", "v", tau = 0.9)
      .select("id", "max_cos", "suspect").collect()
    assert(clean.forall(r => r.isNullAt(1) && !r.getBoolean(2)))
  }

  test("simhash: identical texts equal, near texts close, far texts far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("h"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(0L) == sh(1L))
    assert(hamming(sh(0L), sh(2L)) <= hamming(sh(0L), sh(3L)))
  }

  test("simhashAgg (codegen path) equals the expression simhash") {
    val docs = Seq((0, "the quick brown fox jumps"), (1, "the the the"),
      (2, ""), (3, "unique words appear here now"))
      .toDF("doc_id", "text")
    val a = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("s"))
      .orderBy("doc_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val b = Dedup.simhashAgg(docs, "doc_id", "text", 16)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("minhashBase k=0 shingle sets equal withShingleHashes") {
    val docs = Seq((0, "a b c d e"), (1, "x"), (2, "a b a b a b"))
      .toDF("doc_id", "text")
    val hof = Dedup.withShingleHashes(docs, "text", "sh", 2)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .orderBy("doc_id").collect().map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSeq
    val cg = Dedup.minhashBase(docs, "doc_id", "text", n = 2, k = 0, collectShingles = true)
      .select(col("id"), array_sort(col("sh")).as("sh"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSeq
    // docs with <n tokens are absent from the codegen base by contract
    assert(cg == hof.filter(_._2.nonEmpty))
  }

  test("jaccard of identical shingle sets is 1") {
    val d = Dedup.withShingleHashes(docs, "text", "sh")
    val a = d.filter(col("doc_id") === 0).select("sh").as[Seq[Long]].head
    assert(a.nonEmpty)
    val self = docs.filter(col("doc_id") === 0)
    val out = Dedup.withShingleHashes(self, "text", "sh")
      .select(Dedup.jaccard(col("sh"), col("sh")).as("j")).as[Double].head
    assert(out == 1.0)
  }

  test("cosineTopK ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)), (3L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, k = 2).collect()
    assert(top(0).getLong(0) == 1L && math.abs(top(0).getDouble(1) - 1.0) < 1e-12)
    assert(top(1).getLong(0) == 2L)
  }

  test("cosine is null (not NaN) for zero-norm vectors, so top-k drops them") {
    // Spark's total order places NaN above every double — a 0/0 NaN from a
    // zero embedding would rank FIRST under orderBy(desc); NULL sorts last
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 0f, 0f)),
      (2L, Array(0.5f, 0.5f, 0f))
    ).toDF("vec_id", "embedding")
    val sims = vecs.select(col("vec_id"),
      Similarity.cosine(col("embedding"), array(lit(1f), lit(0f), lit(0f))).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sims(1L).isEmpty, "zero-norm row must be null")
    assert(sims(0L).exists(v => math.abs(v.asInstanceOf[Double] - 1.0) < 1e-12))
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, k = 2)
      .collect().map(_.getLong(0))
    assert(!top.contains(1L), s"zero vector must not fabricate a neighbor: ${top.toSeq}")
  }

  test("ANN via LSH reaches decent recall vs brute force") {
    // 100 clustered vectors: 4 clusters around orthogonal axes + noise
    val rnd = new scala.util.Random(7)
    val rows = (0L until 100L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(16)(0f)
      base(c * 4) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.annTopK(vecs, "vec_id", "embedding", 0L, dim = 16, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.6, s"recall $recall")
  }

  test("ANN via LSH holds recall at embedding dim 768 (codegen-safe buckets)") {
    // the fold-over-literal-matrix lshBucket must survive real embedding
    // dims without blowing the 64KB codegen method limit
    // per-dim noise scaled so total noise norm stays comparable to the
    // dim-16 case (±0.1 × √768 would swamp the unit signal)
    val rnd = new scala.util.Random(13)
    val rows = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(768)(0f)
      base(c * 192) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.03f))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.annTopK(vecs, "vec_id", "embedding", 0L, dim = 768, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.6, s"recall $recall")
  }

  test("IVF ANN probes nearest centroids and reaches decent recall") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(16)(0f)
      base(c * 4) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val model = Similarity.ivfIndex(vecs, "embedding", k = 4)
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        centroidTable(model.clusterCenters.map(_.toArray).toSeq), 0L, 10, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(ivf).size / 10.0
    assert(recall >= 0.8, s"recall $recall") // clusters are well separated
  }

  test("explicit-centroid IVF assigns to the nearest seed and reranks exactly") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(16)(0f)
      base(c * 4) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    // ideal centroids: the four axis unit vectors the clusters were planted on
    val cents = (0 until 4).map { c =>
      val a = Array.fill(16)(0.0); a(c * 4) = 1.0; a
    }
    val assigned = Similarity.ivfAssignJoin(vecs, "vec_id", "embedding",
      centroidTable(cents))
    // every vector must land on its planted cluster's centroid
    assert(assigned.filter(col("__centroid") =!= col("vec_id") % 4).count() == 0)
    // probing the query's own cluster reaches full recall vs brute force
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", centroidTable(cents),
      queryId = 0L, kResults = 10, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf == exact)
  }

  test("PQ encode picks the nearest codebook entry per subspace, ADC ranks by it") {
    // dim 4, m=2 subspaces of 2; codebooks seeded from two hand vectors so
    // codes and table cells are hand-checkable
    val vecs = Seq(
      (0L, Array(0f, 0f, 1f, 1f)),   // query
      (1L, Array(0.1f, 0f, 1f, 1f)), // ≈ query  -> smallest adc
      (2L, Array(1f, 1f, 0f, 0f)),   // opposite -> largest adc
      (3L, Array(0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksFrom(
      Seq(Array(0.0, 0.0, 1.0, 1.0), Array(1.0, 1.0, 0.0, 0.0)), m = 2)
    assert(books.size == 2 && books.head.size == 2 && books.head.head.length == 2)
    val enc = Similarity.pqEncodeExplicit(vecs, "embedding", books)
      .orderBy("vec_id")
      .select("codes").as[Seq[Int]].collect()
    assert(enc(0) == Seq(0, 0)) // query matches seed 0 in both subspaces
    assert(enc(1) == Seq(0, 0))
    assert(enc(2) == Seq(1, 1)) // opposite matches seed 1
    assert(enc(3) == Seq(0, 1)) // zero vector: sub1 closer to (0,0), sub2 to (0,0) of seed 1
    val top = Similarity.pqAdcTopK(
      Similarity.pqEncodeExplicit(vecs, "embedding", books),
      "vec_id", "embedding", books, queryId = 0, kResults = 3).collect()
    assert(top.head.getLong(0) == 1L) // nearest by ADC
    assert(top.last.getLong(0) == 2L) // opposite ranks last
  }

  test("trained PQ reaches decent recall vs brute force on planted clusters") {
    val rnd = new scala.util.Random(17)
    val rows = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(16)(0f)
      base(c * 4) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, "embedding", m = 4, k = 8)
    val enc = Similarity.pqEncodeExplicit(vecs, "embedding", books)
    // ADC approximates SQUARED L2, so the apples-to-apples baseline is the
    // exact L2 top-k (cosine ranks differently off the unit sphere)
    val q = rows.head._2.map(_.toDouble)
    val exact = rows.tail.map { case (i, v) =>
      (i, v.map(_.toDouble).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (i, d) => (d, i) }.take(10).map(_._1).toSet
    val pq = Similarity.pqAdcTopK(enc, "vec_id", "embedding", books, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(pq).size / 10.0
    assert(recall >= 0.6, s"recall $recall")
  }

  test("IVF-PQ probes posting lists and ADC-scores only their codes") {
    val rnd = new scala.util.Random(19)
    val rows = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(16)(0f)
      base(c * 4) = 1f
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val cents = (0 until 4).map { c =>
      val a = Array.fill(16)(0.0); a(c * 4) = 1.0; a
    }
    val books = Similarity.pqTrain(vecs, "embedding", m = 4, k = 8)
    val out = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", centroidTable(cents),
      books, queryId = 0L, kResults = 10, nProbe = 1, "centroid_id", "centroid")
      .select("vec_id").as[Long].collect().toSet
    // one probed list = the query's planted cluster: only cluster-0 ids
    assert(out.forall(_ % 4 == 0), out)
    // and recall vs the exact L2 top-10 stays decent despite quantization
    val q = rows.head._2.map(_.toDouble)
    val exact = rows.tail.map { case (i, v) =>
      (i, v.map(_.toDouble).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (i, d) => (d, i) }.take(10).map(_._1).toSet
    assert(exact.intersect(out).size / 10.0 >= 0.6)
  }

  test("keywordTagger tags rows via exact/substring/case rules (social tagger shape)") {
    import graft.operators.TextAnalysis.Keyword
    val docs = Seq((0, "Spark makes big data simple"), (1, "sparkling water"),
      (2, "nothing relevant")).toDF("id", "text")
    val tagged = TextAnalysis.keywordTagger(docs, "text",
      Seq(Keyword("spark", exact = true), Keyword("data")), "tags")
    val byId = tagged.collect().map(r =>
      r.getInt(0) -> r.getSeq[String](2).toList).toMap
    assert(byId(0) == List("spark", "data")) // exact token + substring
    assert(byId(1) == Nil) // "sparkling" is not an exact token match
    assert(byId(2) == Nil)
    // multi-word exact phrases match on token boundaries
    val phrase = TextAnalysis.keywordTagger(docs, "text",
      Seq(TextAnalysis.Keyword("big data", exact = true)), "tags")
    assert(phrase.filter(col("id") === 0).head.getSeq[String](2).toList == List("big data"))
    // case-sensitive exact misses the capitalized form
    val cs = TextAnalysis.keywordTagger(docs, "text",
      Seq(Keyword("spark", caseSensitive = true, exact = true)), "tags")
    assert(cs.filter(col("id") === 0).head.getSeq[String](2).isEmpty)
    // excludeOnNone drops untagged rows
    assert(TextAnalysis.keywordTagger(docs, "text",
      Seq(Keyword("data")), "tags", excludeOnNone = true).count() == 1)
  }

  test("ModelRegistry: train/apply/serialize/destroy/deserialize lifecycle") {
    import graft.ml.ModelRegistry
    val train = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0))
      .toDF("x", "y")
    import org.apache.spark.ml.{Pipeline, Transformer}
    ModelRegistry.put("m", new Pipeline().setStages(Array(
      new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(Array("x")).setOutputCol("features"),
      new org.apache.spark.ml.regression.LinearRegression().setLabelCol("y"))).fit(train))
    val scored = ModelRegistry.get[Transformer]("m").transform(train).select("prediction")
      .as[Double].collect()
    // the typed lookup's two errors name the model
    val wrongType = intercept[IllegalArgumentException](
      ModelRegistry.get[graft.ml.HmmTransformer]("m"))
    assert(wrongType.getMessage.contains("model 'm' is PipelineModel, not a HmmTransformer"))
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    ModelRegistry.serialize("m", s"$dir/m")
    ModelRegistry.destroy("m")
    val missing = intercept[IllegalArgumentException](ModelRegistry.get[Transformer]("m"))
    assert(missing.getMessage.contains("no model 'm' in the registry"))
    ModelRegistry.deserialize(spark, "m", s"$dir/m")
    val rescored = ModelRegistry.get[Transformer]("m").transform(train).select("prediction")
      .as[Double].collect()
    assert(scored.toSeq == rescored.toSeq) // loaded model scores identically
    // non-pipeline MLWritable models round-trip too (className-dispatched load)
    val buck = new org.apache.spark.ml.feature.Bucketizer()
      .setSplits(Array(0.0, 2.5, 10.0)).setInputCol("x").setOutputCol("bucket")
    ModelRegistry.put("b", buck)
    ModelRegistry.serialize("b", s"$dir/b")
    ModelRegistry.destroy("b")
    ModelRegistry.deserialize(spark, "b", s"$dir/b")
    assert(ModelRegistry.get[Transformer]("b").transform(train).select("bucket")
      .as[Double].collect().toSeq == Seq(0.0, 0.0, 1.0, 1.0))
  }

  test("langId picks the language with most marker tokens") {
    val d = Seq(
      "the cat is not a dog and the bird is free",
      "der hund ist nicht die katze und das ist gut",
      "el perro no es el gato y los dos no es").toDF("text")
    val out = d.select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(out == Seq("en", "de", "es"))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val d = Seq("abc", "acb", "abc").toDF("t")
    val fps = d.select(TextAnalysis.fingerprint(col("t"))).as[Long].collect()
    assert(fps(0) == fps(2) && fps(0) != fps(1))
    // known value: ((0*31+97)*31+98)*31+99 = 97*961 + 98*31 + 99
    assert(fps(0) == 97L * 961 + 98 * 31 + 99)
  }

  test("html extraction strips markup, decodes entities, collects links") {
    val d = Seq(
      (1L, "<html><head><title>T</title><script>var a = 1 < 2;</script>" +
        "<style>p { color: red }</style></head><body><!-- note -->" +
        "<h1>Head</h1><p>body &amp; soul &lt;tag&gt;&nbsp;end</p>" +
        "<a href=\"https://a.example/x\">x</a> <a href='http://b.example/y'>y</a>" +
        "</body></html>"),
      (2L, "plain text, no markup at all"))
      .toDF("doc_id", "html")
    val out = graft.operators.Html.extract(d, "html", "clean").orderBy("doc_id")
    val r1 = out.head
    val clean = r1.getAs[String]("clean")
    assert(clean == "T\nHead\nbody & soul <tag> end\nx y")
    assert(r1.getAs[scala.collection.Seq[String]]("clean_links").toSeq ==
      Seq("https://a.example/x", "http://b.example/y"))
    assert(r1.getAs[Long]("n_links") == 2L)
    // markup-free text passes through (modulo whitespace normalization)
    val r2 = out.collect()(1)
    assert(r2.getAs[String]("clean") == "plain text, no markup at all")
    assert(r2.getAs[Long]("n_links") == 0L)
  }

  test("c4Filter keeps punctuated prose lines and flags poison pages") {
    val page1 = Seq(
      "This is a perfectly fine prose sentence with many words.",
      "short line.", // < 5 words -> dropped
      "no terminal punctuation on this line of words", // dropped
      "Another good sentence follows the first one here!",
      "Enable javascript to view this content properly.", // javascript -> dropped
      "And a third good sentence completes the page?").mkString("\n")
    val page2 = "function f() { return 1; }\nSome text with braces."
    val page3 = "Lorem ipsum dolor sit amet consectetur adipiscing elit sed."
    val d = Seq((1L, page1), (2L, page2), (3L, page3)).toDF("id", "page")
    val out = TextAnalysis.c4Filter(d, "page").orderBy("id").collect()
    assert(out(0).getAs[String]("clean").split("\n").length == 3)
    assert(out(0).getAs[Boolean]("keep"))
    assert(out(1).getAs[Boolean]("has_brace") && !out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Boolean]("has_lorem") && !out(2).getAs[Boolean]("keep"))
    // kept lines preserve order
    assert(out(0).getAs[String]("clean").startsWith("This is a perfectly"))
  }

  test("classifierScore: hashed linear apply, integer milli-score, keep gate") {
    implicit val s = spark
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha alpha"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.classifierScore(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // same-token doc: score is 3× the token's weight and the logit reduces
    // to that single weight in units of 1.0
    assert(out(1)._2 % 3 == 0)
    assert(out(1)._3 == out(1)._2 / 1000.0 / 3)
    assert(math.abs(out(1)._3) <= 1.0) // milli-weights are in [-1000, 1000]
    // n_toks counts tokens, keep is the logit threshold
    assert(out(0)._1 == 3 && out(1)._1 == 3)
    out.foreach { case (_, _, logit, keep) => assert(keep == (logit > 0.0)) }
    // null text → zero-token path: score 0, logit 0, not kept
    assert(out(2) == ((0L, 0L, 0.0, false)))
    // weights are a pure function of the token, so equal corpora score
    // equally and the mapping is stable across invocations
    val again = TextAnalysis.classifierScore(d, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(2)).toSeq
    assert(again == out.map(_._2).toSeq)
  }

  test("classifierTrain recovers planted weights; registry round-trip; trained apply") {
    implicit val s = spark
    // planted model: "goodN" tokens are +, "badN" tokens are −; label is
    // the majority sign of an 11-token doc (odd length — no ties)
    val good = (0 until 20).map(i => s"good$i")
    val bad = (0 until 20).map(i => s"bad$i")
    val vocab = (good ++ bad).toArray
    val rnd = new scala.util.Random(42)
    val docs = (1 to 300).map { id =>
      val toks = Seq.fill(11)(vocab(rnd.nextInt(vocab.length)))
      val label = if (toks.count(_.startsWith("good")) > 5) 1.0 else 0.0
      (id.toLong, toks.mkString(" "), label)
    }
    val d = docs.toDF("doc_id", "text", "label")
    val model = TextAnalysis.classifierTrain(d, "doc_id", "text", "label")
    // exported weights drive the broadcast-join apply path; keep must agree
    // with the planted label on this linearly separable corpus
    val w = TextAnalysis.classifierExportWeights(model)
    val scored = TextAnalysis.classifierScoreWeights(d, "doc_id", "text", w)
      .select("doc_id", "keep")
    val agree = scored.join(d.select(col("doc_id"), col("label")), "doc_id")
      .filter((col("keep") && col("label") === 1.0) ||
        (!col("keep") && col("label") === 0.0)).count()
    assert(agree >= 285, s"trained classifier agreed on $agree/300")
    // planted signs are recovered: every good bucket weight >0, bad <0
    val bucketOf = vocab.toSeq.toDF("t")
      .select(col("t"), (TextAnalysis.tokenHash(col("t")) % (1 << 15)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    val wm = w.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val goodSigns = good.count(t => wm.getOrElse(bucketOf(t), 0L) > 0L)
    val badSigns = bad.count(t => wm.getOrElse(bucketOf(t), 0L) < 0L)
    assert(goodSigns >= 19 && badSigns >= 19, s"signs: +$goodSigns −$badSigns")
    // lifecycle: register, serialize, deserialize — coefficients identical
    import graft.ml.ModelRegistry
    ModelRegistry.put("qc_test", model)
    val dir = java.nio.file.Files.createTempDirectory("qc_model").toString
    ModelRegistry.serialize("qc_test", dir)
    ModelRegistry.destroy("qc_test")
    val back = ModelRegistry.deserialize(spark, "qc_test2", dir)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(back.coefficients == model.coefficients)
    ModelRegistry.destroy("qc_test2")
  }

  test("bm25TopK ranks by term frequency, length norm, and idf rarity") {
    implicit val s = spark
    val d = Seq(
      (1L, "cat cat cat dog"), // tf(cat)=3, short
      (2L, "cat " + ("filler " * 40) + "cat"), // tf(cat)=2, long → length-normed down
      (3L, "cat dog"), // both terms
      (4L, "zebra only here"), // no query terms → absent
      (5L, "dog")) // rare term only
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("cat", "dog"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 5L)) // 4 has no terms
    val score = out.toMap
    // high-tf short doc with both terms beats the long low-density one
    assert(score(1L) > score(2L))
    // ranking is the collect order (desc score, asc id)
    assert(out.map(_._2).toSeq == out.map(_._2).toSeq.sorted.reverse)
    // k truncates: top-2 only
    val top2 = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("cat", "dog"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == out.sortBy(r => (-r._2, r._1)).take(2).map(_._1).toSeq)
  }

  test("bm25TopKJoin: terms-as-data path matches the literal path per query") {
    implicit val s = spark
    val d = Seq(
      (1L, "cat cat cat dog"), (2L, "cat mouse mouse mouse bird fish lion"),
      (3L, "cat dog"), (4L, "zebra only here"), (5L, "dog"),
      (6L, "mouse bird"), (7L, "bird bird bird"))
      .toDF("doc_id", "text")
    // single query ≡ the term-list form, scores included
    val lit1 = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("cat", "dog"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val qt1 = Seq(("q1", "cat"), ("q1", "dog")).toDF("query_id", "term")
    val join1 = TextAnalysis.bm25TopKJoin(d, "doc_id", "text", qt1, k = 10)
      .orderBy(col("score_q").desc, col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(join1 == lit1, s"join=$join1 literal=$lit1")
    // multi-query: each query's slice equals its own literal run (idf is a
    // per-term corpus property, identical whichever query carries the term)
    val qt = Seq(("qa", "cat"), ("qa", "dog"), ("qb", "mouse"), ("qb", "Bird"))
      .toDF("query_id", "term") // uppercase term must still match (lowered)
    val multi = TextAnalysis.bm25TopKJoin(d, "doc_id", "text", qt, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val qa = multi.filter(_._1 == "qa").map(t => (t._2, t._3))
      .sortBy(t => (-t._2, t._1)).toSeq
    assert(qa == lit1)
    val litB = TextAnalysis.bm25TopK(d, "doc_id", "text", Seq("mouse", "bird"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val qb = multi.filter(_._1 == "qb").map(t => (t._2, t._3))
      .sortBy(t => (-t._2, t._1)).toSeq
    assert(qb == litB, s"qb=$qb literal=$litB")
    // k truncates per query, not globally
    val k1 = TextAnalysis.bm25TopKJoin(d, "doc_id", "text", qt, k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(k1.size == 2 && k1.map(_._1) == Set("qa", "qb"))
  }

  test("multimodal: byte metadata + feature extraction batch shape") {
    implicit val s = spark
    val bin = docs.withColumn("payload", encode(col("text"), "UTF-8"))
    val meta = Multimodal.withByteMeta(bin, "payload")
    assert(meta.filter(col("byte_len") > 0).count() == 5)
    // text bytes are not a decodable image → byte-fallback features, 0 marker
    val feats = Multimodal.extractFeatures(bin, "doc_id", "payload")
    val row = feats.orderBy("id").head
    assert(row.getLong(0) == 0L)
    assert(row.getSeq[Float](1).length == 8)
    assert(row.getSeq[Float](1)(7) == 0.0f)
    val frames = Multimodal.sampleFrames(bin, "payload", frameBytes = 4, stride = 2)
    assert(frames.select(size(col("frames"))).as[Int].head > 0)
  }

  test("multimodal: real PNG decode via javax.imageio (dims + exact channel means)") {
    implicit val s = spark
    // 3 solid-colour PNGs + one non-image payload
    val png = Seq(
      (1L, Multimodal.encodePng(5, 3, 0xFF8040)),
      (2L, Multimodal.encodePng(1, 1, 0x000000)),
      (3L, Multimodal.encodePng(12, 7, 0x102030)),
      (4L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(png, "doc_id", "payload").orderBy("id").collect()
    assert(out(0).getInt(1) == 5 && out(0).getInt(2) == 3)
    assert(out(0).getDouble(3) == 0xFF.toDouble &&
      out(0).getDouble(4) == 0x80.toDouble && out(0).getDouble(5) == 0x40.toDouble)
    assert(out(1).getInt(1) == 1 && out(1).getDouble(3) == 0.0)
    assert(out(2).getInt(1) == 12 && out(2).getInt(2) == 7)
    assert(out(3).isNullAt(1) && out(3).isNullAt(3)) // undecodable → nulls
    // image features carry the 1.0 decoded marker + real dims
    val f = Multimodal.extractFeatures(png, "doc_id", "payload").orderBy("id").collect()
    assert(f(0).getSeq[Float](1)(0) == 5.0f && f(0).getSeq[Float](1)(7) == 1.0f)
    assert(f(3).getSeq[Float](1)(7) == 0.0f)
  }

  test("multimodal: nearest-neighbor resize samples the floor grid exactly") {
    implicit val s = spark
    // 8×6 gradient → 4×3: sampled src pixels are (0,2,4,6)×(0,2,4), so the
    // resized means are hand-computable from the affine channel formulas
    val d = Seq(
      (1L, Multimodal.encodeGradientPng(8, 6, 10)),
      (2L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val small = Multimodal.resizeImages(d, "doc_id", "payload", 4, 3)
    val out = Multimodal.decodeImages(small, "doc_id", "payload")
      .orderBy("id").collect()
    assert(out(0).getInt(1) == 4 && out(0).getInt(2) == 3)
    val sx = Seq(0, 2, 4, 6); val sy = Seq(0, 2, 4)
    val expR = (for (x <- sx; y <- sy) yield (10 + 3 * x + 5 * y) % 256).sum / 12.0
    val expG = (for (x <- sx; y <- sy) yield (30 + 3 * x + 5 * y) % 256).sum / 12.0
    assert(out(0).getDouble(3) == expR && out(0).getDouble(4) == expG)
    assert(out(1).isNullAt(1)) // undecodable propagates as null payload → nulls
  }

  test("multimodal: perceptual aHash — uniform all-ones, duplicates collide, distinct differ") {
    implicit val s = spark
    val d = Seq(
      (1L, Multimodal.encodeGradientPng(16, 12, 40)),
      (2L, Multimodal.encodeGradientPng(16, 12, 40)),   // byte-identical dup
      (3L, Multimodal.encodeGradientPng(16, 12, 200)),  // different gradient
      (4L, Multimodal.encodeGradientPng(5, 5, 77, mx = 0, my = 0)), // uniform
      (5L, "not an image".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val out = Multimodal.perceptualHashes(d, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).get.length == 64 && out(1L).get.forall(c => c == '0' || c == '1'))
    assert(out(1L) == out(2L), "identical images must share the hash")
    assert(out(1L) != out(3L), "different gradients must differ")
    // uniform image: every cell equals the mean → every threshold bit set
    assert(out(4L).get == "1" * 64)
    assert(out(5L).isEmpty, "undecodable payload → null hash")
  }

  test("phashNearDups: pigeonhole-banded Hamming pairs, exact distances, nulls skipped") {
    val h0 = "0" * 64
    val h1 = "1" + "0" * 63                    // dist 1 from h0
    val h3 = "111" + "0" * 61                  // dist 3 from h0 (= maxDist), 2 from h1
    val far = ("1" * 4 + "0" * 12) * 4         // 16 ones spread over ALL bands
    val ph = Seq((1L, h0), (2L, h1), (3L, h3), (4L, far), (5L, null: String))
      .toDF("id", "phash")
    val out = Multimodal.phashNearDups(ph, "id", "phash", bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 2L)), s"got $out")
    // `far` differs in every band from the others (≥4 per pair) and its
    // distance exceeds maxDist — correctly absent; the null hash row never
    // enters the join
  }

  test("phashNearDups: wrong-width hash fails loudly; hashBits parameterizes band math") {
    // a 16-bit hash against the 64-bit default must raise, not silently
    // truncate the band substrings into wrong candidate sets
    val bad = Seq((1L, "0" * 16), (2L, "1" * 16)).toDF("id", "phash")
    val ex = intercept[Exception] {
      Multimodal.phashNearDups(bad, "id", "phash", bands = 4, maxDist = 3).collect()
    }
    assert(ex.getMessage.contains("expected 64-bit hash") ||
      Option(ex.getCause).exists(_.getMessage.contains("expected 64-bit hash")))
    // the same data under hashBits=16 computes exact Hamming distances
    val ph16 = Seq((1L, "0" * 16), (2L, "1" + "0" * 15), (3L, "1" * 16))
      .toDF("id", "phash")
    val out = Multimodal.phashNearDups(ph16, "id", "phash", bands = 4,
        maxDist = 3, hashBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 1L)), s"got $out")
  }

  test("multimodal: animated-GIF frame sampling decodes every stride-th frame") {
    implicit val s = spark
    val gif = Multimodal.encodeGif(3, 2, Seq(0xFF0000, 0x00FF00, 0x0000FF, 0x102030))
    val d = Seq((1L, gif), (2L, "junk".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.sampleDecodeFrames(d, "doc_id", "payload", stride = 2)
      .orderBy("id", "frame").collect()
    // 4 frames at stride 2 → frames 0 and 2; junk payload → no rows
    assert(out.length == 2 && out.forall(_.getLong(0) == 1L))
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 2))
    assert(out.forall(r => r.getInt(2) == 3 && r.getInt(3) == 2))
    assert(out(0).getDouble(4) == 255.0 && out(0).getDouble(5) == 0.0) // red
    assert(out(1).getDouble(6) == 255.0) // blue
    // stride 1 decodes all four, palette-exact
    val all = Multimodal.sampleDecodeFrames(d.filter(col("doc_id") === 1), "doc_id",
      "payload", stride = 1).orderBy("frame").collect()
    assert(all.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
    assert(all(3).getDouble(4) == 0x10.toDouble && all(3).getDouble(5) == 0x20.toDouble
      && all(3).getDouble(6) == 0x30.toDouble)
  }

  test("multimodal: real WAV audio probe via javax.sound.sampled") {
    implicit val s = spark
    // synthesize a 0.5 s mono 8 kHz 16-bit PCM WAV with the JDK encoder
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val nFrames = 4000
    val pcm = new Array[Byte](nFrames * 2)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val d = Seq((1L, wav), (2L, "nope".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudioMeta(d, "doc_id", "payload").orderBy("id").collect()
    assert(out(0).getDouble(1) == 8000.0 && out(0).getInt(2) == 1)
    assert(out(0).getLong(3) == 4000L && out(0).getDouble(4) == 500.0)
    assert(out(1).isNullAt(1))
  }

  test("multimodal: real PCM sample stats — exact integers, sign-flip crossings, nulls") {
    implicit val s = spark
    // seed 999 ⇒ samples -16, 576, 1168, 1760: one sign flip, hand-exact sums
    val d = Seq(
      (1L, Multimodal.encodePcmWav(4, 999)),
      (2L, "nope".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudioStatsBatch(d, "doc_id", "payload").orderBy("id").collect()
    assert(out(0).getLong(1) == 4L)
    assert(out(0).getLong(2) == (16L * 16 + 576L * 576 + 1168L * 1168 + 1760L * 1760))
    assert(out(0).getLong(3) == 1760L)
    assert(out(0).getLong(4) == 1L)
    assert(out(0).getDouble(5) == math.sqrt((256.0 + 331776 + 1364224 + 3097600) / 4))
    assert(out(1).isNullAt(1), "undecodable payload → nulls")
  }

  test("BPE differential: distributed trainer == naive reference on random corpora") {
    import graft.operators.Bpe
    implicit val s = spark
    // naive in-memory BPE: word-freq map, exact pair counts, canonical
    // left-to-right greedy merge — independent of the delimiter encoding
    def naiveTrain(words: Seq[String], k: Int): Seq[(String, String, Long)] = {
      var vocab: Map[List[String], Long] = words.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
        .map { case (w, f) => (w.toList.map(_.toString) :+ "</w>") -> f }
      val out = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to k) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, f) <- vocab; p <- syms.zip(syms.tail))
          counts(p) = counts.getOrElse(p, 0L) + f
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((l, r, c))
          vocab = vocab.groupBy { case (syms, _) =>
            // canonical greedy: fold left, merge when (last, cur) == (l, r)
            syms.foldLeft(List.empty[String]) { (acc, s) =>
              if (acc.nonEmpty && acc.last == l && s == r)
                acc.init :+ (l + r)
              else acc :+ s
            }
          }.view.mapValues(_.values.sum).toMap
        }
      }
      out.result()
    }
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val alphabet = "abc"
      val words = Seq.fill(60 + trial * 10)(
        Seq.fill(1 + rng.nextInt(6))(alphabet(rng.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(5).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val (merges, _) = Bpe.train(docs, "text", 6)
      val expected = naiveTrain(words, 6)
      assert(merges.map(m => (m.lft, m.rgt, m.cnt)) == expected,
        s"trial $trial: ${merges.map(m => (m.lft, m.rgt, m.cnt))} vs $expected")
    }
  }

  test("crossCorpusNearDups pairs incoming with reference only") {
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "some retained corpus document with its own distinct content"),
      // a dup INSIDE the reference — must never surface as a pair
      (102L, "some retained corpus document with its own distinct content"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // = 100
      (2L, "the quick brown fox jumps over the lazy cat again and again"), // near 100
      (3L, "fresh incoming content never seen in the retained corpus set"),
      (4L, "fresh incoming content never seen in the retained corpus set")) // dup of 3 — in×in, excluded
      .toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDups(incoming, reference, "doc_id", "text",
      n = 3, k = 16, bands = 8, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 100L)))
    assert(pairs.contains((2L, 100L))) // near-dup banded at k=16/bands=8
    assert(pairs.forall { case (i, r) => i < 100L && r >= 100L })
    assert(!pairs.exists { case (i, _) => i == 3L || i == 4L })
    assert(out.find(r => r._1 == 1L && r._2 == 100L).get._3 == 1.0)
  }

  test("vec_dot: codegen expression ≡ HOF fold, bit-for-bit, incl. nulls") {
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      (i.toLong, Array.fill(16)(rng.nextFloat()), Array.fill(16)(rng.nextFloat()))
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    // bit-identical (same left-to-right fold), not merely approximately equal
    assert(cmp.forall { case (n, h) =>
      java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(h)
    })
    val cmpL2 = df.select(
      Similarity.l2sq(col("a").cast("array<double>"),
        col("b").cast("array<double>")).as("native"),
      Similarity.l2sqHof(col("a").cast("array<double>"),
        col("b").cast("array<double>")).as("hof"))
      .as[(Double, Double)].collect()
    assert(cmpL2.forall { case (n, h) =>
      java.lang.Double.doubleToRawLongBits(n) == java.lang.Double.doubleToRawLongBits(h)
    })
    // null semantics: null array, length mismatch, null element → null
    val edge = Seq(
      (1L, Some(Seq(1.0, 2.0)), None),
      (2L, Some(Seq(1.0, 2.0)), Some(Seq(3.0))),
      (3L, Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0)))
    ).toDF("id", "a", "b")
    val e = edge.select(col("id"), Similarity.dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(e(1L).isEmpty && e(2L).isEmpty && e(3L).contains(11.0))
    val withNullElem = spark.sql(
      "SELECT vec_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 1.0d)) AS d")
    assert(withNullElem.collect()(0).isNullAt(0))
    // interpreted path (eval) agrees with codegen: force via filter pushed
    // to the driver-side literal fold
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val lit1 = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val d = graft.plans.VecDot(lit1, lit1).eval(null)
    assert(d == 14.0)
  }

  test("vec_idot: native integer dot ≡ HOF fold, incl. nulls and interpreted eval") {
    val rng = new scala.util.Random(11)
    val rows = Seq.tabulate(100) { i =>
      (i.toLong, Array.fill(16)(rng.nextInt(2000).toLong - 1000),
        Array.fill(16)(rng.nextInt(2000).toLong - 1000))
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.select(
      call_function("vec_idot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("hof"))
      .as[(Long, Long)].collect()
    assert(cmp.forall { case (n, h) => n == h })
    // null semantics match the fold: null array, length mismatch, null
    // element → null
    val edge = Seq(
      (1L, Some(Seq(1L, 2L)), Option.empty[Seq[Long]]),
      (2L, Some(Seq(1L, 2L)), Some(Seq(3L))),
      (3L, Some(Seq(1L, 2L)), Some(Seq(3L, 4L)))
    ).toDF("id", "a", "b")
    val e = edge.select(col("id"), call_function("vec_idot", col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(e(1L).isEmpty && e(2L).isEmpty && e(3L).contains(11L))
    val withNullElem = spark.sql(
      "SELECT vec_idot(array(1L, CAST(NULL AS BIGINT)), array(1L, 1L)) AS d")
    assert(withNullElem.collect()(0).isNullAt(0))
    // overflow wraps like the HOF fold (documented contract): products
    // near 2^62 summed past Long.MaxValue agree bit-for-bit
    val big = Seq((0L, Seq(1L << 31, 1L << 31, 1L << 31), Seq(1L << 31, 1L << 31, 1L << 31)))
      .toDF("id", "a", "b")
    val wrap = big.select(
      call_function("vec_idot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("hof"))
      .as[(Long, Long)].head()
    assert(wrap._1 == wrap._2)
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val lit1 = Literal.create(ArrayData.toArrayData(Array(1L, 2L, 3L)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    assert(graft.plans.VecDotLong(lit1, lit1).eval(null) == 14L)
  }

  test("knnJoin: exact ranks by cosine; IVF form matches with full probes") {
    // two planted clusters around (1,0) and (0,1), one stray
    val vecs = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)), (2L, Array(0.8, 0.05)),
      (10L, Array(0.0, 1.0)), (11L, Array(0.1, 0.9)), (12L, Array(0.05, 0.8)),
      (99L, Array(-1.0, -1.0)))
    val df = vecs.toDF("vec_id", "v")
    val exact = Similarity.knnJoinExact(df, "vec_id", "v", k = 2)
    val byId = exact.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(2))
        .map(_.getLong(1)).toSeq).toMap
    // every cluster member's top-2 are its cluster mates
    assert(byId(0L).toSet == Set(1L, 2L) && byId(10L).toSet == Set(11L, 12L))
    assert(byId(1L).head == 2L || byId(1L).head == 0L)
    assert(exact.filter(col("id") === 0L).count() == 2)
    // ranks are 1..k with descending cosine
    val r0 = exact.filter(col("id") === 0L).orderBy("rank")
      .select("rank", "cosine").as[(Int, Double)].collect()
    assert(r0.map(_._1).toSeq == Seq(1, 2) && r0(0)._2 >= r0(1)._2)
    // IVF with all cells probed reproduces the exact join bit-for-bit
    val cents = centroidTable(Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, -1.0)))
    val full = Similarity.knnJoinIvf(df, "vec_id", "v", cents, k = 2,
      nProbe = 3, "centroid_id", "centroid")
    assert(full.collect().map(_.toSeq).toSet ==
      exact.collect().map(_.toSeq).toSet)
    // single-probe: cluster members still find their mates (home cell)
    val one = Similarity.knnJoinIvf(df, "vec_id", "v", cents, k = 2,
      nProbe = 1, "centroid_id", "centroid")
    val oneMap = one.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(oneMap(0L) == Set(1L, 2L) && oneMap(10L) == Set(11L, 12L))
  }

  test("centroids-as-data: join path ≡ literal path across the IVF family") {
    // the literal path is a driver-side reference over the literal centroid
    // arrays: every result recomputed from exact squared L2 and cosine in
    // the operators' fold order, so equality is exact; the planted tie
    // must go to the lower centroid id
    val (rows, cents) = plantedTie
    val vecs = rows.toDF("vec_id", "embedding")
    val centsDf = centroidTable(cents)
    val dv = rows.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
    val cells = dv.map { case (i, v) => i -> nearestCells(v, cents) }
    assert(l2sqRef(dv(200L), cents(0)) == l2sqRef(dv(200L), cents(1)) &&
      cells(200L).take(2) == Seq(0, 1), "the planted vector ties cells 0 and 1")

    val assign = Similarity.ivfAssignJoin(vecs, "vec_id", "embedding", centsDf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign == cells.map { case (i, c) => i -> c.head })

    val probes = Similarity.ivfAssignProbesJoin(vecs, "vec_id", "embedding",
        centsDf, nProbe = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    assert(probes == cells.map { case (i, c) => i -> ((c.head, c.take(2))) })

    // the tied vector as the query probes both of its cells
    val q = 200L
    def homedIn(p: Seq[Int]): Seq[Long] = dv.keys.filter(i => p.contains(cells(i).head)).toSeq
    def ranked(i: Long, cand: Seq[Long], k: Int): Seq[(Long, Double)] =
      cand.filter(_ != i).flatMap(n => cosineRef(dv(i), dv(n)).map(n -> _))
        .sortBy { case (n, c) => (-c, n) }.take(k)
    val top = Similarity.ivfTopK(vecs, "vec_id", "embedding", centsDf, queryId = q,
        kResults = 10, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(top.nonEmpty && top == ranked(q, homedIn(cells(q).take(2)), 10))

    val knn = Similarity.knnJoinIvf(vecs, "vec_id", "embedding", centsDf,
        k = 3, nProbe = 2, "centroid_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val expectKnn = dv.keys.toSeq.flatMap { i =>
      ranked(i, homedIn(cells(i).take(2)), 3).zipWithIndex
        .map { case ((n, c), r) => (i, n, r + 1, c) }
    }.toSet
    assert(knn == expectKnn)

    // IVF-PQ = ADC top-k over exactly the query's probed posting lists
    val books = Similarity.pqCodebooksFrom(cents, m = 4)
    val pq = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", centsDf,
        books, queryId = q, kResults = 10, nProbe = 2, "centroid_id", "centroid")
      .collect().map(_.toSeq).toSeq
    val slice = vecs.filter(col("vec_id").isin(homedIn(cells(q).take(2)): _*))
    val expectPq = Similarity.pqAdcTopK(Similarity.pqEncodeExplicit(slice, "embedding", books),
        "vec_id", "embedding", books, q, 10)
      .collect().map(_.toSeq).toSeq
    assert(pq.nonEmpty && pq == expectPq)

    // the plan is a broadcast HASH join of the centroid table — k lives in
    // data, not in a k-term projection of the expression tree
    val plan = Similarity.ivfAssignJoin(vecs, "vec_id", "embedding", centsDf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("vec_l2sq(vec_l2sq"), "no unrolled per-centroid terms")
  }

  /** SemDeDup fixture: around c0 an exact pair (1, 2) and a tilted dup 3;
    * 4 alone near c1; 5 = (5, 5) equidistant from c0 and c1 (a planted
    * tie) with its near-dup 7 = (6, 5), strictly nearer c0. */
  private def semDedupFixture: (Seq[(Long, Seq[Double])], Seq[Array[Double]]) = (
    Seq(
      (1L, Seq(10.0, 0.0, 0.0, 0.0)), (2L, Seq(10.0, 0.0, 0.0, 0.0)),
      (3L, Seq(9.0, 0.0, 3.0, 0.0)), (4L, Seq(0.0, 5.0, 0.0, 0.0)),
      (5L, Seq(5.0, 5.0, 0.0, 0.0)), (7L, Seq(6.0, 5.0, 0.0, 0.0))),
    Seq(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0)))

  test("centroids-as-data: semanticDedup join path ≡ literal path") {
    // the literal path is a driver-side SemDeDup over the literal centroid
    // arrays; the planted tie must home to the lower centroid id
    val (rows, cents) = semDedupFixture
    val tau = 0.9
    val out = Dedup.semanticDedup(rows.toDF("id", "v"), "id", "v", centroidTable(cents),
        tau, "centroid_id", "centroid")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // driver-side SemDeDup: home cell by argmin (ties low), dup pairs inside
    // a cell, min-id components, keep the least centroid-similar member
    val v = rows.map { case (i, x) => i -> x.toArray }.toMap
    val home = v.map { case (i, x) => i -> nearestCells(x, cents).head }
    assert(home(5L) == 0, "the tie homes to the lower id")
    val dups = for ((a, _) <- rows; (b, _) <- rows
      if a < b && home(a) == home(b) && cosineRef(v(a), v(b)).exists(_ >= tau)) yield (a, b)
    var label = v.keys.map(i => i -> i).toMap
    for ((a, b) <- dups) {
      val m = math.min(label(a), label(b))
      label = label.map { case (i, l) => i -> (if (l == label(a) || l == label(b)) m else l) }
    }
    val keeper = label.groupBy(_._2).map { case (c, members) =>
      c -> members.keys.minBy(i => (cosineRef(v(i), cents(home(i))).get, i)) }
    assert(out == label.map { case (i, c) => i -> ((c, keeper(c) == i)) })
    assert(out(5L)._1 == out(7L)._1, "the tied vector groups with its dup in cell 0")
  }

  test("IVF operators give the same output at 1 and 7 shuffle partitions") {
    val (rows, cents) = plantedTie
    val (sdRows, sdCents) = semDedupFixture
    def outputs(s: SparkSession): Seq[Seq[Seq[Any]]] = {
      import s.implicits._
      val vecs = rows.toDF("vec_id", "embedding")
      val centsDf = centroidTable(cents, s)
      val sdCentsDf = centroidTable(sdCents, s)
      Seq(
        Similarity.ivfAssignJoin(vecs, "vec_id", "embedding", centsDf),
        Similarity.ivfAssignProbesJoin(vecs, "vec_id", "embedding", centsDf, nProbe = 2),
        Similarity.knnJoinIvf(vecs, "vec_id", "embedding", centsDf, k = 3, nProbe = 2,
          "centroid_id", "centroid"),
        Dedup.semanticDedup(sdRows.toDF("id", "v"), "id", "v", sdCentsDf, 0.9,
          "centroid_id", "centroid")
      ).map(_.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    }
    val one = outputs(SparkEntry.childSession(spark, "spark.sql.shuffle.partitions" -> "1"))
    val seven = outputs(SparkEntry.childSession(spark, "spark.sql.shuffle.partitions" -> "7"))
    assert(one.forall(_.nonEmpty))
    assert(one == seven)
  }

  test("unimax: waterfill allocation caps small domains, shares the rest") {
    import graft.operators.Corpus
    // budget 120, cap 2 epochs: a(10) caps at 20; b(40) gets 100/2=50
    // (1.25 epochs); c(100) the remaining 50 (0.5 epochs)
    val alloc = Corpus.unimaxAllocate(
      Seq(("c", 100L), ("a", 10L), ("b", 40L)), budget = 120, maxEpochs = 2.0)
    assert(alloc == Seq(("a", 20.0, 2.0), ("b", 50.0, 1.25), ("c", 50.0, 0.5)))
    // sampling: whole-epoch domains keep everything at their epoch count;
    // fractional domains keep a deterministic hash-selected subset
    val rows = Seq.tabulate(10)(i => (i.toLong, "a")) ++
      Seq.tabulate(40)(i => (100L + i, "b")) ++
      Seq.tabulate(100)(i => (1000L + i, "c"))
    val df = rows.toDF("doc_id", "dom")
    val out = Corpus.unimaxSample(df, "dom", "doc_id", 120, 2.0)
      .select("doc_id", "dom", "n_epochs")
      .as[(Long, String, Long)].collect()
    val byDom = out.groupBy(_._2)
    assert(byDom("a").length == 10 && byDom("a").forall(_._3 == 2L))
    assert(byDom("b").length == 40 && byDom("b").forall(r => r._3 == 1L || r._3 == 2L))
    val cKept = byDom.get("c").map(_.toSeq).getOrElse(Seq())
    assert(cKept.forall(_._3 == 1L) && cKept.nonEmpty && cKept.length < 100)
    // re-running yields the identical sample (hash-deterministic)
    val again = Corpus.unimaxSample(df, "dom", "doc_id", 120, 2.0)
      .select("doc_id", "n_epochs").as[(Long, Long)].collect().toSet
    assert(again == out.map(r => (r._1, r._3)).toSet)
  }

  test("unimaxSample: non-string domain column and all-null-size domains") {
    import graft.operators.Corpus
    // integer domain column must group/join via the string cast, not
    // ClassCastException on the driver collect; a domain whose sizeCol is
    // entirely null carries zero mass and simply drops out
    val df = (Seq.tabulate(20)(i => (i.toLong, 1, java.lang.Long.valueOf(10L))) ++
      Seq.tabulate(20)(i => (100L + i, 2, null.asInstanceOf[java.lang.Long])))
      .toDF("doc_id", "dom", "sz")
    val out = Corpus.unimaxSample(df, "dom", "doc_id", 400.0, 2.0, Some("sz"))
      .select("doc_id").as[Long].collect()
    assert(out.nonEmpty && out.forall(_ < 100L),
      s"only the weighted domain survives: ${out.toSeq.sorted}")
  }

  test("perplexityBuckets: per-language terciles, deterministic, none-bucket") {
    import graft.operators.LangModel
    implicit val s = spark
    val d = (
      (1L to 6L).map(i => (i, ("w" + i + " ") * 3 + "the cat sat on mat " + i, "en")) ++
        Seq((7L, "solo", "en"), // single token: no bigrams → bucket 0
          (8L, "de kat zat op de mat", "nl"))) // own language partition
      .toDF("doc_id", "text", "lang")
    val out = LangModel.perplexityBuckets(d, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getInt(4), r.getString(5))).toMap
    // en docs 1-6 split 2/2/2 across head/middle/tail
    val en = (1L to 6L).map(out)
    assert(en.map(_._4).sorted == Seq(1, 1, 2, 2, 3, 3))
    // bucket order follows perplexity order
    val byPpl = (1L to 6L).sortBy(i => (out(i)._3.get, i))
    assert(byPpl.map(i => out(i)._4) == Seq(1, 1, 2, 2, 3, 3))
    assert(out(byPpl.head)._5 == "head" && out(byPpl.last)._5 == "tail")
    // no bigrams → bucket 0 / none, null ppl
    assert(out(7L) == (("en", 0L, None, 0, "none")))
    // a single-doc language is its own head
    assert(out(8L)._4 == 1 && out(8L)._5 == "head")
  }

  test("perplexityBucketsHist: threshold tiers, same-bin ties, none-bucket") {
    import graft.operators.LangModel
    implicit val s = spark
    // doc i carries i unique rare tokens, so perplexity strictly grows with
    // i (the symmetric fixture above has IDENTICAL ppl across docs — fine
    // for ntile's doc_id tie-break, degenerate for histogram thresholds)
    val d = (
      (1L to 6L).map(i => (i, "the cat sat on the mat " +
        (1L to i).map(j => s"z${i}q$j").mkString(" "), "en")) ++
        Seq((7L, "solo", "en"),
          (8L, "de kat zat op de mat", "nl")))
      .toDF("doc_id", "text", "lang")
    val nt = LangModel.perplexityBuckets(d, "doc_id", "text", "lang")
    val out = LangModel.perplexityBucketsHist(d, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getInt(4), r.getString(5))).toMap
    // buckets are monotone in ppl: a doc never outranks a higher-ppl doc
    val en = (1L to 6L).sortBy(i => (out(i)._3.get, i))
    assert(en.map(i => out(i)._4) == en.map(i => out(i)._4).sorted)
    assert(out(en.head)._4 == 1 && out(en.head)._5 == "head")
    assert(out(en.last)._4 == 3 && out(en.last)._5 == "tail")
    // all docs in the same integer-ppl bin share a bucket
    val binOf = (1L to 6L).map(i => i -> math.floor(out(i)._3.get).toLong).toMap
    (1L to 6L).combinations(2).foreach { case Seq(a, b) =>
      if (binOf(a) == binOf(b)) assert(out(a)._4 == out(b)._4)
    }
    // when every bin is distinct, hist tiers equal the ntile tiers
    if (binOf.values.toSet.size == 6) {
      val ntm = nt.collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
      (1L to 6L).foreach(i => assert(out(i)._4 == ntm(i), s"doc $i"))
    }
    // no bigrams → bucket 0 / none, null ppl; single-doc language = head
    assert(out(7L) == (("en", 0L, None, 0, "none")))
    assert(out(8L)._4 == 1 && out(8L)._5 == "head")
    // degenerate corpus: identical docs land in one bin → everyone is head
    val same = (1L to 5L).map(i => (i, "same text every time here", "en"))
      .toDF("doc_id", "text", "lang")
    val sm = LangModel.perplexityBucketsHist(same, "doc_id", "text", "lang")
      .collect().map(r => (r.getInt(4), r.getString(5))).toSet
    assert(sm == Set((1, "head")))
  }

  test("BPE merge application is the canonical left-to-right greedy merge") {
    import graft.operators.Bpe
    // repeated run: [a,a,a] + (a,a) → [aa,a]; alternating: [a,b,a,b] + (a,b)
    // → [ab,ab]; both exercise the shared-boundary delimiter encoding
    val d = Seq("aaa", "abab", "xab").toDF("w")
    val out = d.select(col("w"),
      Bpe.symbols(Bpe.applyMerge(Bpe.initRep(col("w")), "a", "a")).as("s_aa"),
      Bpe.symbols(Bpe.applyMerge(Bpe.initRep(col("w")), "a", "b")).as("s_ab"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[String](1).toList, r.getSeq[String](2).toList)).toMap
    assert(out("aaa")._1 == List("aa", "a", "</w>"))
    assert(out("abab")._2 == List("ab", "ab", "</w>"))
    // substring safety: (a,b) must not fuse inside the symbol pair (xa, b)
    val xab = d.filter(col("w") === "xab").select(
      Bpe.symbols(Bpe.applyMerge(Bpe.applyMerge(Bpe.initRep(col("w")),
        "x", "a"), "a", "b"))).as[Seq[String]].head()
    assert(xab == Seq("xa", "b", "</w>"))
  }

  test("BPE training replays the classic low/lower/newest/widest example") {
    import graft.operators.Bpe
    implicit val s = spark
    // Sennrich et al. 2016 §3.2 corpus: freqs via repetition
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val (merges, vocab) = Bpe.train(corpus, "text", 4)
    // hand-trace: (e,s):9 → (es,t):9 → (est,</w>):9 → (l,o):7 (ties broken
    // by symbol order: e<s<t at 9; l,o beats o,w at 7)
    assert(merges.map(m => (m.step, m.lft, m.rgt, m.cnt)) == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "est", "</w>", 9L), (4, "l", "o", 7L)))
    val reps = vocab.select(col("w"), Bpe.symbols(col("rep")))
      .as[(String, Seq[String])].collect().toMap
    assert(reps("newest") == Seq("n", "e", "w", "est</w>"))
    assert(reps("low") == Seq("lo", "w", "</w>"))
    // encoding with the learned merges: counts per doc
    val enc = Bpe.encodeCounts(corpus.limit(0).union(
      Seq((100L, "the newest low"), (101L, "zz")).toDF("doc_id", "text")),
      "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // "the"→[t,h,e,</w>]=4, "newest"→4, "low"→[lo,w,</w>]=3 ⇒ 11 over 3 words
    assert(enc(100L) == ((100L, 11L, 3L)))
    assert(enc(101L) == ((101L, 3L, 1L))) // [z,z,</w>]: no merge applies
    // the vocab-reuse path agrees, including on words absent from training
    val encV = Bpe.encodeCountsFromVocab(
      Seq((100L, "the newest low"), (101L, "zz")).toDF("doc_id", "text"),
      "doc_id", "text", vocab, merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(encV == enc)
    // the merge table round-trips through its parquet artifact, in order
    val dir = java.nio.file.Files.createTempDirectory("bpe_merges").toString
    Bpe.saveMerges(spark, merges, dir + "/m")
    assert(Bpe.loadMerges(spark, dir + "/m") == merges)
  }

  test("byte-level BPE: GPT-2 byte encoding, pretokenization, training") {
    import graft.operators.Bpe
    // the published bytes_to_unicode fixed points: printable ASCII is
    // identity, space is Ġ (U+0120), newline Ċ (256+10), and a UTF-8
    // multi-byte char splits into its byte images (é = C3 A9 → Ã©)
    assert(Bpe.byteToUnicode(32) == 'Ġ')
    assert(Bpe.byteToUnicode(10) == 'Ċ')
    assert(Bpe.byteToUnicode('a'.toInt) == 'a')
    assert(Bpe.byteToUnicode(0xC3) == 'Ã' && Bpe.byteToUnicode(0xA9) == '©')
    val enc = Seq(("a b", "café\nok"))
      .toDF("t1", "t2")
      .select(Bpe.byteEncode(col("t1")), Bpe.byteEncode(col("t2")))
      .as[(String, String)].head()
    assert(enc._1 == "aĠb")
    assert(enc._2 == "cafÃ©Ċok")
    // pretokens keep their leading space; contractions split; digits and
    // punctuation runs separate; whitespace runs stay whole (documented
    // lookahead-free divergence from the reference pattern)
    val toks = Seq("He isn't  25% done").toDF("text")
      .select(Bpe.bytePretokens(col("text"))).as[Seq[String]].head()
    assert(toks == Seq("He", "Ġisn", "'t", "ĠĠ", "25", "%",
      "Ġdone"), toks)
    // training: spaces participate in merges — " a a a" has pretokens
    // [Ġa ×3], so (Ġ,a) is a legal, dominant first merge
    implicit val s = spark
    val corpus = Seq((1L, "the cat the cat"), (2L, "the dog")).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.trainBytes(corpus, "text", 3)
    // pretoken freqs: "the"×1? no: ["the","Ġcat","Ġthe","Ġcat"] + ["the","Ġdog"]
    // pairs weighted: (Ġ,t):1? trace: the(2): t,h,e; Ġcat(2): Ġ,c,a,t;
    // Ġthe(1): Ġ,t,h,e; Ġdog(1): Ġ,d,o,g → (t,h):3 (h,e):3 (Ġ,c):2 (c,a):2
    // (a,t):2 ... argmax ties (h,e) vs (t,h) at 3 → lft order: h < t
    assert(merges.head.lft == "h" && merges.head.rgt == "e" && merges.head.cnt == 3)
    assert(merges(1).lft == "t" && merges(1).rgt == "he" && merges(1).cnt == 3)
    // no </w> marker anywhere in the learned symbols
    assert(!merges.exists(m => m.merged.contains("</w>")))
    val counts = Bpe.encodeCountsFromVocabBytes(corpus, "doc_id", "text",
      vocab, merges).as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 2 "the dog": pretokens [the, Ġdog] → "the"→[the]=1 sym after
    // merge 3? step3 argmax... just assert pretoken counts and totals sane
    assert(counts(1L)._3 == 4L && counts(2L)._3 == 2L)
    assert(counts(2L)._2 >= 2L && counts(2L)._2 <= 8L)
  }
}
