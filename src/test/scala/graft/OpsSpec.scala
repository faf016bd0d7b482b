package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.engine.Ops
import scala.jdk.CollectionConverters._

/** Per-operator specs on inline frames (transliteration of the reference's
  * BaseProcessorTestSuite shapes, FIXTURES.md §1). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val kv = Seq(
    ("a1", "b1", 1), ("a2", "b2", 2), ("a3", "b3", 3)
  ).toDF("key1", "key2", "n")

  test("fieldFilter selects, renames, defaults") {
    val out = Ops.fieldFilter(kv, Seq(Seq("key1") -> "k", Seq("n") -> "num"))
    assert(out.columns.toSeq == Seq("k", "num"))
    assert(out.count() == 3)
    val dflt = Ops.fieldFilter(kv, Seq(Seq("key1") -> "k", Seq("absent") -> "d"), Map("d" -> "x"))
    assert(dflt.select("d").as[String].collect().toSeq == Seq("x", "x", "x"))
  }

  test("fieldRemove/fieldCopy/fieldRename") {
    assert(Ops.fieldRemove(kv, Seq("key2")).columns.toSeq == Seq("key1", "n"))
    val copied = Ops.fieldCopy(kv, Seq(Seq("key1") -> "copy1"))
    assert(copied.filter(col("copy1") === col("key1")).count() == 3)
    assert(Ops.fieldRename(kv, Seq(Seq("key1") -> "renamed")).columns.toSeq ==
      Seq("renamed", "key2", "n"))
  }

  test("runningCount numbers rows in order with start/step") {
    val out = Ops.runningCount(kv, Seq(col("n")), startAt = 10, stepSize = 5, result = "seq")
    assert(out.orderBy("n").select("seq").as[Long].collect().toSeq == Seq(10L, 15L, 20L))
  }

  test("materialize keeps the rows, cuts lineage and leaves the CacheManager alone") {
    val cache = spark.sharedState.cacheManager
    val wasEmpty = cache.isEmpty
    val d = spark.range(100).toDF("id").repartition(3).withColumn("sq", col("id") * col("id"))
    val m = Ops.materialize(d)
    assert(m.as[(Long, Long)].collect().toSet == d.as[(Long, Long)].collect().toSet)
    assert(m.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"materialized plan is not a LogicalRDD:\n${m.queryExecution.analyzed}")
    assert(cache.isEmpty == wasEmpty && !m.storageLevel.isValid,
      "materialize registered a CacheManager entry")
  }

  /** Code lines of src/main as (file:line, line): `//` and
    * scaladoc/block comment lines dropped, so a comment naming a mechanism
    * does not count. */
  private lazy val mainCode: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val lines = scala.util.Using.resource(scala.io.Source.fromFile(p.toFile, "UTF-8"))(_.getLines().toList)
        lines.zipWithIndex.collect {
          case (l, i) if !Seq("//", "/*", "*").exists(l.trim.startsWith) =>
            (s"${root.relativize(p)}:${i + 1}", l)
        }
      }
    }
  }

  test("materialization goes through Ops.materialize only (source gate)") {
    def sites(marker: String) = mainCode.filter(_._2.contains(marker))
    assert(sites(".localCheckpoint(").map(_._2.trim) ==
      Seq("def materialize(df: DataFrame): DataFrame = df.localCheckpoint()"),
      s"localCheckpoint outside Ops.materialize: ${sites(".localCheckpoint(")}")
    assert(sites(".persist(").isEmpty, s"persist in src/main: ${sites(".persist(")}")
    assert(sites(".cache()").isEmpty, s".cache() in src/main: ${sites(".cache()")}")
  }

  test("withGlobalIndex stays in DataFrame land: no RDD scan, no global window") {
    val d = spark.range(1000).toDF("id").repartition(7)
    val out = Ops.withGlobalIndex(d, Seq(col("id")), "idx")
    assert(out.orderBy("id").select("idx").as[Long].collect().toSeq == (0L until 1000L))
    val plan = out.queryExecution.executedPlan.toString
    // the layout-pinning localCheckpoint surfaces as a Scan ExistingRDD of
    // binary InternalRows (no per-row object churn); what must NOT appear is
    // object (de)serialization or a single-partition window
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
      "row-object churn leaked into the plan")
    assert(!plan.toLowerCase.contains("window"), "single-partition window leaked into the plan")
  }

  test("withGlobalIndex survives a genuinely multi-partition range shuffle") {
    // wide rows so AQE cannot coalesce the range shuffle to one partition —
    // without layout pinning the counts job and the final job can sample
    // DIFFERENT range boundaries (per-execution seed) and corrupt indices
    val d = spark.range(200000).toDF("id")
      .withColumn("pad", concat_ws("", array((0 until 16).map(_ => md5(col("id").cast("string"))): _*)))
      .repartition(13)
    val out = Ops.withGlobalIndex(d, Seq(col("id")), "idx").select("id", "idx").cache()
    try {
      val n = out.count()
      assert(n == 200000L)
      assert(out.select("idx").distinct().count() == 200000L, "duplicate/missing indices")
      assert(out.agg(min("idx"), max("idx")).as[(Long, Long)].head == ((0L, 199999L)))
      // index order must equal key order
      assert(out.filter(col("id") =!= col("idx")).count() == 0)
    } finally out.unpersist()
  }

  test("drop skips the first N in order without a global window") {
    val d = spark.range(100).toDF("id").repartition(5)
    val out = Ops.drop(d, 10, Seq(col("id")))
    assert(out.orderBy("id").select("id").as[Long].collect().toSeq == (10L until 100L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"), "global window leaked into the plan")
    assert(!plan.contains("DeserializeToObject"), "row-object churn leaked into the plan")
  }

  /** Every public member def of `obj` (declared in `file`, two-space
    * indent; local defs sit deeper) must have a caller in src/main: a
    * qualified `obj.name` anywhere, or a bare `name(` inside `file`.
    * `exempt` maps a name to why it may stand without one; `known` are
    * defs the scan must find, so a broken scan cannot pass vacuously. */
  private def assertCallers(file: String, obj: String, exempt: Map[String, String],
                            known: Seq[String]): Unit = {
    // string literals blanked, so a name quoted in a message is no caller
    val code = mainCode.map { case (at, l) => (at, l.replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", "\"\"")) }
    val inFile = code.filter(_._1.startsWith(s"$file:"))
    val defs = inFile.map(_._2).collect {
      case l if l.startsWith("  def ") => l.drop(6).takeWhile(_.isLetterOrDigit)
    }
    def called(name: String): Boolean =
      code.exists(_._2.matches(s".*\\b$obj\\.$name\\b.*")) ||
        inFile.exists { case (_, l) => !l.trim.startsWith(s"def $name") && l.matches(s".*\\b$name\\(.*") }
    assert(known.forall(defs.contains), s"def scan found: $defs")
    val uncalled = defs.distinct.filterNot(d => exempt.contains(d) || called(d))
    assert(uncalled.isEmpty, s"public $obj defs without a src/main caller: ${uncalled.mkString(", ")}")
    assert(exempt.keySet.forall(defs.contains), s"an exempt name is no longer a $obj def")
  }

  test("every public Ops def has a caller in src/main (source gate)") {
    // library entry points that copy no processor, kept for callers outside graft
    assertCallers("graft/engine/Ops.scala", "Ops", Map(
      "saltedJoin" -> "the explicit skew fallback past AQE's skew-join split (SCALE.md)",
      "signalBuffer" -> "SignalBufferProcessor's batch barrier; flows use Streams.signalBuffer",
      "dynamicFetch" -> "the data-dependent lookup the ListJsonFetcherProcessor reject points to"),
      known = Seq("materialize", "fieldFilter"))
  }

  test("every public ML def has a caller in src/main (source gate)") {
    // API bodies of reference components no flow entry or suite query runs;
    // a copy of an FQCN train body is never exempt
    assertCallers("graft/ml/ML.scala", "ML", Map(
      "nbsvm" -> "the reference NBSVM component's train body (NBSVMProcessor)",
      "lda" -> "the reference LDA component's topic model (LDA.scala)",
      "word2vec" -> "the reference Word2Vec component's training body (Word2Vec.scala)"),
      known = Seq("fpGrowth", "nbsvm"))
  }

  test("every public Sketch, Similarity and Dedup def has a caller in src/main (source gate)") {
    // a superseded twin of an operator body is never exempt
    assertCallers("graft/operators/Sketch.scala", "Sketch", Map.empty,
      known = Seq("kmvDistinct", "kmvOverlap"))
    assertCallers("graft/operators/Similarity.scala", "Similarity", Map(
      "dotHof" -> "the fold form specs compare the native vec_dot against",
      "l2sqHof" -> "the fold form specs compare the native vec_l2sq against",
      "ivfIndex" -> "the IVF-quantizer trainer, seeded so that oracles can replay it",
      "pqTrain" -> "the PQ-codebook trainer, seeded so that oracles can replay it"),
      known = Seq("knnJoinExact", "knnJoinIvf"))
    assertCallers("graft/operators/Dedup.scala", "Dedup", Map(
      "simhash" -> "the reference specs compare the codegen'd simhash form against"),
      known = Seq("minhashNearDups"))
  }

  test("array ops: explode, zip, flatten, element") {
    val arrs = Seq((1, Seq("x", "y"), Seq(1, 2, 3))).toDF("id", "a", "b")
    assert(Ops.sequenceExplode(arrs, "a", "e").count() == 2)
    val zipped = Ops.zipExplode(arrs, "a", "b", "x", "y")
    assert(zipped.count() == 3) // padded to longest
    assert(zipped.filter(col("x").isNull).count() == 1)
    val nested = Seq((1, Seq(Seq(1, 2), Seq(3)))).toDF("id", "nn")
    assert(Ops.sequenceFlatten(nested, "nn", "f").select("f").as[Seq[Int]].head == Seq(1, 2, 3))
    val dup = Seq((1, Seq("a", "b", "a"))).toDF("id", "arr")
    assert(Ops.getListElement(dup, "arr", 1, "el").select("el").as[String].head == "b")
  }

  test("filter via Tuktu predicate + regex tree + absent fields") {
    assert(Ops.filter(kv, "${n} > 1").count() == 2)
    val re = Ops.regexFilter(kv, Ops.RegexAnd(Seq(
      Ops.RegexLeaf("key1", "a[12]"), Ops.RegexNot(Ops.RegexLeaf("key2", "b1")))))
    assert(re.select("key1").as[String].collect().toSeq == Seq("a2"))
    val withNull = Seq(("x", Some(1)), ("y", None)).toDF("k", "v")
    assert(Ops.absentFieldsFilter(withNull, Seq("v")).count() == 1)
  }

  test("dedupFirstSeen keeps first row per key in given order") {
    val d = Seq(("k1", 2, "second"), ("k1", 1, "first"), ("k2", 5, "only"))
      .toDF("k", "ord", "tag")
    val out = Ops.dedupFirstSeen(d, Seq("k"), Seq(col("ord")))
    assert(out.orderBy("k").select("tag").as[String].collect().toSeq == Seq("first", "only"))
  }

  test("stratifiedSample takes min-class count per class") {
    val d = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5)).toDF("cls", "v")
    val out = Ops.stratifiedSample(d, "cls", Seq(col("v")))
    assert(out.groupBy("cls").count().select("count").as[Long].collect().toSet == Set(2L))
  }

  test("stratifiedSample of an empty frame samples no rows") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("cls STRING, v INT")
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val out = Ops.stratifiedSample(empty, "cls", Seq(col("v")))
    assert(out.schema == schema && out.count() == 0)
  }

  test("aggregateByValue groups and evaluates aggregate expressions") {
    val d = Seq(("g1", 1.0), ("g1", 3.0), ("g2", 10.0)).toDF("g", "v")
    val out = Ops.aggregateByValue(d, Seq("g"), Seq(
      "total" -> "sum(v)", "mean" -> "avg(v)", "n" -> "count(v)"))
      .orderBy("g")
    val rows = out.collect()
    assert(rows(0).getDouble(1) == 4.0 && rows(0).getDouble(2) == 2.0 && rows(0).getLong(3) == 2L)
    assert(rows(1).getDouble(1) == 10.0)
  }

  test("min/max row returns the whole extreme row") {
    val d = Seq(("a", 3), ("b", 1), ("c", 7)).toDF("k", "v")
    assert(Ops.maxRow(d, "v").select("k").as[String].head == "c")
    assert(Ops.minRow(d, "v").select("k").as[String].head == "b")
  }

  test("mode returns most frequent with deterministic tie-break") {
    val d = Seq("x", "y", "x", "z", "y").toDF("v")
    val r = Ops.mode(d, "v").head
    assert(r.getString(0) == "x" && r.getLong(1) == 2) // tie x/y → x (asc)
  }

  test("recursiveLookup reaches transitive closure") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val out = Ops.recursiveLookup(edges, seeds, "src", "dst")
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("flatten spreads nested structs into dotted columns") {
    val d = Seq((1, ("in", 2))).toDF("id", "s")
    val out = Ops.flatten(d, d.columns.toSeq, "_")
    assert(out.columns.toSet == Set("id", "s__1", "s__2"))
  }

  test("serialMerge unions mismatched schemas with nulls") {
    val a = Seq((1, "x")).toDF("id", "a")
    val b = Seq((2, true)).toDF("id", "b")
    val out = Ops.serialMerge(Seq(a, b))
    assert(out.count() == 2 && out.columns.toSet == Set("id", "a", "b"))
  }

  test("saltedJoin equals the plain join result under skew") {
    val probe = (Seq.fill(500)("hot") ++ Seq("cold1", "cold2")).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("k", "v")
    val build = Seq(("hot", 1), ("cold1", 2), ("missing", 9)).toDF("k", "w")
    val plain = probe.join(build, Seq("k")).select("k", "v", "w")
      .collect().map(_.toSeq).toSet
    val salted = Ops.saltedJoin(probe, build, Seq("k"), salts = 8)
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.size == 501)
  }

  test("ifThenElse routes values by Tuktu predicate") {
    val d = Seq(1.0, 150.0).toDF("v")
    val out = Ops.ifThenElse(d, "${v} > 100", lit("big"), lit("small"), "b")
      .select("b").as[String].collect().toSeq
    assert(out == Seq("small", "big"))
  }

  test("tupleListImplode renders array<struct> as joined entries") {
    val d = Seq((1, Seq(("a", 1), ("b", 2)))).toDF("id", "kv")
    val out = Ops.tupleListImplode(d, Seq("kv"), "=", "s")
      .select(array_join(col("s"), ";")).as[String].head
    assert(out == "a=1;b=2")
  }

  test("jsonMerge deep-merges structs: b wins, recursion, union of keys") {
    val d = Seq((1, "x")).toDF("id", "v")
      .select(
        struct(lit(1).as("keep"), lit("old").as("clash"),
          struct(lit("s1").as("inner1"), lit("o").as("iclash")).as("nested")).as("a"),
        struct(lit("new").as("clash"), lit(null).cast("string").as("nullb"),
          struct(lit("n").as("iclash"), lit("s2").as("inner2")).as("nested"),
          lit(9).as("extra")).as("b"))
      .withColumn("nullb_probe", lit("fallback"))
    val out = Ops.jsonMerge(d, "a", "b", "m").select("m.*")
    val r = out.head
    assert(r.getAs[Int]("keep") == 1)             // only in a
    assert(r.getAs[String]("clash") == "new")     // b wins
    assert(r.getAs[Int]("extra") == 9)            // only in b
    val nested = r.getAs[Row]("nested")
    assert(nested.getAs[String]("inner1") == "s1")  // recursion keeps a-only
    assert(nested.getAs[String]("iclash") == "n")   // recursion: b wins
    assert(nested.getAs[String]("inner2") == "s2")  // recursion adds b-only
  }

  test("jsonMerge treats null b-leaf as absent key (a survives)") {
    val d = Seq(("keepme", Option.empty[String])).toDF("av", "bv")
      .select(struct(col("av").as("f")).as("a"), struct(col("bv").as("f")).as("b"))
    val out = Ops.jsonMerge(d, "a", "b", "m")
    assert(out.select("m.f").as[String].head == "keepme")
  }

  test("dynamicFetch resolves a per-row field name to that field's value") {
    val d = Seq(("a", 1, "x"), ("b", 2, "y"), ("nope", 3, "z"))
      .toDF("which", "a", "b")
    val out = Ops.dynamicFetch(d, "which", "picked")
      .select("picked").as[String].collect().toSeq
    assert(out == Seq("1", "y", null)) // unknown name -> null
  }

  test("dynamicFetch preserves the value type when candidates share one type") {
    val longs = Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("which", "a", "b")
    val out = Ops.dynamicFetch(longs, "which", "picked")
    assert(out.schema("picked").dataType == org.apache.spark.sql.types.LongType)
    assert(out.select("picked").as[Long].collect().toSeq == Seq(1L, 20L))
    val doubles = Seq(("b", 1.5, 2.5)).toDF("which", "a", "b")
    val dOut = Ops.dynamicFetch(doubles, "which", "picked")
    assert(dOut.schema("picked").dataType == org.apache.spark.sql.types.DoubleType)
    assert(dOut.select("picked").as[Double].head == 2.5)
  }

  test("aggregateByValue keeps a null group key when distinct and median mix") {
    val d = Seq((Some("a"), 1, 10), (Some("a"), 2, 20), (None, 3, 30), (None, 3, 40))
      .toDF("k", "o", "v")
    val out = Ops.aggregateByValue(d, Seq("k"), Seq(
      "med" -> "median(${v})", "nd" -> "distinct(${o})"))
    assert(out.count() == 2) // the null-key group survives the split join
    val nullRow = out.filter(col("k").isNull).head
    assert(nullRow.getAs[Double]("med") == 35.0 && nullRow.getAs[Long]("nd") == 1L)
  }

  test("evaluateNested resolves chained ${} references to a fixpoint") {
    val d = Seq(("${b}", "${c}", "42"), ("plain", "x", "y"))
      .toDF("a", "b", "c")
    val out = Ops.evaluateNested(d, "v=${a}", "r")
      .select("r").as[String].collect().toSeq
    assert(out == Seq("v=42", "v=plain")) // a -> b -> c chain fully resolved
    // unknown names stay verbatim (and terminate the loop)
    val unk = Ops.evaluateNested(d, "${nope}-${c}", "r")
      .select("r").as[String].collect().toSeq
    assert(unk == Seq("${nope}-42", "${nope}-y"))
    // a cycle terminates at maxIters instead of hanging
    val cyc = Seq(("${b}", "${a}")).toDF("a", "b")
    assert(Ops.evaluateNested(cyc, "${a}", "r", maxIters = 7)
      .select("r").as[String].head.startsWith("${"))
  }

  test("countEof observes the pass-through row count with the action") {
    val d = spark.range(1234).toDF("id")
    val (observed, obs) = Ops.countEof(d.filter(col("id") % 2 === 0))
    assert(observed.count() == 617)
    assert(obs.get("rows") == 617L)
  }

  test("hexToRgb decodes hex colors with expressions") {
    val d = Seq("#FF8000").toDF("hex")
    val r = Ops.hexToRgb(d, "hex").select("r", "g", "b").head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((255, 128, 0)))
  }

  test("sampleDiscrete draws from the configured support") {
    val d = spark.range(1000).toDF("id")
    val out = Ops.sampleDiscrete(d, Seq(0.5 -> "x", 0.3 -> "y", 0.2 -> "z"), "pick")
    val counts = out.groupBy("pick").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("x", "y", "z"))
    assert(counts("x") > counts("z")) // rough monotonicity wrt probabilities
  }

  test("datumMerge folds a group to last non-null per column") {
    val d = Seq(
      ("g", 1, Some("a"), None: Option[Int]),
      ("g", 2, None, Some(7)),
      ("g", 3, Some("c"), None)
    ).toDF("k", "ord", "s", "i")
    val out = Ops.datumMerge(d, Seq("k"), "ord").head
    assert(out.getString(1) == "c" && out.getInt(2) == 7)
  }

  test("keyImploder collects ordered per-key lists") {
    val d = Seq(("u1", 2, "b"), ("u1", 1, "a"), ("u2", 1, "z")).toDF("u", "o", "v")
    val out = Ops.keyImploder(d, Seq("u"), Seq("v"), Some("o")).select("u", "v").orderBy("u")
    assert(out.select("v").as[Seq[String]].collect().toSeq == Seq(Seq("a", "b"), Seq("z")))
  }

  test("zipMerge without padding is SimpleMerger's zipAll (later branch wins)") {
    val a = Seq((1, "a1"), (2, "a2"), (3, "a3")).toDF("n", "s")
    val b = Seq(("b1", 10), ("b2", 20)).toDF("s", "m")
    val out = Ops.zipMerge(Seq(a, b), pad = false).collect()
      .map(r => (r.getAs[Integer]("n"), r.getAs[String]("s"), r.getAs[Integer]("m")))
    // rows pair by position; b's s overwrites a's where b has a row,
    // row 3 keeps a's value (zipAll pads with an empty datum)
    assert(out.toSeq == Seq((1, "b1", 10), (2, "b2", 20), (3, "a3", null)))
  }

  test("zipMerge: a later branch's present-but-null value still overwrites") {
    // reference SimpleMerger merges datums with `x ++ y`: a key present in
    // the later datum wins even when its value is null-ish
    val a = Seq((1, "a1"), (2, "a2")).toDF("n", "s")
    val b = Seq(Tuple1[String](null), Tuple1("b2")).toDF("s")
    val out = Ops.zipMerge(Seq(a, b), pad = false).collect()
      .map(r => (r.getAs[Integer]("n"), r.getAs[String]("s")))
    assert(out.toSeq == Seq((1, null), (2, "b2")))
  }

  test("zipMerge with padding cycles short branches; empty branch empties all") {
    val a = Seq(1, 2, 3, 4).toDF("n")
    val b = Seq("x", "y").toDF("s")
    val out = Ops.zipMerge(Seq(a, b), pad = true).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "x"), (2, "y"), (3, "x"), (4, "y")))
    val empty = b.limit(0)
    assert(Ops.zipMerge(Seq(a, empty), pad = true).count() == 0)
  }
}
