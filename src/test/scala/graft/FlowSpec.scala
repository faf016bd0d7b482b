package graft

import graft.engine.Flow

/** JSON flow-config front-end: DAG compile, fan-out/fan-in, op configs
  * (shape of configs/flowtests/dummy.json in the reference). */
class FlowSpec extends SparkSpec {
  import spark.implicits._

  test("linear flow: list generator → filter → arithmetic → aggregate") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 5}, {"k": "b", "v": 0}
        ]}, "next": ["f"]} ],
      "processors": [
        {"id": "f", "name": "filter", "config": {"predicate": "${v} > 0"}, "next": ["m"]},
        {"id": "m", "name": "arithmetic",
         "config": {"expression": "${v} * 10", "result": "v10"}, "next": ["agg"]},
        {"id": "agg", "name": "aggregate",
         "config": {"group": ["k"], "aggs": {"total": "sum(v10)", "n": "count(v10)"}},
         "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq(("a", 30.0, 2L), ("b", 50.0, 1L)))
  }

  test("fan-out and fan-in: one generator, two branches, merged terminal") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"x": 1}, {"x": 2}, {"x": 3}
        ]}, "next": ["small", "big"]} ],
      "processors": [
        {"id": "small", "name": "filter", "config": {"predicate": "${x} <= 1"}, "next": ["merged"]},
        {"id": "big",   "name": "filter", "config": {"predicate": "${x} >= 3"}, "next": ["merged"]},
        {"id": "merged", "name": "constant_adder",
         "config": {"value": "tag-${x}", "result": "tag"}, "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).orderBy("x").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(out.map(_.getString(1)).toSeq == Seq("tag-1", "tag-3"))
  }

  test("a generator feeding two branches is built once: one json schema-inference job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_flow_gen").toFile
    val f = new java.io.File(dir, "rows.json")
    val w = new java.io.PrintWriter(f)
    try Seq(1, 2, 3).foreach(x => w.println(s"""{"x": $x}""")) finally w.close()
    val flow = s"""
    { "generators": [
        {"id": "g", "name": "json", "config": {"path": "${f.getPath}"},
         "next": ["small", "big"]} ],
      "processors": [
        {"id": "small", "name": "filter", "config": {"predicate": "$${x} <= 1"}, "next": ["merged"]},
        {"id": "big",   "name": "filter", "config": {"predicate": "$${x} >= 3"}, "next": ["merged"]},
        {"id": "merged", "name": "constant_adder",
         "config": {"value": "tag-$${x}", "result": "tag"}, "next": []} ] }"""
    val sc = spark.sparkContext
    val group = "flow_gen_once"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some("flow_gen_once_marker") => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      val out = try Flow.runSingle(spark, flow) finally sc.clearJobGroup()
      // a marker job after the build: the listener bus delivers in order,
      // so once the marker's start arrives every build job has been counted
      sc.setJobGroup("flow_gen_once_marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 1, s"building the flow ran ${jobs.get} jobs, expected one inference job")
      assert(out.orderBy("x").select("x").as[Long].collect().toSeq == Seq(1L, 3L))
    } finally {
      sc.removeSparkListener(listener)
      f.delete(); dir.delete()
    }
  }

  test("field ops and sort/take through the front-end") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "range", "config": {"n": 10}, "next": ["ops"]} ],
      "processors": [
        {"id": "ops", "name": "field_copy", "config": {"fields": {"id": "id2"}}, "next": ["sorted"]},
        {"id": "sorted", "name": "sort",
         "config": {"fields": ["id"], "order": "desc"}, "next": ["top"]},
        {"id": "top", "name": "take", "config": {"n": 3}, "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(9L, 8L, 7L))
    assert(out.map(_.getLong(1)).toSeq == Seq(9L, 8L, 7L))
  }

  test("native field_copy reads every source from the original row") {
    // flatten first: the copy must keep a dotted top-level name (`s.x`)
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [{"a": 1, "b": 2, "s": {"x": 3}}]},
         "next": ["fl"]} ],
      "processors": [
        {"id": "fl", "name": "flatten", "config": {}, "next": ["cp"]},
        {"id": "cp", "name": "field_copy",
         "config": {"fields": {"a": "b", "b": "c"}}, "next": []} ] }"""
    val r = Flow.runSingle(spark, flow).head
    assert((r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c")) == ((1L, 1L, 2L)))
    assert(r.getAs[Long]("s.x") == 3L)
  }

  test("NLP pipeline through the flow front-end: split -> stem -> tag -> sentiment") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"text": "the movies were really great"},
          {"text": "the service was not good"}
        ]}, "next": ["tok"]} ],
      "processors": [
        {"id": "tok", "name": "split",
         "config": {"field": "text", "separator": " ", "result": "toks"}, "next": ["st"]},
        {"id": "st", "name": "stem",
         "config": {"field": "toks", "result": "stems"}, "next": ["pos"]},
        {"id": "pos", "name": "pos_tag",
         "config": {"field": "toks", "result": "tags"}, "next": ["sent"]},
        {"id": "sent", "name": "sentiment",
         "config": {"tokens": "toks", "pos": "tags", "discretize": true,
                    "result": "polarity"}, "next": []} ] }"""
    val out = Flow.runSingle(spark, flow).orderBy("text").collect()
    val byText = out.map(r => r.getAs[String]("text") -> r).toMap
    assert(byText("the movies were really great").getAs[Double]("polarity") == 1.0)
    assert(byText("the service was not good").getAs[Double]("polarity") == -1.0)
    assert(byText("the movies were really great")
      .getAs[scala.collection.Seq[String]]("stems").contains("movi"))
  }

  test("heterogeneous rows union to one schema with nulls (§7.4)") {
    val flow = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [
          {"a": 1, "b": "x"}, {"a": 2, "c": true}, {"b": "y", "c": false}
        ]}, "next": ["s"]} ],
      "processors": [ {"id": "s", "name": "skip", "config": {}, "next": []} ] }"""
    val out = Flow.runSingle(spark, flow)
    assert(out.columns.toSet == Set("a", "b", "c"))
    assert(out.count() == 3)
    assert(out.filter(out("a").isNull).count() == 1)
  }

  test("#{var} config interpolation substitutes before parsing") {
    val flow = """
    { "generators": [ {"id": "g", "name": "range", "config": {"n": #{count}}, "next": ["t"]} ],
      "processors": [ {"id": "t", "name": "take", "config": {"n": 2}, "next": []} ] }"""
    val out = Flow.run(spark, flow, Map("count" -> "5"))
    assert(out.values.head.count() == 2)
  }

  test("round-3 operators are reachable from engine-native flow configs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_flow3").toFile
    val f = new java.io.File(dir, "doc.txt")
    val w = new java.io.PrintWriter(f); w.print("content here"); w.close()
    val flow = s"""
    { "generators": [ {"id": "g", "name": "list", "config": {"rows": [
        {"p": "${f.getAbsolutePath}", "ref": "$${body}", "text": "all about spark jobs"}
      ]}, "next": ["read"]} ],
      "processors": [
        {"id": "read", "name": "file_to_string", "result": "body",
         "config": {"path_field": "p"}, "next": ["nest"]},
        {"id": "nest", "name": "evaluate_nested", "result": "resolved",
         "config": {"template": "<$${ref}>"}, "next": ["tag"]},
        {"id": "tag", "name": "keyword_tag", "result": "tags",
         "config": {"field": "text",
                    "keywords": ["spark", {"keyword": "jobs", "exact": true}]},
         "next": []} ] }"""
    val r = Flow.runSingle(spark, flow).head
    assert(r.getAs[String]("body") == "content here")
    assert(r.getAs[String]("resolved") == "<content here>") // ${ref} -> ${body} -> file text
    assert(r.getAs[scala.collection.Seq[String]]("tags").toList == List("spark", "jobs"))
  }

  test("round-4 operators are reachable from engine-native flow configs") {
    val urlFlow = """
    { "generators": [ {"id": "g", "name": "list", "config": {"rows": [
        {"id": 1, "u": "HTTPS://A.com:443/X?utm_s=1&q=2#f"}
      ]}, "next": ["norm"]} ],
      "processors": [
        {"id": "norm", "name": "url_normalize", "result": "nu",
         "config": {"field": "u"}, "next": ["host"]},
        {"id": "host", "name": "url_host", "result": "h",
         "config": {"field": "u"}, "next": []} ] }"""
    val u = Flow.runSingle(spark, urlFlow).head
    assert(u.getAs[String]("nu") == "https://a.com/X?q=2")
    assert(u.getAs[String]("h") == "a.com")

    val decFlow = """
    { "generators": [ {"id": "g", "name": "list", "config": {"rows": [
        {"id": 1, "text": "alpha beta gamma delta epsilon words"}
      ]}, "next": ["dec"]} ],
      "processors": [
        {"id": "dec", "name": "decontaminate", "result": "x",
         "config": {"bench": "flow4_bench", "id_field": "id", "field": "text",
                    "n": 5}, "next": []} ] }"""
    // the bench bucket is a temp view of the flow's own session: two child
    // sessions each register `flow4_bench` (one or both of the doc's two
    // 5-grams) before either runs, and each run sees only its own rows
    val sessions = Seq("alpha beta gamma delta epsilon" -> 1L,
      "alpha beta gamma delta epsilon words" -> 2L).map { case (text, hits) =>
      val s = SparkEntry.childSession(spark)
      s.createDataFrame(Seq((9L, text))).toDF("id", "text")
        .createOrReplaceTempView("flow4_bench")
      s -> hits
    }
    for ((s, hits) <- sessions; op <- Seq("decontaminate", "decontaminate_bloom")) {
      val r = Flow.runSingle(s, decFlow.replace("\"decontaminate\"", s"\"$op\"")).head
      assert(r.getAs[Long]("n_hits") == hits && r.getAs[Boolean]("contaminated"), op)
    }
    // the parent session has no such bucket: the error names node and bucket
    val noBench = intercept[IllegalArgumentException](Flow.runSingle(spark, decFlow))
    assert(noBench.getMessage.contains("'dec'") && noBench.getMessage.contains("'flow4_bench'"))

    val mixFlow = """
    { "generators": [ {"id": "g", "name": "list", "config": {"rows": [
        {"id": 1, "dom": "a", "text": "one two three"},
        {"id": 2, "dom": "a", "text": "four five"},
        {"id": 3, "dom": "b", "text": "six"}
      ]}, "next": ["mix"]} ],
      "processors": [
        {"id": "mix", "name": "corpus_mix",
         "config": {"domain_field": "dom", "id_field": "id", "alpha": 1.0},
         "next": ["pack"]},
        {"id": "pack", "name": "pack_sequences",
         "config": {"id_field": "id", "field": "text", "shards": 1, "budget": 4},
         "next": []} ] }"""
    val packed = Flow.runSingle(spark, mixFlow).collect()
    assert(packed.length == 3) // alpha=1 keeps all rows
    assert(packed.map(_.getAs[Long]("n_tok")).sum == 6)

    val lmFlow = """
    { "generators": [ {"id": "g", "name": "list", "config": {"rows": [
        {"id": 1, "text": "a b a"}, {"id": 2, "text": "x"}
      ]}, "next": ["lm"]} ],
      "processors": [
        {"id": "lm", "name": "lm_score",
         "config": {"id_field": "id", "field": "text"}, "next": []} ] }"""
    val lm = Flow.runSingle(spark, lmFlow).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_bigrams")).toMap
    assert(lm == Map(1L -> 2L, 2L -> 0L))
  }

  test("connected components through the flow front-end") {
    val flow = """
    { "generators": [ {"id": "g", "name": "list", "config": {"rows": [
        {"src": 1, "dst": 2}, {"src": 2, "dst": 3}, {"src": 7, "dst": 8}
      ]}, "next": ["cc"]} ],
      "processors": [
        {"id": "cc", "name": "connected_components", "config": {"src": "src", "dst": "dst"},
         "next": []} ] }"""
    val r = Flow.runSingle(spark, flow).collect()
      .map(x => (x.getAs[Long]("node"), x.getAs[Long]("component"))).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("cyclic flow fails with the cycle's id instead of a stack overflow") {
    val cyclic = """
    { "generators": [
        {"id": "g", "name": "list", "config": {"rows": [{"x": 1}]}, "next": ["p1"]} ],
      "processors": [
        {"id": "p1", "name": "field_copy", "config": {"fields": {"x": "y"}}, "next": ["p2"]},
        {"id": "p2", "name": "field_copy", "config": {"fields": {"y": "z"}}, "next": ["p1", "out"]},
        {"id": "out", "name": "field_copy", "config": {"fields": {"z": "w"}}, "next": []} ] }"""
    val e = intercept[IllegalArgumentException] { Flow.run(spark, cyclic) }
    assert(e.getMessage.contains("cycle at"))
  }

  test("unknown processor fails with a clear message") {
    // names resolve at parse time: nothing is built for a flow that names
    // an unknown node, and the message lists the names the position knows
    val unknownProc = """
    { "generators": [ {"id": "g", "name": "range", "config": {"n": 1}, "next": ["bad"]} ],
      "processors": [ {"id": "bad", "name": "nope", "config": {}, "next": []} ] }"""
    val e = intercept[IllegalArgumentException](Flow.parse(unknownProc))
    assert(e.getMessage.contains("'bad'") && e.getMessage.contains("unknown name 'nope'"))
    assert(e.getMessage.contains("filter") &&
      e.getMessage.contains("tuktu.processors.FieldFilterProcessor"))

    val unknownGen = """
    { "generators": [ {"id": "g", "name": "nope", "config": {}, "next": []} ] }"""
    val g = intercept[IllegalArgumentException](Flow.parse(unknownGen))
    assert(g.getMessage.contains("'g'") && g.getMessage.contains("unknown name 'nope'"))
    assert(g.getMessage.contains("parquet") && !g.getMessage.contains("filter"))

    // a name rejected by design carries its porting guidance
    val rejected = unknownProc.replace("\"nope\"",
      "\"tuktu.processors.meta.GeneratorConfigProcessor\"")
    val r = intercept[UnsupportedOperationException](Flow.parse(rejected))
    assert(r.getMessage.contains("compose the topology statically"))

    // the nodes of an inline sub-flow pipeline resolve at parse too
    val inline = """
    { "generators": [ {"id": "g", "name": "range", "config": {"n": 1}, "next": ["par"]} ],
      "processors": [
        {"id": "par", "name": "tuktu.processors.meta.ParallelProcessor",
         "config": {"merger": "tuktu.processors.merge.SerialMerger", "processors": [
           {"start": "a", "pipeline": [{"id": "a", "name": "nope", "next": []}]} ]},
         "next": []} ] }"""
    val i = intercept[IllegalArgumentException](Flow.parse(inline))
    assert(i.getMessage.contains("'a'") && i.getMessage.contains("unknown name 'nope'"))
    val caching = """
    { "generators": [ {"id": "g", "name": "range", "config": {"n": 1}, "next": ["c"]} ],
      "processors": [
        {"id": "c", "name": "tuktu.processors.cache.CachingProcessor",
         "config": {"cache_key": "k", "start": "a",
                    "processors": [{"id": "a", "name": "nope", "next": []}]},
         "next": []} ] }"""
    val c = intercept[IllegalArgumentException](Flow.parse(caching))
    assert(c.getMessage.contains("'a'") && c.getMessage.contains("unknown name 'nope'"))

    // and so do the pipelines a meta processor loads from configRepo,
    // ParallelConfig's after its #{} replacements
    val repo = java.nio.file.Files.createTempDirectory("cfgrepo_parse")
    java.nio.file.Files.write(repo.resolve("sub.json"),
      """{"processors": [{"id": "s0", "name": "#{proc}", "next": []}]}""".getBytes)
    val prev = graft.engine.TuktuCompat.configRepo
    graft.engine.TuktuCompat.configRepo = repo.toString
    try {
      val parallelConfig = """
      { "generators": [ {"id": "g", "name": "range", "config": {"n": 1}, "next": ["pc"]} ],
        "processors": [
          {"id": "pc", "name": "tuktu.processors.meta.ParallelConfigProcessor",
           "config": {"merger": "tuktu.processors.merge.SerialMerger",
             "replacements": [{"source": "proc", "target": "nope"}],
             "pipelines": [{"config_path": "sub", "start": ["s0"]}]},
           "next": []} ] }"""
      val pc = intercept[IllegalArgumentException](Flow.parse(parallelConfig))
      assert(pc.getMessage.contains("'s0'") && pc.getMessage.contains("unknown name 'nope'"))
      // IfThenElse applies no replacements: its branch names '#{proc}'
      val ite = """
      { "generators": [ {"id": "g", "name": "range", "config": {"n": 1}, "next": ["i"]} ],
        "processors": [
          {"id": "i", "name": "tuktu.processors.meta.IfThenElseProcessor",
           "config": {"expression": "true",
             "then_pipeline": {"config": "sub", "start": "s0"},
             "else_pipeline": {"config": "sub", "start": "s0"}},
           "next": []} ] }"""
      val i2 = intercept[IllegalArgumentException](Flow.parse(ite))
      assert(i2.getMessage.contains("'s0'") && i2.getMessage.contains("unknown name '#{proc}'"))
    } finally graft.engine.TuktuCompat.configRepo = prev
  }

  test("a missing config key fails naming the node and the key") {
    def flow(proc: String) = s"""
    { "generators": [ {"id": "g", "name": "range", "config": {"n": 1}, "next": ["p"]} ],
      "processors": [ $proc ] }"""
    val native = intercept[IllegalArgumentException](
      Flow.run(spark, flow("""{"id": "p", "name": "filter", "config": {}, "next": []}""")))
    assert(native.getMessage.contains("'p' (filter)") && native.getMessage.contains("'predicate'"))
    val compat = intercept[IllegalArgumentException](Flow.run(spark, """
    { "generators": [ {"id": "lines", "name": "tuktu.generators.LineGenerator",
                       "config": {}, "next": []} ] }"""))
    assert(compat.getMessage.contains("'lines' (tuktu.generators.LineGenerator)") &&
      compat.getMessage.contains("'filename'"))
    val unnamed = intercept[IllegalArgumentException](
      Flow.parse(flow("""{"id": "p", "config": {}, "next": []}""")))
    assert(unnamed.getMessage.contains("'p'") && unnamed.getMessage.contains("'name'"))
  }

  test("mergeConfig overlays generators by index, processors by id (UtilsTest cases)") {
    // compare parsed nodes — key order is irrelevant, like the reference's
    // unordered inspectJsValue compares
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    def gens(json: String) =
      mapper.readTree(json).get("generators").elements().asScala.toSeq
    def procs(json: String) =
      mapper.readTree(json).get("processors").elements().asScala.toSet
    def node(json: String) = mapper.readTree(json)
    val base = """{"generators": [{"a": 1}, {"a": 2}], "processors": []}"""
    // overlay element 0 only
    assert(gens(Flow.mergeConfig(base,
      """{"generators": [{"a": 3}], "processors": []}""")) ==
      Seq(node("""{"a":3}"""), node("""{"a":2}""")))
    // skip element 0 with an empty object, overlay element 1
    assert(gens(Flow.mergeConfig(base,
      """{"generators": [{}, {"a": 3}], "processors": []}""")) ==
      Seq(node("""{"a":1}"""), node("""{"a":3}""")))
    // longer overlay appends
    assert(gens(Flow.mergeConfig(base,
      """{"generators": [{}, {}, {"a": 3}], "processors": []}""")) ==
      Seq(node("""{"a":1}"""), node("""{"a":2}"""), node("""{"a":3}""")))
    // processors: id "a" overwritten, id "b" kept, new id "c" appended
    val pBase = """{"generators": [],
      "processors": [{"id": "b", "b": "b"}, {"id": "a", "b": "a"}]}"""
    assert(procs(Flow.mergeConfig(pBase,
      """{"generators": [], "processors": [{"id": "a", "b": "c"}]}""")) ==
      Set(node("""{"id":"b","b":"b"}"""), node("""{"id":"a","b":"c"}""")))
    assert(procs(Flow.mergeConfig(pBase,
      """{"generators": [], "processors": [{"id": "c", "b": "c"}]}""")) ==
      Set(node("""{"id":"b","b":"b"}"""), node("""{"id":"a","b":"a"}"""),
        node("""{"id":"c","b":"c"}""")))
    // deep merge inside a processor: config objects recurse, second wins
    assert(procs(Flow.mergeConfig(
      """{"generators": [], "processors": [{"id": "p", "config": {"x": 1, "y": 2}}]}""",
      """{"generators": [], "processors": [{"id": "p", "config": {"y": 9}}]}""")) ==
      Set(node("""{"id":"p","config":{"x":1,"y":9}}""")))
  }
}
