package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * JSON flow-config front-end: compiles a Tuktu-style DAG
 * (ref: app/controllers/Dispatcher.scala:348-370, configs/flowtests JSON files)
 * to a DataFrame pipeline.
 *
 * Shape:
 * {{{
 * { "generators": [ {"id": "g", "name": "parquet",
 *                    "config": {"path": "..."}, "next": ["p1"]} ],
 *   "processors": [ {"id": "p1", "name": "filter",
 *                    "config": {"predicate": "${x} > 1"}, "next": []} ] }
 * }}}
 *
 * Semantics mapped per SURVEY.md §3.1: a node's input is the UNION of its
 * predecessors' outputs (fan-in, Dispatcher.scala:106-112); `next` with
 * several ids re-uses one DataFrame lineage in each branch (fan-out,
 * Dispatcher.scala:298-305 — no data copying, just shared lineage); nodes
 * unreachable from a generator are dropped (Dispatcher.scala:94-104 — free
 * here since evaluation is demand-driven from the terminals). There is no
 * iteratee machinery to port: Catalyst is the scheduler.
 *
 * Node names resolve through one registry held as data: [[generators]]
 * and [[processors]] map each name — engine-native (`"filter"`, `"csv"`,
 * …) or a reference FQCN ([[TuktuCompat]]) — to a plain function of the
 * node, and [[TuktuCompat.rejects]] holds the names rejected by design
 * with their porting guidance. [[parse]] resolves every node, so an
 * unknown name fails before anything is built. (Tuktu resolved nodes by
 * FQCN reflection, ref api.scala:180-183; this is the typed lookup.)
 */
object Flow {
  private[engine] val mapper = new ObjectMapper()

  /** A flow node. Its methods are the one config reader: entries read
    * `config` (or, through [[at]], an object nested in it) by key, and a
    * missing required key fails naming the node and the key. */
  final case class Node(id: String, name: String, config: JsonNode, next: Seq[String],
                        result: String) {
    def opt(k: String): Option[JsonNode] = Option(config.get(k))
    def req(k: String): JsonNode = opt(k).getOrElse(throw new IllegalArgumentException(
      s"flow node '$id' ($name): missing key '$k'"))
    def str(k: String): String = req(k).asText
    def strOpt(k: String): Option[String] = opt(k).map(_.asText)
    /** The elements of an array; absent = empty. */
    def arr(k: String): Seq[JsonNode] = opt(k).fold(Seq.empty[JsonNode])(_.elements().asScala.toSeq)
    def strs(k: String): Seq[String] = arr(k).map(_.asText)
    /** The objects of an array, each read like a config. */
    def objs(k: String): Seq[Node] = arr(k).map(at)
    def bool(k: String): Boolean = opt(k).exists(_.asBoolean)
    def pairs(k: String): Seq[(String, String)] =
      req(k).properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asText)
    /** The same reader over `json`, an object nested in the config. */
    def at(json: JsonNode): Node = copy(config = json)
  }

  type Generator = (SparkSession, Node) => DataFrame
  type Processor = (DataFrame, Node) => DataFrame

  def parse(json: String): (Seq[Node], Seq[Node]) = {
    val root = mapper.readTree(json)
    def field(f: String): Seq[JsonNode] =
      Option(root.get(f)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    (nodes(field("generators"), "generators", generatorOf),
      nodes(field("processors"), "processors", resolveProcessor))
  }

  /** A processor's entry. The nodes of the sub-pipelines it embeds, inline
    * or in a config file ([[TuktuCompat.subPipelines]]), are resolved too,
    * so an unknown name anywhere in the flow fails at parse. */
  private def resolveProcessor(n: Node): Processor = {
    val p = processorOf(n)
    TuktuCompat.subPipelines.get(n.name)
      .foreach(_(n).foreach(nodes(_, "p", resolveProcessor)))
    p
  }

  /** Decode a JSON array of flow nodes, resolving each through `entry`; a
    * node without an `id` gets `idPrefix` + its position. */
  private[engine] def nodes(items: Seq[JsonNode], idPrefix: String,
                            entry: Node => Any): Seq[Node] =
    items.zipWithIndex.map { case (j, i) =>
      val raw = Node(Option(j.get("id")).map(_.asText).getOrElse(s"$idPrefix$i"),
        "unnamed", j, Nil, "result")
      val n = Node(raw.id, raw.str("name"), raw.opt("config").getOrElse(mapper.createObjectNode()),
        raw.strs("next"), raw.strOpt("result").getOrElse("result"))
      entry(n)
      n
    }

  private def generatorOf(n: Node): Generator =
    generators.getOrElse(n.name, unknown(n, generators.keySet))

  private[engine] def processorOf(n: Node): Processor =
    processors.get(n.name).orElse(TuktuCompat.mlDeserialize(n.name))
      .getOrElse(unknown(n, processors.keySet))

  /** A name with no entry: a reject fails with its porting guidance, any
    * other name with the node id and the names that position knows. */
  private def unknown(n: Node, known: Set[String]): Nothing =
    TuktuCompat.rejects.get(n.name) match {
      case Some(guidance) => throw new UnsupportedOperationException(guidance)
      case None => throw new IllegalArgumentException(
        s"flow node '${n.id}': unknown name '${n.name}'; known names: " +
          known.toSeq.sorted.mkString(", "))
    }

  /** Config-level "result" wins, then the node-level attribute (the form
    * the Tuktu FQCN path uses), then the literal default. */
  private def result(c: Node): String = c.strOpt("result").getOrElse(c.result)

  /** Benchmark side of the decontamination entries: a named bucket
    * (tuktu.db Write/Read), which is a temp view in the flow's own session
    * catalog — a bucket one session registers is invisible to another. */
  private def bench(df: DataFrame, c: Node): DataFrame =
    try df.sparkSession.table(c.str("bench")) catch {
      case e: org.apache.spark.sql.AnalysisException => throw new IllegalArgumentException(
        s"flow node '${c.id}' (${c.name}): no bucket named '${c.str("bench")}' " +
          "in the session catalog", e)
    }

  // ------------------------------------------------------------ generators
  /** The registry's generators: native names, then [[TuktuCompat]]'s FQCNs. */
  val generators: Map[String, Generator] = Map[String, Generator](
    "parquet" -> ((spark, c) =>
      graft.sources.Sources.load(spark, "parquet", Map.empty, c.str("path"))),
    "csv" -> ((spark, c) => graft.sources.Sources.csv(spark, c.str("path"),
      header = c.strOpt("header").forall(_.toBoolean), sep = c.strOpt("separator").getOrElse(","))),
    "json" -> ((spark, c) => graft.sources.Sources.json(spark, c.str("path"))),
    "text" -> ((spark, c) => spark.read.text(c.str("path"))),
    // ListGenerator / CustomPacketGenerator (ref DummyGenerator.scala:120-190):
    // inline rows as a JSON array of objects
    "list" -> ((spark, c) => graft.sources.Sources.jsonRows(spark,
      c.req("rows").elements().asScala.map(_.toString).toSeq)),
    // DummyGenerator batch mode (ref DummyGenerator.scala:34-86)
    "range" -> ((spark, c) => spark.range(c.req("n").asLong).toDF("id"))
  ) ++ TuktuCompat.generators

  // ------------------------------------------------------------ processors
  /** The registry's processors: native names, then [[TuktuCompat]]'s FQCNs. */
  val processors: Map[String, Processor] = Map[String, Processor](
    "skip"            -> ((df, _) => df), // SkipProcessor (BaseProcessors.scala:23)
    "field_filter"    -> ((df, c) => Ops.fieldFilter(df, c.pairs("fields"))),
    "field_remove"    -> ((df, c) => Ops.fieldRemove(df, c.strs("fields"))),
    "field_copy"      -> ((df, c) => Ops.fieldCopy(df, c.pairs("fields"))),
    "field_rename"    -> ((df, c) => Ops.fieldRename(df, c.pairs("fields"))),
    "constant_adder"  -> ((df, c) => Ops.constantAdder(df, result(c), c.str("value"))),
    "filter"          -> ((df, c) => Ops.filter(df, c.str("predicate"))),
    "predicate_field" -> ((df, c) => Ops.predicateField(df, c.str("predicate"), result(c))),
    "arithmetic"      -> ((df, c) => Ops.arithmetic(df, c.str("expression"), result(c))),
    "explode"         -> ((df, c) => Ops.sequenceExplode(df, c.str("field"), result(c))),
    "split" -> ((df, c) => Ops.stringSplit(df, c.str("field"), c.str("separator"), result(c))),
    "implode" ->
      ((df, c) => Ops.stringImplode(df, c.str("field"), c.str("separator"), result(c))),
    "flatten"         -> ((df, c) => Ops.flatten(df, c.strOpt("separator").getOrElse("."))),
    "json_path" -> ((df, c) => Ops.getJsonPath(df, c.str("field"), c.str("path"), result(c))),
    "sort" -> ((df, c) =>
      Ops.sort(df, c.strs("fields").map(f =>
        if (c.strOpt("order").contains("desc")) col(f).desc else col(f).asc))),
    "take" -> ((df, c) => Ops.take(df, c.req("n").asInt)),
    "dedup" -> ((df, c) => Ops.dedupFirstSeen(df, c.strs("fields"), c.strs("order_by").map(col))),
    // GroupByProcessor + bucket aggregate (AggregateByValue semantics)
    "aggregate" -> ((df, c) => Ops.aggregateByValue(df, c.strs("group"), c.pairs("aggs"))),
    // round-2 operators reachable from flow configs
    "json_merge" -> ((df, c) => Ops.jsonMerge(df, c.str("a"), c.str("b"), result(c))),
    // HTTP enrichment family (ref modules/web processors)
    "rest" -> ((df, c) =>
      graft.operators.Http.restEnrich(df, c.str("url"), result(c),
        method = c.strOpt("http_method").getOrElse("GET"),
        // object-shaped bodies render as JSON (asText on a container is "")
        bodyTemplate = c.opt("body").map(b =>
          if (b.isTextual) b.asText else b.toString))),
    "url_check" -> ((df, c) =>
      graft.operators.Http.urlChecker(df, c.str("url"), result(c),
        codes = c.opt("codes").map(_.elements().asScala.map(_.asInt).toSeq))),
    "geoip" -> ((df, c) =>
      graft.operators.Http.freeGeoIp(df, c.str("ip"), result(c),
        geoipUrl = c.strOpt("geoipurl").getOrElse("http://freegeoip.net"),
        format = c.strOpt("format").getOrElse("json"))),
    // round-3 operators reachable from engine-native flow configs
    "lines_per_row" ->
      ((df, c) => graft.sources.Sources.linesPerRow(df, c.str("path_field"), result(c))),
    "file_to_string" ->
      ((df, c) => graft.sources.Sources.fileToString(df, c.str("path_field"), result(c))),
    "file_to_json" ->
      ((df, c) => graft.sources.Sources.fileToJson(df, c.str("path_field"), result(c))),
    "evaluate_nested" -> ((df, c) => Ops.evaluateNested(df, c.str("template"), result(c))),
    "keyword_tag" -> { (df, c) =>
      val kws = c.arr("keywords").map(k =>
        if (k.isTextual) graft.operators.TextAnalysis.Keyword(k.asText)
        else {
          val kw = c.at(k)
          graft.operators.TextAnalysis.Keyword(kw.str("keyword"),
            kw.bool("case_sensitive"), kw.bool("exact"))
        })
      graft.operators.TextAnalysis.keywordTagger(df, c.str("field"), kws, result(c),
        excludeOnNone = c.bool("exclude_on_none"))
    },
    "model_apply" -> ((df, c) => graft.ml.ModelRegistry
      .get[org.apache.spark.ml.Transformer](c.str("model")).transform(df)),
    "stem" -> ((df, c) => graft.operators.Nlp.stemTokens(df, c.str("field"), result(c))),
    "pos_tag" -> ((df, c) => graft.operators.Nlp.posTags(df, c.str("field"), result(c))),
    "sentiment" -> ((df, c) =>
      graft.operators.Nlp.polarity(df, c.str("tokens"), c.str("pos"), result(c),
        discretize = c.bool("discretize"))),
    "summarize" -> ((df, c) =>
      graft.operators.Nlp.summarize(df, c.str("text_field"), c.str("tfidf_field"), result(c),
        numLines = c.opt("num_lines").map(_.asInt).getOrElse(3),
        optimalLength = c.opt("optimal_sentence_length").map(_.asInt).getOrElse(11),
        base = c.opt("base").map(_.asDouble).getOrElse(1.1))),
    "document" -> ((df, c) =>
      graft.operators.Nlp.assembleDocument(df, c.strs("group"), c.str("field"),
        c.str("order_by"), result(c),
        sep = c.strOpt("separator").getOrElse(" "))),
    // round-4 operators reachable from engine-native flow configs
    "url_normalize" ->
      ((df, c) => df.withColumn(result(c), graft.operators.Url.normalize(col(c.str("field"))))),
    "url_host" ->
      ((df, c) => df.withColumn(result(c), graft.operators.Url.host(col(c.str("field"))))),
    "url_domain" -> ((df, c) =>
      df.withColumn(result(c), graft.operators.Url.registrableDomain(col(c.str("field"))))),
    "line_dedup" -> ((df, c) =>
      graft.operators.Dedup.lineDedup(df, c.str("id_field"), c.str("field"),
        maxDocs = c.opt("max_docs").map(_.asLong).getOrElse(5L))),
    "near_dup_clusters" -> ((df, c) =>
      graft.operators.Dedup.nearDupClusters(df, c.str("field"), c.str("id_field"),
        n = c.opt("n").map(_.asInt).getOrElse(3),
        k = c.opt("k").map(_.asInt).getOrElse(16),
        bands = c.opt("bands").map(_.asInt).getOrElse(4),
        threshold = c.opt("threshold").map(_.asDouble).getOrElse(0.5))),
    "connected_components" ->
      ((df, c) => graft.operators.Dedup.connectedComponents(df, c.str("src"), c.str("dst"))),
    "decontaminate" -> ((df, c) =>
      graft.operators.Dedup.decontaminate(df, bench(df, c), c.str("id_field"), c.str("field"),
        n = c.opt("n").map(_.asInt).getOrElse(8))),
    "decontaminate_bloom" -> ((df, c) =>
      graft.operators.Dedup.decontaminateBloom(df, bench(df, c), c.str("id_field"), c.str("field"),
        n = c.opt("n").map(_.asInt).getOrElse(8),
        fpp = c.opt("fpp").map(_.asDouble).getOrElse(0.01))),
    "corpus_mix" -> ((df, c) =>
      graft.operators.Corpus.mixtureSample(df, c.str("domain_field"), c.str("id_field"),
        alpha = c.opt("alpha").map(_.asDouble).getOrElse(0.5))),
    "lm_score" ->
      ((df, c) => graft.operators.LangModel.selfScore(df, c.str("id_field"), c.str("field"))),
    "pack_sequences" -> ((df, c) =>
      graft.operators.Corpus.packSequences(df, c.str("id_field"),
        size(graft.operators.TextAnalysis.tokens(col(c.str("field")))),
        nShards = c.opt("shards").map(_.asInt).getOrElse(64),
        budget = c.opt("budget").map(_.asLong).getOrElse(2048L)))
  ) ++ TuktuCompat.processors

  /** GeneratorConfigProcessor-style `#{var}` config interpolation
    * (ref: app/tuktu/processors/meta/MetaProcessors.scala:26): substitute
    * variables into the raw config before parsing. */
  def interpolateVars(json: String, vars: Map[String, String]): String =
    vars.foldLeft(json) { case (acc, (k, v)) => acc.replace(s"#{$k}", v) }

  /** Deep JSON merge, second argument wins; object pairs recurse
    * (ref modules/api/app/tuktu/api/utils.scala mergeJson). */
  private def deepMerge(a: JsonNode, b: JsonNode): JsonNode = {
    def missing(n: JsonNode) = n == null || n.isMissingNode
    if (!missing(a) && !missing(b) && a.isObject && b.isObject) {
      val out = mapper.createObjectNode()
      val keys = (a.properties().asScala.map(_.getKey) ++
        b.properties().asScala.map(_.getKey)).toSeq.distinct
      keys.foreach(k => out.set[JsonNode](k, deepMerge(a.get(k), b.get(k))))
      out
    } else if (missing(b)) a.deepCopy[JsonNode]() else b.deepCopy[JsonNode]()
  }

  /** Config overlay (ref modules/api/app/tuktu/api/utils.scala:564
    * mergeConfig, tested by the reference's UtilsTest): merge `overwrite`
    * into `base` — generators pairwise by INDEX (zipAll against empty
    * objects), processors by ID — each pair deep-merged with the
    * second-wins rule. The launch-time counterpart of [[interpolateVars]]
    * for config-driven flow overrides. */
  def mergeConfig(base: String, overwrite: String): String = {
    val o = mapper.readTree(base)
    val n = mapper.readTree(overwrite)
    def items(root: JsonNode, k: String): Seq[JsonNode] =
      Option(root.get(k)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val empty = mapper.createObjectNode()
    val gens = items(o, "generators").zipAll(items(n, "generators"), empty, empty)
      .map { case (a, b) => deepMerge(a, b) }
    def byId(xs: Seq[JsonNode]): Map[String, JsonNode] =
      xs.groupBy(p => Option(p.get("id")).map(_.asText).getOrElse(""))
        .view.mapValues(_.head).toMap
    val (oldP, newP) = (byId(items(o, "processors")), byId(items(n, "processors")))
    val ids = (items(o, "processors") ++ items(n, "processors"))
      .map(p => Option(p.get("id")).map(_.asText).getOrElse("")).distinct
    val root = mapper.createObjectNode()
    val gArr = root.putArray("generators")
    gens.foreach(gArr.add)
    val pArr = root.putArray("processors")
    ids.map(id => deepMerge(oldP.getOrElse(id, empty), newP.getOrElse(id, empty)))
      .foreach(pArr.add)
    root.toString
  }

  /** Run a flow; returns the DataFrame of each terminal node (no `next`). */
  def run(spark: SparkSession, json: String, vars: Map[String, String]): Map[String, DataFrame] =
    run(spark, interpolateVars(json, vars))

  /** Run a flow; returns the DataFrame of each terminal node (no `next`). */
  def run(spark: SparkSession, json: String): Map[String, DataFrame] = {
    val (gens, procs) = parse(json)
    val procById = procs.map(p => p.id -> p).toMap
    // a processor id shadows a generator with the same id
    val genById = gens.map(g => g.id -> g).toMap -- procById.keySet
    def generate(g: Node): DataFrame = generatorOf(g)(spark, g)
    val eval = evaluator(procById, predecessors(gens ++ procs), genById.get(_).map(generate))
    val terminals = procs.filter(_.next.isEmpty)
    if (terminals.isEmpty)
      gens.map(g => g.id -> generate(g)).toMap
    else terminals.map(t => t.id -> eval(t.id)).toMap
  }

  /** Single-terminal convenience. */
  def runSingle(spark: SparkSession, json: String): DataFrame = {
    val m = run(spark, json)
    require(m.size == 1, s"flow has ${m.size} terminals: ${m.keys.mkString(", ")}")
    m.head._2
  }

  /** Apply a processor-only sub-DAG to `df`, entering at `start` — the
    * static compilation of the reference's `Dispatcher.buildEnums(List(start),
    * …)` embedded pipelines (meta/IfThenElseProcessor.scala:123,
    * cache/CachingProcessor.scala:64, meta/MetaProcessors.scala:399).
    * `start`'s input is `df`; downstream fan-in unions only predecessors
    * reachable from `start` (buildEnums never walks backwards); the result
    * is the union of the reachable terminals' outputs. */
  def subFlow(df: DataFrame, procs: Seq[Node], start: String): DataFrame = {
    val procById = procs.map(p => p.id -> p).toMap
    require(procById.contains(start), s"sub-flow start '$start' not among processors")
    // forward reachability from start
    val reachable = scala.collection.mutable.Set(start)
    var frontier = Seq(start)
    while (frontier.nonEmpty) {
      val step = frontier.flatMap(procById.get).flatMap(_.next)
        .filter(procById.contains).filterNot(reachable.contains).distinct
      reachable ++= step
      frontier = step
    }
    // `start` reads `df` alone, under an id no node can carry
    val input = "\u0000input"
    val eval = evaluator(procById,
      predecessors(procs.filter(n => reachable(n.id))) + (start -> Seq(input)),
      id => if (id == input) Some(df) else None)
    union(procs.filter(n => reachable(n.id) &&
      n.next.forall(nx => !procById.contains(nx))).map(t => eval(t.id)))
  }

  /** Ids of the nodes whose `next` names each node. */
  private def predecessors(nodes: Seq[Node]): Map[String, Seq[String]] =
    nodes.flatMap(n => n.next.map(_ -> n.id)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }

  /** Fan-in: the union of predecessor outputs (EOF-merge ⇄ plan union). */
  private def union(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** The demand-driven evaluator [[run]] and [[subFlow]] share: `source`
    * yields a frame for a source id (a generator, or a sub-flow's input);
    * any other id is a processor over the union of its predecessors.
    * One frame per id, so a node feeding several others is built (and its
    * schema inferred) once. */
  private def evaluator(procById: Map[String, Node], preds: Map[String, Seq[String]],
                        source: String => Option[DataFrame]): String => DataFrame = {
    val memo = scala.collection.mutable.Map.empty[String, DataFrame]
    // cycle guard: getOrElseUpdate memoizes only after the body returns, so
    // a `next` cycle would recurse unboundedly — fail with the cycle's id
    val inProgress = scala.collection.mutable.Set.empty[String]
    def eval(id: String): DataFrame = memo.getOrElseUpdate(id, source(id).getOrElse {
      require(inProgress.add(id), s"flow cycle at '$id'")
      try {
        val node = procById(id)
        val inputs = preds.getOrElse(id, Nil).map(eval)
        require(inputs.nonEmpty, s"processor ${node.id} has no reachable input")
        processorOf(node)(union(inputs), node)
      } finally inProgress.remove(id)
    })
    eval
  }
}
