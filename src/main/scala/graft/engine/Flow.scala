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
 */
object Flow {
  private[engine] val mapper = new ObjectMapper()

  final case class Node(id: String, name: String, config: JsonNode, next: Seq[String],
                        result: String)

  def parse(json: String): (Seq[Node], Seq[Node]) = {
    val root = mapper.readTree(json)
    def field(f: String): Seq[JsonNode] =
      Option(root.get(f)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    (nodes(field("generators"), "generators"), nodes(field("processors"), "processors"))
  }

  /** Decode a JSON array of flow nodes; a node without an `id` gets
    * `idPrefix` + its position. */
  private[engine] def nodes(items: Seq[JsonNode], idPrefix: String): Seq[Node] =
    items.zipWithIndex.map { case (n, i) =>
      Node(
        id = Option(n.get("id")).map(_.asText).getOrElse(s"$idPrefix$i"),
        name = n.get("name").asText,
        config = Option(n.get("config")).getOrElse(mapper.createObjectNode()),
        next = Option(n.get("next")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
        result = Option(n.get("result")).map(_.asText).getOrElse("result"))
    }

  // ------------------------------------------------------------ generators
  private def generate(spark: SparkSession, n: Node): DataFrame = {
    if (TuktuCompat.isCompat(n.name)) return TuktuCompat.generator(spark, n)
    def str(k: String): String = n.config.get(k).asText
    def strOpt(k: String): Option[String] = Option(n.config.get(k)).map(_.asText)
    n.name match {
      case "parquet" => spark.read.parquet(str("path"))
      case "csv" =>
        spark.read
          .option("header", strOpt("header").getOrElse("true"))
          .option("sep", strOpt("separator").getOrElse(","))
          .csv(str("path"))
      case "json" => spark.read.json(str("path"))
      case "text" => spark.read.text(str("path"))
      // ListGenerator / CustomPacketGenerator (ref DummyGenerator.scala:120-190):
      // inline rows as a JSON array of objects
      case "list" =>
        import spark.implicits._
        val ds = spark.createDataset(
          n.config.get("rows").elements().asScala.map(_.toString).toSeq)
        spark.read.json(ds)
      // DummyGenerator batch mode (ref DummyGenerator.scala:34-86)
      case "range" => spark.range(n.config.get("n").asLong).toDF("id")
      case other => throw new IllegalArgumentException(s"unknown generator: $other")
    }
  }

  // ------------------------------------------------------------ processors
  private def apply1(df: DataFrame, n: Node): DataFrame = {
    if (TuktuCompat.isCompat(n.name)) return TuktuCompat.processor(df, n)
    val c = n.config
    def str(k: String): String = c.get(k).asText
    def strOpt(k: String): Option[String] = Option(c.get(k)).map(_.asText)
    def pairs(k: String): Seq[(String, String)] =
      c.get(k).properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asText)
    def strs(k: String): Seq[String] =
      c.get(k).elements().asScala.map(_.asText).toSeq
    // config-level "result" wins, then the node-level attribute (the form
    // the Tuktu FQCN path uses), then the literal default
    def result: String = strOpt("result").getOrElse(n.result)

    n.name match {
      case "skip"            => df // SkipProcessor (BaseProcessors.scala:23)
      case "field_filter"    => Ops.fieldFilter(df, pairs("fields"))
      case "field_remove"    => Ops.fieldRemove(df, strs("fields"))
      case "field_copy"      => Ops.fieldCopy(df, pairs("fields"))
      case "field_rename"    => Ops.fieldRename(df, pairs("fields"))
      case "constant_adder"  => Ops.constantAdder(df, result, str("value"))
      case "filter"          => Ops.filter(df, str("predicate"))
      case "predicate_field" => Ops.predicateField(df, str("predicate"), result)
      case "arithmetic"      => Ops.arithmetic(df, str("expression"), result)
      case "explode"         => Ops.sequenceExplode(df, str("field"), result)
      case "split"           => Ops.stringSplit(df, str("field"), str("separator"), result)
      case "implode"         => Ops.stringImplode(df, str("field"), str("separator"), result)
      case "flatten"         => Ops.flatten(df, strOpt("separator").getOrElse("."))
      case "json_path"       => Ops.getJsonPath(df, str("field"), str("path"), result)
      case "sort" =>
        Ops.sort(df, strs("fields").map(f =>
          if (strOpt("order").contains("desc")) col(f).desc else col(f).asc))
      case "take" => Ops.take(df, c.get("n").asInt)
      case "dedup" => Ops.dedupFirstSeen(df, strs("fields"), strs("order_by").map(col))
      // GroupByProcessor + bucket aggregate (AggregateByValue semantics)
      case "aggregate" =>
        Ops.aggregateByValue(df, strs("group"), pairs("aggs"))
      // round-2 operators reachable from flow configs
      case "json_merge" => Ops.jsonMerge(df, str("a"), str("b"), result)
      // HTTP enrichment family (ref modules/web processors)
      case "rest" =>
        graft.operators.Http.restEnrich(df, str("url"), result,
          method = strOpt("http_method").getOrElse("GET"),
          // object-shaped bodies render as JSON (asText on a container is "")
          bodyTemplate = Option(c.get("body")).map(b =>
            if (b.isTextual) b.asText else b.toString))
      case "url_check" =>
        graft.operators.Http.urlChecker(df, str("url"), result,
          codes = Option(c.get("codes")).map(_.elements().asScala.map(_.asInt).toSeq))
      case "geoip" =>
        graft.operators.Http.freeGeoIp(df, str("ip"), result,
          geoipUrl = strOpt("geoipurl").getOrElse("http://freegeoip.net"),
          format = strOpt("format").getOrElse("json"))
      // round-3 operators reachable from engine-native flow configs
      case "lines_per_row"  => graft.sources.Sources.linesPerRow(df, str("path_field"), result)
      case "file_to_string" => graft.sources.Sources.fileToString(df, str("path_field"), result)
      case "file_to_json"   => graft.sources.Sources.fileToJson(df, str("path_field"), result)
      case "evaluate_nested" => Ops.evaluateNested(df, str("template"), result)
      case "keyword_tag" =>
        val kws = Option(c.get("keywords")).map(_.elements().asScala.toSeq).getOrElse(Nil)
          .map(k =>
            if (k.isTextual) graft.operators.TextAnalysis.Keyword(k.asText)
            else graft.operators.TextAnalysis.Keyword(k.get("keyword").asText,
              Option(k.get("case_sensitive")).exists(_.asBoolean),
              Option(k.get("exact")).exists(_.asBoolean)))
        graft.operators.TextAnalysis.keywordTagger(df, str("field"), kws, result,
          excludeOnNone = Option(c.get("exclude_on_none")).exists(_.asBoolean))
      case "model_apply" => graft.ml.ModelRegistry(str("model"), df)
      case "stem" => graft.operators.Nlp.stemTokens(df, str("field"), result)
      case "pos_tag" => graft.operators.Nlp.posTags(df, str("field"), result)
      case "sentiment" =>
        graft.operators.Nlp.polarity(df, str("tokens"), str("pos"), result,
          discretize = Option(c.get("discretize")).exists(_.asBoolean))
      case "summarize" =>
        graft.operators.Nlp.summarize(df, str("text_field"), str("tfidf_field"), result,
          numLines = Option(c.get("num_lines")).map(_.asInt).getOrElse(3),
          optimalLength = Option(c.get("optimal_sentence_length")).map(_.asInt).getOrElse(11),
          base = Option(c.get("base")).map(_.asDouble).getOrElse(1.1))
      case "document" =>
        graft.operators.Nlp.assembleDocument(df, strs("group"), str("field"),
          str("order_by"), result,
          sep = strOpt("separator").getOrElse(" "))
      // round-4 operators reachable from engine-native flow configs
      case "url_normalize" =>
        df.withColumn(result, graft.operators.Url.normalize(col(str("field"))))
      case "url_host" =>
        df.withColumn(result, graft.operators.Url.host(col(str("field"))))
      case "url_domain" =>
        df.withColumn(result, graft.operators.Url.registrableDomain(col(str("field"))))
      case "line_dedup" =>
        graft.operators.Dedup.lineDedup(df, str("id_field"), str("field"),
          maxDocs = Option(c.get("max_docs")).map(_.asLong).getOrElse(5L))
      case "near_dup_clusters" =>
        graft.operators.Dedup.nearDupClusters(df, str("field"), str("id_field"),
          n = Option(c.get("n")).map(_.asInt).getOrElse(3),
          k = Option(c.get("k")).map(_.asInt).getOrElse(16),
          bands = Option(c.get("bands")).map(_.asInt).getOrElse(4),
          threshold = Option(c.get("threshold")).map(_.asDouble).getOrElse(0.5))
      case "connected_components" =>
        graft.operators.Dedup.connectedComponents(df, str("src"), str("dst"))
      // benchmark side comes from a Registry bucket (tuktu.db Write/Read)
      case "decontaminate" =>
        val bench = graft.sources.Registry.get(str("bench"))
          .getOrElse(throw new IllegalArgumentException(
            s"decontaminate: no Registry bucket named '${str("bench")}'"))
        graft.operators.Dedup.decontaminate(df, bench, str("id_field"), str("field"),
          n = Option(c.get("n")).map(_.asInt).getOrElse(8))
      case "decontaminate_bloom" =>
        val bench = graft.sources.Registry.get(str("bench"))
          .getOrElse(throw new IllegalArgumentException(
            s"decontaminate_bloom: no Registry bucket named '${str("bench")}'"))
        graft.operators.Dedup.decontaminateBloom(df, bench, str("id_field"), str("field"),
          n = Option(c.get("n")).map(_.asInt).getOrElse(8),
          fpp = Option(c.get("fpp")).map(_.asDouble).getOrElse(0.01))
      case "corpus_mix" =>
        graft.operators.Corpus.mixtureSample(df, str("domain_field"), str("id_field"),
          alpha = Option(c.get("alpha")).map(_.asDouble).getOrElse(0.5))
      case "lm_score" =>
        graft.operators.LangModel.selfScore(df, str("id_field"), str("field"))
      case "pack_sequences" =>
        graft.operators.Corpus.packSequences(df, str("id_field"),
          size(graft.operators.TextAnalysis.tokens(col(str("field")))),
          nShards = Option(c.get("shards")).map(_.asInt).getOrElse(64),
          budget = Option(c.get("budget")).map(_.asLong).getOrElse(2048L))
      case other => throw new IllegalArgumentException(s"unknown processor: $other")
    }
  }

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
    val eval = evaluator(procById, predecessors(gens ++ procs),
      id => genById.get(id).map(generate(spark, _)))
    val terminals = procs.filter(_.next.isEmpty)
    if (terminals.isEmpty)
      gens.map(g => g.id -> generate(spark, g)).toMap
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
        apply1(union(inputs), node)
      } finally inProgress.remove(id)
    })
    eval
  }
}
