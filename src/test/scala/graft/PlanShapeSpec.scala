package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform, ScalaUDF}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Structural invariants of the scale-critical executed plans — the
  * properties each round's plan audit checks by hand, pinned as a
  * regression gate. A query can get slower without breaking these, but
  * it cannot silently change SHAPE: pick up a cartesian/nested-loop
  * join, demote a broadcast to a shuffle join, lose whole-stage codegen
  * on a scoring hot loop, or grow a UDF. Runs on the sf0.001 fixture
  * (cancelled, not failed, when the test data directory is absent). */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"
  private def executedPlanOf(name: String): SparkPlan = {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.foreach(_ => ()) // finalize under AQE
    df.queryExecution.executedPlan
  }
  private def planOf(name: String): String = executedPlanOf(name).toString
  private def codegenSpans(plan: String): Int =
    raw"\*\((\d+)\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size

  test("deeplearn forward passes stay scan-only: no joins, no UDFs, codegen'd, orderBy-only exchanges") {
    for (q <- Seq("deeplearn_mlp_forward", "deeplearn_sda_predict")) {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q grew a join")
      assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), s"$q grew a UDF")
      assert("Exchange".r.findAllIn(p).size <= 2,
        s"$q has exchanges beyond the oracle orderBy")
      assert(codegenSpans(p) >= 1, s"$q lost whole-stage codegen")
    }
  }

  test("centroids-as-data joins broadcast the small side and never nest loops") {
    for (q <- Seq("semantic_dedup_join", "ann_knn_join_ivf")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost the broadcast join")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q picked an all-pairs join")
    }
  }

  test("LSH candidate generation is banded equality, never all-pairs") {
    val p = planOf("dedup_minhash_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "minhash LSH must join on band buckets, not cross")
    assert(codegenSpans(p) >= 1, "minhash hashing hot loop lost codegen")
  }

  test("simhash, ANN scoring and gopher repetition hot loops stay codegen'd") {
    for (q <- Seq("dedup_simhash", "ann_cosine_topk", "ann_knn_join_heap", "gopher_repetition"))
      assert(codegenSpans(planOf(q)) >= 1, s"$q lost whole-stage codegen")
  }

  test("bounded-heap knn join aggregates without a window over the candidate stream") {
    for (q <- Seq("ann_knn_join", "ann_knn_join_heap", "ann_knn_join_ivf")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q: heap top-k must not sort/window candidates")
      assert(p.contains("ObjectHashAggregate"), s"$q: topk_by should plan as ObjectHashAggregate")
    }
    // the IVF pair stream is already hash(id)-partitioned for the id-side
    // join, so the per-id top-k adds no exchange (27 in the final and
    // initial plans together, as with the window it replaced)
    val ivf = "Exchange".r.findAllIn(planOf("ann_knn_join_ivf")).size
    assert(ivf <= 27, s"ann_knn_join_ivf plans $ivf exchanges")
  }

  test("KMV distinct and two-corpus overlap sketch without a window") {
    for (q <- Seq("kmv_distinct", "kmv_overlap")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q grew a window")
      assert(p.contains("ObjectHashAggregate"), s"$q: kmv_bottomk should plan as ObjectHashAggregate")
    }
  }

  test("doc embedding pooling broadcasts the vocab vectors and stays codegen'd") {
    val p = planOf("doc_embedding_pool")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(codegenSpans(p) >= 1)
  }

  test("frequent-items sketch merges sketch rows, never the value stream") {
    val p = planOf("freq_items_tokens")
    // partial sketch accumulation must sit BELOW the exchange: the only
    // shuffled rows are per-partition sketches, not the exploded tokens
    assert(p.contains("partial_approx_top_k"), "map-side sketch partials missing")
    assert(!p.contains("Join"), "freq_items grew a join")
    assert("Exchange".r.findAllIn(p).size <= 2,
      "freq_items should shuffle only sketch rows + the final order")
  }

  test("winnowing evaluates the token-hash transform once: no inferred-filter expression blowup") {
    // A plain posexplode lets InferFiltersFromGenerate add `size(__sh) > 0`
    // below the Generate; predicate pushdown then inlines the md5
    // token-hash transform into each of the shingle fold's element_at
    // references, re-evaluating the full token-hash array PER GRAM
    // (measured 58 s vs ~1 s at sf0.1). The fixed shape uses
    // posexplode_outer + a null filter on the generator OUTPUT, leaving
    // exactly one md5 transform in the plan.
    // count in the AQE final plan only — the toString appends an
    // "== Initial Plan ==" duplicate of every stage
    val p = planOf("winnow_fingerprints").split("== Initial Plan ==")(0)
    assert("md5".r.findAllIn(p).size <= 1,
      "winnow_fingerprints re-inlines the token-hash transform " +
        s"(${"md5".r.findAllIn(p).size} md5 sites — InferFiltersFromGenerate pushdown is back)")
  }

  test("winnowing spans/candidates compute the fingerprint table once (checkpointed, bounded exchanges)") {
    // r14 regression class: winnowMatchSpans rebuilt winnowFingerprints for
    // every consumer (candidates + both position joins); each build minted
    // fresh attribute IDs, defeating ReuseExchange — 55 exchanges, ~6 corpus
    // passes, 6.95 s idle. The repaired shape materializes the fingerprint
    // table ONCE and derives candidates from it; since r16 the
    // materialization is a localCheckpoint (instance-tied blocks — every
    // invocation pays its own build; a bare persist leaked across bench
    // reps via CacheManager, r15 judge finding). Marker: every CONSTRUCTED
    // fingerprint pipeline mints its own window-min output attribute
    // (`AS __mk#N`); after the eager checkpoint the consumer plan must
    // contain ZERO builds (the pipeline ran once, eagerly, at construction)
    // and read the materialized RDD instead.
    for (q <- Seq("winnow_match_spans", "winnow_candidates")) {
      val p = planOf(q)
      val mkIds = raw"AS __mk#(\d+)L".r.findAllMatchIn(p).map(_.group(1)).toSet
      assert(mkIds.isEmpty,
        s"$q builds the fingerprint pipeline ${mkIds.size} times in-plan (attr ids $mkIds) — recompute is back")
      assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
        s"$q no longer reads the checkpointed fingerprint table")
    }
  }

  test("priority sampling aggregates without a window and broadcast-joins the sample back") {
    val p = planOf("priority_sample")
    assert(!p.contains("Window"), "prioritySample must not rank via a corpus window")
    assert(p.contains("BroadcastHashJoin"), "the k·|G|-row sample lost its broadcast join-back")
    assert(!p.contains("SortMergeJoin"), "sample join-back demoted to a shuffle join")
    assert(p.contains("ObjectHashAggregate"), "topk_by should plan as ObjectHashAggregate")
  }

  test("pairwise KMV overlap never sorts or windows; the pair join is sketch-rows only") {
    val p = planOf("kmv_pairwise_overlap")
    assert(!p.contains("Window"), "kmvPairwiseOverlap grew a window")
    assert(!p.contains("SortMergeJoin"), "the |G|²-sketch pair join must stay broadcast")
    assert(p.contains("ObjectHashAggregate"), "kmv_bottomk should plan as ObjectHashAggregate")
  }

  test("sliding-window chunking is a stateless projection: no shuffle beyond the oracle order") {
    val p = planOf("chunk_sliding")
    assert(!p.contains("Join"))
    assert("Exchange".r.findAllIn(p).size <= 2,
      "chunkSliding must not shuffle the corpus")
    assert(codegenSpans(p) >= 1)
  }

  test("tokenizer walks are one compiled per-word function: no lambda folds, no vocabulary join") {
    for ((q, fn) <- Seq("unigram_segment" -> "unigram_viterbi",
                        "wordpiece_segment" -> "wordpiece_walk")) {
      val plan = executedPlanOf(q)
      val lambdas = flatMap(plan)(_.expressions.flatMap(_.collect {
        case e @ (_: ArrayAggregate | _: ArrayFilter | _: ArrayTransform) => e.prettyName
      }))
      assert(lambdas.isEmpty, s"$q runs interpreted lambdas again: $lambdas")
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty,
        s"$q joins again (the vocabulary is driver data)")
      val compiled = collect(plan) { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists(_.expressions.exists(_.exists {
          case u: ScalaUDF => u.udfName.contains(fn)
          case _ => false
        })))
      assert(compiled, s"$q: $fn is not under WholeStageCodegen")
    }
  }
}
