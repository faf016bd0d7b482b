package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deterministic distributed sketches for corpus statistics.
 *
 * The KMV (k-minimum-values) estimator (Bar-Yossef et al. 2002; the
 * bottom-k form surveyed in Beyer et al. 2007, "On Synopses for Distinct-
 * Value Estimation Under Multiset Operations") is the exchange-friendly
 * mechanism behind production cardinality sketches: hash every value into
 * [0, 1), keep only the k smallest hashes, and estimate the distinct count
 * as (k−1)/U_(k) where U_(k) is the k-th smallest normalized hash. Unlike
 * HLL (whose register layout differs engine to engine), KMV over a shared
 * hash function is EXACTLY replayable — the oracle reproduces the same k
 * minima and the same estimate, so the sketch itself is under the hash
 * gate, not just its error bound.
 *
 * Scale shape: bottom-k is one bounded-heap aggregate per group
 * ([[graft.plans.KmvBottomK]]), so KMV state is k longs at every stage
 * whatever the column's cardinality.
 */
object Sketch {

  private val TWO60 = 1152921504606846976.0 // 2^60, hash domain size

  /** Per-group KMV distinct estimate over an expression. Returns one row
    * per group: (groupCols…, n_kept, kmv_est) where n_kept ≤ k is the
    * retained-minima count. Groups with fewer than k distinct values are
    * EXACT (n_kept is the true distinct count and kmv_est equals it);
    * otherwise kmv_est = floor((k−1) · 2⁶⁰ / h_k) with h_k the k-th
    * smallest 60-bit hash — one IEEE division, bit-stable cross-engine.
    *
    * Bottom-k is the native [[graft.plans.KmvBottomK]]
    * `TypedImperativeAggregate`: per-group state is ≤ k longs at EVERY
    * stage, the map-side partial ships k longs per (partition, group)
    * instead of the group's whole distinct-hash set, and the plan is one
    * ObjectHashAggregate pair — no sort, no window, no distinct-reduce, so
    * a high-cardinality key (URLs, doc ids) costs what a token column
    * does. The retained set (k smallest distinct hashes) is a set property
    * independent of row order, so the output replays under the DuckDB
    * oracle. Null values are skipped; a group whose every value is null
    * is dropped. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], value: org.apache.spark.sql.Column,
                  k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val gcols = groupCols.map(col)
    df.select(gcols :+ TextAnalysis.tokenHash(value).as("__h"): _*)
      .groupBy(gcols: _*)
      .agg(bottomK(k).as("__bk"))
      .select(gcols ++ Seq(
        size(col("__bk")).cast(LongType).as("n_kept"),
        get(col("__bk"), size(col("__bk")) - 1).as("__hk")): _*)
      .filter(col("n_kept") > 0)
      .withColumn("kmv_est", kmvEstimate(col("n_kept"), col("__hk"), k))
      .drop("__hk")
  }

  /** The k smallest distinct non-null hashes of `__h`, ascending. */
  private def bottomK(k: Int): org.apache.spark.sql.Column =
    call_function("kmv_bottomk", col("__h"), lit(k))

  /** The KMV estimate from the retained count and the k-th smallest hash:
    * exact below k, else floor((k−1) · 2⁶⁰ / h_k). */
  private def kmvEstimate(nKept: org.apache.spark.sql.Column,
                          hk: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    when(nKept < k, nKept.cast(DoubleType))
      .otherwise(floor(lit((k - 1).toDouble) * lit(TWO60) / hk.cast(DoubleType))
        .cast(DoubleType))

  // ------------------------------------------------- quantiles (KLL)

  /** One [[graft.plans.QuantileKll]] sketch per group: (groupCols…, qsk)
    * with qsk the retained weighted sample `array<struct<v,w>>` sorted by
    * (v, w). State is O(k·log(n/k)) per group at EVERY stage (map-side
    * partials ship the sketch, never the group's values), the plan is one
    * ObjectHashAggregate pair — no sort, no window. Groups with n ≤ k
    * values are in the EXACT regime: no compaction fires and qsk IS the
    * sorted value multiset at weight 1, a multiset property independent
    * of partitioning — which is what puts the dev-SF gate under the
    * DuckDB hash. Nulls are skipped (sketch-family contract). */
  def quantileSketch(df: DataFrame, groupCols: Seq[String],
                     value: org.apache.spark.sql.Column, k: Int = 256): DataFrame = {
    val gcols = groupCols.map(col)
    df.groupBy(gcols: _*)
      .agg(call_function("qsketch", value, lit(k)).as("qsk"))
  }

  /** Rank-extract lower quantiles from a sketch column: for each (name, p)
    * the smallest v whose cumulative weight reaches ceil(p·W), W the total
    * retained weight (emitted as `n`; equals the true group size in the
    * exact regime). Pure higher-order folds over the already-sorted sample
    * — no explode, no shuffle, no window. The total weight and each rank
    * target are materialized as named columns in their own projections so
    * no lambda subtree is ever re-inlined (HOFs get no codegen CSE). */
  def sketchQuantiles(df: DataFrame, sketchCol: String,
                      ps: Seq[(String, Double)]): DataFrame = {
    val withW = df.withColumn("n",
      aggregate(col(sketchCol), lit(0L), (acc, x) => acc + x.getField("w")))
    ps.foldLeft(withW) { case (d, (name, p)) =>
      d.withColumn(name,
        quantileAtRank(col(sketchCol), ceil(lit(p) * col("n")).cast(LongType)))
    }
  }

  /** Smallest v in the sorted (v, w) sample whose running weight ≥ target:
    * one left fold carrying (cum, ans), ans latched by coalesce on first
    * crossing. Empty sketch (all-null group) ⇒ null. */
  private def quantileAtRank(sk: org.apache.spark.sql.Column,
                             target: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sk,
      struct(lit(0L).as("cum"), lit(null).cast(DoubleType).as("ans")),
      (acc, x) => {
        val cum = acc.getField("cum") + x.getField("w")
        struct(cum.as("cum"),
          coalesce(acc.getField("ans"),
            when(cum >= target, x.getField("v"))).as("ans"))
      },
      acc => acc.getField("ans"))

  /** The merge path — sketches AS DATA. Input: one sketch row per
    * (group, shard); shard sketches are merged RELATIONALLY (explode to
    * (group, v, w) rows, weights of equal values add) and quantiles are
    * rank-extracted with a window cumsum. Nothing here rescans the corpus:
    * the window orders O(shards·k·log) retained-sample rows per group, so
    * persisting per-shard/per-day sketches and merging later is a plain
    * union — the same ride-as-data contract as the CMS/frequent-items
    * sketches. In the exact regime the merged multiset is the union
    * multiset, so this must hash-match the unsharded extraction. */
  def mergedQuantiles(shardSketches: DataFrame, groupCols: Seq[String],
                      sketchCol: String, ps: Seq[(String, Double)]): DataFrame = {
    val gcols = groupCols.map(col)
    val rows = shardSketches
      .select(gcols :+ explode(col(sketchCol)).as("__x"): _*)
      .select(gcols ++ Seq(col("__x.v").as("__v"), col("__x.w").as("__w")): _*)
      .groupBy(gcols :+ col("__v"): _*).agg(sum(col("__w")).as("__w"))
    val wCum = Window.partitionBy(gcols: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(gcols: _*)
    val cum = rows
      .withColumn("__cum", sum(col("__w")).over(wCum))
      .withColumn("__tot", sum(col("__w")).over(wTot))
    cum.groupBy(gcols: _*)
      .agg(max(col("__tot")).as("n"),
        ps.map { case (name, p) =>
          min(when(col("__cum") >= ceil(lit(p) * col("__tot")), col("__v"))).as(name)
        }: _*)
  }

  private val P31 = 2147483647L // 2^31 − 1, the affine hash family modulus

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) built AS DATA: the
    * d×w counter matrix is a (row, cell, cnt) DataFrame, the shape that
    * scales — counters are order-free integer sums (one groupBy with
    * map-side combine, state bounded by d·w regardless of input size), and
    * the sketch itself is exactly replayable cross-engine (same affine
    * hash family as the minhash permutations over the shared 60-bit token
    * hash), so the SKETCH is under the hash gate, not just its ε·N bound.
    * Merging sketches of two corpora is `union → sum` — counters commute.
    * Null values are skipped. */
  def cmsBuild(df: DataFrame, value: org.apache.spark.sql.Column,
               d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2, "CMS needs d >= 1, w >= 2")
    val cells = cmsCells(value, d, w)
    df.select(explode(cells).as("__rc"))
      .select(col("__rc.r").as("row"), col("__rc.c").as("cell"))
      .filter(col("cell").isNotNull)
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The d (row, cell) coordinates of one value — shared by build and
    * query so both sides land on identical counters. */
  private def cmsCells(value: org.apache.spark.sql.Column, d: Int, w: Int) = {
    val h = TextAnalysis.tokenHash(value) % P31
    array((0 until d).map { j =>
      struct(lit(j).as("r"),
        ((h * (2 * j + 1) + (12289L * j + 741)) % P31 % w)
          .cast(IntegerType).as("c"))
    }: _*)
  }

  /** Point-query a built sketch for each value in `queries` (a one-column
    * DataFrame named by `qCol`): est = min over the d rows of the matching
    * counter (0 when a cell was never touched). CMS guarantees
    * est ≥ true count always, and est ≤ true + ε·N with probability 1−δ
    * for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉. One broadcast-able join against the
    * d·w-row sketch — the corpus is never rescanned. */
  def cmsEstimate(cms: DataFrame, queries: DataFrame, qCol: String = "q",
                  d: Int = 4, w: Int = 1024): DataFrame = {
    val q = queries.select(col(qCol).as("q")).filter(col("q").isNotNull)
      .distinct()
    q.select(col("q"), explode(cmsCells(col("q"), d, w)).as("__rc"))
      .select(col("q"), col("__rc.r").as("row"), col("__rc.c").as("cell"))
      .join(broadcast(cms), Seq("row", "cell"), "left")
      .groupBy(col("q"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Heavy hitters by CMS: estimate every candidate against the sketch and
    * keep those with est ≥ minCount. The candidate set here is the corpus's
    * distinct values (batch two-pass form); at 100 TB the same estimate
    * join runs against ANY cheap candidate set (a sampled head, last
    * window's hitters) — the sketch answers point queries without
    * rescanning the corpus, which is the whole point. Overestimates only:
    * no true hitter is ever missed (one-sided error). */
  def cmsHeavyHitters(df: DataFrame, value: org.apache.spark.sql.Column,
                      minCount: Long, d: Int = 4, w: Int = 1024): DataFrame = {
    val cms = cmsBuild(df, value, d, w).transform(Ops.materialize) // d×w cells
    val cand = df.select(value.as("q"))
    cmsEstimate(cms, cand, "q", d, w)
      .filter(col("cms_est") >= minCount)
  }

  /** Heavy-CHANGE detection between two snapshots (Cormode & Muthukrishnan's
    * CMS applied to the change-detection problem): build one sketch per
    * snapshot, point-query every candidate against both, keep candidates
    * whose estimated delta moves ≥ `minDelta`. The crawl-drift monitor:
    * "which tokens/domains/urls surged or collapsed between releases"
    * answered from two d×w counter matrices — at 100 TB the sketches are
    * the only corpus-sized passes, the delta join is candidate-sized, and
    * at steady state the candidate set is any cheap head (last release's
    * frequent items) rather than the distinct scan used here.
    *
    * Error contract: each estimate one-sided (est ≥ true, ≤ true + ε·N
    * w.h.p.), so the DELTA is two-sided within ±ε·(N₁+N₂) — `minDelta`
    * must sit above that noise floor to mean anything. A candidate absent
    * from a snapshot estimates ≥ 0 there, so appear/disappear events
    * surface naturally.
    *
    * Returns (q, est_before, est_after, delta) for |delta| ≥ minDelta. */
  def cmsHeavyChange(before: DataFrame, after: DataFrame,
                     value: org.apache.spark.sql.Column, minDelta: Long,
                     d: Int = 4, w: Int = 1024): DataFrame = {
    val cb = cmsBuild(before, value, d, w).transform(Ops.materialize) // d×w cells
    val ca = cmsBuild(after, value, d, w).transform(Ops.materialize)
    // 2 consumers (both estimate joins); vocabulary-sized distinct values
    val cand = before.select(value.as("q")).unionAll(after.select(value.as("q")))
      .filter(col("q").isNotNull).distinct().transform(Ops.materialize)
    val eb = cmsEstimate(cb, cand, "q", d, w).withColumnRenamed("cms_est", "est_before")
    val ea = cmsEstimate(ca, cand, "q", d, w).withColumnRenamed("cms_est", "est_after")
    eb.join(ea, Seq("q"))
      .withColumn("delta", col("est_after") - col("est_before"))
      .filter(abs(col("delta")) >= minDelta)
  }

  // ------------------------------------- frequent items (builtin sketch)
  /** Approximate most-frequent items via Spark 4's builtin `approx_top_k`
    * (the DataSketches frequent-items sketch — Misra-Gries counter
    * family): per-partition state is `maxTracked` counters, merged
    * sketch-wise into ONE row — no distinct-reduce, no CMS d×w cell
    * matrix, the cheapest "which keys dominate 100 TB" shape Spark ships
    * natively. Any item with true count > N/maxTracked is guaranteed
    * retained. The summary is re-exploded and TOTALLY ordered
    * (cnt desc, item asc) before the k-cut so ties are deterministic;
    * when maxTracked ≥ the column's distinct count the sketch never
    * evicts and counts are EXACT — the regime the DuckDB oracle gates
    * (`freq_items_tokens`); the eviction regime's retention guarantee is
    * spec-asserted on planted skew. */
  def frequentItems(df: DataFrame, value: org.apache.spark.sql.Column,
                    k: Int, maxTracked: Int = 1024): DataFrame = {
    require(k >= 1 && maxTracked >= k, "frequentItems needs maxTracked >= k >= 1")
    // approx_top_k COUNTS null as an item; the sketch family's contract
    // here (CMS, KMV, HLL) is nulls-skipped — filter before the sketch
    df.select(value.as("__v")).filter(col("__v").isNotNull)
      .agg(expr(s"approx_top_k(__v, $maxTracked, $maxTracked)").as("__tk"))
      .select(explode(col("__tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
      .limit(k)
  }

  /** Shard-then-merge form of [[frequentItems]]: one frequent-items
    * sketch per shard (`approx_top_k_accumulate`), combined into a single
    * summary (`approx_top_k_combine`), then estimated — the sketches ride
    * AS DATA like the CMS/HLL tables, so per-source or per-day summaries
    * can persist and merge later without rescanning the corpus. Same
    * total order and exact-regime determinism contract; in the exact
    * regime the route must agree bit-for-bit with the unsharded one
    * (same oracle gates both). */
  def frequentItemsSharded(df: DataFrame, shard: org.apache.spark.sql.Column,
                           value: org.apache.spark.sql.Column,
                           k: Int, maxTracked: Int = 1024): DataFrame = {
    require(k >= 1 && maxTracked >= k, "frequentItemsSharded needs maxTracked >= k >= 1")
    df.select(shard.as("__s"), value.as("__v"))
      .filter(col("__v").isNotNull) // same nulls-skipped family contract
      .groupBy("__s")
      .agg(expr(s"approx_top_k_accumulate(__v, $maxTracked)").as("__sk"))
      .agg(expr(s"approx_top_k_combine(__sk, $maxTracked)").as("__c"))
      .select(explode(expr(s"approx_top_k_estimate(__c, $maxTracked)")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
      .limit(k)
  }

  // ------------------------------------------------------------------ HLL
  /** HyperLogLog (Flajolet et al. 2007) with DETERMINISTIC registers, so
    * the sketch itself replays under the DuckDB oracle — the usual
    * objection to HLL as a test surface (register layout differs engine to
    * engine) disappears when both engines derive bucket and rank from the
    * same 60-bit md5 hash with the same integer expressions:
    * bucket = h >> (60−p), rank ρ = 1 + leading-zeros of the low 60−p
    * bits, computed exactly in BOTH engines as (60−p)+1 − length(bin(low))
    * (`bin` renders without leading zeros in Spark and DuckDB alike).
    *
    * Unlike KMV, HLL needs NO distinct-reduce: registers are a direct
    * groupBy(group, bucket).max(ρ) with map-side combine, so per-group
    * state is m = 2^p registers at every stage regardless of input
    * cardinality — this is the sketch to ship when even the distinct-hash
    * table is too big to shuffle. Registers are returned AS DATA
    * ((group, bucket, r) rows): merging corpora or rolling windows is
    * `union → max`, the estimate is a separate fold over m rows.
    *
    * The estimate avoids the classic float-sum pitfall (Σ 2^−ρ is
    * order-dependent in IEEE arithmetic): the harmonic sum rides as the
    * EXACT integer Σ 2^(P1−ρ) (P1 = 61−p; terms ≤ 2^(P1−1), m terms fit a
    * long), zero registers contribute (m − observed)·2^P1, and the raw
    * estimate is ONE floor'd IEEE division of the shared constant
    * α_m·m²·2^P1 by that integer — bit-stable cross-engine, same recipe as
    * KMV's (k−1)/h_k. Small-range (linear-counting) correction needs ln,
    * whose libm rounding differs across engines; the gated output instead
    * carries n_zero so callers apply it downstream (the spec covers it). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String],
                   value: org.apache.spark.sql.Column, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "HLL precision p in [4, 16]")
    val width = 60 - p
    val mask = (1L << width) - 1
    val gcols = groupCols.map(col)
    val h = TextAnalysis.tokenHash(value)
    val low = h.bitwiseAND(lit(mask))
    val rho = when(low === 0, lit(width + 1))
      .otherwise(lit(width + 1) - length(bin(low)))
    df.select(gcols ++ Seq(shiftright(h, width).as("bucket"), rho.as("r")): _*)
      .filter(col("bucket").isNotNull)
      .groupBy(gcols :+ col("bucket"): _*)
      .agg(max(col("r")).cast(LongType).as("r"))
  }

  /** Fold an HLL register table (from [[hllRegisters]], possibly unioned
    * across corpora with `groupBy(bucket).max(r)`) into one estimate row
    * per group: (group…, n_zero, sum_scaled, hll_est). All columns exact
    * integers except hll_est = floor(α_m·m²·2^P1 / sum_scaled) — one IEEE
    * division, replayable. */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String], p: Int = 8): DataFrame = {
    val m = 1 << p
    val p1 = 61 - p // scaled exponent: term for ρ is 2^(P1 − ρ), ρ=0 ⇒ 2^P1
    val alpha = if (m >= 128) 0.7213 / (1 + 1.079 / m)
    else if (m == 64) 0.709 else if (m == 32) 0.697 else 0.673
    val c = alpha * m * m * java.lang.Math.pow(2.0, p1)
    val gcols = groupCols.map(col)
    regs.groupBy(gcols: _*)
      .agg(count(lit(1)).as("__n_obs"),
        sum(expr(s"shiftleft(cast(1 as bigint), cast($p1 - r as int))")).as("__s_obs"))
      .withColumn("n_zero", (lit(m.toLong) - col("__n_obs")).cast(LongType))
      .withColumn("sum_scaled",
        (col("__s_obs") + col("n_zero") * lit(1L << p1)).cast(LongType))
      .withColumn("hll_est",
        floor(lit(c) / col("sum_scaled").cast(DoubleType)).cast(DoubleType))
      .drop("__n_obs", "__s_obs")
  }

  /** Per-group HLL distinct estimate: registers → estimate in one call.
    * Shares [[hllEstimate]]'s column contract. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String],
                  value: org.apache.spark.sql.Column, p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, value, p), groupCols, p)

  /** The shared constant α_m·m²·2^(61−p), exposed so oracle SQL embeds the
    * IDENTICAL double literal (Double.toString round-trips). */
  def hllConstant(p: Int): Double = {
    val m = 1 << p
    val alpha = if (m >= 128) 0.7213 / (1 + 1.079 / m)
    else if (m == 64) 0.709 else if (m == 32) 0.697 else 0.673
    alpha * m * m * java.lang.Math.pow(2.0, 61 - p)
  }

  /** Corpus-overlap estimation from KMV sketches (Beyer et al. 2007 §5):
    * the bottom-k of A ∪ B is the bottom-k of K(A) ∪ K(B), and the
    * fraction ρ of those union minima present in BOTH per-corpus sketches
    * estimates the Jaccard similarity; |A ∩ B| ≈ ρ · |A ∪ B|. This is the
    * cheap pre-check before a full cross-corpus dedup pass: one global
    * `kmv_bottomk` sketch per corpus (k longs cross the wire, never a
    * corpus), joined 1×1, decides whether the expensive band join is
    * worth running. Building the frame launches no job.
    *
    * Returns one row: (n_kept, n_common, union_est, jaccard_est,
    * inter_est). Small inputs degrade gracefully: with fewer than k union
    * minima the union estimate is exact and ρ uses the retained count. */
  def kmvOverlap(a: DataFrame, b: DataFrame, value: org.apache.spark.sql.Column,
                 k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    def sketch(df: DataFrame, as: String) =
      df.select(TextAnalysis.tokenHash(value).as("__h")).agg(bottomK(k).as(as))
    overlapStats(sketch(a, "__ba").crossJoin(sketch(b, "__bb")), k)
  }

  /** ALL-PAIRS KMV set algebra over grouped sketches — [[kmvOverlap]]
    * generalized from two corpora to every pair of groups, with the corpus
    * scanned ONCE: per group the bounded-heap `kmv_bottomk` aggregate
    * retains the k smallest distinct hashes (map-side partials ship k longs
    * per (partition, group)), and every pairwise union/Jaccard/intersection
    * estimate is the same array algebra as [[kmvOverlap]]'s over those
    * sketch rows. The pair join is |G|² SKETCH rows (a broadcast nested
    * loop over k-long arrays), never data: at 100 TB this answers "which
    * sources share vocabulary" — the pre-check that orders cross-corpus
    * dedup passes — for the cost of one scan plus |G|² · k array ops.
    *
    * Estimator arithmetic is the [[kmvDistinct]] form (one IEEE division,
    * bit-stable cross-engine). Groups with a null-only value column are
    * dropped (sketch-family contract); a null GROUP sketches normally but
    * joins into no pair (SQL `<` on null), matching the oracle.
    *
    * Returns one row per unordered pair (g_a < g_b): (groupCol_a,
    * groupCol_b, n_kept, n_common, union_est, jaccard_est, inter_est). */
  def kmvPairwiseOverlap(df: DataFrame, groupCol: String,
                         value: org.apache.spark.sql.Column,
                         k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val sk = df.select(col(groupCol).as("__g"), TextAnalysis.tokenHash(value).as("__h"))
      .groupBy("__g")
      .agg(bottomK(k).as("__bk"))
      .filter(size(col("__bk")) > 0)
    val pairs = sk.select(col("__g").as(s"${groupCol}_a"), col("__bk").as("__ba"))
      .join(broadcast(sk.select(col("__g").as(s"${groupCol}_b"), col("__bk").as("__bb"))),
        col(s"${groupCol}_a") < col(s"${groupCol}_b"))
    overlapStats(pairs, k, s"${groupCol}_a", s"${groupCol}_b")
  }

  /** Union/Jaccard/intersection estimates from two bottom-k sketch
    * columns `__ba`, `__bb`: bottom-k of a union is the k smallest of the
    * two retained sets (the KMV merge property), and membership of a
    * union minimum in both sides is exact (h ∈ bottom-k(A∪B) ∧ h ∈ A ⟹
    * h ∈ bottom-k(A)). Returns `keys` then (n_kept, n_common, union_est,
    * jaccard_est, inter_est). */
  private def overlapStats(sketches: DataFrame, k: Int, keys: String*): DataFrame =
    sketches
      .withColumn("__u", slice(array_sort(array_union(col("__ba"), col("__bb"))), 1, k))
      .withColumn("n_kept", size(col("__u")).cast(LongType))
      .withColumn("n_common", size(array_intersect(col("__u"),
        array_intersect(col("__ba"), col("__bb")))).cast(LongType))
      .withColumn("union_est", kmvEstimate(col("n_kept"), element_at(col("__u"), k), k))
      .withColumn("jaccard_est",
        col("n_common").cast(DoubleType) / col("n_kept"))
      .withColumn("inter_est",
        floor(col("jaccard_est") * col("union_est")).cast(DoubleType))
      .select((keys ++ Seq("n_kept", "n_common", "union_est", "jaccard_est", "inter_est"))
        .map(col): _*)
}
