package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for training-data pipelines: exact (hash-groupBy),
 * MinHash+LSH near-dup (shingle → minhash → band → bucket-join), SimHash,
 * and n-gram Jaccard verification.
 *
 * Scale design: everything is expression-level (codegen'd) per row until the
 * single LSH bucket-join shuffle, which is keyed on (band index, band value) —
 * candidate generation never does an all-pairs comparison, so cost is
 * O(rows · shingles) + O(bucket collisions), not O(rows²). At 100 TB the
 * band-bucket shuffle is the only wide stage and AQE handles skewed buckets
 * (identical boilerplate docs) via skew-join splitting.
 *
 * Determinism contract: hashes derive from md5 prefixes (15 hex chars →
 * 60-bit int) and fixed odd multipliers mod 2^31-1, reproducible bit-for-bit
 * in the DuckDB oracle.
 */
object Dedup {

  val P: Long = 2147483647L // 2^31-1, Mersenne prime

  /** 60-bit md5-prefix hash, then reduced mod P (DuckDB-replicable). */
  def hash60(c: Column): Column = TextAnalysis.tokenHash(c) % P

  /** Per-token md5-based hashes in [0, P). */
  def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(text), t => TextAnalysis.tokenHash(t) % P)

  /** Shingle hash composed from a MATERIALIZED token-hash column by a rolling
    * fold h = (h*131 + th[i]) mod P — one md5 per token instead of one per
    * shingle (HOFs get no codegen CSE, so `thCol` must be a real column: its
    * element_at references are then cheap attribute lookups). */
  def shingleHashesFromTokens(thCol: Column, n: Int = 3): Column =
    when(size(thCol) < n, array().cast(ArrayType(LongType)))
      .otherwise(array_distinct(transform(sequence(lit(1), size(thCol) - (n - 1)), i =>
        (1 until n).foldLeft(element_at(thCol, i))((h, k) =>
          (h * 131 + element_at(thCol, i + k)) % P))))

  /** Attach a distinct-shingle-hash column (staged projects — see above). */
  def withShingleHashes(df: DataFrame, textCol: String, out: String, n: Int = 3): DataFrame =
    df.withColumn("__th", tokenHashes(col(textCol)))
      .withColumn(out, shingleHashesFromTokens(col("__th"), n))
      .drop("__th")

  /** MinHash signature: k independent affine permutations h_j(x)=(a_j·x+b_j) mod P,
    * minimum over the document's shingle-hash set. a_j odd, deterministic.
    *
    * k independent SCALAR folds, one per permutation: each `aggregate` keeps a
    * single long accumulator, so the whole signature allocates exactly one
    * k-element array per ROW. (The earlier one-pass variant carried the k
    * minima as a zip_with array accumulator — that allocates a k-wide array
    * per shingle ELEMENT, |sh|/k times more garbage, and profiled ~3× slower.)
    *
    * Contract: `hashes` must be a MATERIALIZED column (as produced by
    * withShingleHashes) — it is referenced k times, and higher-order functions
    * get no codegen subexpression elimination, so passing an expensive
    * expression here would re-evaluate it per permutation. */
  def minhashSignature(hashes: Column, k: Int = 16): Column =
    array((0 until k).map { j =>
      aggregate(hashes, lit(Long.MaxValue),
        (m, x) => least(m, (x * (2L * j + 1) + (12289L * j + 741)) % P))
    }: _*)

  /** LSH band keys: signature split into `bands` bands of `rows` values,
    * each band rendered "j:v1:v2:…" — equal band key ⇒ candidate pair. */
  def lshBands(sig: Column, bands: Int = 4, rows: Int = 4): Column =
    array((0 until bands).map { j =>
      concat_ws(":", lit(j.toString) +: (0 until rows).map(r =>
        element_at(sig, j * rows + r + 1).cast(StringType)): _*)
    }: _*)

  /** Exact n-gram Jaccard similarity between two shingle-hash sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** Codegen-path minhash base: explode tokens, rolling n-gram shingle hash
    * via window `lead`, signature as k independent codegen'd `min` aggregates,
    * optional distinct shingle set via `collect_set` in the SAME aggregation.
    *
    * Why not the array-HOF pipeline (withShingleHashes + minhashSignature)?
    * Spark evaluates higher-order-function lambdas INTERPRETED (transform/
    * aggregate are CodegenFallback), so a corpus of T tokens costs ~T·(n+k)
    * interpreted expression steps — profiled 3-4× slower than this shape at
    * equal output. Here every stage is whole-stage-codegen or a native
    * window/hash-aggregate, and the doc-keyed shuffle is reused by the window
    * sort and the final groupBy. Duplicate shingles need no distinct pass
    * before the mins (min is idempotent); collect_set dedups for Jaccard.
    *
    * Docs with fewer than n tokens produce NO output row (no shingles) —
    * callers that must emit them join back against the id universe. */
  def minhashBase(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, k: Int = 16, collectShingles: Boolean = false): DataFrame = {
    require(k > 0 || collectShingles, "minhashBase: nothing to compute")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val th = df
      .select(col(idCol).as("id"), posexplode(TextAnalysis.tokens(col(textCol))))
      .select(col("id"), col("pos"),
        (TextAnalysis.tokenHash(col("col")) % P).as("th"))
    // rolling h = (h*131 + th[i+j]) mod P; lead past the end is null and
    // nulls the whole shingle, filtering the tail windows
    val sh = th
      .withColumn("sh", (1 until n).foldLeft(col("th"))((h, j) =>
        (h * 131 + lead(col("th"), j).over(w)) % P))
      .filter(col("sh").isNotNull)
    // k = 0 skips the signature entirely (shingle-set-only consumers)
    val sigAggs = (0 until k).map { j =>
      min((col("sh") * (2L * j + 1) + (12289L * j + 741)) % P).as(s"__m$j")
    }
    val aggs = (if (collectShingles) sigAggs :+ collect_set(col("sh")).as("sh") else sigAggs).toSeq
    val agged = sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
    if (k == 0) agged
    else agged
      .withColumn("sig", array((0 until k).map(j => col(s"__m$j")): _*))
      .drop((0 until k).map(j => s"__m$j"): _*)
  }

  /** Codegen-path SimHash (same result as [[simhash]]): explode distinct
    * tokens, per-bit ±1 votes as `bits` native sum aggregates, signature
    * assembled from the vote signs — no interpreted lambdas (the array-HOF
    * form allocates a `bits`-wide array per token). One doc-keyed shuffle
    * with map-side partial sums. */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    val th = df
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .select(col("id"), TextAnalysis.tokenHash(col("tok")).as("th"))
    val votes = (0 until bits).map { i =>
      sum(when(col("th").bitwiseAND(lit(1L << i)) =!= 0L, 1L).otherwise(-1L)).as(s"__v$i")
    }
    th.groupBy("id").agg(votes.head, votes.tail: _*)
      .withColumn("simhash",
        (0 until bits).map(i =>
          when(col(s"__v$i") >= 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _))
      .drop((0 until bits).map(i => s"__v$i"): _*)
  }

  /** Exact dedup by content hash: per duplicate-cluster keep the smallest id.
    * One shuffle on md5(text); map-side partial agg collapses uniques early. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Full MinHash+LSH near-dup candidate pipeline:
    * doc → shingle hashes → signature → explode bands → bucket join on band
    * key → candidate pairs (id1 < id2) → exact Jaccard verify ≥ threshold.
    * Returns (id1, id2, jaccard). */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    // One aggregation pass produces BOTH the signature (banding) and the
    // distinct shingle set (exact verify) — see minhashBase for why this
    // codegen shape beats the array-HOF fold. Docs with <n tokens have no
    // shingles, can never pair, and are correctly absent.
    //
    // The base is read four times (two band sides, two shingle-set sides)
    // and deliberately not materialized: column pruning keeps each
    // recompute minimal (the band sides never build the collect_set, the
    // set sides never run the k min-aggregates), and four pruned
    // recomputes beat one persist of the shingle arrays (measured ~0.4 s
    // per recompute against a ~2 s columnar cache build at sf0.1).
    minhashNearDupsFrom(minhashBase(df, idCol, textCol, n, k, collectShingles = true),
      k, bands, threshold)
  }

  /** Cross-corpus near-dup: pairs (incoming doc, reference doc) whose
    * n-gram Jaccard crosses `threshold` — the crawl-over-crawl dedup pass
    * (flag documents of a NEW crawl already present, possibly mutated, in
    * the corpus you keep). Same pairs-first LSH shape as
    * [[minhashNearDups]], but the band join is incoming×reference — its
    * cost is bucket-collision-bounded between the two corpora and never
    * touches reference×reference pairs, so re-checking a daily increment
    * against a 100 TB retained corpus shuffles the increment's bands plus
    * the (precomputable, reusable) reference bands, not the corpora. */
  def crossCorpusNearDups(incoming: DataFrame, reference: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 3, k: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val bi = minhashBase(incoming, idCol, textCol, n, k, collectShingles = true)
    val br = minhashBase(reference, idCol, textCol, n, k, collectShingles = true)
    def banded(b: DataFrame, a: String) = b
      .withColumn("band", explode(lshBands(col("sig"), bands, k / bands)))
      .select(col("band"), col("id").as(a))
    val pairs = banded(bi, "in_id").join(banded(br, "ref_id"), Seq("band"))
      .select("in_id", "ref_id").distinct()
    pairs
      .join(bi.select(col("id").as("in_id"), col("sh").as("__sh1")), Seq("in_id"))
      .join(br.select(col("id").as("ref_id"), col("sh").as("__sh2")), Seq("ref_id"))
      .select(col("in_id"), col("ref_id"),
        jaccard(col("__sh1"), col("__sh2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private def minhashNearDupsFrom(base: DataFrame, k: Int, bands: Int,
                                  threshold: Double): DataFrame = {
    // Pairs-first: the band self-join carries only (band, id) — the
    // variable-width shingle arrays never ride the ×bands explode — then
    // the distinct survivor pairs (few, by LSH design) pull each side's
    // shingle set back with one hash join per side, so Jaccard is shuffled
    // and computed exactly once per pair instead of once per shared band.
    // Column pruning strips the collect_set from the band sides and the k
    // min-aggregates from the set sides, so each of the four base
    // instances only computes what its branch consumes.
    val banded = base
      .withColumn("band", explode(lshBands(col("sig"), bands, k / bands)))
      .select(col("band"), col("id"))
    val pairs = banded.select(col("band"), col("id").as("id1"))
      .join(banded.select(col("band"), col("id").as("id2")), Seq("band"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val sets = base.select(col("id"), col("sh"))
    pairs
      .join(sets.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sets.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"), jaccard(col("sh1"), col("sh2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash: 60-bit signature; bit i is the sign of the sum over tokens of
    * ±1 according to bit i of the token hash. Near-dup iff hamming distance
    * of signatures ≤ d (bit_count(xor)). */
  def simhash(text: Column, bits: Int = 60): Column = {
    val th = transform(array_distinct(TextAnalysis.tokens(text)), t => TextAnalysis.tokenHash(t))
    val masks = array((0 until bits).map(i => lit(1L << i)): _*)
    val init = array(Seq.fill(bits)(lit(0L)): _*)
    // one pass over tokens: per-bit vote sums via bitwiseAND against the mask
    val votes = aggregate(th, init,
      (acc, h) => zip_with(acc, masks,
        (s, m) => s + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, masks, (v, m) => when(v >= 0, m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Benchmark decontamination: flag training documents that share any word
    * n-gram with an evaluation set (the standard pre-training hygiene pass —
    * eval questions leaking into the corpus inflate benchmark scores).
    * Returns (id, n_hits, contaminated) per corpus doc, where n_hits counts
    * the doc's DISTINCT n-grams that appear anywhere in the benchmark.
    *
    * Scale shape: both sides reduce to 60-bit rolling-hash shingles (the
    * same codegen pipeline as minhash); the benchmark gram set is tiny
    * relative to a 100 TB corpus (eval sets are thousands of docs), so the
    * gram join broadcasts — the corpus is never shuffled, only scanned. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    val bg = minhashBase(bench, idCol, textCol, n, k = 0, collectShingles = true)
      .select(explode(col("sh")).as("g")).distinct()
    val dg = minhashBase(corpus, idCol, textCol, n, k = 0, collectShingles = true)
      .select(col("id"), explode(col("sh")).as("g"))
    decontaminateTail(corpus, idCol, dg, bg)
  }

  /** Decontamination with a Bloom-filter semi-join ahead of the exact gram
    * join — the shape for when the benchmark gram set is too large to
    * broadcast as an exact hash relation (a full eval-suite union at 100 TB
    * corpus scale) and the gram join must shuffle both sides. The bloom
    * bitset is orders of magnitude smaller than the exact set, broadcasts
    * cheaply, and filters the corpus gram stream down to ~the contamination
    * rate BEFORE the shuffle; false positives pass the pre-filter but are
    * discarded by the exact join, so results are identical to
    * [[decontaminate]] (bloom filters have no false negatives). */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 8,
                         fpp: Double = 0.01): DataFrame = {
    // 3 consumers (count, bloom build, exact verify); eval-suite-sized
    val bg = benchGrams(bench, idCol, textCol, n).transform(Ops.materialize)
    gramBloomProbe(bg, fpp) match {
      case None =>
        // nothing to leak
        val base = corpus.select(col(idCol))
        base.select(base(idCol), lit(0L).as("n_hits"),
          lit(false).as("contaminated"))
      case Some(mightContain) =>
        val dg = minhashBase(corpus, idCol, textCol, n, k = 0, collectShingles = true)
          .select(col("id"), explode(col("sh")).as("g"))
          .filter(mightContain(col("g")))
        decontaminateTail(corpus, idCol, dg, bg)
    }
  }

  /** Distinct benchmark gram table — the same 60-bit rolling-hash shingle
    * space as [[minhashBase]]; shared by the exact, bloom, and streaming
    * decontamination paths. */
  def benchGrams(bench: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    minhashBase(bench, idCol, textCol, n, k = 0, collectShingles = true)
      .select(explode(col("sh")).as("g")).distinct()

  /** SEMANTIC benchmark decontamination — the embedding sibling of
    * [[decontaminate]]: n-gram overlap misses paraphrased or translated
    * eval leakage, so flag every corpus item whose max cosine against ANY
    * benchmark embedding reaches `tau`. Returns (idCol, max_cos, suspect);
    * `max_cos` is null (and suspect false) for zero-norm corpus vectors
    * (cosine undefined) and when the benchmark has no nonzero vectors
    * (nothing can leak).
    *
    * 100 TB shape: the benchmark is eval-suite-sized by nature, so it
    * rides as ONE aggregated broadcast row — an array of (vec, norm)
    * structs — and the corpus pays a single SCAN with a per-row max-fold
    * over that array: no shuffle, no groupBy, streaming-composable. Each
    * pair's cosine is computed independently and `greatest` is exact and
    * order-free, so the non-deterministic collect_list order cannot change
    * the result (unlike a summation fold). |bench|·d doubles must fit a
    * broadcast (a 100k × 1k eval suite ≈ 800 MB — beyond that, shard the
    * bench and OR the flags). On integerized vectors every pair cosine is
    * one exact dot, two sqrt, one multiply, one divide — bit-replayable. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            tau: Double): DataFrame = {
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val benchRow = bench
      .select(v.as("__bv"), Similarity.norm(v).as("__bn"))
      .filter(col("__bn") > 0)
      .agg(collect_list(struct(col("__bv"), col("__bn"))).as("__bench"))
    // corpus norm staged BELOW the join: one d-dim fold per row, not one
    // per (row, bench element) — a project can't inline through the join
    val withN = corpus.withColumn("__n", Similarity.norm(v))
    val maxCos = when(col("__n") > 0 && size(col("__bench")) > 0,
      aggregate(col("__bench"), lit(-1.0), (acc, b) =>
        greatest(acc, Similarity.dot(v, b.getField("__bv")) /
          (col("__n") * b.getField("__bn")))))
      .otherwise(lit(null).cast(DoubleType))
    withN.crossJoin(broadcast(benchRow))
      .withColumn("max_cos", maxCos)
      .withColumn("suspect", coalesce(col("max_cos") >= tau, lit(false)))
      .drop("__bench", "__n")
  }

  /** Broadcast-Bloom membership probe over a gram table; None when the
    * table is empty (nothing can leak, and Spark's bloomFilter NPEs on
    * empty input). A UDF is the only public seam to Spark's BloomFilter
    * (BloomFilterMightContain is private[sql]); the probe is a bitset
    * lookup. */
  def gramBloomProbe(bg: DataFrame, fpp: Double): Option[Column => Column] = {
    val nGrams = bg.count()
    if (nGrams == 0) None
    else {
      val bloom = bg.sparkSession.sparkContext.broadcast(
        bg.stat.bloomFilter("g", nGrams, fpp))
      val mightContain = udf((g: Long) => bloom.value.mightContainLong(g))
      Some(c => mightContain(c))
    }
  }

  /** Benchmark-sized driver state is a CONTRACT of the gate probes; this
    * cap turns a corpus-scale gram table into a clear error instead of a
    * driver OOM. 32M grams = 256 MB of longs, an eval-suite union's upper
    * end; raise it deliberately via the maxGrams parameter if a bigger
    * benchmark suite truly fits the driver. */
  val DefaultMaxBenchGrams: Int = 32 * 1024 * 1024

  /** The gram table as one sorted array, collected under `maxGrams`. */
  private def collectGramsBounded(bg: DataFrame, maxGrams: Int): Array[Long] =
    Ops.collectBounded(bg, maxGrams, "benchmark gram table",
      "the decontamination gate broadcasts the benchmark set and is sized " +
        "for eval-suite inputs, not corpora; shrink the benchmark or raise " +
        "maxGrams explicitly if the driver can hold it")
      .map(_.getLong(0)).sorted

  /** Both gate probes from ONE benchmark scan: the gram table collects
    * once (it is eval-suite-sized by contract), the sorted array backs the
    * exact probe, and the Bloom prefilter is built driver-side from the
    * same array — where the separate [[gramBloomProbe]] (count job +
    * bloomFilter job) plus an exact probe's own collect job would scan the
    * tokenize→shingle→distinct pipeline three times. None when empty. */
  def gramProbes(bg: DataFrame, fpp: Double,
                 maxGrams: Int = DefaultMaxBenchGrams): Option[(Column => Column, Column => Column)] = {
    val grams = collectGramsBounded(bg, maxGrams)
    if (grams.isEmpty) None
    else {
      val sc = bg.sparkSession.sparkContext
      val bloom = org.apache.spark.util.sketch.BloomFilter
        .create(grams.length.toLong, fpp)
      grams.foreach(bloom.putLong)
      val bBloom = sc.broadcast(bloom)
      val bArr = sc.broadcast(grams)
      val mightContain = udf((g: Long) => bBloom.value.mightContainLong(g))
      val contains = udf((g: Long) =>
        java.util.Arrays.binarySearch(bArr.value, g) >= 0)
      Some((c => mightContain(c), c => contains(c)))
    }
  }

  /** Shared exact-verify tail: count distinct corpus grams present in the
    * benchmark set, re-attach every corpus doc (zero hits included). */
  private def decontaminateTail(corpus: DataFrame, idCol: String,
                                dg: DataFrame, bg: DataFrame): DataFrame = {
    val hits = dg.join(bg, Seq("g")).groupBy("id").agg(count(lit(1)).as("n_hits"))
    // dataframe-qualified refs: idCol may itself be named "id"
    val base = corpus.select(col(idCol))
    base.join(hits, base(idCol) === hits("id"), "left")
      .select(base(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Fixed-width token chunks of a text column (w tokens per chunk, space
    * joined) — a deterministic segmentation for corpora without natural line
    * structure; the last chunk may be shorter. */
  def tokenChunks(text: Column, w: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    transform(sequence(lit(1), size(toks), lit(w)),
      i => concat_ws(" ", slice(toks, i, lit(w))))
  }

  /** Cross-document segment-level dedup (the RefinedWeb/Falcon "line dedup"
    * pass): a document is an ordered array of segments — lines, sentences,
    * or token chunks — and any non-blank segment occurring in more than
    * `maxDocs` distinct documents corpus-wide is boilerplate, removed from
    * every document. Returns (id, clean, n_removed).
    *
    * Scale shape: one segment-keyed shuffle with map-side partial agg for
    * the distinct-doc counts (blank segments are excluded up front — they
    * are the pathological skew key), one join to mark boilerplate (the
    * boilerplate set is tiny relative to the corpus, so AQE broadcasts it),
    * and one doc-keyed shuffle to reassemble in order. No driver-side state,
    * no all-pairs work: cost is O(total segments). */
  def segmentDedup(df: DataFrame, idCol: String, segs: Column, maxDocs: Long,
                   joinSep: String): DataFrame = {
    val ex = df.select(col(idCol).as("id"), posexplode(segs).as(Seq("pos", "seg")))
    val boiler = ex.filter(length(trim(col("seg"))) > 0)
      .select("seg", "id").distinct()
      .groupBy("seg").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocs)
      .select(col("seg"), lit(1).as("__rm"))
    val perDoc = ex.join(boiler, Seq("seg"), "left")
      .groupBy("id").agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__rm").isNull,
              struct(col("pos"), col("seg"))))),
            s => s.getField("seg")),
          joinSep).as("clean"),
        count(col("__rm")).as("n_removed"))
    // null-text docs explode to no segments: restore them with empty output.
    // Dataframe-qualified refs: idCol may itself be named "id".
    val base = df.select(col(idCol))
    base.join(perDoc, base(idCol) === perDoc("id"), "left")
      .select(base(idCol), coalesce(col("clean"), lit("")).as("clean"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Line-level dedup for real multi-line corpora: segments are newline
    * lines, reassembled with newlines. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocs: Long = 5): DataFrame =
    segmentDedup(df, idCol, split(col(textCol), "\n"), maxDocs, "\n")

  /** Distributed connected components over an undirected edge list, via the
    * alternating large-star / small-star contraction (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the canonical
    * fuzzy-dedup clustering step: near-dup PAIRS become duplicate CLUSTERS,
    * and retention keeps one document per cluster.
    *
    * Scale design: each round is two groupBy shuffles keyed on node id (no
    * driver-side graph, no all-pairs), and the edge set only ever shrinks
    * toward a star forest; convergence is O(log² n) rounds worst-case
    * (Kiveris et al., Thm 3) and 1-2 rounds on dedup graphs (near-dup
    * clusters are shallow). Each round's edge set is materialized so
    * plans don't grow with iterations (same pattern as Ops.recursiveLookup).
    * A BFS-style label propagation would need diameter rounds and re-shuffle
    * the full frontier each time; star contraction is the 100 TB shape.
    *
    * Node ids keep their native column type — any orderable type works
    * (long doc ids, string URLs, hashes); only src/dst must agree. Throws
    * if the edge set has not converged after `maxIter` rounds rather than
    * returning silently split components.
    *
    * Returns (node, component) for every node present in `edges` (including
    * nodes only seen in self-loops), where component is the smallest node id
    * in the connected component — deterministic, so oracle-checkable against
    * a recursive-CTE min-label fixpoint. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50,
                          localSolveMaxEdges: Long = 1L << 20): DataFrame = {
    val (st, dt) = (edges.schema(srcCol).dataType, edges.schema(dstCol).dataType)
    require(st == dt, s"src/dst types differ: $st vs $dt")
    // 2 consumers: the node set and the canonical edge set
    val raw = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .transform(Ops.materialize)
    // nodes BEFORE dropping self-loops, so an isolated (x, x) node still
    // appears in the output as its own component
    val nodes = raw.select(col("a").as("node"))
      .union(raw.select(col("b").as("node"))).distinct()
    // canonical undirected edge set as (hi, lo), hi > lo, distinct
    var e = raw
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
      .distinct().transform(Ops.materialize) // loop input: signature + round 1
    // convergence signature: ONE map-side aggregate per round — (count,
    // order-independent hash sum). The per-round edge sets are DISTINCT, so
    // equal signatures ⇒ equal sets up to a 2^-64 hash-sum collision; the
    // previous count + except() check paid an extra full anti-join shuffle
    // of the edge set per round.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("hi"), col("lo")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (n, chk) = signature(e)
    // Adaptive small-graph path: near-dup candidate graphs are usually
    // orders of magnitude smaller than the corpus (pairs survive banding +
    // verification), so after the pruning above the edge set often fits in
    // one task. Below `localSolveMaxEdges` (default 2^20 edges ≈ 16 MB —
    // driver-safe) solve with union-find on the driver and broadcast the
    // labels back: one collect replaces ~4 shuffle rounds of alternating
    // stars. Gated to integral node ids, where driver `min` and Catalyst
    // `least` order identically (strings keep the distributed path — JVM
    // UTF-16 comparison disagrees with Spark's binary UTF-8 order beyond
    // the BMP). The O(log² n)-round distributed loop below remains the
    // 100 TB path, unchanged.
    val integralIds = st match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // gate on the RAW projection count, which bounds BOTH collects: the
    // canonical edge set (≤ raw) and the node set (≤ 2·raw). Gating on the
    // deduped edge count alone would let a self-loop-heavy input (tiny edge
    // set, huge node set) blow up the driver.
    if (integralIds && n <= localSolveMaxEdges && raw.count() <= localSolveMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      // union by min root: the root of a component is always its minimum,
      // matching the distributed path's min-label fixpoint
      e.select(col("hi").cast(LongType), col("lo").cast(LongType))
        .collect().foreach { r =>
          val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
          if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
        }
      val labels = nodes.select(col("node").cast(LongType)).collect()
        .map(r => (r.getLong(0), find(r.getLong(0))))
      return labels.toSeq.toDF("node", "component")
        .select(col("node").cast(st).as("node"),
          col("component").cast(st).as("component"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: every neighbor v > u links to m(u) = min(Γ(u) ∪ {u}).
      // Emitted edges are (v, m) with v > u ≥ m, so (hi, lo) form holds.
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star: group the downhill edges by hi; hi and all its smaller
      // neighbors link to the group minimum.
      val grouped = large.groupBy("hi").agg(min(col("lo")).as("m"),
        collect_set(col("lo")).as("ns"))
      val small = grouped
        .select(explode(array_union(col("ns"), array(col("hi")))).as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
        .transform(Ops.materialize) // loop depth; also read by signature
      val (n2, chk2) = signature(small)
      // star forest fixpoint: the (hi, lo) set is stable
      converged = n2 == n && chk2 == chk
      e = small
      n = n2
      chk = chk2
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge after $maxIter rounds " +
        s"($n edges remain); raise maxIter")
    // converged edge set is a star forest: non-roots point at their root
    val comp = e.groupBy("hi").agg(min(col("lo")).as("component"))
      .select(col("hi").as("node"), col("component"))
    nodes.join(comp, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** MinHash near-dup clustering end-to-end: candidate pairs → connected
    * components → (doc, cluster) for EVERY document (singletons are their own
    * cluster). `cluster` is the smallest doc id in the duplicate cluster —
    * i.e. exactly the doc retention policy "keep the first seen". */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDups(df, textCol, idCol, n, k, bands, threshold)
    val cc = connectedComponents(pairs, "id1", "id2")
    df.select(col(idCol).as("node"))
      .join(cc, Seq("node"), "left")
      .select(col("node").as(idCol), coalesce(col("component"), col("node")).as("cluster"))
  }

  /** Exact duplicate-substring removal (Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better" — public),
    * re-expressed distributed: their single-node suffix array becomes a
    * corpus-wide shuffle of rolling-hash token windows. Every `l`-token
    * window is keyed by TWO independent 31-bit rolling hashes (multipliers
    * 131/137 mod P — ~2⁻⁶² collision odds per pair, the hash-only stand-in
    * for the suffix array's exactness); windows occurring more than once
    * keep their minimal (doc, pos) occurrence and every other occurrence
    * becomes a removal interval [pos, pos+l), merged per doc by the
    * classic running-max island scan. Output per doc: span/token removal
    * counts and the cleaned (token-normalized) text.
    *
    * 100 TB shape: one wide shuffle keyed on the hash pair with map-side
    * combine (duplicate windows are rare after the first occurrence), one
    * per-doc window for interval merging (per-doc rows only), and the
    * interval set joins back as a collect_list per doc — never a suffix
    * array, never all-pairs. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     l: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withTh = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__th", tokenHashes(col("__text")))
    def chain(mult: Long): Column =
      when(size(col("__th")) < l, array().cast(ArrayType(LongType)))
        .otherwise(transform(sequence(lit(1), size(col("__th")) - (l - 1)), i =>
          (1 until l).foldLeft(element_at(col("__th"), i))((h, k) =>
            (h * mult + element_at(col("__th"), i + k)) % P)))
    val win = withTh
      .withColumn("__w1", chain(131L))
      .withColumn("__w2", chain(137L))
      .select(col("id"), posexplode(zip_with(col("__w1"), col("__w2"),
        (a, b) => struct(a.as("h1"), b.as("h2")))).as(Seq("pos0", "hh")))
      .select(col("id"), (col("pos0") + 1).as("pos"),
        col("hh.h1").as("h1"), col("hh.h2").as("h2"))
    // one shuffle, one pass: rank + count in the SAME (h1, h2) exchange —
    // the groupBy+join-back shape would re-run the md5/chain pipeline for
    // the probe side (measured ~2× the query at bench scale)
    val byHash = Window.partitionBy(col("h1"), col("h2"))
    val rm = win
      .withColumn("rn", row_number().over(byHash.orderBy(col("id"), col("pos"))))
      .withColumn("c", count(lit(1)).over(byHash))
      .filter(col("c") > 1 && col("rn") > 1)
      .select(col("id"), col("pos").as("s"), (col("pos") + (l - 1)).as("e"))
    val w = Window.partitionBy("id").orderBy("s", "e")
    val islands = rm
      .withColumn("pmax", max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw", when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("nw")).over(w))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = islands.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__ivs"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + lit(1L)).as("n_removed"))
    // rebuilt from the raw frame: the kept-token scan needs tokens only,
    // not the md5 hash stream
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(ivs, Seq("id"), "left")
      .withColumn("__kept", filter(TextAnalysis.tokens(col("__text")), (t, i0) =>
        coalesce(!exists(col("__ivs"), iv =>
          iv.getField("s") <= i0 + 1 && i0 + 1 <= iv.getField("e")), lit(true))))
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed_tokens"),
        concat_ws(" ", col("__kept")).as("clean"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public): semantic
    * near-duplicate removal over an embedding column. Assign every vector to
    * its nearest centroid ([[Similarity.ivfAssignJoin]] — argmin L2, ties
    * to the lowest centroid id), form candidate pairs ONLY within a
    * cluster, keep pairs with cosine ≥ `tau` as semantic duplicates, group
    * them with the large/small-star component loop, and retain per group
    * the member LEAST similar to its centroid (the paper's keep rule:
    * extreme points carry the information), ties to the lowest id. Returns
    * one row per input: (id, cluster, keep).
    *
    * 100 TB shape: the centroids are a table, so their count can reach the
    * paper's k ≈ √N (10⁵–10⁶ centroids never fit an expression tree), and
    * assignment AND centroid-similarity ride the same broadcast-hash join
    * pass. The quadratic term is cluster-scoped — the centroid count
    * bounds every bucket of the self-join; the join carries only
    * (centroid, id) and vectors hash-join back once per side (the
    * pairs-first layout minhash LSH uses), so the wide stages are three
    * hash joins plus the component loop — never all-pairs. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, tau: Double,
                    centIdCol: String, centVecCol: String): DataFrame = {
    val nodes = Similarity.ivfAssignJoin(df, idCol, vecCol, cents,
        centIdCol, centVecCol, withCentSim = true)
      .select(col(idCol).as("node"), col("__centroid"), col("__centsim"))
      .transform(Ops.materialize) // 3 consumers: both pair sides + keep rule
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val cand = nodes.select(col("__centroid"), col("node").as("id1"))
      .join(nodes.select(col("__centroid"), col("node").as("id2")), Seq("__centroid"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
    // norms fold once per VECTOR; the per-pair check is then a single dot
    // fold against (tau·n1)·n2 — same correctly-rounded double sequence the
    // oracle replays. Zero vectors are guarded out (cosine is undefined).
    val va = df.select(col(idCol).as("id1"), v.as("__v1"),
      Similarity.norm(v).as("__n1"))
    val vb = df.select(col(idCol).as("id2"), v.as("__v2"),
      Similarity.norm(v).as("__n2"))
    val dup = cand.join(va, Seq("id1")).join(vb, Seq("id2"))
      .filter(col("__n1") > 0 && col("__n2") > 0 &&
        Similarity.dot(col("__v1"), col("__v2")) >= (lit(tau) * col("__n1")) * col("__n2"))
      .select("id1", "id2")
    val cc = connectedComponents(dup, "id1", "id2")
    val lab = nodes.join(cc, Seq("node"), "left")
      .withColumn("cluster", coalesce(col("component"), col("node")))
    val keeper = lab.groupBy("cluster")
      .agg(min_by(col("node"), struct(col("__centsim"), col("node"))).as("__keeper"))
    lab.join(keeper, Seq("cluster"))
      .select(col("node").as(idCol), col("cluster"),
        (col("node") === col("__keeper")).as("keep"))
  }

  // ------------------------------------------- winnowing fingerprints (MOSS)
  /** POSITIONAL n-gram hashes: [[shingleHashesFromTokens]] without the
    * distinct — winnowing selects by position, so every occurrence keeps
    * its slot. Same rolling fold, same hash space [0, P). */
  def posShingleHashes(thCol: Column, n: Int = 3): Column =
    when(size(thCol) < n, array().cast(ArrayType(LongType)))
      .otherwise(transform(sequence(lit(1), size(thCol) - (n - 1)), i =>
        (1 until n).foldLeft(element_at(thCol, i))((h, k) =>
          (h * 131 + element_at(thCol, i + k)) % P)))

  /** Positions per document are packed next to the hash in one BIGINT key
    * (h·2²⁰ + (2²⁰−1−pos)); documents are bounded at 2²⁰ n-grams by this
    * contract — beyond that, winnow per shard. */
  val WinnowPosBound: Long = 1L << 20

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local document-fingerprinting scheme; the
    * reference has no counterpart, this is the training-pipeline extra).
    * Over each document's positional n-gram hash sequence, every window of
    * `w` consecutive hashes contributes its minimum — RIGHTMOST position on
    * hash ties, the paper's robust-winnowing rule — and duplicate
    * (hash, pos) selections collapse. Guarantees (paper §2): every
    * substring match of length ≥ w+n−1 tokens shares at least one
    * fingerprint; expected density 2/(w+1). Documents shorter than one full
    * window contribute their global minimum (one fingerprint), so every
    * document with at least `n` tokens (i.e. at least one n-gram) yields at
    * least one fingerprint; documents with fewer than `n` tokens have no
    * n-grams and fingerprint to nothing, exactly like
    * [[shingleHashesFromTokens]].
    *
    * The tie rule rides a single BIGINT: key = h·2²⁰ + (2²⁰−1−pos), so a
    * plain `min` over the trailing window picks (min hash, max pos).
    * Shape: token hashes → positional shingle fold → posexplode_outer →
    * ONE bounded window (w rows, per-doc ordering — never a corpus sort)
    * → distinct. The distinct's hash shuffle is the only corpus-wide wide
    * stage; per-doc sort extents are bounded by document length.
    *
    * The explode must be the OUTER form: for a plain posexplode,
    * `InferFiltersFromGenerate` adds `size(__sh) > 0` below the Generate
    * and predicate pushdown then substitutes the WHOLE shingle expression
    * into that per-row Filter — with the md5 token-hash transform inlined
    * into each of the fold's three element_at references, so every gram
    * re-evaluates the full token-hash array (~300 md5 per gram; measured
    * 58 s at sf0.1 vs ~1 s fixed). posexplode_outer infers nothing; the
    * empty-doc rows it keeps are dropped by one cheap null filter on the
    * generator OUTPUT, which cannot be pushed below the Generate.
    *
    * The packed-key contract is ENFORCED in the plan: a document with more
    * than `posBound` n-grams would alias position bits into the hash field
    * and silently corrupt (pos, fp) decodes, so such rows fail loudly with
    * `raise_error` instead (winnow oversize documents per shard, or raise
    * `posBound` — the key has 63−⌈log₂P⌉ = 32 spare bits above the default).
    *
    * Returns (idCol, pos long — 0-based n-gram position, fp long — the
    * selected n-gram hash in [0, P)). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, w: Int = 4,
                         posBound: Long = WinnowPosBound): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = posBound
    val grams = df
      .withColumn("__th", tokenHashes(col(textCol)))
      .withColumn("__sh", posShingleHashes(col("__th"), n))
      .select(col(idCol), size(col("__sh")).as("__ng"),
        posexplode_outer(col("__sh")).as(Seq("__p", "__h")))
      .filter(col("__h").isNotNull) // outer-explode's empty-doc rows
      .withColumn("__ng",
        when(col("__ng") > B, raise_error(concat(
          lit(s"winnowFingerprints: document "), col(idCol).cast(StringType),
          lit(s" has "), col("__ng").cast(StringType),
          lit(s" n-grams > posBound=$B; winnow per shard or raise posBound"))))
          .otherwise(col("__ng")))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(w - 1), Window.currentRow)
    grams
      .withColumn("__key", col("__h") * B + (lit(B - 1) - col("__p")))
      .withColumn("__mk", min(col("__key")).over(win))
      // full windows only, except the one partial window of a short doc
      .filter(col("__p") >= least(lit(w - 1), col("__ng") - 1))
      .select(col(idCol), col("__mk")).distinct()
      .select(col(idCol),
        (lit(B - 1) - pmod(col("__mk"), lit(B))).as("pos"),
        expr(s"__mk div ${B}").as("fp"))
  }

  /** Match-span localization behind [[winnowCandidates]] — the MOSS
    * paper's actual reporting step (SWA 2003 §4: positions localize the
    * match once fingerprint sets have selected the pair). For every
    * candidate pair, join the two documents' fingerprint sets on the
    * shared hash and merge each side's hit POSITIONS into token spans:
    * consecutive hits within `gap` n-gram positions coalesce (default
    * w+n−1 — the guarantee window: a true shared run of that length
    * always contributes a fingerprint, so real matches can't leave holes
    * wider than it), and each island widens by n−1 to cover the final
    * n-gram's tokens. Returns one row per (pair, side, span):
    * (doc_a, doc_b, side 'a'|'b', span_start, span_end — token positions,
    * end exclusive, n_fps — fingerprint hits inside the span).
    *
    * 100 TB shape: the fingerprint tables are density-2/(w+1) samples of
    * the corpora (never the token streams), the pair join is inverted-
    * index-bucketed by fp exactly like [[winnowCandidates]], and the
    * island merge windows over (pair, side) — per-pair hit counts, never
    * corpus-wide ordering. The fingerprint table is computed ONCE and
    * materialized: it feeds the candidate join and both position joins,
    * four consumers that would otherwise each re-run the full
    * tokenize/shingle/window pipeline over the corpus (ReuseExchange
    * cannot dedup them because each build mints fresh attribute IDs). It
    * holds the density-2/(w+1) fingerprint sample, never the corpus.
    *
    * `gap=None` selects the guarantee window w+n−1; an explicit value is
    * always honored. */
  def winnowMatchSpans(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, w: Int = 4, minShared: Int = 2,
                       maxBucket: Int = 50, gap: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = gap.getOrElse(w + n - 1)
    require(g > 0, s"winnowMatchSpans: gap must be positive, got $g")
    val fps = winnowFingerprints(df, idCol, textCol, n, w)
      .select(col(idCol).as("__doc"), col("pos"), col("fp"))
      .transform(Ops.materialize)
    val pairs = winnowCandidatesFrom(fps, "__doc", minShared, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val hits = pairs
      .join(fps.select(col("__doc").as("doc_a"), col("pos").as("__pa"),
        col("fp")), Seq("doc_a"))
      .join(fps.select(col("__doc").as("doc_b"), col("pos").as("__pb"),
        col("fp")), Seq("doc_b", "fp"))
    val sides = hits.select(col("doc_a"), col("doc_b"), lit("a").as("side"),
        col("__pa").as("pos"))
      .unionAll(hits.select(col("doc_a"), col("doc_b"), lit("b").as("side"),
        col("__pb").as("pos")))
      .distinct() // one fp can hit the same position via several partners
    val byPos = Window.partitionBy(col("doc_a"), col("doc_b"), col("side"))
      .orderBy(col("pos"))
    sides
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(byPos) > g, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        Window.partitionBy(col("doc_a"), col("doc_b"), col("side"))
          .orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("side"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"), // last gram covers n tokens
        count(lit(1)).as("n_fps"))
      .drop("__island")
  }

  /** Candidate near-duplicate pairs from shared winnowing fingerprints —
    * the inverted-index shape: (fp → docs), self-join inside each
    * fingerprint bucket, count shared fingerprints per pair, keep pairs
    * sharing ≥ `minShared`. Position-independent: matching compares hash
    * sets, positions only localize the match afterwards. `maxBucket` drops
    * stop-fingerprints (an n-gram selected in more than that many docs —
    * boilerplate), the standard inverted-index guard that also bounds the
    * bucket join's fan-out at corpus scale. */
  def winnowCandidates(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, w: Int = 4, minShared: Int = 2,
                       maxBucket: Int = 50): DataFrame =
    winnowCandidatesFrom(winnowFingerprints(df, idCol, textCol, n, w),
      idCol, minShared, maxBucket)

  /** [[winnowCandidates]] over a PRECOMPUTED fingerprint table (any frame
    * with `idCol` and an `fp` column, e.g. [[winnowFingerprints]] output).
    * The distinct (doc, fp) set is materialized because the plan consumes
    * it three times — the document-frequency aggregate and both sides of
    * the bucket self-join — and without it each consumer re-runs the whole
    * upstream pipeline (fresh attribute IDs defeat ReuseExchange). It is
    * the density-2/(w+1) fingerprint sample, never the corpus. */
  def winnowCandidatesFrom(fps: DataFrame, idCol: String,
                           minShared: Int = 2, maxBucket: Int = 50): DataFrame = {
    val sel = fps.select(col(idCol).as("__doc"), col("fp")).distinct()
      .transform(Ops.materialize)
    val keep = sel.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxBucket).select("fp")
    val pruned = sel.join(keep, Seq("fp"))
    pruned.select(col("fp"), col("__doc").as("doc_a"))
      .join(pruned.select(col("fp"), col("__doc").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
