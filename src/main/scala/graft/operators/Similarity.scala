package graft.operators

import graft.engine.Ops
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * - Brute-force cosine top-k: the exact baseline. The query vector rides
 *   along as a broadcast 1-row cross join, the dot product is a codegen'd
 *   `zip_with`+`aggregate` fold in double precision — a single scan, no
 *   shuffle except the final top-k (TakeOrderedAndProject), so it scales to
 *   any corpus size at O(rows · dim).
 * - LSH-bucketed ANN (random hyperplanes): sign-bit sketch of the embedding
 *   against deterministic pseudo-random planes → bucket key; candidates are
 *   pairs sharing a bucket in any table. Scale path: the per-bucket join
 *   replaces all-pairs O(n²) with O(collisions); buckets are the only wide
 *   stage.
 *
 * All arithmetic is double; the fold order over vector elements is
 * left-to-right, matching the element order the DuckDB oracle sums in.
 */
object Similarity {

  /** Left-to-right double dot product of two float-array columns — the
    * native codegen expression ([[graft.plans.VecDot]], registered by
    * GraftExtensions): tight primitive loop, no per-element boxing. Same
    * fold order, cast and null semantics as the HOF form below, so every
    * oracle hash is unchanged (spec-asserted equivalence). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** The interpreted higher-order-function form [[dot]] replaces — kept as
    * the executable specification of its semantics. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  /** Native squared-L2 distance ([[graft.plans.VecL2Sq]]) — same
    * fold-order/null contract discipline as [[dot]]. */
  def l2sq(a: Column, b: Column): Column = call_function("vec_l2sq", a, b)

  /** Native INTEGER dot product ([[graft.plans.VecDotLong]]) for
    * integerized/quantized vectors — exact arithmetic, so swapping it for
    * the HOF fold can never change an oracle hash. */
  def idot(a: Column, b: Column): Column = call_function("vec_idot", a, b)

  /** Executable specification of [[l2sq]]. The per-element cast matches
    * the native expression's array<double> Cast: float inputs must
    * subtract in DOUBLE (subtracting in float first rounds differently). */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) * (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, null for zero-norm inputs. The naive `dot/(‖a‖‖b‖)`
    * yields 0/0 = NaN there, and Spark's total ordering places NaN ABOVE
    * every double — a zero embedding would rank FIRST in every
    * `orderBy(cosine.desc)` top-k. NULL instead sorts last under the
    * default NULLS LAST, so degenerate rows fall out of top-k results
    * rather than fabricating neighbors. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === lit(0.0), lit(null).cast(DoubleType)).otherwise(dot(a, b) / d)
  }

  // ------------------------------------------- document embedding pooling
  /** Mean-pool word vectors into document embeddings — the classic
    * word2vec/GloVe document representation, and the plumbing every
    * embed-then-search pipeline needs: tokens broadcast-join the
    * vocabulary-sized vector table (as DATA — a pretrained table from
    * `Sources.word2vecText/Binary` drops straight in), components
    * posexplode so the pooling sums are (id, dim)-keyed with map-side
    * combine — per-group state is one number, never a vector list — and
    * the ordered embedding reassembles from (dim, mean) structs. With
    * integer vector components the sums are exact and the per-component
    * mean is one IEEE division: bit-replayable. Two keyed shuffles total,
    * both on corpus-sized but fixed-width rows. */
  def meanPoolEmbedding(tokens: DataFrame, idCol: String, wordCol: String,
                        vectors: DataFrame, vecWordCol: String,
                        vecCol: String): DataFrame = {
    // (id, word) → count first: the dim-explode then rides the DISTINCT
    // word stream (vocabulary compression — repeated tokens cost one row),
    // with sums weighted by the count. Integer math identical to the
    // unweighted form, so oracles don't move.
    val wc = tokens.groupBy(col(idCol), col(wordCol).as("__w0"))
      .agg(count(lit(1)).as("__cnt"))
    val joined = wc.join(
      broadcast(vectors.select(col(vecWordCol).as("__w"), col(vecCol).as("__v"))),
      col("__w0") === col("__w"))
    joined.select(col(idCol), col("__cnt"), posexplode(col("__v")).as(Seq("__j", "__c")))
      .groupBy(col(idCol), col("__j"))
      .agg(sum(col("__c") * col("__cnt")).as("__s"), sum(col("__cnt")).as("__n"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__j"),
          (col("__s").cast(DoubleType) / col("__n").cast(DoubleType)).as("__m")))),
        s => s.getField("__m")).as("embedding"))
  }

  // ------------------------------------------------------------- SQ8 ANN
  /** Symmetric int8 scalar quantization of a vector column: per-vector
    * scale = max |v_i|, codes c_i = ⌊v_i·127/scale + 0.5⌋ ∈ [−127, 127].
    * Returns (codes array<long>, scale). A zero vector quantizes to all-0
    * codes with scale 0. The rounding is floor(x + 0.5) — identical IEEE
    * ops cross-engine, unlike round() whose half-way rule differs. */
  def sq8Encode(v: Column): Column = {
    val dv = transform(v, _.cast(DoubleType))
    val scale = array_max(transform(dv, abs(_)))
    val codes = when(scale === 0.0, transform(dv, _ => lit(0L)))
      .otherwise(transform(dv, x =>
        floor(x * lit(127.0) / scale + lit(0.5)).cast(LongType)))
    struct(codes.as("codes"), scale.as("scale"))
  }

  /** Brute-force top-k over SQ8 codes — the 4-bytes-per-dim → 1 scale
    * path for exact-ish search: the corpus rides as (codes, scale), the
    * inner product is an EXACT integer fold (order-free), and the only
    * float work is two multiplies and one divide per row to de-scale:
    * score ≈ ⟨a, b⟩ ≈ dot_q · scale_a · scale_q / 127². At 100 TB this is
    * the same single-scan TakeOrdered shape as [[cosineTopK]] with 4×
    * less memory traffic, and the integer dot is SIMD-friendly; recall
    * loss is the quantization error (spec-measured). Deterministic:
    * integer dot + one fixed-order float expression per row. */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
              k: Int = 10): DataFrame = {
    val enc = df.select(col(idCol), sq8Encode(col(vecCol)).as("__e"))
      .select(col(idCol), col("__e.codes").as("__c"), col("__e.scale").as("__s"))
    val q = enc.filter(col(idCol) === queryId)
      .select(col("__c").as("__qc"), col("__s").as("__qs"))
    val dotQ = idot(col("__c"), col("__qc"))
    enc.crossJoin(broadcast(q))
      .select(col(idCol), dotQ.as("dot_q"), col("__s"), col("__qs"))
      .withColumn("score",
        col("dot_q").cast(DoubleType) * (col("__s") * col("__qs")) / lit(16129.0))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), col("dot_q"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact top-k by cosine against the row of `queryId`. Deterministic
    * tie-break on id. Plans as broadcast-cross-join + TakeOrderedAndProject. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
                 k: Int = 10): DataFrame = {
    val q = df.filter(col(idCol) === queryId).select(col(vecCol).as("__qv"))
    df.crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cosine"))
      // zero-norm rows cosine to null — drop them so they can't back-fill
      // a top-k when candidates < k (same guard on every ranking path)
      .filter(col(idCol) =!= queryId && col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived uniform in [-1, 1) — reproducible anywhere. */
  private def planeComponent(plane: Int, d: Int): Double = {
    val h = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"plane:$plane:$d").substring(0, 15), 16)
    (h % 100000L) / 50000.0 - 1.0
  }

  /** Sign-bit LSH bucket key for `nPlanes` hyperplanes (one LSH table).
    * Each plane's projection is ONE native [[dot]] call against an array
    * literal — nPlanes codegen'd primitive loops per row, where the old
    * nested zip_with/aggregate form evaluated `dim × nPlanes` interpreted
    * lambda steps (and an unrolled per-component expression would blow the
    * 64KB codegen method limit at embedding dims). Bit values and the
    * bucket string are unchanged, so LSH oracle hashes are stable. */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 8, table: Int = 0): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = typedlit((0 until dim).map(d => planeComponent(table * 1000 + p, d)))
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    concat_ws(":", lit(table.toString), bits.cast(StringType))
  }

  /** ANN top-k: candidates = rows sharing any of `tables` LSH buckets with the
    * query, then exact cosine rank. Approximate — recall measured in tests
    * against cosineTopK. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
              dim: Int, k: Int = 10, tables: Int = 4, nPlanes: Int = 8): DataFrame = {
    val withBuckets = df.withColumn("__buckets",
      array((0 until tables).map(t => lshBucket(col(vecCol), dim, nPlanes, t)): _*))
    val q = withBuckets.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv"), col("__buckets").as("__qb"))
    withBuckets.crossJoin(broadcast(q))
      .filter(arrays_overlap(col("__buckets"), col("__qb")) && col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer → per-centroid
    * posting lists → probe the `nProbe` nearest centroids only. The scale
    * path for billion-vector corpora: train on a sample, assign in one pass
    * (each a narrow shuffle), and a query touches nProbe/k of the data.
    * Trains the quantizer; its `clusterCenters`, as a (centroid_id,
    * centroid) table, are what [[ivfAssignJoin]], [[ivfTopK]] and
    * [[ivfPqTopK]] take. */
  def ivfIndex(df: DataFrame, vecCol: String, k: Int,
               seed: Long = 42): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.functions.array_to_vector
    new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setFeaturesCol("__v")
      .fit(df.select(array_to_vector(col(vecCol).cast(ArrayType(DoubleType))).as("__v")))
  }

  // ------------------------------------------------- IVF centroids as DATA
  // Every IVF operator takes its coarse quantizer as a (centroid_id,
  // centroid) DataFrame: a trained model's centers, seed rows of the table
  // itself, or SemDeDup's k ≈ √N set at 100 TB (10⁵–10⁶ centroids × 768
  // dims, which no expression tree could carry). The centroid table
  // broadcast-hash-joins against the data (constant-key equi-join, so the
  // build side is the k-row table and the plan is a BroadcastHashJoin — k
  // never appears in any expression), each (row, centroid) pair scores ONE
  // codegen'd vec_l2sq, and the per-row argmin folds in the partial
  // aggregate, map-side: k pair-rows collapse to one before the exchange,
  // so the only shuffle carries (id, centroid) — the vectors never leave
  // their scan. Ties go to the lowest centroid id on every path: the
  // (distance, id) struct order is the tie rule.

  /** Every (row, centroid) pair as (idCol, __v, __cid, __cv), the
    * centroid table broadcast. The join key is 0 on both sides, but
    * computed from a column as pmod(hash(·), 1): the optimizer folds a
    * literal key (and `hash(·) * 0`) into an always-true condition, and
    * the join then plans as a nested loop instead of a hash join. */
  private def centroidPairs(df: DataFrame, idCol: String, vecCol: String,
                            cents: DataFrame, centIdCol: String,
                            centVecCol: String): DataFrame = {
    def zero(c: Column): Column = pmod(hash(c), lit(1)).as("__ck")
    val c = cents.select(col(centIdCol).cast(IntegerType).as("__cid"),
      col(centVecCol).cast(ArrayType(DoubleType)).as("__cv"))
    df.select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("__v"),
        zero(col(idCol)))
      .join(broadcast(c.select(col("*"), zero(col("__cid")))), Seq("__ck"))
  }

  /** IVF assignment: returns the SLIM frame (idCol, __centroid[,
    * __centsim]) — join it back by id where the payload is needed; the
    * pairs-first consumers (semanticDedup, knnJoinIvf) never need to.
    * Argmin squared-L2 with ties to the lowest centroid id (`min` over
    * (dist, id) structs, so the aggregate is deterministic).
    * The struct-typed min buffer plans as a partial SortAggregate (struct
    * buffers are not UnsafeRow-mutable); the sorted input is the slim
    * (id, dist, cid) pair stream whose ids arrive clustered from the
    * join, so the sort runs over nearly-sorted runs. */
  def ivfAssignJoin(df: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, centIdCol: String = "centroid_id",
                    centVecCol: String = "centroid",
                    withCentSim: Boolean = false): DataFrame = {
    val pairs = centroidPairs(df, idCol, vecCol, cents, centIdCol, centVecCol)
    val d = l2sq(col("__v"), col("__cv"))
    if (withCentSim)
      // cs never tie-breaks (cid is unique), it just rides the argmin
      pairs.groupBy(col(idCol))
        .agg(min(struct(d.as("d"), col("__cid").as("j"),
          cosine(col("__v"), col("__cv")).as("cs"))).as("__m"))
        .select(col(idCol), col("__m.j").as("__centroid"),
          col("__m.cs").as("__centsim"))
    else
      pairs.groupBy(col(idCol))
        .agg(min(struct(d.as("d"), col("__cid").as("j"))).as("__m"))
        .select(col(idCol), col("__m.j").as("__centroid"))
  }

  /** [[ivfAssignJoin]] plus each row's `__probes`: its `nProbe` nearest
    * centroid ids in (distance, id) order, so `__probes(0)` is the home
    * cell. The per-group collect_list buffer holds k (dist, id) structs —
    * centroid-sized, never vector-sized. */
  def ivfAssignProbesJoin(df: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame, nProbe: Int,
                          centIdCol: String = "centroid_id",
                          centVecCol: String = "centroid"): DataFrame = {
    require(nProbe >= 1, "need nProbe >= 1")
    centroidPairs(df, idCol, vecCol, cents, centIdCol, centVecCol)
      .select(col(idCol),
        struct(l2sq(col("__v"), col("__cv")).as("d"), col("__cid").as("j")).as("__dj"))
      .groupBy(col(idCol))
      .agg(slice(array_sort(collect_list(col("__dj"))), 1, nProbe).as("__top"))
      .select(col(idCol),
        element_at(col("__top"), 1).getField("j").as("__centroid"),
        transform(col("__top"), s => s.getField("j")).as("__probes"))
  }

  /** The `nProbe` centroid ids nearest the row of `queryId`: a scan of the
    * k-row centroid table in (distance, id) order — vec_l2sq is the fold
    * the assignment uses, so the query's own home cell comes first. Only
    * the nProbe ids reach the driver. */
  private def nearestCentroids(df: DataFrame, idCol: String, vecCol: String,
                               cents: DataFrame, queryId: Long, nProbe: Int,
                               centIdCol: String, centVecCol: String): Seq[Int] = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).cast(ArrayType(DoubleType)).as("__qv"))
    cents.select(col(centIdCol).cast(IntegerType).as("__cid"),
        col(centVecCol).cast(ArrayType(DoubleType)).as("__cv"))
      .crossJoin(broadcast(q))
      .select(col("__cid"), l2sq(col("__qv"), col("__cv")).as("__d"))
      .orderBy(col("__d").asc, col("__cid").asc).limit(nProbe)
      .collect().map(_.getInt(0)).toSeq
  }

  /** IVF top-k over a (centroid_id, centroid) quantizer table: probe the
    * `nProbe` centroids nearest the query, then exact cosine re-rank of
    * the vectors homed in those cells only (ties to the lower id).
    * Deterministic for any centroid set — with seed rows as centroids the
    * whole assign → probe → re-rank path is oracle-replayable. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
              queryId: Long, kResults: Int = 10, nProbe: Int = 2): DataFrame = {
    val probes = nearestCentroids(df, idCol, vecCol, cents, queryId, nProbe,
      "centroid_id", "centroid")
    val probed = ivfAssignJoin(df, idCol, vecCol, cents)
      .filter(col("__centroid").isin(probes: _*) && col(idCol) =!= queryId)
      .select(col(idCol))
    val q = df.filter(col(idCol) === queryId).select(col(vecCol).as("__qv"))
    df.join(probed, Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(kResults)
  }

  // ------------------------------------------------- product quantization
  // PQ (Jégou, Douze, Schmid 2011 — public): split each vector into m
  // subvectors, learn a k-entry codebook per subspace, store each vector as
  // m small codes. THE memory path at 100 TB: a 768-dim float embedding
  // (3 KB) becomes m bytes, and query scoring is per-subspace table lookups
  // (asymmetric distance computation), not per-dimension float math. The
  // index fits in RAM where raw vectors never could; combine with ivf* for
  // the classic IVF-PQ layout (posting lists of codes).

  /** Codebooks from explicit seed vectors (deterministic — exported model
    * centers, sampled rows, anything): books(s)(j) = seed j's subvector in
    * subspace s. For trained codebooks see [[pqTrain]]. */
  def pqCodebooksFrom(seeds: Seq[Array[Double]], m: Int): Seq[Seq[Array[Double]]] = {
    require(seeds.nonEmpty && seeds.head.length % m == 0,
      s"dim ${seeds.headOption.fold(0)(_.length)} must be divisible by m=$m")
    val dsub = seeds.head.length / m
    (0 until m).map(s => seeds.map(_.slice(s * dsub, s * dsub + dsub)))
  }

  /** Per-subspace k-means codebooks trained on (a sample of) the corpus —
    * m small fits, each over dsub-dim slices; centers come back to the
    * driver (m·k·dsub doubles, broadcastable). */
  def pqTrain(df: DataFrame, vecCol: String, m: Int, k: Int,
              seed: Long = 42, sampleFraction: Double = 1.0): Seq[Seq[Array[Double]]] = {
    import org.apache.spark.ml.functions.array_to_vector
    // m+1 consumers: the dim probe and the m per-subspace fits
    val pinned = (if (sampleFraction < 1.0) df.sample(sampleFraction, seed) else df)
      .select(col(vecCol).cast(ArrayType(DoubleType)).as("__pqv"))
      .transform(Ops.materialize)
    val dim = pinned.select(size(col("__pqv"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val dsub = dim / m
    (0 until m).map { s =>
      val sub = pinned.select(
        array_to_vector(slice(col("__pqv"), s * dsub + 1, dsub)).as("__sub"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(seed + s).setFeaturesCol("__sub")
        .fit(sub).clusterCenters.map(_.toArray).toSeq
    }
  }

  /** Encode every vector as m codes: per subspace, argmin squared-L2
    * against the codebook (ties to the lowest code). Pure expressions: the
    * codebook is ONE typedlit folded per subspace (not k unrolled terms),
    * per-subspace distance arrays are staged in temp columns (HOF lambdas
    * get no codegen subexpression elimination). Appends `out` =
    * array<int> of length m. */
  def pqEncodeExplicit(df: DataFrame, vecCol: String,
                       books: Seq[Seq[Array[Double]]],
                       out: String = "codes"): DataFrame = {
    val m = books.size
    val dsub = books.head.head.length
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val tags = books.indices.map(s => s"__pqd_$s")
    val staged = books.zipWithIndex.foldLeft(df) { case (d, (book, s)) =>
      val sub = slice(v, s * dsub + 1, dsub)
      d.withColumn(tags(s), transform(typedlit(book.map(_.toSeq)), cb =>
        l2sq(sub, cb)))
    }
    staged.withColumn(out, array(tags.map(t =>
        (array_position(col(t), array_min(col(t))) - 1).cast(IntegerType)): _*))
      .drop(tags: _*)
  }

  /** ADC top-k: one m×k distance table between the query's subvectors and
    * the codebooks (computed on the driver with the SAME left-to-right fold
    * as the encode expressions), then each row scores as m table lookups by
    * its codes. Table cells are integerized (floor(d·1e6)) so the
    * m-term sum is order-free exact integer math — bit-identical in any
    * replayer. Returns (id, adc) ascending (squared-L2 approximation);
    * re-rank the head exactly with [[cosineTopK]]-style scoring if needed. */
  def pqAdcTopK(encoded: DataFrame, idCol: String, vecCol: String,
                books: Seq[Seq[Array[Double]]], queryId: Long,
                kResults: Int = 10, codesCol: String = "codes"): DataFrame = {
    val m = books.size
    val dsub = books.head.head.length
    val q = encoded.filter(col(idCol) === queryId)
      .select(col(vecCol).cast(ArrayType(DoubleType)))
      .head.getSeq[Double](0).toArray
    val table: Seq[Seq[Long]] = books.zipWithIndex.map { case (book, s) =>
      val qs = q.slice(s * dsub, s * dsub + dsub)
      book.map { cb =>
        val d = cb.zip(qs).foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) }
        math.floor(d * 1e6).toLong
      }
    }
    val adc = aggregate(
      zip_with(col(codesCol), sequence(lit(0), lit(m - 1)), (code, s) =>
        element_at(element_at(typedlit(table), s + 1), code + 1)),
      lit(0L), (acc, x) => acc + x)
    encoded.filter(col(idCol) =!= queryId)
      .select(col(idCol), adc.as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(kResults)
  }

  /** IVF-PQ (the canonical billion-vector layout): coarse-quantize into
    * posting lists, PQ-encode the vectors, and answer a query by probing
    * only the `nProbe` nearest lists and ADC-scoring their codes — the
    * scan touches nProbe/k of the corpus and reads m-byte codes instead of
    * raw floats. The coarse quantizer is a centroid table (see
    * [[ivfAssignJoin]]); only the probed posting lists are PQ-encoded. The
    * query's own nearest centroid is always probed, so its row is present
    * for the table build. The PQ codebooks stay driver-side — m·k_pq·dsub
    * doubles, model-sized by construction, a different animal from the √N
    * coarse centroids. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                cents: DataFrame, books: Seq[Seq[Array[Double]]],
                queryId: Long, kResults: Int, nProbe: Int,
                centIdCol: String, centVecCol: String): DataFrame = {
    val probes = nearestCentroids(df, idCol, vecCol, cents, queryId, nProbe,
      centIdCol, centVecCol)
    val probedIds = ivfAssignJoin(df, idCol, vecCol, cents, centIdCol, centVecCol)
      .filter(col("__centroid").isin(probes: _*))
      .select(col(idCol))
    // 2 consumers in pqAdcTopK: query-row extraction and the scoring scan
    val probed = pqEncodeExplicit(
        df.join(probedIds, Seq(idCol), "left_semi"), vecCol, books)
      .transform(Ops.materialize)
    pqAdcTopK(probed, idCol, vecCol, books, queryId, kResults)
  }

  // ------------------------------------------------------------ k-NN join
  // Per-vector top-k neighbors over the WHOLE collection — the workhorse
  // behind hard-negative mining, semantic dedup sweeps, and diversity
  // sampling. Two candidate generators: the exact all-pairs form (the
  // correctness baseline, bounded corpora / oracle slices) and the
  // IVF-cell-scoped form (the 100 TB path: candidates only from each
  // vector's probed cells, so the join shuffles on cell id and never goes
  // quadratic). Both rank through one bounded-heap top-k per id.

  /** Exact cosine k-NN self-join: (id, neighbor_id, rank, cosine), rank
    * 1..k by (cosine desc, neighbor asc). `idCol` must be integral;
    * `neighbor_id` keeps its type. Integerize vectors first (the
    * floor(x·1e6) convention) when oracle-exact output is needed. O(n²)
    * pair work by construction — at scale use [[knnJoinIvf]]. */
  def knnJoinExact(df: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame = {
    requireIntegralId(df, idCol)
    val base = df.select(col(idCol).as("__kid"), col(vecCol).as("__kv"))
    val pairs = base.select(col("__kid").as("id"), col("__kv").as("v1"))
      .crossJoin(base.select(col("__kid").as("neighbor_id"), col("__kv").as("v2")))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        cosine(col("v1"), col("v2")).as("cosine"))
    topKPerId(pairs, k)
  }

  /** k-NN label propagation: each query vector takes the majority label
    * of its k nearest LABELED seeds by cosine — the auto-labeling /
    * weak-supervision primitive behind classifier bootstrapping and
    * cluster naming in corpus curation (label a few thousand docs, spread
    * to billions).
    *
    * Deterministic end to end: cosines quantize to 1e-12-grain integers,
    * neighbors rank by (cos_q desc, seed_id asc), majority breaks ties by
    * the smaller label — a pure function of the input sets. Returns
    * (id, pred_label, votes, best_cos_q).
    *
    * Scale shape: the cross join here is the exact baseline (oracle
    * slices); at 100 TB the seed side is ≪ corpus by contract (broadcast)
    * or candidates feed from [[knnJoinIvf]]'s cell join — the vote
    * algebra downstream (per-id top-k, one (id, label) count, one
    * struct-argmax groupBy) is identical and never all-pairs. */
  def knnClassify(queries: DataFrame, seeds: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("__qv"))
    val sd = seeds.select(col(idCol).cast(LongType).as("seed_id"),
      col(vecCol).as("__sv"), col(labelCol).cast(LongType).as("label"))
    val pairs = q.crossJoin(sd).select(col("id"), col("seed_id"), col("label"),
      floor(cosine(col("__qv"), col("__sv")) * 1e12 + 0.5)
        .cast(LongType).as("cos_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cos_q").desc, col("seed_id").asc)
    val top = pairs.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
    top.groupBy("id", "label")
      .agg(count(lit(1)).as("votes"), max("cos_q").as("best_cos_q"))
      .groupBy("id")
      .agg(max(struct(col("votes"), (-col("label")).as("nl"), col("label"),
        col("best_cos_q"))).as("b"))
      .select(col("id"), col("b.label").as("pred_label"),
        col("b.votes").as("votes"), col("b.best_cos_q").as("best_cos_q"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "ratio" margin):
    * for every source vector, its best target match scored as
    * `2k·cos(x,y) / (Σ topk-cos(x,·) + Σ topk-cos(·,y))` — the
    * neighborhood-normalized margin that suppresses hub vectors plain
    * cosine thresholds mis-mine. The shape behind parallel-corpus mining
    * (CCMatrix/WikiMatrix) and cross-lingual hard-pair construction.
    *
    * Determinism: cosines quantize to 1e-12 grain integers (the
    * floor(x+0.5) convention — round()'s half-way rule diverges
    * cross-engine), so both neighborhood sums are EXACT integer sums
    * (order-free) and the margin is one IEEE long/long division; ties
    * break on target id. Neighborhoods are fixed-k by definition; sides
    * with fewer than k counterparts sum what exists.
    *
    * Scale shape: this is the exact all-pairs baseline (oracle slices,
    * bounded corpora) — the candidate generator goes quadratic by
    * construction. At 100 TB feed candidates from [[knnJoinIvf]]'s
    * cell-scoped join instead: the margin algebra downstream of the pair
    * stream (two keyed top-k sums + one broadcast-joined division) is
    * identical and never all-pairs. */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int = 4): DataFrame = {
    val s = src.select(col(idCol).cast(LongType).as("src_id"), col(vecCol).as("__sv"))
    val t = tgt.select(col(idCol).cast(LongType).as("tgt_id"), col(vecCol).as("__tv"))
    val pairs = s.crossJoin(t)
      .select(col("src_id"), col("tgt_id"),
        floor(cosine(col("__sv"), col("__tv")) * 1e12 + 0.5)
          .cast(LongType).as("cos_q"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("cos_q").desc, col("tgt_id").asc)
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tgt_id")).orderBy(col("cos_q").desc, col("src_id").asc)
    // 3 consumers: both neighborhood sums and the candidate slice
    val ranked = pairs
      .withColumn("rs", row_number().over(wS))
      .withColumn("rt", row_number().over(wT))
      .transform(Ops.materialize)
    val nbrS = ranked.filter(col("rs") <= k).groupBy("src_id")
      .agg(sum("cos_q").as("nsum_src"))
    val nbrT = ranked.filter(col("rt") <= k).groupBy("tgt_id")
      .agg(sum("cos_q").as("nsum_tgt"))
    val cands = ranked.filter(col("rs") <= k)
      .select("src_id", "tgt_id", "cos_q")
      .join(nbrS, "src_id").join(nbrT, "tgt_id")
      .withColumn("margin",
        (col("cos_q") * lit(2L * k)) / (col("nsum_src") + col("nsum_tgt")))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id")).orderBy(col("margin").desc, col("tgt_id").asc)
    cands.withColumn("__r", row_number().over(wBest))
      .filter(col("__r") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos_q"),
        col("nsum_src"), col("nsum_tgt"), col("margin"))
  }

  /** IVF-cell-scoped k-NN join: every vector's home cell is its argmin-L2
    * centroid; each vector probes its `nProbe` nearest cells and re-ranks
    * exactly against the vectors HOMED there. One cell-keyed shuffle whose
    * fan-out is nProbe·|cell| per vector — the standard recall/cost dial.
    * With nProbe = |centroids| this degenerates to [[knnJoinExact]], and
    * the same id contract holds. The centroids are a table (see
    * [[ivfAssignJoin]]), so k can reach √N at 100 TB.
    *
    * Pairs first: the cell join carries only scalar ids (the LSH band-join
    * discipline) — vectors join back once per DISTINCT surviving pair, so
    * the dedup of multi-cell collisions shuffles ids, never the embedding
    * payloads.
    *
    * Exchange sharing (r16, guide §2.4 "two operations keyed the same way
    * share one exchange"): the pair stream is hash(id)-repartitioned ONCE
    * and that partitioning is reused three times — the multi-cell dedup
    * (ClusteredDistribution(id, neighbor_id) is satisfied by hash(id)),
    * the id-side payload join, and the final per-id top-k aggregate, which
    * would otherwise each plan their own exchange. The neighbor-side
    * payload join runs FIRST so the id-side join is last and its output
    * partitioning feeds the aggregate directly. Payload-bytes note: the
    * two vecs joins are byte-minimal at scale — any single-join
    * "struct-pack" form (union the two key streams, pivot per pair) moves
    * |V| + 2·|pairs| vector payloads through its pair-group exchange vs
    * 2·|V| + |pairs| here, and |pairs| ≈ nProbe·|cell|·N ≥ |V| by
    * construction. */
  def knnJoinIvf(df: DataFrame, idCol: String, vecCol: String,
                 cents: DataFrame, k: Int, nProbe: Int,
                 centIdCol: String, centVecCol: String): DataFrame = {
    requireIntegralId(df, idCol)
    val assigned = ivfAssignProbesJoin(df, idCol, vecCol, cents, nProbe,
        centIdCol, centVecCol)
      .select(col(idCol).as("__kid"), col("__centroid").as("__home"),
        col("__probes"))
    val vecs = df.select(col(idCol).as("__kid"), col(vecCol).as("__kv"))
    val home = assigned.select(col("__home").as("__cell"),
      col("__kid").as("neighbor_id"))
    val probing = assigned.select(col("__kid").as("id"),
      explode(col("__probes")).as("__cell"))
    // an explicit partition count: the pair stream is two longs per pair
    // but feeds the vector join-back and the cosine scoring, and adaptive
    // execution, which coalesces by bytes, would run all of that in one
    // task (measured 2× slower at sf0.1)
    val pairs = probing.join(home, Seq("__cell"))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("id"))
      .distinct()
    val scored = pairs
      .join(vecs.select(col("__kid").as("neighbor_id"), col("__kv").as("__v2")),
        Seq("neighbor_id"))
      .join(vecs.select(col("__kid").as("id"), col("__kv").as("__v1")), Seq("id"))
      .select(col("id"), col("neighbor_id"),
        cosine(col("__v1"), col("__v2")).as("cosine"))
    topKPerId(scored, k)
  }

  /** The k-NN id contract: `topk_by` ranks on a BIGINT id, so a string
    * id would be skipped and a fractional one truncated into an id that is
    * not in the input. */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val t = df.select(col(idCol)).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"k-NN id column '$idCol' must be integral (tinyint, smallint, int or bigint), got ${t.sql}")
  }

  /** Per-id top-k of (id, neighbor_id, cosine) pairs through the
    * bounded-heap [[graft.plans.TopKByScore]] aggregate: the map side
    * reduces every partition to k pairs per id before the shuffle, and
    * nothing sorts the candidate stream. */
  private def topKPerId(pairs: DataFrame, k: Int): DataFrame = {
    val idType = pairs.schema("neighbor_id").dataType
    pairs.groupBy("id")
      .agg(call_function("topk_by", col("cosine"), col("neighbor_id"), lit(k)).as("__tk"))
      .select(col("id"), posexplode(col("__tk")))
      .select(col("id"), col("col.id").cast(idType).as("neighbor_id"),
        (col("pos") + 1).cast(IntegerType).as("rank"), col("col.score").as("cosine"))
  }

  // ----------------------------------- random projection (JL compression)
  /** Deterministic Rademacher ±1 sign for (output dim `i`, input dim `j`):
    * parity of an md5 bit — reproducible anywhere, same recipe family as
    * [[planeComponent]]. */
  private def rprojSign(i: Int, j: Int): Double = {
    val h = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"rproj:$i:$j").substring(0, 15), 16)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** The dOut×dIn ±1 sign matrix as driver-side literals — tiny
    * (dOut·dIn ≤ a few KB), rendered into BOTH the Spark plan and the
    * DuckDB oracle so the projection replays bit-for-bit. */
  def rprojSigns(dOut: Int, dIn: Int): Seq[Seq[Double]] =
    (0 until dOut).map(i => (0 until dIn).map(j => rprojSign(i, j)))

  /** Johnson–Lindenstrauss random projection with a Rademacher matrix
    * (Achlioptas 2003, JCSS 66(4) — database-friendly ±1 projections):
    * out_i = ⟨signs_i, x⟩ / √dOut. Each output dim is ONE native [[dot]]
    * loop against a plan-literal sign row — dOut codegen'd primitive loops
    * per row, no UDF, no shuffle, the matrix rides the plan exactly like
    * the deeplearn scoring weights. The 100 TB story: project once, then
    * every downstream distance costs dOut ≪ dIn multiplies and the
    * shuffled payload shrinks by dIn/dOut. Distortion is the JL bound
    * (‖Px‖² concentrates around ‖x‖²; spec-measured on the fixture). */
  def randomProject(df: DataFrame, vecCol: String, dIn: Int, dOut: Int,
                    out: String): DataFrame = {
    val signs = rprojSigns(dOut, dIn)
    val scale = lit(math.sqrt(dOut.toDouble))
    df.withColumn(out, array((0 until dOut).map { i =>
      dot(col(vecCol), array(signs(i).map(lit(_)): _*)) / scale
    }: _*))
  }

  /** Two-stage compressed-domain retrieval: stage 1 ranks the corpus by
    * cosine in the dOut-dim PROJECTED space and keeps the top `m`
    * candidates; stage 2 re-scores only those `m` rows with exact
    * full-dim cosine and keeps the top `k`. At scale, stage 1 is the only
    * corpus-wide pass (dOut/dIn of brute-force FLOPs, and the projected
    * vectors are what you'd actually materialize/cache at 100 TB); stage 2
    * is a broadcast join over m rows. Both stages are deterministic
    * (id-tie-broken TakeOrderedAndProject), so recall vs [[cosineTopK]] is
    * a measurable, replayable number rather than a distributional claim. */
  def rprojRerankTopK(df: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, dIn: Int, dOut: Int, m: Int,
                      k: Int): DataFrame =
    rprojRerankTopKFrom(
      randomProject(df.select(col(idCol), col(vecCol)), vecCol, dIn, dOut, "__p"),
      idCol, vecCol, queryId, m, k)

  /** [[rprojRerankTopK]] over a PRECOMPUTED projection (any frame with
    * idCol, vecCol and a `__p` projected column, i.e. [[randomProject]]
    * output) — r15: the projection is query-INDEPENDENT, so a multi-query
    * evaluation (`rank_eval_rproj`: 3 queries × 2 consumers of the
    * projected table each) should project the corpus once, checkpoint the
    * (id, vec, proj) table, and fan the per-query top-k passes off that —
    * the winnowCandidatesFrom factoring. */
  def rprojRerankTopKFrom(proj: DataFrame, idCol: String, vecCol: String,
                          queryId: Long, m: Int, k: Int): DataFrame = {
    val q = proj.filter(col(idCol) === queryId)
      .select(col("__p").as("__qp"), col(vecCol).as("__qv"))
    val cand = proj.crossJoin(broadcast(q.select("__qp")))
      .select(col(idCol), cosine(col("__p"), col("__qp")).as("pcos"))
      .filter(col(idCol) =!= queryId && col("pcos").isNotNull)
      .orderBy(col("pcos").desc, col(idCol).asc)
      .limit(m)
    // stage 2 reads (id, vec) off proj; column pruning drops __p, so in the
    // delegated single-query path this is the identical df scan as before
    proj.select(col(idCol), col(vecCol))
      .join(broadcast(cand.select(idCol)), Seq(idCol))
      .crossJoin(broadcast(q.select("__qv")))
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cos"))
      .filter(col("cos").isNotNull)
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Retrieval rank metrics as a relational operator: given a PREDICTED
    * result table (query, item, score) and a TRUTH table (query, item —
    * binary relevance), compute per query the standard eval suite at
    * cutoff `k`: hits, recall@k, MRR, and binary-gain NDCG@k
    * (DCG = Σ_hits 1/log₂(rank+1), IDCG over the first min(k, n_rel)
    * ranks). This is how retrieval quality gets graded at corpus scale —
    * one rank window over the per-query result LISTS (k rows each, never
    * a corpus), one hash join against truth, one aggregate.
    *
    * Ranks derive deterministically (score desc, item asc). Every
    * discount term integerizes as floor(10⁹·ln2/ln(rank+1)) — ONE ln site
    * per term under the usual quantization mitigation — so DCG/IDCG are
    * order-free integer sums; `recall_at_k`, `mrr`, `ndcg_at_k` are
    * single IEEE divisions of those integers. Queries present in truth
    * but missing from predicted (or hitless) report zeros.
    *
    * Returns (qCol, n_rel, n_hits, recall_at_k, mrr, dcg_q9, idcg_q9,
    * ndcg_at_k). */
  def rankEval(predicted: DataFrame, truth: DataFrame, qCol: String,
               itemCol: String, scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, "cutoff k >= 1")
    import org.apache.spark.sql.expressions.Window
    val ln2 = 0.6931471805599453
    val w = Window.partitionBy(col(qCol)).orderBy(col(scoreCol).desc, col(itemCol).asc)
    val pr = predicted.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col(qCol).as("__q"), col(itemCol).as("__it"), col("__r"))
    val tr = truth.select(col(qCol).as("__q"), col(itemCol).as("__it")).distinct()
    val nRel = tr.groupBy(col("__q")).agg(count(lit(1)).as("n_rel"))
    val dcgTerm = floor(lit(1e9) * lit(ln2) / log(col("__r").cast(DoubleType) + lit(1.0)))
    val hits = pr.join(tr, Seq("__q", "__it"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("n_hits"),
        sum(dcgTerm).as("dcg_q9"),
        (lit(1.0) / min(col("__r"))).as("mrr"))
    val idcg = nRel.withColumn("idcg_q9",
      aggregate(
        transform(sequence(lit(1), least(lit(k), col("n_rel")).cast(IntegerType)),
          i => floor(lit(1e9) * lit(ln2) / log(i.cast(DoubleType) + lit(1.0)))),
        lit(0L), (acc, x) => acc + x))
    idcg.join(hits, Seq("__q"), "left")
      .select(col("__q").as(qCol), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          col("n_rel").cast(DoubleType)).as("recall_at_k"),
        coalesce(col("mrr"), lit(0.0)).as("mrr"),
        coalesce(col("dcg_q9"), lit(0L)).as("dcg_q9"),
        col("idcg_q9"),
        (coalesce(col("dcg_q9"), lit(0L)).cast(DoubleType) /
          col("idcg_q9").cast(DoubleType)).as("ndcg_at_k"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * several ranked lists — the standard hybrid-retrieval combiner
    * (BM25 ⊕ dense ANN, multi-query fusion, ensemble rerankers): each list
    * contributes 1/(c + rank) per id, ids are scored by the sum, top k win.
    * Rank-only fusion needs no score calibration across lists, which is
    * exactly why it is the default hybrid combiner.
    *
    * Each input is (list, idCol, scoreCol) with higher score = better;
    * ranks are derived deterministically (score desc, id asc). The
    * un-partitioned rank window is BY DESIGN: inputs are top-k lists
    * (k rows), never corpora — fuse retrieval OUTPUTS, not scans. The
    * contribution integerizes as floor(10¹²/(c + rank)) so the per-id sum
    * is an order-free integer (equal ranks ⟹ equal contributions,
    * bit-stable cross-engine); `rrf_score` = rrf_q/10¹² rides along.
    *
    * Returns the fused top `k`: (id, n_lists, rrf_q, rrf_score), ties by
    * smaller id. */
  def rrfFuse(lists: Seq[(DataFrame, String, String)], c: Int = 60,
              k: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one list")
    require(c >= 1, "rrf constant c >= 1")
    import org.apache.spark.sql.expressions.Window
    val ranked = lists.map { case (df, idCol, scoreCol) =>
      val w = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
      df.withColumn("__r", row_number().over(w))
        .select(col(idCol).cast(LongType).as("id"), floor(lit(1e12) /
          (lit(c.toDouble) + col("__r").cast(DoubleType))).as("__contrib"))
    }
    ranked.reduce(_ unionAll _)
      .groupBy("id")
      .agg(count(lit(1)).as("n_lists"), sum(col("__contrib")).as("rrf_q"))
      .withColumn("rrf_score", col("rrf_q").cast(DoubleType) / lit(1e12))
      .orderBy(col("rrf_q").desc, col("id").asc)
      .limit(k)
  }
}
