package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming layer — the reference's stream-shape operators
 * (SURVEY.md §2.8) on Spark's native streaming runtime, which adds what the
 * reference lacks: event-time watermarks, late-data handling, and fault-
 * tolerant state (BufferProcessors.scala buffers in heap ListBuffers).
 *
 *  - TimestampNormalizer+GroupBy+bucket agg  ⇄ tumbling `window` agg
 *  - TimeBufferProcessor                     ⇄ processing-time trigger /
 *                                              event-time tumbling window
 *  - session windows                         ⇄ engine extra (`session_window`)
 *  - StreamingDeduplicationProcessor         ⇄ dropDuplicates[WithinWatermark]
 *  - RunningCountProcessor (stream scope)    ⇄ mapGroupsWithState counter
 *
 * All transforms are `DataFrame => DataFrame` on streaming frames, so they
 * compose with the batch operator library where semantics allow.
 */
object Streams {

  /** The keyed-state skeleton of the TTL-armed streamers: project each
    * row to (group as string, value, event time), drop null values (a null
    * primitive kills the query at the encoder), group by key, and run
    * `fold` over each group's batch rows and prior state. `fold` returns
    * the group's next state — None removes it — and its output rows. A
    * group whose TTL fired is removed and emits nothing; an updated group
    * re-arms its TTL. A null group key groups as null.
    *
    * Eviction clock for the idle-group TTL. Two modes:
    *
    *  - `eventTimeCol` set (requires `stateTtl`): EventTimeTimeout — a
    *    group is evicted once the stream's WATERMARK advances `stateTtl`
    *    past the group's last update. Deterministic (the clock is the
    *    data, not the wall), replay-gateable, and reaches quiescence:
    *    `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` re-triggers
    *    only while the watermark advances, so `processAllAvailable` /
    *    `Trigger.AvailableNow` terminate. The skeleton stamps a 0-second
    *    watermark on the column; callers needing late-data slack should
    *    pre-watermark upstream instead.
    *  - `eventTimeCol` empty, `stateTtl` set: ProcessingTimeTimeout —
    *    wall-clock idle eviction (the near-dup streamer's contract).
    *    CAUTION: `shouldRunAnotherBatch` is unconditionally true for this
    *    mode, so the zero-interval test trigger busy-spins no-data
    *    batches and `processAllAvailable`/`AvailableNow` NEVER return
    *    (measured, not theoretical) — use only under interval triggers in
    *    long-running queries.
    */
  private def keyedState[V: Encoder, S: Encoder, O: Encoder](
      stream: DataFrame, group: Column, value: Column, mode: OutputMode,
      stateTtl: Option[String], eventTimeCol: Option[String])(
      fold: (String, Iterator[V], Option[S]) => (Option[S], Iterator[O])): Dataset[O] = {
    // eventTimeCol without stateTtl would silently run NoTimeout while
    // still stamping a 0-second watermark — a misconfigured TTL must fail
    // loudly, not leak state forever
    require(stateTtl.isDefined || eventTimeCol.isEmpty,
      "eventTimeCol selects the eviction clock for stateTtl and requires it; " +
        "pass stateTtl (e.g. Some(\"1 hour\")) or drop eventTimeCol")
    val timeout = (stateTtl, eventTimeCol) match {
      case (Some(_), Some(_)) => GroupStateTimeout.EventTimeTimeout
      case (Some(_), None)    => GroupStateTimeout.ProcessingTimeTimeout
      case (None, _)          => GroupStateTimeout.NoTimeout
    }
    // the analyzer requires the WATERMARKED ATTRIBUTE in the
    // flatMapGroupsWithState child's output (watermark metadata rides on
    // the attribute, not the plan), so event time survives the select even
    // though no fold reads it; a constant keeps the row shape otherwise
    val eventTime = eventTimeCol.map(col).getOrElse(lit(new java.sql.Timestamp(0L)))
    eventTimeCol.fold(stream)(c => stream.withWatermark(c, "0 seconds"))
      .select(group.cast("string").as("g"), value.as("v"), eventTime.as("et"))
      .filter(col("v").isNotNull)
      .as(Encoders.tuple(Encoders.STRING, implicitly[Encoder[V]], Encoders.TIMESTAMP))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](mode, timeout) {
        (g: String, rows: Iterator[(String, V, java.sql.Timestamp)], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else fold(g, rows.map(_._2), state.getOption) match {
            case (Some(next), out) =>
              state.update(next)
              stateTtl.foreach { ttl =>
                if (eventTimeCol.isDefined)
                  state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs, 0L), ttl)
                else state.setTimeoutDuration(ttl)
              }
              out
            case (None, out) => state.remove(); out
          }
      }
  }

  /** Tumbling event-time window aggregation with watermark
    * (ref: TimestampNormalizerProcessor.scala:17 + GroupByProcessor). */
  def tumblingAgg(df: DataFrame, tsCol: String, duration: String, watermark: String,
                  keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), duration) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows with inactivity gap (engine extra — the reference has no
    * sessionization, SURVEY.md §2.8). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String, watermark: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Whole-stream dedup (ref: StreamingDeduplicationProcessor.scala:12).
    * With a watermark the state is bounded — mandatory at 100 TB/unbounded
    * retention; without one Spark keeps all keys forever. */
  def streamingDedup(df: DataFrame, keys: Seq[String], tsCol: Option[String],
                     watermark: Option[String]): DataFrame =
    (tsCol, watermark) match {
      case (Some(ts), Some(w)) =>
        df.withWatermark(ts, w).dropDuplicatesWithinWatermark(keys)
      case _ => df.dropDuplicates(keys)
    }

  /** Per-key running count over the whole stream via explicit state
    * (ref: RunningCountProcessor.scala stream scope). Emits (key, runningCount)
    * per input row batch.
    *
    * State is one long per key, but KEY CARDINALITY is unbounded — at
    * 100 TB ingest keyed by e.g. URL the store grows monotonically under
    * NoTimeout. `stateTtl` evicts idle keys on the watermark clock when
    * `eventTimeCol` is given (deterministic, replay-gateable), else the
    * wall clock (see [[keyedState]] for the busy-spin caution); an
    * evicted key that reappears restarts its count from zero. */
  def runningCountPerKey(df: DataFrame, keyCol: String,
                         stateTtl: Option[String] = None,
                         eventTimeCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    keyedState[Boolean, Long, (String, Long)](df, col(keyCol), lit(true),
      OutputMode.Update, stateTtl, eventTimeCol) { (key, rows, prior) =>
      val next = prior.getOrElse(0L) + rows.size
      (Some(next), Iterator.single((key, next)))
    }.toDF("key", "running_count")
  }

  /** SignalBufferProcessor (ref: BufferProcessors.scala:171), streaming
    * shape: buffer each key's data rows in state and release them only when
    * a signal row for that key arrives — the reference's actor mailbox +
    * "release" message as fault-tolerant keyed state. Input is the UNION of
    * data and signal streams; `isSignalCol` marks signal rows; `payloadCol`
    * carries the (stringified) datum.
    *
    * Ordering contract: flatMapGroupsWithState gives NO arrival order within
    * a micro-batch (the group shuffle sorts on key only), so the release
    * rule is batch-granular and deterministic: all of the batch's data rows
    * are buffered first, then any signal in the batch releases the entire
    * buffer — including this batch's rows — in `orderCol` order.
    *
    * State risk at 100 TB: a key whose signal NEVER arrives holds its full
    * buffered payload forever — worse than a leaked counter. `stateTtl`
    * evicts such keys, DISCARDING the unreleased buffer (the reference's
    * actor-mailbox shape has the same drop-on-death semantics) — on the
    * watermark clock when `eventTimeCol` is given (deterministic,
    * replay-gateable), else the wall clock (see [[keyedState]]). A
    * later data row for an evicted key starts a fresh buffer. */
  def signalBuffer(unioned: DataFrame, keyCol: String, isSignalCol: String,
                   payloadCol: String, orderCol: String,
                   stateTtl: Option[String] = None,
                   eventTimeCol: Option[String] = None): DataFrame = {
    val spark = unioned.sparkSession
    import spark.implicits._
    // signal rows naturally carry null payload/seq after the union — the
    // primitive tuple fields must never see a null or deserialization kills
    // the query, so default sig/seq explicitly
    val row = struct(expr(s"coalesce(CAST($isSignalCol AS BOOLEAN), false)").as("_1"),
      expr(s"CAST($payloadCol AS STRING)").as("_2"),
      expr(s"coalesce(CAST($orderCol AS BIGINT), 0)").as("_3"))
    keyedState[(Boolean, String, Long), List[(Long, String)], (String, String)](
      unioned, expr(keyCol), row, OutputMode.Append, stateTtl, eventTimeCol) {
      (key, rows, prior) =>
        val batch = rows.toList
        val buffered = prior.getOrElse(Nil) :::
          batch.collect { case (false, p, s) => (s, p) }
        // a signal releases the buffer and removes the key (not an update to
        // empty: an empty-list entry per released key would grow the state
        // store without bound at high key cardinality); the entry is
        // recreated on the key's next data row
        if (batch.exists(_._1))
          (None, buffered.sortBy(_._1).iterator.map { case (_, p) => (key, p) })
        else (Some(buffered), Iterator.empty)
    }.toDF("key", "payload")
  }

  /** Streaming MinHash/LSH near-duplicate candidate detection — the
    * ingestion-time analog of Dedup.minhashNearDups for a document stream:
    * each arriving doc is checked against the signatures of previously seen
    * docs that share any LSH band bucket, and candidate pairs
    * (id, dup_of, band, est_jaccard) are emitted for signature-estimated
    * Jaccard ≥ threshold (matching minhash fraction — the standard unbiased
    * estimator). One doc can match in several bands; dedup pairs downstream
    * (e.g. foreachBatch dropDuplicates) before acting on them.
    *
    * State design for unbounded streams: keyed per band bucket, each bucket
    * holds at most `maxPerBucket` (id, signature) entries (oldest evicted
    * first — boilerplate buckets would otherwise grow without bound and every
    * new doc pays a scan of the bucket), and `stateTtl` (e.g. "1 hour") sets
    * a processing-time timeout that drops idle buckets entirely. Within a
    * micro-batch, rows are processed in id order so results don't depend on
    * shuffle arrival order.
    *
    * CAUTION on `stateTtl`: registering processing-time timeouts makes Spark
    * re-trigger batches to fire them, so with the default zero-interval
    * trigger the query busy-spins empty batches (measured: thousands/minute).
    * Pair a TTL with a real trigger, e.g.
    * `.writeStream.trigger(Trigger.ProcessingTime("1 minute"))`, which bounds
    * the re-trigger rate; with `stateTtl = None` the operator uses NoTimeout
    * and only the per-bucket cap bounds state. */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                                 n: Int = 3, k: Int = 16, bands: Int = 4,
                                 threshold: Double = 0.5, maxPerBucket: Int = 64,
                                 stateTtl: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Dedup
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // stage shingle hashes, then the signature, as materialized columns —
    // HOFs get no codegen subexpression elimination, so inlining the shingle
    // pipeline into minhashSignature would re-hash every shingle k times per
    // doc (minhashSignature's documented contract). Sub-n-token docs have an
    // EMPTY shingle set and must be dropped: their signature would be the
    // all-sentinel fold init, making every short doc a "dup" of every other.
    // The drop is a TOKEN-COUNT pre-filter, NOT filter(size(__sh) > 0)
    // post-hoc: predicate pushdown alias-substitutes __sh's whole pipeline
    // into the pushed filter, where element_at(transform(th), i) re-derives
    // the token-hash array PER SHINGLE INDEX — O(tokens²) interpreted md5
    // per doc, measured 10+ s/1000 docs vs ~1 s for the same stream with
    // the pre-filter (tokens ≥ n ⟺ shingle set non-empty).
    val base = docs
      .filter(size(graft.operators.TextAnalysis.tokens(col(textCol))) >= n)
      .select(col(idCol).cast("string").as("id"), col(textCol).as("__text"))
    val banded = Dedup.withShingleHashes(base, "__text", "__sh", n)
      .withColumn("sig", Dedup.minhashSignature(col("__sh"), k))
      // lshBands keys are already "band:v1:v2:…" — distinct across bands
      .select(col("id"), col("sig"),
        explode(Dedup.lshBands(col("sig"), bands, k / bands)).as("bucket"))
      .select(col("bucket"), col("id"), col("sig"))
      // primitive-array signatures: the hot loop compares every arriving
      // doc against every bucket neighbor, and boxed Seq[Long] element
      // reads profiled ~4× slower end-to-end on dense buckets
      .as[(String, String, Array[Long])]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    // the bucket string is the STATE-STORE KEY: its format (lshBands'
    // "band:v1:v2:…") is part of the checkpoint contract — changing it
    // orphans every entry in existing checkpoints (old keys are never
    // grouped to again, and with NoTimeout never evicted). The state VALUE
    // encoding (r7: bigint array signatures) is part of the same contract.
    // Bump either only with a fresh checkpoint location.
    banded
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(String, Array[Long])], (String, String, Int, Double)](
        OutputMode.Append, timeoutConf) {
        (bucket: String, rows: Iterator[(String, String, Array[Long])],
         state: GroupState[List[(String, Array[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val band = bucket.takeWhile(_ != ':').toInt
            var seen = state.getOption.getOrElse(Nil) // newest first
            val out = List.newBuilder[(String, String, Int, Double)]
            rows.toList.sortBy(_._2).foreach { case (_, id, s) =>
              seen.foreach { case (pid, psig) =>
                var m = 0; var i = 0
                while (i < k) { if (psig(i) == s(i)) m += 1; i += 1 }
                val est = m.toDouble / k
                if (est >= threshold) out += ((id, pid, band, est))
              }
              seen = ((id, s) :: seen).take(maxPerBucket)
            }
            state.update(seen)
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
      .toDF("id", "dup_of", "band", "est_jaccard")
  }

  /** Streaming HLL distinct-count estimation — the ingestion-time form of
    * `Sketch.hllDistinct`: per group the state is the m = 2^p register
    * array (m BYTES, constant forever — even smaller than KMV's k longs),
    * each batch folds its (bucket, rank) pairs in with max() and emits the
    * group's current (n_zero, sum_scaled, hll_est) using the batch
    * estimator's exact integer-sum + single-floor-division arithmetic, so
    * a converged stream reports the bit-identical estimate to the batch
    * fold over the same rows — the register merge is max(), order-free
    * across batches by construction. Update output mode; all three output
    * columns are monotone (n_zero and sum_scaled never increase, hll_est
    * never decreases), so the final state of a replay is
    * min/min/max per group over the emitted updates.
    *
    * Per-group state is m bytes, but group CARDINALITY is unbounded —
    * keyed by e.g. URL domain at 100 TB ingest the state store grows
    * monotonically under NoTimeout. `stateTtl` (e.g. "1 hour") evicts
    * idle groups — on the watermark clock when `eventTimeCol` is given
    * (deterministic, replay-gated), else on the wall clock (see
    * [[keyedState]] for the contract and the busy-spin caution); an
    * evicted group that reappears restarts its registers from zero. */
  def streamingHllDistinct(stream: DataFrame, groupCol: String,
                           valueCol: String, p: Int = 8,
                           stateTtl: Option[String] = None,
                           eventTimeCol: Option[String] = None): DataFrame = {
    require(p >= 4 && p <= 16, "HLL precision p in [4, 16]")
    val spark = stream.sparkSession
    import spark.implicits._
    val width = 60 - p
    val mask = (1L << width) - 1
    val m = 1 << p
    val p1 = 61 - p
    val c = graft.operators.Sketch.hllConstant(p)
    keyedState[Long, Array[Byte], (String, Long, Long, Double)](stream, col(groupCol),
      graft.operators.TextAnalysis.tokenHash(col(valueCol)), OutputMode.Update,
      stateTtl, eventTimeCol) { (g, rows, prior) =>
      val regs = prior.getOrElse(new Array[Byte](m))
      rows.foreach { h =>
        val b = (h >>> width).toInt
        val low = h & mask
        // rank = leading zeros within the low `width` bits + 1 — the
        // same integer as the batch path's width+1 − length(bin(low))
        val rho =
          if (low == 0L) width + 1
          else java.lang.Long.numberOfLeadingZeros(low) + width - 63
        if (rho > regs(b)) regs(b) = rho.toByte
      }
      var nz = 0L; var sum = 0L; var i = 0
      while (i < m) {
        val r = regs(i)
        if (r == 0) nz += 1
        sum += 1L << (p1 - r)
        i += 1
      }
      (Some(regs), Iterator.single((g, nz, sum, math.floor(c / sum.toDouble))))
    }.toDF(groupCol, "n_zero", "sum_scaled", "hll_est")
  }

  /** Streaming KMV distinct-count estimation — the ingestion-time form of
    * `Sketch.kmvDistinct`: per group the state is the bottom-k 60-bit hash
    * set (k longs, CONSTANT regardless of stream cardinality — an exact
    * streaming count_distinct would hold cardinality-sized state), and
    * every batch emits the group's current (n_kept, kmv_est) with the
    * batch estimator's exact arithmetic, so a converged stream reports the
    * identical estimate. Update output mode (each batch re-emits touched
    * groups). Per-group state is k longs but group cardinality is not
    * bounded: `stateTtl` evicts idle groups on the watermark clock when
    * `eventTimeCol` is given, else the wall clock (see [[keyedState]]);
    * a reappearing group restarts its bottom-k from empty. */
  def streamingKmvDistinct(stream: DataFrame, groupCol: String,
                           valueCol: String, k: Int = 64,
                           stateTtl: Option[String] = None,
                           eventTimeCol: Option[String] = None): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val spark = stream.sparkSession
    import spark.implicits._
    val two60 = 1152921504606846976.0
    keyedState[Long, Array[Long], (String, Long, Double)](stream, col(groupCol),
      graft.operators.TextAnalysis.tokenHash(col(valueCol)), OutputMode.Update,
      stateTtl, eventTimeCol) { (g, rows, prior) =>
      // merge the batch's hashes into the bottom-k: sort-distinct the
      // union, truncate — O((k + batch) log(k + batch)) per group-batch
      val merged = (prior.getOrElse(Array.empty[Long]).iterator ++ rows)
        .toArray.distinct.sorted.take(k)
      val est =
        if (merged.length < k) merged.length.toDouble
        else math.floor((k - 1).toDouble * two60 / merged.last)
      (Some(merged), Iterator.single((g, merged.length.toLong, est)))
    }.toDF(groupCol, "n_kept", "kmv_est")
  }

  /** Streaming frequent items — the ingestion-time form of
    * `Sketch.frequentItems`: per group the state is a Misra-Gries counter
    * map of at most 2·maxTracked entries (CONSTANT vs stream cardinality;
    * an exact streaming count would hold vocabulary-sized state). Updates
    * are +1 on a tracked item; when the map exceeds 2·maxTracked it
    * batch-compresses by the standard MG step (subtract the order
    * statistic that leaves maxTracked survivors, drop non-positives),
    * preserving the guarantee that any item with true count >
    * N/maxTracked stays tracked with undercount ≤ N/maxTracked. Each
    * batch emits the group's FULL tracked summary; in the exact regime
    * (distinct values ≤ maxTracked) counts are exact and monotone
    * non-decreasing per (group, item), so a replay's final state is
    * max(est) per pair — the property the 2-batch oracle replay gates.
    * Update output mode. Per-group state is ≤ 2·maxTracked counters but
    * group cardinality is not bounded: `stateTtl` evicts idle groups on
    * the watermark clock when `eventTimeCol` is given, else the wall
    * clock (see [[keyedState]]); a reappearing group restarts its
    * counters from empty. */
  def streamingFrequentItems(stream: DataFrame, groupCol: String,
                             valueCol: String, maxTracked: Int = 1024,
                             stateTtl: Option[String] = None,
                             eventTimeCol: Option[String] = None): DataFrame = {
    require(maxTracked >= 1, "streamingFrequentItems needs maxTracked >= 1")
    val spark = stream.sparkSession
    import spark.implicits._
    keyedState[String, Map[String, Long], (String, String, Long)](stream, col(groupCol),
      col(valueCol).cast("string"), OutputMode.Update, stateTtl, eventTimeCol) {
      (g, rows, prior) =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        prior.foreach(m ++= _)
        rows.foreach { v =>
          m.update(v, m.getOrElse(v, 0L) + 1L)
          if (m.size > 2 * maxTracked) {
            // subtract the (size − maxTracked)-th smallest count from
            // everything and drop the non-positive — amortized O(1)/row
            val pivot = m.values.toIndexedSeq.sorted.apply(m.size - maxTracked - 1)
            val keep = m.iterator.collect {
              case (k, c) if c > pivot => k -> (c - pivot)
            }.toSeq
            m.clear(); m ++= keep
          }
        }
        (Some(m.toMap), m.iterator.map { case (item, est) => (g, item, est) }.toSeq.iterator)
    }.toDF(groupCol, "item", "est")
  }

  /** Streaming per-group quantiles — the ingestion-time form of
    * `Sketch.quantileSketch` + `sketchQuantiles`: per group the state is
    * the KLL level array (O(k·log(n/k)) doubles, CONSTANT-ish vs stream
    * length — an exact streaming percentile would hold every value), fed
    * through [[graft.plans.QuantileKll.insert]] so the batch aggregate and
    * the stream run the IDENTICAL deterministic compaction. Every batch
    * emits the group's current (n, p50, p90, p99) with the same
    * rank-at-ceil(p·n) math as the batch extractor; `n` is exact in every
    * regime (weight conservation), so a replay's final state is the
    * emission with max n per group — the property the 2-batch oracle
    * replay gates. In the exact regime (group size ≤ k) the emitted
    * quantiles are exact order statistics. Update output mode.
    * Per-group state is O(k·log(n/k)) doubles but group cardinality is
    * not bounded: `stateTtl` evicts idle groups on the watermark clock
    * when `eventTimeCol` is given, else the wall clock (see
    * [[keyedState]]); a reappearing group restarts its sketch — and
    * its exact `n` — from empty, the property the 3-batch eviction
    * replay gates. */
  def streamingQuantiles(stream: DataFrame, groupCol: String,
                         valueCol: String, k: Int = 256,
                         stateTtl: Option[String] = None,
                         eventTimeCol: Option[String] = None): DataFrame = {
    require(k >= 8, "qsketch needs k >= 8")
    import graft.plans.{KllState, QuantileKll}
    val spark = stream.sparkSession
    import spark.implicits._
    keyedState[Double, Seq[Seq[Double]], (String, Long, Double, Double, Double)](stream,
      col(groupCol), col(valueCol).cast("double"), OutputMode.Update,
      stateTtl, eventTimeCol) { (g, rows, prior) =>
      val st = new KllState
      prior.foreach { levels =>
        st.levels.clear()
        levels.foreach(l => st.levels +=
          scala.collection.mutable.ArrayBuffer.from(l))
      }
      rows.foreach(QuantileKll.insert(st, _, k))
      val sample = QuantileKll.sample(st)
      var n = 0L
      sample.foreach(n += _._2)
      def q(p: Double): Double = {
        val target = math.ceil(p * n).toLong
        var cum = 0L
        var i = 0
        while (i < sample.length && cum < target) { cum += sample(i)._2; i += 1 }
        if (i == 0) Double.NaN else sample(i - 1)._1
      }
      (Some(st.levels.map(_.toSeq).toSeq), Iterator.single((g, n, q(0.5), q(0.9), q(0.99))))
    }.toDF(groupCol, "n", "p50", "p90", "p99")
  }

  /** Per-row benchmark-contamination tag on a stream — the online gate in
    * front of a training-data ingest: each arriving document is scored for
    * distinct n-gram overlap with a STATIC eval-benchmark set without any
    * stream-side state or shuffle (a stateless projection, so it composes
    * under any output mode and scales linearly with ingest rate).
    *
    * Two-stage probe, both broadcast: the Bloom bitset (~10 bits/gram,
    * cache-resident) rejects the ~100% of grams that are clean, and Bloom
    * PASSERS are re-checked against the exact sorted gram array
    * (binary search) — so `n_suspect`/`suspect` match the batch
    * [[graft.operators.Dedup.decontaminate]] exactly: no false positives
    * in the output, and no false negatives by Bloom construction. */
  def streamingDecontaminationGate(stream: DataFrame, bench: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int = 8, fpp: Double = 0.01): DataFrame = {
    import graft.operators.Dedup
    val bg = Dedup.benchGrams(bench, idCol, textCol, n)
    Dedup.gramProbes(bg, fpp) match {
      case Some((mightContain, exact)) =>
        val tag = java.util.UUID.randomUUID.toString.take(8)
        val sh = s"__sh_$tag"
        Dedup.withShingleHashes(stream, textCol, sh, n)
          .withColumn("n_suspect", coalesce(
            size(filter(col(sh), g => mightContain(g) && exact(g))), lit(0)))
          .drop(sh)
          .withColumn("suspect", col("n_suspect") > 0)
      case _ => // empty benchmark: nothing can leak
        stream.withColumn("n_suspect", lit(0)).withColumn("suspect", lit(false))
    }
  }

  /** JoinGenerator, streaming mode (ref: app/tuktu/generators/
    * JoinGenerator.scala:68-151 — the reference buffers both sides in heap
    * maps): watermarked stream-stream equi-join. Both sides carry an
    * event-time bound plus a join-time range condition, so Spark can evict
    * state once the watermark passes — unbounded-state joins are the #1
    * streaming OOM at scale. */
  def streamJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 leftTs: String, rightTs: String, watermark: String,
                 within: String): DataFrame = {
    require(keys.nonEmpty, "streamJoin needs at least one equi-join key")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val range = r(rightTs).between(
      l(leftTs) - org.apache.spark.sql.functions.expr(s"INTERVAL $within"),
      l(leftTs) + org.apache.spark.sql.functions.expr(s"INTERVAL $within"))
    // keep one unambiguous key column (the left's)
    keys.foldLeft(l.join(r, keyCond && range))((d, k) => d.drop(r(k)))
  }

  /** FileStreamProcessor, streaming mode (ref: FileProcessors.scala:25):
    * append sink with exactly-once file output via the checkpoint — the
    * reference's open-writer-per-flow with at-most-once semantics is strictly
    * weaker. Returns the started query; callers own its lifecycle. */
  def fileSink(df: DataFrame, path: String, checkpoint: String,
               format: String = "parquet", partitionBy: Seq[String] = Nil,
               availableNow: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = df.writeStream.format(format)
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
    val p = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    (if (availableNow)
      p.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else p).start()
  }

  /** FileRotatingStreamProcessor (ref: FileProcessors.scala:64-149): the
    * reference swaps a BufferedWriter every `rotation_time` wall-clock
    * interval; the streaming-native shape derives the rotation bucket from
    * EVENT time (tumbling `window(ts, rotation)` start, rendered as a
    * directory-safe string) and partitions the file sink by it. Each bucket
    * is a directory that stops growing once the watermark passes it, and
    * readers prune on the bucket column — rotation and read-side pruning from
    * the same mechanism. */
  def rotatingFileSink(df: DataFrame, tsCol: String, rotation: String,
                       path: String, checkpoint: String,
                       format: String = "parquet", bucketCol: String = "bucket",
                       availableNow: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    fileSink(
      df.withColumn(bucketCol,
        date_format(window(col(tsCol), rotation).getField("start"), "yyyyMMdd_HHmmss")),
      path, checkpoint, format, Seq(bucketCol), availableNow)

  /** Rate-source generator ⇄ DummyGenerator/RandomGenerator
    * (ref: DummyGenerator.scala:34-118). */
  def rateSource(spark: org.apache.spark.sql.SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()

  // --------------------------------------------------------------- kafka
  // KafkaGenerator (ref: modules/nosql/app/tuktu/nosql/generators/
  // kafka.scala:18 — old-consumer thread pool over {kafka_properties,
  // topic, to_string?, charset?}). The Spark-native shape is the
  // structured-streaming kafka source; the kafka connector jars do NOT
  // ship in this container (no egress — documented environmental
  // blocker), so the option mapping below is pure and spec-checked while
  // `load()` raises Spark's missing-data-source error until the jars
  // appear, at which point these wrappers are live without code changes.

  /** Reference `kafka_properties` → structured-streaming source options:
    * bootstrap servers from `bootstrap.servers` (or the legacy
    * `metadata.broker.list`); `auto.offset.reset` translates to
    * `startingOffsets` (`smallest`→earliest, `largest`→latest — and the
    * old consumer's DEFAULT is largest, so the fallback is latest, not a
    * full-topic replay); properties Spark's kafka source hard-rejects or
    * that are old-consumer implementation details (de/serializers,
    * enable.auto.commit, zookeeper.connect, consumer timeouts) are
    * dropped rather than passed through to a guaranteed
    * IllegalArgumentException; everything else rides under the `kafka.`
    * prefix. */
  def kafkaSourceOptions(kafkaProperties: Map[String, String],
                         topic: String,
                         startingOffsets: String = "latest"): Map[String, String] = {
    val brokers = kafkaProperties.get("bootstrap.servers")
      .orElse(kafkaProperties.get("metadata.broker.list"))
      .getOrElse(throw new IllegalArgumentException(
        "kafka_properties needs bootstrap.servers (or metadata.broker.list)"))
    val offsets = kafkaProperties.get("auto.offset.reset") match {
      case Some("smallest") | Some("earliest") => "earliest"
      case Some("largest") | Some("latest") => "latest"
      case Some(other) => throw new IllegalArgumentException(
        s"auto.offset.reset '$other' is not a known offset policy")
      case None => startingOffsets
    }
    // the source manages these itself and REJECTS them as kafka.* options
    val managed = Set("bootstrap.servers", "metadata.broker.list",
      "auto.offset.reset", "enable.auto.commit", "key.deserializer",
      "value.deserializer", "key.serializer", "value.serializer",
      "interceptor.classes",
      // old-consumer-only knobs with no new-consumer meaning
      "zookeeper.connect", "zookeeper.connection.timeout.ms",
      "consumer.timeout.ms")
    val passthrough = kafkaProperties
      .filterNot { case (k, _) => managed(k) }
      .map { case (k, v) => s"kafka.$k" -> v }
    Map("kafka.bootstrap.servers" -> brokers, "subscribe" -> topic,
      "startingOffsets" -> offsets) ++ passthrough
  }

  /** The reference's `to_string`/`charset` step on the kafka value column:
    * UTF-8 is one codegen'd cast; other charsets go through `decode`. */
  def kafkaValueText(value: Column, charset: String = "utf-8"): Column =
    if (charset.equalsIgnoreCase("utf-8") || charset.equalsIgnoreCase("utf8"))
      value.cast(org.apache.spark.sql.types.StringType)
    else decode(value, charset)

  /** Streaming kafka source (requires the spark-sql-kafka connector on the
    * classpath). `stop_message` has no streaming-native analog — a
    * declarative plan cannot kill its own query mid-stream; callers
    * wanting the reference's sentinel-stop semantics should filter the
    * sentinel and stop the `StreamingQuery` from the foreachBatch side. */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
                  kafkaProperties: Map[String, String], topic: String,
                  toString: Boolean = true, charset: String = "utf-8",
                  startingOffsets: String = "latest"): DataFrame = {
    val base = spark.readStream.format("kafka")
      .options(kafkaSourceOptions(kafkaProperties, topic, startingOffsets))
      .load()
    if (toString)
      base.withColumn("value", kafkaValueText(col("value"), charset))
    else base
  }

  /** Streaming kafka sink, the write-side counterpart (same classpath
    * requirement). Delivery is AT-LEAST-ONCE: the checkpoint makes the
    * query resumable, but a task retry after a broker ack re-sends — only
    * file-style sinks get exactly-once from the checkpoint; deduplicate
    * downstream on a message key if duplicates matter. */
  def kafkaSink(df: DataFrame, brokers: String, topic: String,
                checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** File-stream source ⇄ LineGenerator streaming mode
    * (ref: FileGenerators.scala:79). */
  def fileSource(spark: org.apache.spark.sql.SparkSession, path: String,
                 format: String = "parquet", schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.readStream.format(format)
    schemaDdl.fold(r)(d => r.schema(org.apache.spark.sql.types.StructType.fromDDL(d))).load(path)
  }
}
