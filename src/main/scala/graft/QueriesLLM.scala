package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Ops
import graft.operators.{Dedup, Nlp, Similarity, TextAnalysis}

/**
 * Training-data-pipeline queries over `documents` and `embeddings`:
 * dedup (exact / minhash+LSH / simhash / n-gram jaccard), similarity search
 * (brute-force + LSH ANN), text analysis (lang-id, quality, token counts,
 * fingerprints), multimodal binary plumbing.
 *
 * Hash determinism: all hashes derive from md5 prefixes so the DuckDB oracle
 * reproduces them bit-for-bit (see Dedup.scala / TextAnalysis.scala).
 */
object QueriesLLM {
  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)
  private val D = DecimalType(30, 10)

  /** The streaming replay harness of every `streaming_*` query: `batches`
    * are fed one micro-batch each through a MemoryStream, `build` turns
    * the stream into the query under test, and the memory sink's rows come
    * back as a DataFrame. The replay runs on a child session, so the
    * caller's session is left as it was:
    *  - shuffle partitions are 4 on the child only. Every micro-batch
    *    opens one state-store instance per shuffle partition, so a 500-row
    *    replay under 32 partitions pays 32 store open/commit cycles per
    *    batch for ~16 rows each; four keeps the multi-partition state merge
    *    under test at a fraction of the fixed cost;
    *  - the child writes its checkpoint, a temporary directory deleted
    *    after the replay, through the FileSystem-based checkpoint manager
    *    and without checksum sidecar files. Without Hadoop's native
    *    library the default FileContext manager starts a `readlink` child
    *    process for each side of every rename and a `chmod` per create, and
    *    a checksum protects nothing in a directory that is thrown away;
    *  - the caller's streaming listeners are added to the child, whose
    *    progress events would otherwise reach no one. They are not removed
    *    after `stop()`, which would race the bus's asynchronous delivery
    *    of the last events;
    *  - the sink's temp view is dropped, and its rows (already in driver
    *    memory) come back as a local frame on the caller's session, so
    *    the caller's action runs there. An action on a child-session frame
    *    would make the child the inherited active session of every pool
    *    thread it starts, which then keeps the child alive, and the
    *    caller's query listeners would not see it.
    * `build` gets the child session and the stream (columns `_1`, `_2`, …
    * of `A`), and must read any other input on the child. */
  private def replay[A: Encoder](s: SparkSession, outputMode: String, batches: Seq[Seq[A]])(
      build: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val c = SparkEntry.childSession(s, "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[org.apache.spark.sql.execution.streaming.checkpointing
          .FileSystemBasedCheckpointFileManager].getName,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    s.streams.listListeners().foreach(c.streams.addListener)
    val in = MemoryStream[A](implicitly[Encoder[A]], c)
    val name = "replay_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = build(c, in.toDF()).writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    val sink = c.table(name)
    c.catalog.dropTempView(name)
    s.createDataFrame(sink.collectAsList(), sink.schema)
  }

  /** The stream-stream join replays: each batch is a pair (left ids, right
    * ids). Both sides ride the one replay stream as (is-left, id) rows and
    * are split again by the flag, so every trigger feeds both join inputs.
    * Join key id % 50; left event time id + 10 s, right id + id % 7 − 3 +
    * 10 s. The +10 s offset keeps every event time positive: Spark's
    * watermark starts at epoch 0 and rows below it drop as late (doc_id
    * 0-2 would land at -3..-1 s). The join condition only sees time
    * DIFFERENCES, so the offset cancels and the oracle needs none. */
  private def streamJoinReplay(s: SparkSession, batches: Seq[(Seq[Long], Seq[Long])],
                               watermark: String): DataFrame = {
    import s.implicits._
    val tagged = batches.map { case (l, r) => l.map((true, _)) ++ r.map((false, _)) }
    replay(s, "append", tagged) { (_, in) =>
      val rows = in.toDF("is_left", "id")
      val left = rows.filter(col("is_left")).repartition(4, col("id"))
        .select((col("id") % 50).as("k"), col("id").as("lid"),
          timestamp_seconds(col("id") + 10).as("lts"))
      val right = rows.filter(!col("is_left")).repartition(4, col("id"))
        .select((col("id") % 50).as("k"), col("id").as("rid"),
          timestamp_seconds(col("id") + col("id") % 7 - 3 + 10).as("rts"))
      graft.streaming.Streams.streamJoin(left, right, Seq("k"),
        "lts", "rts", watermark = watermark, within = "5 seconds")
        .select(col("k"), col("lid"), col("rid"))
    }.orderBy("k", "lid", "rid")
  }

  /** Scale-adaptive fan-out before a per-row-heavy stage (r15, guide §2.5
    * "input skew" / §2.2): the SF fixtures are single parquet files, so a
    * scan (and the bench's cached InMemoryRelation) is ONE partition and a
    * tokenize/hash/encode-heavy first stage runs on one core — StageProbe
    * measured 0.8-3.0 s single-task stages in exactly the queries that
    * lacked the r7 fan-out discipline. Repartition on `key` ONLY when the
    * input has fewer partitions than the session's parallelism: at 100 TB
    * a real scan already has thousands of splits, so this is a no-op there
    * (an unconditional repartition would ADD a full-corpus shuffle in
    * front of map-side-aggregating consumers); locally it spreads the
    * per-row work across every core. Keyed by the column downstream
    * grouping uses, so where a corpus-sized exchange exists anyway the
    * fan-out subsumes it (hash(key) satisfies any clustering that
    * includes key). */
  private def fanOut(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // toRdd (not .rdd): no row-deserializer codegen. Callers pass scan/
    // select-only frames, so building the RDD lineage runs no job — but
    // nothing used to enforce that: under AQE, toRdd on a plan containing
    // an exchange MATERIALIZES query stages, i.e. silently runs real jobs
    // at DataFrame-construction time (r15 advice). Guard the contract in
    // code: if the analyzed plan holds anything that plans an exchange
    // (join/aggregate/sort/repartition/window/distinct), skip the fan-out
    // instead of probing — such a frame already gets session-parallelism
    // partitioning from its own shuffle.
    import org.apache.spark.sql.catalyst.plans.logical._
    val scanOnly = df.queryExecution.analyzed.collectFirst {
      case n @ (_: Join | _: Aggregate | _: Sort | _: RepartitionOperation |
                _: Window | _: Distinct) => n
    }.isEmpty
    if (scanOnly && df.queryExecution.toRdd.getNumPartitions < p)
      df.repartition(p, key)
    else df
  }

  /** The `n` lowest-`vec_id` rows of `e` as a (centroid_id, centroid)
    * quantizer table — the IVF queries' deterministic seeds. centroid_id
    * is vec_id, monotone in seed position, so (distance, id) ties go to
    * the seed the oracles' `row_number() OVER (ORDER BY vec_id)` picks. */
  private def lowestCentroids(e: DataFrame, vecCol: String, n: Int): DataFrame =
    e.orderBy("vec_id").limit(n)
      .select(col("vec_id").as("centroid_id"), col(vecCol).as("centroid"))

  /** m = 8 PQ codebooks seeded from the 4 lowest-`vec_id` vectors —
    * model-sized, so they ride to the driver. */
  private def lowestCodebooks(e: DataFrame, vecCol: String): Seq[Seq[Array[Double]]] =
    Similarity.pqCodebooksFrom(e.orderBy("vec_id").limit(4)
      .select(col(vecCol).cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray).toSeq, m = 8)

  /** Deterministic WARC fixture for `corpus_build_warc`: every document
    * becomes one `200 text/html` WARC response (body =
    * `<html><body><p>{text}</p></body></html>` in UTF-8, target URI
    * `http://corpus.test/doc/{id}`) in segment file `doc_id % 4`. Written
    * once per (sf dir, version) under java.io.tmpdir and reused.
    *
    * This is harness plumbing, not an operator: the production pipeline
    * reads real crawl segments, and the query under test starts at
    * `Warc.read` over these files — the driver-side collect here is
    * fixture SYNTHESIS (sf-table sized, one-time), not part of the
    * measured plan. */
  private def warcFixture(s: SparkSession, dir: String): String = {
    val tag = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    val out = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_warc_fixture_v1_$tag")
    val marker = new java.io.File(out, "_SUCCESS")
    if (!marker.exists()) {
      out.mkdirs()
      val crlf = "\r\n"
      val docs = rd(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").collect()
      val streams = (0 until 4).map { i =>
        new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(new java.io.File(out, s"seg-$i.warc")))
      }
      docs.foreach { r =>
        val id = r.getLong(0)
        val text = Option(r.getString(1)).getOrElse("")
        val body = ("<html><body><p>" + text + "</p></body></html>")
          .getBytes("UTF-8")
        val http = (s"HTTP/1.1 200 OK${crlf}Content-Type: text/html; " +
          s"charset=utf-8$crlf$crlf").getBytes("ISO-8859-1") ++ body
        val head = (s"WARC/1.0${crlf}WARC-Type: response$crlf" +
          s"WARC-Target-URI: http://corpus.test/doc/$id$crlf" +
          s"WARC-Date: 2026-01-01T00:00:00Z$crlf" +
          s"WARC-Record-ID: <urn:doc:$id>$crlf" +
          s"Content-Length: ${http.length}$crlf$crlf").getBytes("ISO-8859-1")
        val st = streams((id % 4).toInt)
        st.write(head); st.write(http)
        st.write((crlf + crlf).getBytes("ISO-8859-1"))
      }
      streams.foreach(_.close())
      marker.createNewFile()
    }
    out.getAbsolutePath
  }

  /** Deterministic messy URL per doc (mixed case, default port, tracking
    * params, fragment) — the IDENTICAL expression is used in the oracle SQL,
    * so Url.normalize/host/etc. are the only things under test. */
  private def syntheticUrl: Column =
    concat(
      lit("HTTPS://WWW."), col("source"), lit(".Example.COM"),
      when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
      lit("/Docs/"), col("doc_id").cast(StringType),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&ref="), col("lang"),
          lit("&gclid="), col("doc_id").cast(StringType)))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?ref="), col("lang"), lit("&utm_campaign=x")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("#Section-2")).otherwise(lit("")))

  private val syntheticUrlSql: String =
    """('HTTPS://WWW.' || source || '.Example.COM' ||
       CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
       '/Docs/' || doc_id ||
       CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || lang || '&gclid=' || doc_id
            WHEN doc_id % 3 = 1 THEN '?ref=' || lang || '&utm_campaign=x'
            ELSE '' END ||
       CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END)"""

  /** DuckDB replay of `Graph.pageRank` over the stride link graph:
    * iterations unrolled as CTE stages with the same truncating integer
    * arithmetic (`//` floor-div ≡ Spark `div` on the all-positive ranks),
    * so 5 iterations are bit-identical cross-engine. */
  private def pageRankSql(iters: Int): String = {
    val sc = "1000000000000"
    val base =
      s"""WITH d AS (SELECT doc_id, source FROM documents),
         le AS (SELECT a.source AS src, b.source AS dst
                FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
                UNION ALL
                SELECT a.source AS src, b.source AS dst
                FROM d a JOIN d b ON b.doc_id = a.doc_id + 7),
         ew AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM le GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM ew GROUP BY 1),
         r0 AS (SELECT node, CAST($sc // nn.n AS BIGINT) AS pr FROM nodes CROSS JOIN nn)"""
    val iterCtes = (1 to iters).map { i =>
      s"""
         c$i AS (SELECT ew.dst AS node,
                  CAST(sum((r${i - 1}.pr * ew.w) // ow.ow) AS BIGINT) AS c
                FROM r${i - 1} JOIN ew ON ew.src = r${i - 1}.node
                  JOIN ow ON ow.src = ew.src GROUP BY 1),
         r$i AS (SELECT nodes.node,
                  CAST((($sc * 15) // 100) // nn.n
                    + (85 * coalesce(c$i.c, 0)) // 100 AS BIGINT) AS pr
                FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.node = nodes.node)"""
    }.mkString(",")
    base + "," + iterCtes + s"\n SELECT node, pr FROM r$iters ORDER BY node"
  }

  /** DuckDB replay of `Graph.hits` over the same stride link graph:
    * iterations unrolled as half-step CTE pairs with the IDENTICAL
    * exact-integer L1 normalization (`//` floor-div ≡ Spark `div` on the
    * all-positive scores). */
  private def hitsSql(iters: Int): String = {
    val sc = "1000000"
    val base =
      s"""WITH d AS (SELECT doc_id, source FROM documents),
         le AS (SELECT a.source AS src, b.source AS dst
                FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
                UNION ALL
                SELECT a.source AS src, b.source AS dst
                FROM d a JOIN d b ON b.doc_id = a.doc_id + 7),
         ew AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM le GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         h0 AS (SELECT node, CAST($sc // nn.n AS BIGINT) AS hub
                FROM nodes CROSS JOIN nn)"""
    val iterCtes = (1 to iters).map { i =>
      s"""
         ar$i AS (SELECT ew.dst AS node,
                   CAST(sum(h${i - 1}.hub * ew.w) AS BIGINT) AS raw
                 FROM h${i - 1} JOIN ew ON ew.src = h${i - 1}.node GROUP BY 1),
         at$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$i),
         a$i AS (SELECT nodes.node,
                  CAST((coalesce(ar$i.raw, 0) * $sc) // at$i.tot AS BIGINT) AS auth
                FROM nodes LEFT JOIN ar$i ON ar$i.node = nodes.node
                  CROSS JOIN at$i),
         hr$i AS (SELECT ew.src AS node,
                   CAST(sum(a$i.auth * ew.w) AS BIGINT) AS raw
                 FROM a$i JOIN ew ON ew.dst = a$i.node GROUP BY 1),
         ht$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$i),
         h$i AS (SELECT nodes.node,
                  CAST((coalesce(hr$i.raw, 0) * $sc) // ht$i.tot AS BIGINT) AS hub
                FROM nodes LEFT JOIN hr$i ON hr$i.node = nodes.node
                  CROSS JOIN ht$i)"""
    }.mkString(",")
    base + "," + iterCtes +
      s"""
      SELECT h$iters.node, h$iters.hub, a$iters.auth
      FROM h$iters JOIN a$iters ON a$iters.node = h$iters.node
      ORDER BY h$iters.node"""
  }

  /** DuckDB replay of `Bpe.train`: K merge iterations unrolled as CTE
    * stages (pair counts → argmax with the same tie-break → delimiter
    * replace), sharing the U+0001 double-delimiter encoding with the
    * Spark side so merge application is bit-identical. */
  private def bpeTrainCtes(k: Int): String = {
    val d1 = "chr(1)"
    val d2 = "chr(1)||chr(1)"
    val sb = new StringBuilder
    sb ++= s"""wf AS (SELECT w, count(*) AS freq FROM (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents) GROUP BY 1),
       r0 AS (SELECT w, $d1 || array_to_string(list_append(string_split(w, ''), '</w>'), $d2) || $d1 AS rep, freq FROM wf)"""
    for (i <- 1 to k) {
      sb ++= s""",
       p$i AS (SELECT u.lft AS lft, u.rgt AS rgt, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq, unnest(list_transform(range(1, len(syms)), j -> {'lft': syms[j], 'rgt': syms[j+1]})) AS u
           FROM (SELECT freq, string_split(trim(rep, $d1), $d2) AS syms FROM r${i - 1})) GROUP BY 1, 2),
       m$i AS (SELECT $i AS step, lft, rgt, lft||rgt AS merged, cnt FROM p$i ORDER BY cnt DESC, lft, rgt LIMIT 1),
       r$i AS (SELECT w, replace(rep, $d1||lft||$d2||rgt||$d1, $d1||lft||rgt||$d1) AS rep, freq FROM r${i - 1}, m$i)"""
    }
    sb.toString
  }

  private val bpeMerges = 8

  /** Byte-level variant of [[bpeTrainCtes]]: the identical merge chain
    * over GPT-2-style byte pretokens. The oracle's byte encoding is ONE
    * replace(' ', chr(288)) because the fixture corpus is pure printable
    * ASCII (space + lowercase letters — every other byte maps to itself in
    * bytes_to_unicode); the Spark side runs the full 256-entry bijection. */
  private def bpeBytesTrainCtes(k: Int): String = {
    val d1 = "chr(1)"
    val d2 = "chr(1)||chr(1)"
    // SQL single-quoted literal: backslashes verbatim to RE2, '' = quote
    val pat = """''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""
    val sb = new StringBuilder
    sb ++= s"""wf AS (SELECT w, count(*) AS freq FROM (
         SELECT replace(unnest(regexp_extract_all(text, '$pat')), ' ', chr(288)) AS w FROM documents) GROUP BY 1),
       r0 AS (SELECT w, $d1 || array_to_string(string_split(w, ''), $d2) || $d1 AS rep, freq FROM wf)"""
    for (i <- 1 to k) {
      sb ++= s""",
       p$i AS (SELECT u.lft AS lft, u.rgt AS rgt, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq, unnest(list_transform(range(1, len(syms)), j -> {'lft': syms[j], 'rgt': syms[j+1]})) AS u
           FROM (SELECT freq, string_split(trim(rep, $d1), $d2) AS syms FROM r${i - 1})) GROUP BY 1, 2),
       m$i AS (SELECT $i AS step, lft, rgt, lft||rgt AS merged, cnt FROM p$i ORDER BY cnt DESC, lft, rgt LIMIT 1),
       r$i AS (SELECT w, replace(rep, $d1||lft||$d2||rgt||$d1, $d1||lft||rgt||$d1) AS rep, freq FROM r${i - 1}, m$i)"""
    }
    sb.toString
  }

  /** Shared seeded-SdA demo model for `deeplearn_sda_predict`: the
    * reference-contract stacked denoising autoencoder (seed 1234, tied
    * weights, binary pretrain/finetune propagation) trained on a
    * deterministic driver fixture whose classes are PLANTED on input
    * regions — class c lights bits [5c, 5c+5) over 16 dims plus sparse
    * pseudo-noise — so the head genuinely discriminates: sign-binarized
    * embeddings (the query's input encoding) excite whichever region has
    * the most lit bits and the predicted class VARIES across rows
    * (non-degeneracy spec-asserted in DeepLearnSpec). */
  private[graft] lazy val sdaDemoNet: graft.ml.DeepLearn.StackedNet = {
    val net = new graft.ml.DeepLearn.StackedDenoisingAutoencoder(
      16, Seq(8, 6), 3, seed = 1234L)
    val xs = Array.tabulate(30, 16) { (n, j) =>
      val c = n % 3
      if (j >= c * 5 && j < c * 5 + 5) 1
      else if ((n * 7 + j * 3) % 7 == 0) 1 else 0
    }
    val ys = Array.tabulate(30, 3)((n, c) => if (n % 3 == c) 1 else 0)
    // deep pretraining matters here: at 30 pretrain epochs the head
    // saturates to one class regardless of finetune length; at 100 the
    // stack's representation separates the regions (30/30 train accuracy,
    // 3-class spread over random sign patterns — probed driver-side)
    net.pretrain(xs, lr = 0.1, epochs = 100)
    net.finetune(xs, ys, lr = 0.1, epochs = 1000)
    net
  }

  /** The net floor-quantized to integer literals at 2^12 — the SAME
    * integers render into the Spark plan (via `typedlit`) and into the
    * generated DuckDB oracle (via [[sqlList]]/[[sqlMat]]), so the
    * distributed predict pass replays the trained net bit-for-bit. */
  private[graft] lazy val sdaDemoWeights
      : (Seq[(Seq[Seq[Long]], Seq[Long])], Seq[Seq[Long]], Seq[Long]) =
    graft.ml.DeepLearn.quantizeStack(sdaDemoNet, wScaleBits = 12)

  /** DBN sibling of [[sdaDemoNet]]: same fixture and inference math
    * (StackedNet predict is shared), different pretraining (CD-1 RBMs) —
    * and a deeper recipe, because CD-1 needs more greedy epochs before
    * the head separates the regions (probed: 300/2000 → 30/30 train
    * accuracy, 3-class spread over random sign patterns). */
  private[graft] lazy val dbnDemoNet: graft.ml.DeepLearn.StackedNet = {
    val net = new graft.ml.DeepLearn.DeepBeliefNet(
      16, Seq(8, 6), 3, seed = 1234L, cdK = 1)
    val xs = Array.tabulate(30, 16) { (n, j) =>
      val c = n % 3
      if (j >= c * 5 && j < c * 5 + 5) 1
      else if ((n * 7 + j * 3) % 7 == 0) 1 else 0
    }
    val ys = Array.tabulate(30, 3)((n, c) => if (n % 3 == c) 1 else 0)
    net.pretrain(xs, lr = 0.1, epochs = 300)
    net.finetune(xs, ys, lr = 0.1, epochs = 2000)
    net
  }

  private[graft] lazy val dbnDemoWeights
      : (Seq[(Seq[Seq[Long]], Seq[Long])], Seq[Seq[Long]], Seq[Long]) =
    graft.ml.DeepLearn.quantizeStack(dbnDemoNet, wScaleBits = 12)

  /** Shared demo HMM for `hmm_viterbi_decode`: 3 states / 4 symbols,
    * supervised ML counts with add-one smoothing over a deterministic
    * labeled fixture (states cycle per sequence offset; symbols correlate
    * with the state via `st*2 + t%2 + [t%5==0]` so transitions AND
    * emissions are non-uniform and the Viterbi path is informative).
    * Trained PURELY in Scala — data-independent, so the generated oracle
    * can render the log parameters as literals at class-init time like the
    * SdA/DBN weights; `HmmSpec` pins it equal to `HMM.fitSupervised` on
    * the same rows, keeping the distributed trainer under the same
    * contract. */
  private[graft] lazy val hmmDemoFixture: Seq[(Int, Int, Int, Int)] =
    // (seq, t, state, symbol)
    for (sq <- 0 until 6; t <- 0 until 20) yield {
      val st = (sq + t) % 3
      val sym = (st * 2 + t % 2 + (if (t % 5 == 0) 1 else 0)) % 4
      (sq, t, st, sym)
    }

  private[graft] lazy val hmmDemoModel: graft.ml.HmmModel = {
    val nStates = 3; val nSymbols = 4
    val init = hmmDemoFixture.filter(_._2 == 0).groupBy(_._3).view.mapValues(_.size)
    val trans = hmmDemoFixture.groupBy(_._1).values.flatMap { sq =>
      sq.sortBy(_._2).sliding(2).collect { case Seq(a, b) => (a._3, b._3) }
    }.toSeq.groupBy(identity).view.mapValues(_.size)
    val emit = hmmDemoFixture.groupBy(r => (r._3, r._4)).view.mapValues(_.size)
    def norm(counts: Seq[Double]): Array[Double] = {
      val tot = counts.sum
      counts.map(c => math.log(c / tot)).toArray
    }
    graft.ml.HmmModel(
      pi = norm((0 until nStates).map(s => init.getOrElse(s, 0) + 1.0)),
      a = (0 until nStates).map(p =>
        norm((0 until nStates).map(s => trans.getOrElse((p, s), 0) + 1.0))).toArray,
      b = (0 until nStates).map(s =>
        norm((0 until nSymbols).map(o => emit.getOrElse((s, o), 0) + 1.0))).toArray)
  }

  /** Render quantized weights as DuckDB list literals for the generated
    * stack-predict oracles. */
  private def sqlList(v: Seq[Long]): String = v.mkString("[", ",", "]")
  private def sqlMat(m: Seq[Seq[Long]]): String = m.map(sqlList).mkString("[", ",", "]")

  /** Double literals for generated oracles: Scala's `Double.toString` is
    * the shortest round-trip decimal, and a correctly-rounded parse
    * recovers the EXACT bits of every trained log parameter — but DuckDB
    * types bare decimal literals as DECIMAL (whose arithmetic then
    * overflows at DECIMAL(18)), so the lists are cast to DOUBLE[] wholesale
    * (parenthesized: a bare `::DOUBLE[][i]` subscript misparses). */
  private def sqlDList(v: Seq[Double]): String =
    v.mkString("([", ",", "]::DOUBLE[])")
  private def sqlDMat(m: Seq[Array[Double]]): String =
    m.map(_.mkString("[", ",", "]")).mkString("([", ",", "]::DOUBLE[][])")

  /** Generated DuckDB oracle for [[graft.ml.DeepLearn.sdaPredictQuantized]]
    * over sign-binarized 16-dim embedding inputs: one
    * `list_transform`/`list_sum` CTE per hidden layer with the scorer's
    * exact fixed-point bookkeeping (inputs at 2^10 — binarized to
    * {0, 1024} — weights at 2^12, sigmoids floor-quantized to 1e4),
    * integer head logits, argmax CASE with ties to the lowest class. */
  private def stackPredictOracleSql(
      weights: (Seq[(Seq[Seq[Long]], Seq[Long])], Seq[Seq[Long]], Seq[Long])): String = {
    val (ls, hw, hb) = weights
    val sb = new StringBuilder
    sb ++= """WITH l0 AS (
           SELECT vec_id, list_transform(embedding[1:16],
             x -> CAST(CASE WHEN x > 0 THEN 1024 ELSE 0 END AS BIGINT)) AS a0
           FROM embeddings)"""
    var inScale = 1024L
    for (((w, b), i) <- ls.zipWithIndex) {
      val denom = inScale.toDouble * 4096
      sb ++= s""",
         l${i + 1} AS (
           SELECT vec_id, list_transform(range(${w.size}), i ->
             CAST(floor(10000.0 / (1.0 + exp(-(CAST(
               ${sqlList(b)}[i + 1] * $inScale +
               CAST(list_sum(list_transform(range(${w.head.size}), j ->
                 ${sqlMat(w)}[i + 1][j + 1] * a$i[j + 1])) AS BIGINT)
             AS DOUBLE) / $denom)))) AS BIGINT)) AS a${i + 1}
           FROM l$i)"""
      inScale = 10000L
    }
    val n = ls.size
    val arms = (0 until hw.size - 1)
      .map(c => s"WHEN z[${c + 1}] = list_max(z) THEN $c").mkString(" ")
    sb ++= s""",
         hd AS (
           SELECT vec_id, a$n, list_transform(range(${hw.size}), c ->
             ${sqlList(hb)}[c + 1] * $inScale +
             CAST(list_sum(list_transform(range(${hw.head.size}), j ->
               ${sqlMat(hw)}[c + 1][j + 1] * a$n[j + 1])) AS BIGINT)) AS z
           FROM l$n)
         SELECT vec_id,
           CAST(CASE $arms ELSE ${hw.size - 1} END AS INT) AS cls,
           CAST(list_sum(a$n) AS BIGINT) AS h_sum,
           CAST(list_sum(z) AS BIGINT) AS logit_sum
         FROM hd ORDER BY vec_id"""
    sb.toString
  }

  /** Generated DuckDB oracle for `hmm_viterbi_decode`: the trained model's
    * log parameters render as double literals (exact bits — see
    * [[sqlDList]]) and a recursive CTE replays the Viterbi DP with the
    * decoder's exact operation order — each candidate is ONE addition
    * `delta[p] + a[p][s]`, the winner ONE addition `best + b[s][o_t]`, so
    * every delta is bit-identical; ties resolve to the lowest state on
    * both sides (Scala `maxBy` keeps the first maximum, `list_position`
    * returns the first match). Paths are carried forward per state
    * (forward path-carrying with first-argmax ≡ psi backtracking with
    * first-argmax pointers). */
  private def hmmViterbiOracleSql(m: graft.ml.HmmModel): String = {
    val n = m.nStates
    val pi = sqlDList(m.pi.toSeq)
    val a = sqlDMat(m.a.toSeq)
    val b = sqlDMat(m.b.toSeq)
    val cand = s"list_transform(range($n), p -> delta[p+1] + $a[p+1][s+1])"
    s"""WITH RECURSIVE src AS (
         SELECT doc_id % 16 AS seq_id, doc_id AS ord,
                CAST(n_chars % 4 AS INT) AS sym
         FROM documents),
       obs AS (SELECT seq_id, list(sym ORDER BY ord) AS o
               FROM src GROUP BY seq_id),
       dp AS (
         SELECT seq_id, o, 1 AS t,
           list_transform(range($n), s -> $pi[s+1] + $b[s+1][o[1]+1]) AS delta,
           list_transform(range($n), s -> [CAST(s AS INT)]) AS paths
         FROM obs
         UNION ALL
         SELECT seq_id, o, t + 1,
           list_transform(range($n), s ->
             list_max($cand) + $b[s+1][o[t+1]+1]),
           list_transform(range($n), s ->
             paths[list_position($cand, list_max($cand))] || [CAST(s AS INT)])
         FROM dp WHERE t < len(o))
       SELECT seq_id,
         array_to_string(paths[list_position(delta, list_max(delta))], ',') AS path,
         list_max(delta) AS log_delta
       FROM dp WHERE t = len(o) ORDER BY seq_id"""
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---------------- exact dedup: hash-groupBy
    "dedup_exact" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      Dedup.exactDedup(d, "text", "doc_id").orderBy("content_hash")
    }),

    // ---------------- minhash signatures (deterministic, oracle-checked)
    "dedup_minhash_sig" -> ((s, dir) => {
      // hash-repartition before hashing: a small source arrives as ONE scan
      // partition, which would serialize the md5-per-token stage on one core
      // (deterministic hash layout — not round-robin — so index contracts hold);
      // the same doc_id partitioning is then reused by minhashBase's window
      // sort and groupBy with no further exchange.
      val d = rd(s, dir, "documents").select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      // signature emitted as a joined string (pandas gate can't sort arrays);
      // docs with no shingles re-enter via left join with the MaxValue minima
      // the oracle's empty-fold also produces.
      val sig = Dedup.minhashBase(d, "doc_id", "text", n = 3, k = 8)
        .select(col("id").as("doc_id"),
          array_join(transform(col("sig"), x => x.cast(StringType)), ",").as("sig"))
      val empties = array_join(
        array(Seq.fill(8)(lit(Long.MaxValue.toString)): _*), ",")
      d.select("doc_id").join(sig, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("sig"), empties).as("sig"))
        .orderBy("doc_id")
    }),

    // ---------------- minhash + LSH near-dup candidate pairs w/ jaccard verify
    "dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashNearDups(rd(s, dir, "documents").repartition(s.sparkContext.defaultParallelism, col("doc_id")), "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.0)
        .select(col("id1"), col("id2"), col("jaccard").as("jac"))
        .orderBy("id1", "id2")
    }),

    // ---------------- simhash signatures
    "dedup_simhash" -> ((s, dir) => {
      // codegen path (simhashAgg == simhash, spec-proven); left join back to
      // the id universe so a NULL-text doc (explode emits nothing) still
      // appears, with the null signature the expression form also yields
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      d.select("doc_id")
        .join(Dedup.simhashAgg(d, "doc_id", "text", bits = 16)
          .select(col("id").as("doc_id"), col("simhash")), Seq("doc_id"), "left")
        .orderBy("doc_id")
    }),

    // ---------------- n-gram jaccard against a pivot document.
    // Staged withColumns: CollapseProject won't inline the expensive HOF
    // subtrees into multiple uses, so shingles/intersection compute once.
    // jac = i/(|a|+|b|-i) — integer operands, so the double division is
    // bit-identical in DuckDB without rounding.
    "ngram_jaccard" -> ((s, dir) => {
      // codegen shingle path (minhashBase with k=0); docs too short for a
      // 2-gram are absent from base and re-enter with an empty set via the
      // left join (jac 0), matching the HOF pipeline and the oracle
      val d = rd(s, dir, "documents").select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val base = Dedup.minhashBase(d, "doc_id", "text", n = 2, k = 0, collectShingles = true)
        .select(col("id").as("doc_id"), col("sh"))
      // pivot must be exactly ONE row even when doc 0 is too short to have
      // shingles (absent from base) — else the cross join annihilates output
      val pivot = d.filter(col("doc_id") === 0).select("doc_id")
        .join(base, Seq("doc_id"), "left")
        .select(coalesce(col("sh"), array().cast(ArrayType(LongType))).as("ph"))
      d.select("doc_id").join(base, Seq("doc_id"), "left")
        .crossJoin(broadcast(pivot))
        .withColumn("inter", coalesce(size(array_intersect(col("sh"), col("ph"))), lit(0)))
        .withColumn("shn", coalesce(size(col("sh")), lit(0)))
        .select(col("doc_id"),
          (col("inter").cast(DoubleType) /
            (col("shn") + size(col("ph")) - col("inter")).cast(DoubleType)).as("jac"))
        .filter(col("doc_id") =!= 0)
        .orderBy("doc_id")
    }),

    // ---------------- brute-force cosine top-k (exact ANN baseline).
    // Raw doubles: the left-to-right fold order matches the oracle's
    // list_reduce exactly, so the bits agree without rounding.
    "ann_cosine_topk" -> ((s, dir) => {
      Similarity.cosineTopK(rd(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0, k = 10)
        .select(col("vec_id"), col("cosine").as("cos"))
    }),

    // ---------------- deeplearn (r10): distributed 2-layer MLP forward
    // pass over the embeddings, integer-quantized so it replays exactly —
    // planted index-formula weights as literals, inputs floored at 2^10,
    // the one sigmoid floor-quantized at 1e4 (lm_perplexity mitigation),
    // second layer pure integer arithmetic. Per row: argmax class plus two
    // integrity sums. The scoring shape for a trained net at 100 TB: no
    // UDF, no shuffle, model rides the plan as literals.
    "deeplearn_mlp_forward" -> ((s, dir) => {
      val d = 64; val h = 8; val o = 4
      val w1 = (0 until h).map(i => (0 until d).map(j => ((i * 7 + j * 13) % 11 - 5).toLong))
      val b1 = (0 until h).map(i => ((i % 5) - 2).toLong)
      val w2 = (0 until o).map(c => (0 until h).map(i => ((c * 5 + i * 3) % 7 - 3).toLong))
      val b2 = (0 until o).map(c => ((c % 3) - 1).toLong)
      graft.ml.DeepLearn.quantizedMlpForward(rd(s, dir, "embeddings"),
        "vec_id", "embedding", w1, b1, w2, b2).orderBy("vec_id")
    }),

    // ---------------- deeplearn (r11): the seeded SdA's PREDICT path,
    // stack-deep — a reference-contract net (seed 1234, tied weights)
    // trained on the driver fixture, weights floor-quantized at 2^12 into
    // plan literals, then the deterministic inference stack (2 sigmoid
    // layers + softmax-head argmax) replayed distributed with per-layer
    // 1e-4 fixed-point sigmoids. Same scan-only scoring shape as
    // deeplearn_mlp_forward, one layer deeper. Inputs arrive in the net's
    // native encoding: the first 16 embedding dims SIGN-BINARIZED to
    // {0,1} (the stack trained on binary vectors — ref SdA.scala trains
    // and predicts on Array[Int]), which also makes the class output
    // vary with each row's sign pattern instead of saturating.
    "deeplearn_sda_predict" -> ((s, dir) => {
      val (ls, hw, hb) = sdaDemoWeights
      graft.ml.DeepLearn.sdaPredictQuantized(
        rd(s, dir, "embeddings").withColumn("emb16",
          transform(slice(col("embedding"), 1, 16),
            x => when(x > lit(0.0f), lit(1.0)).otherwise(lit(0.0)))),
        "vec_id", "emb16", ls, hw, hb).orderBy("vec_id")
    }),

    // the DBN's predict path through the SAME distributed scorer and the
    // same generated-oracle machinery — pretraining differs (CD-1 RBMs),
    // inference math is shared, so gating both pins the whole stack family
    "deeplearn_dbn_predict" -> ((s, dir) => {
      val (ls, hw, hb) = dbnDemoWeights
      graft.ml.DeepLearn.sdaPredictQuantized(
        rd(s, dir, "embeddings").withColumn("emb16",
          transform(slice(col("embedding"), 1, 16),
            x => when(x > lit(0.0f), lit(1.0)).otherwise(lit(0.0)))),
        "vec_id", "emb16", ls, hw, hb).orderBy("vec_id")
    }),

    // ---------------- HMM Viterbi decode (r14): the trained-then-decode
    // path under the hash gate. The demo model is fixture-trained at
    // class-init (pure Scala, spec-pinned equal to HMM.fitSupervised);
    // documents fold into 16 symbol sequences and each is decoded on
    // executors with the model as closure literals — the oracle replays
    // the DP in a recursive CTE over the SAME log parameters, bit-exact
    // (see hmmViterbiOracleSql). One shuffle on the sequence key.
    "hmm_viterbi_decode" -> ((s, dir) => {
      val obs = rd(s, dir, "documents")
        .select((col("doc_id") % 16).as("seq_id"), col("doc_id").as("ord"),
          (col("n_chars") % 4).cast("int").as("sym"))
      graft.ml.HMM.decodeAllDelta(obs, "seq_id", "ord", "sym", hmmDemoModel)(s)
        .orderBy("seq_id")
    }),

    // ---------------- FP-Growth frequent itemsets (r14): transactions are
    // divisibility patterns of doc_id over moduli {2,3,4,5,6} — nested
    // (m4 ⊂ m2, m6 ⊂ m2 ∩ m3) so multi-item sets genuinely pass the
    // threshold. minSupport 0.12 sits far from every itemset's true
    // frequency (nearest: 1/6 ≈ 0.167 above, 1/10 below), so the
    // ceil(minSupport·N) boundary is unambiguous at any SF. The oracle
    // enumerates all 31 candidate itemsets over the 5-item universe and
    // counts support relationally — an independent algorithm (brute
    // subset-counting) agreeing with the FP-tree on the exact support
    // counts, not just the survivor list.
    "fpgrowth_itemsets" -> ((s, dir) => {
      val tx = rd(s, dir, "documents").select(col("doc_id"),
        filter(array(Seq(2, 3, 4, 5, 6).map(m =>
          when(col("doc_id") % m === 0, lit(s"m$m"))): _*),
          x => x.isNotNull).as("items"))
      graft.ml.ML.fpGrowth(tx, "items", minSupport = 0.12, minConfidence = 0.6)
        .freqItemsets
        .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
        .orderBy("itemset")
    }),

    // ---------------- MinMax normalization (r14): the spark.ml MinMaxScaler
    // capability, not the NormalizationTrain/Apply FQCN body (a constant
    // field gives 0.5 here, 0 there). fit+transform over two derived
    // features. The affine is exactly replayable: min/max are selections
    // (no summation), the transform is ONE subtraction and ONE division per
    // value (×1.0 and +0.0 from the default [0,1] range are IEEE
    // identities), constant columns hit the documented 0.5 branch.
    "minmax_scale" -> ((s, dir) => {
      import org.apache.spark.ml.functions.vector_to_array
      val d = rd(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("double").as("f1"),
        (col("doc_id") % 97).cast("double").as("f2"))
      graft.ml.ML.minMaxScale(d, Seq("f1", "f2"), "scaled")
        .select(col("doc_id"),
          element_at(vector_to_array(col("scaled")), 1).as("s1"),
          element_at(vector_to_array(col("scaled")), 2).as("s2"))
        .orderBy("doc_id")
    }),

    // ---------------- one-hot encoding (r14): the spark.ml capability, not
    // the DummyVariable FQCN body (a vector here, a digit string there).
    // StringIndexer(alphabetAsc) + OneHotEncoder(dropLast) over `lang`.
    // Output reduced to integers (index, vector size, active position —
    // -1 for the dropped last category), so the gate is exact: the oracle
    // rebuilds the alphabetical index with dense_rank.
    "onehot_encode" -> ((s, dir) => {
      import org.apache.spark.ml.functions.vector_to_array
      graft.ml.ML.oneHot(
          rd(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "vec")
        .select(col("doc_id"), col("lang"),
          size(vector_to_array(col("vec"))).as("vec_size"),
          (array_position(vector_to_array(col("vec")), 1.0) - 1L).as("active"))
        .orderBy("doc_id")
    }),

    // ---------------- missing-value imputation (r14): the spark.ml Imputer
    // capability, not the Missingvalues FQCN body (the mode here, the
    // typed replacement there). Imputer in mode strategy — the only exactly
    // replayable one (mean is summation-order-dependent, median is
    // approxQuantile). The planted distribution makes the mode STRICTLY
    // unique at every prefix size (4-3-2 split per decade of doc_id), so
    // neither engine's tie rule is load-bearing.
    "impute_mode" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 9, lit(null).cast("double"))
          .otherwise(when(col("doc_id") % 10 < 4, lit(1.0))
            .otherwise(when(col("doc_id") % 10 < 7, lit(2.0))
              .otherwise(lit(3.0)))).as("v"))
      graft.ml.ML.impute(d, Seq("v"), strategy = "mode").orderBy("doc_id")
    }),

    // ---------------- document embeddings by mean-pooling a word-vector
    // table (vectors AS DATA, broadcast-joined; components here are a
    // deterministic hash embedding so the oracle rebuilds the identical
    // table): integer component sums are exact, the mean is one IEEE
    // division per dimension, the array reassembles ordered. The 16
    // components split ONE md5 digest per distinct word (byte j, signed)
    // — the earlier per-component digests made vocab synthesis 16 md5
    // calls per word and the slowest non-streaming query in the suite.
    "doc_embedding_pool" -> ((s, dir) => {
      // fanOut: tokenize+explode+pooling ran as ONE task on the single-file
      // scan (StageProbe: 3.0 s in one task); doc_id is the pooling
      // groupBy's key, so the exchange is subsumed downstream
      val d = fanOut(rd(s, dir, "documents"), col("doc_id"))
      // the token stream feeds two consumers (vocab distinct + pooling),
      // but pinning it is a measured LOSS (2.9 s → 3.8 s at sf0.1): the
      // corpus×tokens materialization costs more than re-running the
      // cheap tokenize+explode — unlike corpus_build_warc's kept set,
      // which is doc-sized with an expensive upstream chain
      val toks = d.select(col("doc_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
      val vecs = toks.select(col("w")).distinct()
        .withColumn("__h", md5(col("w"))) // materialized: digest once
        .select(col("w"), array((0 until 16).map(j =>
          (conv(substring(col("__h"), 2 * j + 1, 2), 16, 10).cast(LongType)
            - 128)): _*).as("v"))
      Similarity.meanPoolEmbedding(toks, "doc_id", "w", vecs, "w", "v")
        // the hash gate compares scalar cells: flatten (doc, dim, value)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .orderBy("doc_id", "dim")
    }),

    // ---------------- int8 scalar-quantized brute-force top-k: codes are
    // exact integers (floor(x·127/scale + 0.5) — identical IEEE ops in
    // both engines, unlike round()'s divergent half-way rules), the inner
    // product an order-free integer fold, de-scaling one fixed-order float
    // expression — the 4-bytes-per-dim → 1 memory-traffic scale path.
    "ann_sq8_topk" -> ((s, dir) => {
      Similarity.sq8TopK(rd(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0, k = 10)
    }),

    // ---------------- IVF ANN with a deterministic coarse quantizer: the 8
    // lowest-id vectors seed the (centroid_id, centroid) table, so assign →
    // probe → re-rank is fully oracle-replicable (k-means centers take the
    // same code path and are recall-spec'd)
    "ann_ivf_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      Similarity.ivfTopK(e, "vec_id", "embedding", lowestCentroids(e, "embedding", 8),
        queryId = 0, kResults = 10, nProbe = 2)
        .select(col("vec_id"), col("cosine").as("cos"))
    }),

    // ---------------- PQ + ADC top-k with deterministic codebooks: the 4
    // lowest-id vectors seed a 4-entry codebook per 8-dim subspace (m=8),
    // so encode (argmin per subspace) and the integerized ADC table scan
    // are fully oracle-replicable; the k-means-trained variant shares the
    // same encode/score path and is recall-spec'd
    "ann_pq_adc" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val seeds = e.orderBy("vec_id").limit(4)
        .select(col("embedding").cast(ArrayType(DoubleType)))
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      val books = Similarity.pqCodebooksFrom(seeds, m = 8)
      val enc = Similarity.pqEncodeExplicit(e, "embedding", books)
      Similarity.pqAdcTopK(enc, "vec_id", "embedding", books,
        queryId = 0, kResults = 10)
    }),

    // ---------------- IVF-PQ composite (the canonical billion-vector
    // layout) with the same deterministic seeds as its parts: the 8
    // lowest-id vectors coarse-quantize, the 4 lowest-id seed the
    // codebooks. Probe the 2 nearest posting lists, PQ-encode only the
    // probed slice, ADC-score the codes — end-to-end oracle-replicable.
    "ann_ivfpq" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, "vec_id", "embedding",
        lowestCentroids(e, "embedding", 8), lowestCodebooks(e, "embedding"),
        queryId = 0, kResults = 10, nProbe = 2, "centroid_id", "centroid")
    }),

    // ---------------- the same IVF-PQ search with the centroid table
    // numbered by position (0..7) instead of by vec_id: the (distance, id)
    // tie order is the same, so the same oracle hash must come back
    "ann_ivfpq_join" -> ((s, dir) => {
      import s.implicits._
      val e = rd(s, dir, "embeddings")
      val lows = e.orderBy("vec_id").limit(8)
        .select(col("embedding").cast(ArrayType(DoubleType)))
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      val cents = lows.zipWithIndex
        .map { case (v, i) => (i, v) }.toDF("centroid_id", "centroid")
      val books = Similarity.pqCodebooksFrom(lows.take(4), m = 8)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", cents, books,
        queryId = 0, kResults = 10, nProbe = 2, "centroid_id", "centroid")
    }),

    // ---------------- pretrained-embedding retrieval end-to-end: a
    // deterministic word2vec TEXT fixture (200 words × 64 dims,
    // v[i][j] = ((i·31 + j·17) % 97 − 48) / 64 — exact in float32, so
    // file → parse → float → double is bit-identical to the oracle's
    // double arithmetic) is written, read back through the word2vec text
    // SOURCE, and fed to the same IVF-PQ composite as ann_ivfpq.
    "w2v_ivfpq" -> ((s, dir) => {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_w2v_fixture.txt")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try {
        for (i <- 0 until 200)
          w.println("w" + i + " " + (0 until 64)
            .map(j => (((i * 31 + j * 17) % 97 - 48) / 64.0).toFloat).mkString(" "))
      } finally w.close()
      val vecs = graft.sources.Sources.word2vecText(s, tmp.getAbsolutePath)
        .select(substring(col("word"), 2, 10).cast(LongType).as("vec_id"),
          col("vector"))
      Similarity.ivfPqTopK(vecs, "vec_id", "vector",
        lowestCentroids(vecs, "vector", 8), lowestCodebooks(vecs, "vector"),
        queryId = 0, kResults = 10, nProbe = 2, "centroid_id", "centroid")
    }),

    // ---------------- embedding-cosine near-dup pairs, EXACT brute force
    // over a 300-vector slice (the LSH/IVF variants are the scale path and
    // spec-verified; approximation cannot hash-match an oracle). Vectors are
    // integerized (floor(x*1e6), IEEE-identical everywhere) so dot products
    // are exact BIGINTs — order-free sums — and the final cosine double is
    // computed from exact integers identically in both engines.
    "embedding_near_dup" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6).cast(LongType)).as("q"))
      val n = e.withColumn("n2", graft.operators.Similarity.idot(col("q"), col("q")))
      val a = n.select(col("vec_id").as("id1"), col("q").as("q1"), col("n2").as("n21"))
      val b = n.select(col("vec_id").as("id2"), col("q").as("q2"), col("n2").as("n22"))
      a.crossJoin(b).filter(col("id1") < col("id2"))
        .withColumn("dot", graft.operators.Similarity.idot(col("q1"), col("q2")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          (sqrt(col("n21").cast(DoubleType)) * sqrt(col("n22").cast(DoubleType))))
        .filter(col("cos") >= 0.4)
        .select("id1", "id2", "cos")
        .orderBy("id1", "id2")
    }),

    // ---------------- SemDeDup (Abbas et al. 2023): cluster-scoped semantic
    // dedup. The 16 lowest-id vectors are the centroids and vectors are
    // integerized (floor(x*1e6) — dots become exact sums < 2^53, so every
    // cosine double and the argmin assignment are bit-identical in both
    // engines); pairs form only within a cluster, duplicate groups are
    // connected components, and each group keeps its least-central member.
    "semantic_dedup" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      // fanOut: 16-centroid assignment + per-cell sort ran on the
      // single-file scan's one partition before
      Dedup.semanticDedup(fanOut(e, col("vec_id")), "vec_id", "q",
          lowestCentroids(e, "q", 16), tau = 0.4, "centroid_id", "centroid")
        .orderBy("vec_id")
    }),

    // ---------------- SEMANTIC decontamination (r14): the embedding
    // sibling of `decontaminate` — n-gram overlap misses paraphrased eval
    // leakage, so every corpus vector is scored by max cosine against the
    // benchmark slice (vec_id % 23, which also plants exact self-hits at
    // cosine 1.0). Bench rides as ONE broadcast row of (vec, norm)
    // structs; the corpus pays a single scan with an order-free greatest
    // fold (each pair cosine is independent, so collect_list's
    // non-deterministic order can't move the max). Integerized vectors
    // make every pair cosine bit-replayable.
    "semantic_decontaminate" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      Dedup.semanticDecontaminate(e, e.filter(col("vec_id") % 23 === 0),
          "vec_id", "q", tau = 0.9)
        .select(col("vec_id"), col("max_cos"), col("suspect"))
        .orderBy("vec_id")
    }),

    // ---------------- LSH ANN top-k (the approximate scale path). The
    // md5-derived hyperplanes are deterministic, so the ENTIRE approximate
    // pipeline — sign-bit buckets, 4-table candidate set, exact re-rank —
    // is reproduced by the oracle: the approximation itself is
    // hash-checked, not just the brute-force baseline.
    "ann_lsh_topk" -> ((s, dir) => {
      Similarity.annTopK(rd(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0, dim = 64, k = 10, tables = 4, nPlanes = 8)
        .select(col("vec_id"), col("cosine").as("cos"))
    }),

    // ---------------- language id (marker-token heuristic)
    "lang_id" -> ((s, dir) => {
      rd(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // ---------------- quality scoring
    "quality_score" -> ((s, dir) => {
      TextAnalysis.qualityScore(rd(s, dir, "documents").select("doc_id", "text"), "text")
        .select("doc_id", "n_tokens", "n_punct", "n_stop", "quality")
        .orderBy("doc_id")
    }),

    // ---------------- token counting (whitespace + BPE-ish regex)
    "token_count" -> ((s, dir) => {
      TextAnalysis.tokenCounts(rd(s, dir, "documents").select("doc_id", "text"), "text")
        .select("doc_id", "ws_tokens", "bpeish_tokens")
        .orderBy("doc_id")
    }),

    // ---------------- BPE tokenizer TRAINING (Sennrich et al. 2016):
    // learn merge rules from the corpus — one tokenize shuffle, then K
    // vocab-sized iterations; only the per-step argmax reaches the driver
    "bpe_train" -> ((s, dir) => {
      import s.implicits._
      val (merges, _) = graft.operators.Bpe.train(
        rd(s, dir, "documents").select("text"), "text", bpeMerges)
      merges.toDF().select("step", "lft", "rgt", "merged", "cnt")
        .orderBy("step")
    }),

    // ---------------- BPE encoding with corpus-trained merges: distinct
    // words encoded once, broadcast-joined back to per-doc counts
    "bpe_encode" -> ((s, dir) => {
      // fanOut: train's word-count pass and the per-doc encode both ran
      // single-task on the single-file scan (StageProbe)
      val docs = fanOut(rd(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      val (merges, vocab) = graft.operators.Bpe.train(
        docs.select("text"), "text", bpeMerges)
      graft.operators.Bpe.encodeCountsFromVocab(docs, "doc_id", "text",
        vocab, merges)
        .orderBy("doc_id")
    }),

    // ---------------- byte-level BPE (r9): GPT-2-style pretokenization —
    // the regex keeps each pretoken's leading space and every byte maps
    // through the 256-symbol bytes_to_unicode bijection (space -> Ġ), so
    // any UTF-8 input is representable with no end-of-word marker. Same
    // vocab-table training loop and broadcast-encode scale shape as the
    // word-level rows above.
    "bpe_bytes_train" -> ((s, dir) => {
      import s.implicits._
      val (merges, _) = graft.operators.Bpe.trainBytes(
        rd(s, dir, "documents").select("text"), "text", bpeMerges)
      merges.toDF().select("step", "lft", "rgt", "merged", "cnt")
        .orderBy("step")
    }),
    "bpe_bytes_encode" -> ((s, dir) => {
      // fanOut: same shape as bpe_encode (byte-level pretokenize is the
      // per-row-heaviest variant; StageProbe: 1.6 s of single-task stages)
      val docs = fanOut(rd(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      val (merges, vocab) = graft.operators.Bpe.trainBytes(
        docs.select("text"), "text", bpeMerges)
      graft.operators.Bpe.encodeCountsFromVocabBytes(docs, "doc_id", "text",
        vocab, merges)
        .orderBy("doc_id")
    }),

    // ---------------- PII scrubbing (emails/phones redacted + counted)
    "pii_scrub" -> ((s, dir) => {
      TextAnalysis.piiScrub(rd(s, dir, "documents").select("doc_id", "text"),
        "text", "clean")
        .select("doc_id", "n_emails", "n_phones", "clean")
        .orderBy("doc_id")
    }),

    // ---------------- Luhn-validated card scrubbing: candidates planted
    // with the SAME expression as the oracle — two Luhn-valid numbers (one
    // space-separated) are redacted and counted, the checksum-invalid
    // digit run is provably left alone. Pure HOF fold, no UDF.
    "card_scrub" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val synth = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" card 4111111111111111 ok")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" pay 5500 0000 0000 0004 now")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" order 4111111111111112 ref")).otherwise(lit("")))
      TextAnalysis.cardScrub(d.select(col("doc_id"), synth.as("text")), "text", "clean")
        .select("doc_id", "n_cards", "clean").orderBy("doc_id")
    }),

    // ---------------- Gopher-style repetition filter signals
    "repetition_stats" -> ((s, dir) => {
      TextAnalysis.repetitionStats(
        rd(s, dir, "documents").select("doc_id", "text"), "text")
        .select("doc_id", "dup_line_frac", "dup_2gram_frac", "mean_word_len")
        .orderBy("doc_id")
    }),

    // ---------------- document fingerprint (rolling hash)
    "doc_fingerprint" -> ((s, dir) => {
      rd(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---------------- NLP: PMI of co-occurring tokens (§2.11 PMIProcessor).
    // Output is the exact integer ratio (n_xy·N)/(n_x·n_y) — monotonic in
    // PMI — because log() is not guaranteed bit-identical across engines.
    "pmi" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      // corpus size folded in as a broadcast 1-row aggregate — no eager
      // d.count() driver job before the main plan
      val total = d.agg(count(lit(1)).as("__n_docs"))
      val toks = d.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 50)
      val tv = toks.join(broadcast(freq), Seq("tok"))
      val a = tv.select(col("doc_id"), col("tok").as("x"), col("df").as("nx"))
      val b = tv.select(col("doc_id"), col("tok").as("y"), col("df").as("ny"))
      a.join(b, Seq("doc_id")).filter(col("x") < col("y"))
        .groupBy(col("x"), col("y"), col("nx"), col("ny"))
        .agg(count(lit(1)).as("nxy"))
        .crossJoin(broadcast(total))
        .select(col("x"), col("y"), col("nxy"),
          ((col("nxy") * col("__n_docs")).cast(DoubleType) /
            (col("nx") * col("ny")).cast(DoubleType)).as("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("x"), col("y"))
        .limit(20)
    }),

    // ---------------- §2.11 tokenization + array plumbing, split out of the
    // NLP UDF pipeline so the expression-level part is oracle-checked and
    // only the dictionary/automaton UDF outputs stay rows-only.
    "nlp_tokenize" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      rd(s, dir, "documents").select(
        col("doc_id"),
        array_join(toks, " ").as("toks"),
        size(toks).cast(LongType).as("n_tokens"), // BIGINT on both sides: the
        size(array_distinct(toks)).cast(LongType).as("n_distinct"), // pandas gate is dtype-sensitive
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"))
        .orderBy("doc_id")
    }),

    // ---------------- §2.11 stem → POS-tag → RBEM polarity pipeline.
    // No DuckDB oracle (dictionary/automaton algorithms aren't SQL-
    // expressible offline) → driver records the weaker rows-only check;
    // semantics are spec-verified against the published Porter vocabulary
    // and planted RBEM sentences (NlpSpec).
    "nlp_stem_pos_sentiment" -> ((s, dir) => {
      // small source = one scan partition; spread the dictionary UDF work
      val d = rd(s, dir, "documents").select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", TextAnalysis.tokens(col("text")))
      Nlp.nlpPipeline(d, "toks", "stemmed", "pos_tags", "polarity")
        .select(col("doc_id"), col("stemmed"), col("pos_tags"), col("polarity"))
        .orderBy("doc_id")
    }),

    // ---------------- RBEM emotion scores (r9): one emission pass per
    // emotion lexicon through the same modifier machinery. The corpus has
    // no emotion vocabulary, so deterministic clauses are planted with the
    // SAME expression as the oracle (the card_scrub pattern) — they
    // exercise amplifiers, stops, and both flip directions.
    "nlp_emotion" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" very happy but sad")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" not angry though afraid hate cry")).otherwise(lit("")))
      val d = rd(s, dir, "documents")
        .select(col("doc_id"), planted.as("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("toks", TextAnalysis.tokens(col("text")))
      val tagged = Nlp.posTags(d, "toks", "tags")
      Nlp.emotion(tagged, "toks", "tags", "emo")
        .select(col("doc_id"),
          element_at(col("emo"), "happiness").as("happiness"),
          element_at(col("emo"), "sadness").as("sadness"),
          element_at(col("emo"), "anger").as("anger"),
          element_at(col("emo"), "fear").as("fear"))
        .orderBy("doc_id")
    }),

    // ---------------- §2.11 DocumentProcessor — assemble lines into documents
    "document_assembly" -> ((s, dir) => {
      Nlp.assembleDocument(rd(s, dir, "events"), Seq("user_id"), "event_type",
        "event_id", "doc").orderBy("user_id")
    }),

    // ---------------- near-dup CLUSTERING: LSH pairs → connected components.
    // The full fuzzy-dedup pipeline shape for a 100 TB corpus: candidate
    // pairs (band-bucketed, never all-pairs) → alternating star contraction
    // (O(log n) rounds of node-keyed shuffles) → every doc labeled with the
    // min doc id of its duplicate cluster.
    "dedup_cluster" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.nearDupClusters(d, "text", "doc_id", n = 3, k = 8, bands = 4,
        threshold = 0.5)
        .orderBy("doc_id")
    }),

    // ---------------- retention after clustering: one kept doc per cluster
    // (the cluster id IS the kept doc — smallest id first-seen policy);
    // csize tells how many near-dups each kept doc absorbs.
    "dedup_retention" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.nearDupClusters(d, "text", "doc_id", n = 3, k = 8, bands = 4,
        threshold = 0.5)
        .groupBy("cluster").agg(count(lit(1)).as("csize"))
        .orderBy("cluster")
    }),

    // ---------------- quality-aware retention: instead of first-seen, keep
    // the HIGHEST-QUALITY doc per near-dup cluster (ties → larger id). The
    // quality doubles are bit-identical cross-engine (quality_score proves
    // it), so the argmax is deterministic.
    "dedup_retention_quality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val clusters = Dedup.nearDupClusters(d, "text", "doc_id",
        n = 3, k = 8, bands = 4, threshold = 0.5)
      val q = TextAnalysis.qualityScore(
          d.select(col("doc_id").as("qid"), col("text")), "text")
        .select(col("qid"), col("quality"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("quality").desc, col("doc_id").desc)
      clusters.join(q, clusters("doc_id") === q("qid"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("keep_id"), col("quality"))
        .orderBy("cluster")
    }),

    // ---------------- cross-document segment dedup (RefinedWeb/Falcon
    // "line dedup"): segments shared by >1 docs are boilerplate, stripped
    // from every doc. The synthetic docs have no newlines, so the
    // deterministic segmentation is 8-token chunks.
    "line_dedup" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.segmentDedup(d, "doc_id", Dedup.tokenChunks(col("text"), 8),
        maxDocs = 1, joinSep = " ")
        .orderBy("doc_id")
    }),

    // ---------------- benchmark decontamination: docs with doc_id % 97 == 0
    // act as the "eval set"; every other doc is flagged if it shares any
    // 8-token shingle with that set.
    "decontaminate" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // same semantics via the broadcast-bloom semi-join (the shuffle-join
    // scale path); shares decontaminate's oracle — bloom false positives are
    // removed by the exact verify join, so results are identical
    "decontaminate_bloom" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.decontaminateBloom(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---------------- weight-proportional Poisson sampling (expected size
    // 50, inclusion ∝ n_chars): ONE scalar total broadcasts, then the
    // corpus is a pure filter — no sort/top-k/shuffle, the cheapest PPS
    // sampler at 100 TB. Decimal-widened integer compare ⇒ bit-identical.
    "poisson_sample" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Corpus.poissonWeightedSample(d, "doc_id", col("n_chars"), k = 50)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // ---------------- temperature-weighted corpus mixture sampling over the
    // source column (alpha=0.5: post-sample sizes ∝ sqrt of raw sizes)
    "corpus_mix" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Corpus.mixtureSample(d, "source", "doc_id", alpha = 0.5)
        .select(col("doc_id"), col("source"), col("mix_rate"))
        .orderBy("doc_id")
    }),

    // ---------------- token cleanup chain (reference NLP cleanup family):
    // stopword removal -> single-punctuation-token removal -> short-token
    // removal -> case fold; punctuation/short tokens are planted so every
    // stage demonstrably bites
    "text_cleanup" -> ((s, dir) => {
      import graft.operators.Cleanup
      val d = rd(s, dir, "documents")
      val toks = TextAnalysis.tokens(
        concat(col("text"), lit(" . ; ! ab xy) z the")))
      // punctuationRemover only ever drops 1-char tokens (^\p{P}$), so it
      // runs on its own branch vs the length filter: the planted "z" (kept
      // here, dropped by n>2) and "." (dropped here) separate the two
      val base = Cleanup.punctuationRemover(
        Cleanup.stopwordRemover(toks, "en_US"))
      val cleaned = Cleanup.caseConvert(base, uppercase = true)
      d.select(col("doc_id"), array_join(cleaned, " ").as("cleaned"),
          size(cleaned).cast(LongType).as("n_kept"),
          size(Cleanup.nCharsRemover(base, 2)).cast(LongType).as("n_long"))
        .orderBy("doc_id")
    }),

    // ---------------- fixed-width field cutting (reference CSV module):
    // widths 5/7/4 with the remainder kept, reference substringFetch shape
    "fixed_width" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Cleanup.fixedWidth(
          d.select(col("doc_id"), col("text")), "text", Seq(5, 7, 4),
          headers = Some(Seq("f1", "f2", "f3", "rest")), flatten = true)
        .select(col("doc_id"), col("f1"), col("f2"), col("f3"),
          length(col("rest")).cast(LongType).as("rest_len"))
        .orderBy("doc_id")
    }),

    // ---------------- deterministic train/validation/test assignment
    "corpus_split" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Corpus.splitAssign(d, "doc_id",
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // ---------------- deterministic global shuffle: training-order
    // randomization via salted-hash sort + scalable global index
    "corpus_shuffle" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Corpus.deterministicShuffle(d.select("doc_id"), "doc_id")
        .select(col("doc_id"), col("shuffle_key"), col("pos"))
        .orderBy("doc_id")
    }),

    // ---------------- sliding-window chunking (r12): BERT-stride /
    // retrieval-indexing long-doc prep — windows of 64 tokens advancing
    // by 48 (16-token overlap), final short window kept so no token
    // drops. Pure per-row sequence+explode, no shuffle; chunk text rides
    // as its md5 so the artifact stays compact.
    "chunk_sliding" -> ((s, dir) => {
      graft.operators.Corpus.chunkSliding(rd(s, dir, "documents"),
        "doc_id", "text", window = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_id"), col("start"),
          col("n_toks"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---------------- concatenate-and-chunk sequence packing: 8 shards,
    // 512-token sequences over whitespace token counts
    "pack_sequences" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Corpus.packSequences(d, "doc_id",
        size(TextAnalysis.tokens(col("text"))), nShards = 8, budget = 512)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // ---------------- document-boundary-preserving packing (next-fit per
    // shard): whole docs into ≤128-token bins, oversize docs get their own
    // bin — the SFT/long-context sibling of pack_sequences' chunking. The
    // oracle replays the sequential walk as a recursive CTE.
    "pack_docs_nosplit" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Corpus.packDocsNoSplit(d, "doc_id",
        size(TextAnalysis.tokens(col("text"))), nShards = 8, budget = 128)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // ---------------- bigram-LM self-scoring (CCNet-style perplexity
    // filtering): per-doc add-one-smoothed log-prob, integerized per term
    "lm_perplexity" -> ((s, dir) => {
      // fanOut: two tokenize+bigram passes + vocab pass, all single-task on
      // the single-file scan before (StageProbe)
      val d = fanOut(rd(s, dir, "documents"), col("doc_id"))
      graft.operators.LangModel.selfScore(d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---------------- per-group midrank quantile normalization (r15):
    // the score-calibration step — each doc's length mapped to its
    // source's empirical CDF position, so one global threshold means the
    // same thing in every source. Exact integer rank algebra, one IEEE
    // division.
    "midrank_normalize" -> ((s, dir) => {
      val d = rd(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast(LongType).as("len"))
      graft.ml.Stats.midrankNormalize(d, Seq("source"), "len", "cdf")
        .orderBy("doc_id")
    }),

    // ---------------- per-source Spearman rank correlation (r15): exact
    // end to end — doubled average ranks stay integers through ties,
    // every moment is an integer sum, ρ is one fixed double expression.
    // Ranks derive from the value-count table (value-cardinality-sized
    // windows per group), never a corpus sort.
    "spearman_corr" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .withColumn("len", length(col("text")).cast(LongType))
        .withColumn("ntok",
          size(graft.operators.TextAnalysis.tokens(col("text"))).cast(LongType))
      graft.ml.Stats.spearmanCorr(d, Seq("source"), "len", "ntok")
        .orderBy("source")
    }),

    // ---------------- retrieval rank-eval metrics (r15): recall@10 / MRR
    // / NDCG@10 of the JL two-stage rerank graded against exact cosine
    // truth for three query vectors — the SCALE.md recall table as a
    // hash-gated query (both stages deterministic, so every metric is a
    // fixed number).
    "rank_eval_rproj" -> ((s, dir) => {
      // fanOut both scan shapes: 3 rproj + 3 exact-cosine corpus passes
      // each ran single-task on the single-file embeddings scan
      val e = fanOut(rd(s, dir, "embeddings"), col("vec_id"))
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val eRaw = fanOut(rd(s, dir, "embeddings"), col("vec_id"))
      val qids = Seq(0L, 7L, 42L)
      // 6 consumers: 2 per query, the projection is query-independent
      val proj = Similarity.randomProject(e, "v", dIn = 64, dOut = 16, "__p")
        .transform(Ops.materialize)
      val predicted = qids.map { q =>
        Similarity.rprojRerankTopKFrom(proj, "vec_id", "v", q,
          m = 50, k = 10).withColumn("qid", lit(q))
      }.reduce(_ unionAll _)
      val truth = qids.map { q =>
        Similarity.cosineTopK(eRaw, "vec_id", "embedding",
          queryId = q, k = 10).withColumn("qid", lit(q))
      }.reduce(_ unionAll _)
      graft.operators.Similarity.rankEval(predicted, truth,
        "qid", "vec_id", "cos", k = 10)
        .orderBy("qid")
    }),

    // ---------------- reciprocal-rank fusion (r15): the standard hybrid-
    // retrieval combiner, here fusing two query vectors' exact cosine
    // top-10 lists (multi-query fusion). Rank-only, integerized
    // contributions — no score calibration, order-free sums.
    "rrf_fuse_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
      val la = Similarity.cosineTopK(e, "vec_id", "embedding", queryId = 0, k = 10)
      val lb = Similarity.cosineTopK(e, "vec_id", "embedding", queryId = 42, k = 10)
      graft.operators.Similarity.rrfFuse(
        Seq((la, "vec_id", "cosine"), (lb, "vec_id", "cosine")), c = 60, k = 10)
        .orderBy(col("rrf_q").desc, col("id").asc)
    }),

    // ---------------- pairwise Jensen–Shannon source drift (r15): exact
    // unigram-distribution divergence per source pair — the frequency-
    // sensitive complement to kmv_pairwise_overlap's set estimate. One
    // token-count pass; only shared tokens join (one-sided JS mass
    // collapses analytically); all aggregates integer-quantized so the
    // sums are order-free.
    "js_divergence_pairwise" -> ((s, dir) => {
      graft.operators.LangModel.jsDivergencePairwise(
        rd(s, dir, "documents"), "source", "text")
        .orderBy("source_a", "source_b")
    }),

    // ---------------- interpolated Kneser–Ney bigram scoring (r15): the
    // standard n-gram smoothing (continuation counts + absolute discount),
    // trained on even docs and scoring odd docs so every branch fires —
    // seen bigram (discounted ML + backoff), unseen bigram under a seen
    // context (pure backoff), unseen context (continuation-only).
    "kn_bigram_score" -> ((s, dir) => {
      val d = fanOut(rd(s, dir, "documents"), col("doc_id"))
      val train = d.filter(col("doc_id") % 2 === 0)
      val test = d.filter(col("doc_id") % 2 === 1)
      val (bigrams, contexts, cont, totals) =
        graft.operators.LangModel.trainKneserNey(train, "doc_id", "text")
      graft.operators.LangModel.scoreKneserNey(test, "doc_id", "text",
        bigrams, contexts, cont, totals, d = 0.75)
        .orderBy("doc_id")
    }),

    // ---------------- cross-corpus near-dup (crawl-over-crawl dedup):
    // even doc_ids play the incoming crawl, odd ones the retained corpus
    "cross_corpus_dedup" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select("doc_id", "text")
      graft.operators.Dedup.crossCorpusNearDups(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.3)
        .orderBy("in_id", "ref_id")
    }),

    // ---------------- corpus data card: per-language report of the
    // numbers every dataset release documents (docs, tokens, chars,
    // source diversity, exact-dup incidence) — one pass + one hash join
    "corpus_stats" -> ((s, dir) => {
      val t = rd(s, dir, "documents").select(col("lang"), col("source"),
        col("n_chars").cast(LongType).as("nc"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType).as("ntok"),
        md5(col("text")).as("h"))
      val hc = t.groupBy(col("h")).agg(count(lit(1)).as("k"))
      t.join(hc, Seq("h"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(col("nc")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"),
          sum(when(col("k") >= 2, lit(1L)).otherwise(lit(0L)))
            .as("n_exact_dup_docs"))
        .orderBy("lang")
    }),

    // ---------------- exact k-NN self-join (hard-negative mining /
    // dedup-sweep baseline): per-vector top-5 neighbors, oracle-exact on
    // the integerized slice; the scale path is Similarity.knnJoinIvf
    "ann_knn_join" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      graft.operators.Similarity.knnJoinExact(e, "vec_id", "q", k = 5)
        .orderBy("id", "rank")
    }),

    // ---------------- the same k-NN join over the slice spread across 7
    // partitions: the bounded-heap topk_by aggregate merges per-partition
    // partials, and its output must not depend on how the pairs were split
    "ann_knn_join_heap" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
        .repartition(7)
      graft.operators.Similarity.knnJoinExact(e, "vec_id", "q", k = 5)
        .orderBy("id", "rank")
    }),

    // ---------------- IVF-cell-scoped k-NN join (the scale path of
    // ann_knn_join): the 32 lowest-id integerized vectors as the centroid
    // table, 2-probe candidate join, exact re-rank — the whole pipeline
    // under the hash gate
    "ann_knn_join_ivf" -> ((s, dir) => {
      val e0 = rd(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      val cents = e0.filter(col("vec_id") < 32)
        .select(col("vec_id").as("centroid_id"), col("q").as("centroid"))
      // fanOut: the centroid assignment + candidate join + exact rerank
      // ran on 1-2 tasks of the single-file scan (StageProbe: ~2.8 s)
      val e = fanOut(e0, col("vec_id"))
      graft.operators.Similarity.knnJoinIvf(e, "vec_id", "q", cents,
        k = 3, nProbe = 2, "centroid_id", "centroid")
        .orderBy("id", "rank")
    }),

    // ---------------- IVF assignment with centroids as DATA: the 64
    // lowest-id vectors form a (centroid_id, centroid) DataFrame that
    // broadcast-hash-joins against every row — at 100 TB the same plan
    // carries SemDeDup's k ≈ √N. Integerized vectors make every distance
    // double exact, so the argmin assignment hash-matches.
    "ivf_assign_join" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      val cents = e.filter(col("vec_id") < 64)
        .select(col("vec_id").as("centroid_id"), col("q").as("centroid"))
      Similarity.ivfAssignJoin(e, "vec_id", "q", cents)
        .select(col("vec_id"), col("__centroid").cast(LongType).as("centroid"))
        .orderBy("vec_id")
    }),

    // ---------------- SemDeDup with a 64-centroid quantizer: the same
    // pipeline as semantic_dedup at 4× its centroid count (assignment +
    // centroid-similarity in one broadcast-join pass) under the hash gate.
    "semantic_dedup_join" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      val cents = e.filter(col("vec_id") < 64)
        .select(col("vec_id").as("centroid_id"), col("q").as("centroid"))
      Dedup.semanticDedup(fanOut(e, col("vec_id")), "vec_id", "q", cents,
          tau = 0.4, "centroid_id", "centroid")
        .orderBy("vec_id")
    }),

    // ---------------- UniMax budget allocation (Chung et al. 2023):
    // char-budgeted uniform sharing, 2-epoch cap, deterministic
    // fractional-epoch draws
    "corpus_unimax" -> ((s, dir) => {
      graft.operators.Corpus.unimaxSample(
        rd(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "doc_id", budget = 250000.0, maxEpochs = 2.0,
        sizeCol = Some("n_chars"))
        .select("doc_id", "source", "n_epochs")
        .orderBy("doc_id")
    }),

    // ---------------- CCNet perplexity tiers (Wenzek et al. 2020): per
    // language, head/middle/tail terciles of LM perplexity
    "ppl_buckets" -> ((s, dir) => {
      // fan out the single-file scan before the per-row-heavy tokenize
      // (the dedup-family discipline — r7 replaced r6's global 256 KB
      // split override with per-query repartitions like this one)
      graft.operators.LangModel.perplexityBuckets(
        rd(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),

    // ---------------- the same tiers via percentile-of-histogram — the
    // skewed-language 100 TB shape (no per-language corpus-sized sort;
    // thresholds from an integer-bin histogram, assignment by comparison)
    "ppl_buckets_hist" -> ((s, dir) => {
      graft.operators.LangModel.perplexityBucketsHist(
        rd(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),

    // ---------------- exact duplicate-substring removal (Lee et al. 2022
    // ExactSubstr, distributed): 8-token windows, double rolling hash,
    // minimal occurrence kept, merged removal intervals per doc
    "substring_dedup" -> ((s, dir) => {
      Dedup.substringDedup(rd(s, dir, "documents"), "doc_id", "text", l = 8)
        .orderBy("doc_id")
    }),

    // ---------------- the full Gopher quality-rule battery (Rae et al.
    // 2021 §A1.1): integer-count ratios, so every statistic and the
    // composite keep bit are bit-identical in the oracle
    "gopher_filter" -> ((s, dir) => {
      graft.operators.TextAnalysis.gopherFilter(rd(s, dir, "documents"), "text")
        .select("doc_id", "n_words", "mean_word_len", "hash_ratio",
          "ellipsis_ratio", "bullet_frac", "ellipsis_line_frac", "alpha_frac",
          "n_req_stop", "keep")
        .orderBy("doc_id")
    }),

    // ---------------- the Gopher n-gram repetition rules (Table A1):
    // top-{2,3,4}-gram and duplicated-{5..10}-gram character fractions
    "gopher_repetition" -> ((s, dir) => {
      // fan-out repartition: the explode→window→count pipeline is the
      // per-row-heaviest query in the suite; hashing by doc_id here also
      // IS the window's required distribution (and the gram counts', whose
      // keys contain doc_id), so no further exchange. The partition count
      // must scale with the CORPUS, not the core count: every downstream
      // stage reuses this partitioning, and ~9 grams/token × mostly-unique
      // keys means the per-task aggregation state is proportional to
      // docs/partition — ~200 docs/task keeps it ~100 MB at any scale
      // (measured: 32 fixed partitions at 10× sf0.1 = 60-300 s of
      // spill/GC; 250 count-scaled partitions = linear wall-clock).
      val d = rd(s, dir, "documents")
      val n = math.max(s.sparkContext.defaultParallelism,
        (d.count() / 200).toInt)
      graft.operators.TextAnalysis.gopherRepetition(
        d.repartition(n, col("doc_id")), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---------------- DSIR importance weights (Xie et al. 2023): the
    // held-out doc_id % 97 == 0 slice is the trusted target (the same split
    // decontaminate uses as its benchmark); every other document is scored
    // by its hashed-unigram+bigram likelihood ratio, per-term quantized
    "dsir_weights" -> ((s, dir) => {
      // fanOut: same single-task scoring pass as dsir_resample
      val d = fanOut(rd(s, dir, "documents"), col("doc_id"))
      graft.operators.LangModel.dsirWeights(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---------------- KMV distinct-count sketch: per-source distinct
    // bigram cardinality, estimated from the 64 smallest hashes — the
    // deterministic, oracle-replayable form of production HLL sketches;
    // exact count rides along to show the estimate lands
    "kmv_distinct" -> ((s, dir) => {
      val toks = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("source"), graft.operators.TextAnalysis.tokens(col("text")).as("__toks"))
      // size >= 2 guard: sequence(1, k) is DESCENDING for k < 1
      val bigrams = toks.filter(size(col("__toks")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat(element_at(col("__toks"), i), lit(" "),
              element_at(col("__toks"), i + 1)))).as("bg"))
      val est = graft.operators.Sketch.kmvDistinct(bigrams, Seq("source"), col("bg"), k = 64)
      val exact = bigrams.groupBy(col("source"))
        .agg(count_distinct(col("bg")).as("n_exact"))
      // null-safe join: the oracle joins IS NOT DISTINCT FROM, so a null
      // source group must survive on the Spark side too (cf. corpus_mix)
      val exactR = exact.withColumnRenamed("source", "__src")
      est.join(exactR, col("source") <=> col("__src"))
        .drop("__src").orderBy("source")
    }),

    // ---------------- Same sketch over the un-fanned scan: the
    // bounded-heap bottom-k (plans.KmvBottomK) merges per-partition
    // partials, and the bottom-k set is order-free, so the estimate must
    // hash-match kmv_distinct's whatever the input partitioning.
    "kmv_distinct_heap" -> ((s, dir) => {
      val toks = rd(s, dir, "documents")
        .select(col("source"), graft.operators.TextAnalysis.tokens(col("text")).as("__toks"))
      // size >= 2 guard: sequence(1, k) is DESCENDING for k < 1
      val bigrams = toks.filter(size(col("__toks")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat(element_at(col("__toks"), i), lit(" "),
              element_at(col("__toks"), i + 1)))).as("bg"))
      val est = graft.operators.Sketch.kmvDistinct(bigrams, Seq("source"), col("bg"), k = 64)
      val exact = bigrams.groupBy(col("source"))
        .agg(count_distinct(col("bg")).as("n_exact"))
      val exactR = exact.withColumnRenamed("source", "__src")
      est.join(exactR, col("source") <=> col("__src"))
        .drop("__src").orderBy("source")
    }),

    // ---------------- HyperLogLog distinct-bigram estimate per source:
    // deterministic registers (shared 60-bit hash, shared bucket/rank
    // integer math), harmonic sum as an EXACT integer, estimate = one
    // floor'd IEEE division — the whole sketch is under the hash gate.
    // Unlike KMV there is no distinct-reduce: register build is a direct
    // m-bounded groupBy-max, the shape to ship when even the distinct-hash
    // table is too big to shuffle.
    "hll_distinct" -> ((s, dir) => {
      val toks = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("source"), graft.operators.TextAnalysis.tokens(col("text")).as("__toks"))
      val bigrams = toks.filter(size(col("__toks")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat(element_at(col("__toks"), i), lit(" "),
              element_at(col("__toks"), i + 1)))).as("bg"))
      val est = graft.operators.Sketch.hllDistinct(bigrams, Seq("source"), col("bg"), p = 8)
      val exact = bigrams.groupBy(col("source"))
        .agg(count_distinct(col("bg")).as("n_exact"))
      val exactR = exact.withColumnRenamed("source", "__src")
      est.join(exactR, col("source") <=> col("__src"))
        .drop("__src").orderBy("source")
    }),

    // ---------------- HLL mergeability under the oracle: per-source
    // register tables union into a corpus-wide sketch via groupBy(bucket)
    // .max(r) — the distributive merge that makes HLL the
    // shard-then-combine cardinality sketch (per-shard registers ride as
    // m-row data; no re-scan of any shard to get the global count).
    "hll_union" -> ((s, dir) => {
      val toks = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("source"), graft.operators.TextAnalysis.tokens(col("text")).as("__toks"))
      val bigrams = toks.filter(size(col("__toks")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat(element_at(col("__toks"), i), lit(" "),
              element_at(col("__toks"), i + 1)))).as("bg"))
      val perSource = graft.operators.Sketch.hllRegisters(bigrams, Seq("source"), col("bg"), p = 8)
      val merged = perSource.groupBy(col("bucket"))
        .agg(max(col("r")).cast(org.apache.spark.sql.types.LongType).as("r"))
      val est = graft.operators.Sketch.hllEstimate(merged, Nil, p = 8)
      val exact = bigrams.agg(count_distinct(col("bg")).as("n_exact"))
      est.crossJoin(exact)
    }),

    // ---------------- streaming HLL under the oracle via a TWO-BATCH
    // MemoryStream replay: docs 0-249 arrive, the batch commits its
    // registers, docs 250+ fold into the RETAINED state — the final
    // estimates (min/min/max over the monotone update stream) must equal
    // the batch fold over the whole corpus, which is what the oracle
    // computes. Cross-batch register merge itself is hash-gated.
    "streaming_hll_2batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      val (b1, b2) = docs.partition(_._1 < 250)
      replay(s, "update", Seq(b1, b2)) { (_, in) =>
        val stream = in.toDF("doc_id", "source", "text")
          .repartition(4, col("doc_id"))
        val toks = graft.operators.TextAnalysis.tokens(col("text"))
        val bg = stream.withColumn("__toks", toks)
          .filter(size(col("__toks")) >= 2)
          .select(col("source"),
            explode(transform(sequence(lit(1), size(col("__toks")) - 1),
              i => concat(element_at(col("__toks"), i), lit(" "),
                element_at(col("__toks"), i + 1)))).as("bg"))
        graft.streaming.Streams.streamingHllDistinct(bg, "source", "bg", p = 8)
      }.groupBy(col("source"))
        .agg(min("n_zero").as("n_zero"), min("sum_scaled").as("sum_scaled"),
          max("hll_est").as("hll_est"))
        .orderBy("source")
    }),

    // ---------------- streaming KMV under the oracle via the same
    // two-batch replay: bottom-k state folds across the batch boundary,
    // final values (max/max — n_kept and est are both monotone
    // non-decreasing) must equal the batch sketch over the whole corpus.
    "streaming_kmv_2batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      val (b1, b2) = docs.partition(_._1 < 250)
      replay(s, "update", Seq(b1, b2)) { (_, in) =>
        val stream = in.toDF("doc_id", "source", "text")
          .repartition(4, col("doc_id"))
        val bg = stream.withColumn("__toks", graft.operators.TextAnalysis.tokens(col("text")))
          .filter(size(col("__toks")) >= 2)
          .select(col("source"),
            explode(transform(sequence(lit(1), size(col("__toks")) - 1),
              i => concat(element_at(col("__toks"), i), lit(" "),
                element_at(col("__toks"), i + 1)))).as("bg"))
        graft.streaming.Streams.streamingKmvDistinct(bg, "source", "bg", k = 64)
      }.groupBy(col("source"))
        .agg(max("n_kept").as("n_kept"), max("kmv_est").as("kmv_est"))
        .orderBy("source")
    }),

    // ---------------- streaming quantiles under the oracle via the same
    // two-batch replay: KLL level state folds across the batch boundary
    // through the IDENTICAL deterministic compaction as the batch
    // aggregate (shared QuantileKll.insert); n is exact in every regime
    // (weight conservation), so the final state is the max-n emission per
    // group, and in the exact regime (k=256 ≥ every dev-SF group) the
    // emitted p50/p90/p99 are exact order statistics — the SAME oracle as
    // quantile_sketch gates the cross-batch state.
    "streaming_quantile_2batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), col("source"),
          length(col("text")).cast("double").as("len"))
        .orderBy("doc_id").as[(Long, String, Double)].collect().toSeq
      val (b1, b2) = docs.partition(_._1 < 250)
      replay(s, "update", Seq(b1, b2)) { (_, in) =>
        graft.streaming.Streams.streamingQuantiles(
          in.toDF("doc_id", "source", "len").repartition(4, col("doc_id")),
          "source", "len", k = 256)
      }.groupBy(col("source"))
        .agg(max(struct(col("n"), col("p50"), col("p90"), col("p99"))).as("__f"))
        .select(col("source"), col("__f.n").as("n"), col("__f.p50").as("p50"),
          col("__f.p90").as("p90"), col("__f.p99").as("p99"))
        .orderBy("source")
    }),

    // ---------------- the EVICTION path of the streaming quantile sketch
    // (r14, mirroring streaming_join_evict_3batch): event-time TTL —
    // group "evict" gets docs 0-99 in batch 1 (event times ~1000 s), then
    // batch 2 carries only "keep" with event times ~50000 s, advancing
    // the watermark far past evict's armed timeout (watermark-at-arm 0 +
    // 1 h = 3600 s), so its state is removed in the watermark-advance
    // batch the engine runs after batch 2. Batch 3 re-feeds "evict" with
    // docs 100-299: the sketch restarted from empty, so its max-n
    // emission is n=200 over docs 100-299 ONLY — if eviction leaked,
    // batch 3 would emit n=300 with quantiles over 0-299 and the hash
    // would mismatch. "keep" receives data in batches 1-2 only, so its
    // max-n emission (docs 300-499 cumulative) is insensitive to its own
    // later eviction. Every clock here is the DATA's (watermark), so the
    // replay is deterministic and reaches quiescence — a wall-clock
    // (processing-time) TTL cannot be gated this way at all:
    // FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally
    // true for it and both processAllAvailable and Trigger.AvailableNow
    // spin forever (measured; see the Streams.keyedState scaladoc).
    "streaming_quantile_evict_3batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") < 500)
        .select(col("doc_id").cast("long"),
          length(col("text")).cast("double").as("len"))
        .orderBy("doc_id").as[(Long, Double)].collect().toSeq
      def grp(lo: Long, hi: Long, g: String, base: Long) =
        docs.filter(d => d._1 >= lo && d._1 < hi)
          .map(d => (d._1, g, d._2, base + d._1 % 50))
      val b1 = grp(0, 100, "evict", 1000L) ++ grp(300, 400, "keep", 1000L)
      val b2 = grp(400, 500, "keep", 50000L)
      val b3 = grp(100, 300, "evict", 100000L)
      replay(s, "update", Seq(b1, b2, b3)) { (_, in) =>
        val stream = in.toDF("doc_id", "source", "len", "tsec")
          .withColumn("ts", timestamp_seconds(col("tsec")))
          .repartition(4, col("doc_id"))
        graft.streaming.Streams.streamingQuantiles(
          stream, "source", "len", k = 256,
          stateTtl = Some("1 hour"), eventTimeCol = Some("ts"))
      }.groupBy(col("source"))
        .agg(max(struct(col("n"), col("p50"), col("p90"), col("p99"))).as("__f"))
        .select(col("source"), col("__f.n").as("n"), col("__f.p50").as("p50"),
          col("__f.p90").as("p90"), col("__f.p99").as("p99"))
        .orderBy("source")
    }),

    // ---------------- streaming frequent items under the oracle via the
    // same two-batch replay: Misra-Gries counter state folds across the
    // batch boundary; in the exact regime counts are exact and monotone
    // per (source, item), so the final state is max(est) per pair, and
    // the per-source top-5 must equal the batch GROUP BY count.
    "streaming_freq_items_2batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      val (b1, b2) = docs.partition(_._1 < 250)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("cnt").desc, col("item"))
      replay(s, "update", Seq(b1, b2)) { (_, in) =>
        val toks = in.toDF("doc_id", "source", "text")
          .repartition(4, col("doc_id"))
          .select(col("source"),
            explode(graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
        graft.streaming.Streams.streamingFrequentItems(
          toks, "source", "w", maxTracked = 256)
      }.groupBy(col("source"), col("item"))
        .agg(max("est").as("cnt"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5).drop("__rn")
        .orderBy(col("source"), col("cnt").desc, col("item"))
    }),

    // ---------------- tokenizer-vocabulary OOV audit with the vocabulary
    // AS DATA: the top-100-by-frequency token table (deterministic count
    // tie-break) broadcast-left-joins the token stream; per-doc OOV rate
    // is one integer-count division.
    "vocab_oov" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("w").asc).limit(100)
        .select(col("w"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast(org.apache.spark.sql.types.DoubleType) /
            col("n_tokens").cast(org.apache.spark.sql.types.DoubleType))
        .orderBy("doc_id")
    }),

    // ---------------- KMV sketch set-ops: even/odd-corpus bigram overlap
    // (union / Jaccard / intersection estimates) — the cheap pre-check
    // before a full cross-corpus dedup, bit-replayed by the oracle
    "kmv_overlap" -> ((s, dir) => {
      val toks = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), graft.operators.TextAnalysis.tokens(col("text")).as("__toks"))
      val bigrams = toks.filter(size(col("__toks")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat(element_at(col("__toks"), i), lit(" "),
              element_at(col("__toks"), i + 1)))).as("bg"))
      graft.operators.Sketch.kmvOverlap(
        bigrams.filter(col("doc_id") % 2 === 0),
        bigrams.filter(col("doc_id") % 2 === 1),
        col("bg"), k = 64)
    }),

    // ---------------- all-pairs KMV set algebra (r15): every source
    // pair's bigram-vocabulary union/Jaccard/intersection estimates from
    // ONE corpus scan — per-source bounded-heap bottom-64 sketches, then
    // pure array algebra over the |G|² sketch rows (the KMV merge
    // property: bottom-k of a union = k smallest of the retained sets).
    // The "which sources share vocabulary" pre-check that orders
    // cross-corpus dedup passes at 100 TB.
    "kmv_pairwise_overlap" -> ((s, dir) => {
      val toks = rd(s, dir, "documents")
        .select(col("source"), graft.operators.TextAnalysis.tokens(col("text")).as("__toks"))
      val bigrams = toks.filter(size(col("__toks")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat(element_at(col("__toks"), i), lit(" "),
              element_at(col("__toks"), i + 1)))).as("bg"))
      graft.operators.Sketch.kmvPairwiseOverlap(bigrams, "source", col("bg"), k = 64)
        .orderBy("source_a", "source_b")
    }),

    // ---------------- KLL quantile sketch: per-source doc-length
    // percentiles through ONE ObjectHashAggregate pair (bounded per-group
    // state, no sort/window of the corpus), quantiles rank-extracted from
    // the retained sample by pure HOF folds. k=256 ≥ every dev-SF group,
    // so the sketch is in its exact regime (= sorted multiset, a multiset
    // property independent of partitioning) and sits under the hash gate;
    // the compaction regime's rank-error bound is spec'd (QuantileKllSpec).
    "quantile_sketch" -> ((s, dir) => {
      val d = rd(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"), length(col("text")).cast(DoubleType).as("len"))
      val sk = graft.operators.Sketch.quantileSketch(d, Seq("source"), col("len"), k = 256)
      graft.operators.Sketch.sketchQuantiles(sk, "qsk",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .select("source", "n", "p50", "p90", "p99")
        .orderBy("source")
    }),

    // ---------------- Same percentiles through the merge path: one sketch
    // per (source, doc_id%4) shard, shards merged RELATIONALLY (explode the
    // retained samples, weights of equal values add, window cumsum over the
    // O(shards·k) sample rows — the corpus is never rescanned). Sketches
    // ride as data (persist per-shard/per-day, union later), and in the
    // exact regime the merged multiset IS the union multiset, so this
    // hash-matches quantile_sketch's oracle verbatim.
    "quantile_sketch_merge" -> ((s, dir) => {
      val d = rd(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"), (col("doc_id") % 4).as("shard"),
          length(col("text")).cast(DoubleType).as("len"))
      val sks = graft.operators.Sketch.quantileSketch(
        d, Seq("source", "shard"), col("len"), k = 256)
      graft.operators.Sketch.mergedQuantiles(sks, Seq("source"), "qsk",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .orderBy("source")
    }),

    // ---------------- Downstream use of the sketch: winsorize doc lengths
    // at the per-source sketch-p99 — the sketch output (20 rows) broadcasts
    // back onto the corpus, so the gate is one scan + one broadcast hash
    // join; the clamped sum stays in integer space (char counts) so the
    // aggregate is order-free and hash-stable.
    "winsorize_p99" -> ((s, dir) => {
      val d = rd(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"), length(col("text")).cast(DoubleType).as("len"))
      val sk = graft.operators.Sketch.quantileSketch(d, Seq("source"), col("len"), k = 256)
      val q = graft.operators.Sketch.sketchQuantiles(sk, "qsk", Seq("p99" -> 0.99))
        .select(col("source").as("__qsrc"), col("p99"))
      d.join(broadcast(q), col("source") <=> col("__qsrc"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("len") > col("p99"), 1L).otherwise(0L)).as("n_clamped"),
          sum(least(col("len"), col("p99")).cast(LongType)).as("sum_winsorized"))
        .orderBy("source")
    }),

    // ---------------- Count-Min heavy hitters: the d×w counter matrix is
    // a DataFrame (order-free integer sums — bit-replayable), candidates
    // are estimated by a broadcast join against the sketch, threshold
    // keeps the head; exact counts ride along to exhibit the one-sided
    // (overestimate-only) error contract
    "cms_heavy_hitters" -> ((s, dir) => {
      // fanOut: tokenize+4-way CMS hashing ran single-task (StageProbe
      // 0.86 s); at scale the adaptive guard is a no-op so the global
      // sketch aggregation keeps its shuffle-free map-side shape
      val toks = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      val hh = graft.operators.Sketch.cmsHeavyHitters(
        toks, col("tok"), minCount = 500L, d = 4, w = 1024)
      val exact = toks.groupBy(col("tok").as("q"))
        .agg(count(lit(1)).as("n_exact"))
      hh.join(exact, Seq("q")).orderBy("q")
    }),

    // ---------------- CMS heavy-change between snapshots (r15): a 25%
    // slice plays the previous release, the other 75% the new one (an
    // asymmetric split so real drift exists); tokens whose CMS-estimated
    // count moved >= 200 surface. Two d×w counter matrices are the only
    // corpus passes; the delta join is candidate-sized.
    "cms_heavy_change" -> ((s, dir) => {
      // fanOut: two full tokenize+CMS passes, both single-task before
      val d = fanOut(rd(s, dir, "documents"), col("doc_id"))
      def toks(cond: org.apache.spark.sql.Column) = d.filter(cond)
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      graft.operators.Sketch.cmsHeavyChange(
        toks(col("doc_id") % 4 === 0), toks(col("doc_id") % 4 =!= 0),
        col("tok"), minDelta = 200L, d = 4, w = 1024)
        .orderBy("q")
    }),

    // ---------------- frequent items (r12): Spark 4's builtin
    // approx_top_k (DataSketches Misra-Gries counters) — one sketch row
    // per partition merged to one, no distinct-reduce; re-exploded and
    // totally ordered (cnt desc, item) before the k-cut. Gated in the
    // exact regime (capacity ≥ vocab ⇒ no evictions ⇒ exact counts);
    // the eviction-regime retention guarantee is spec'd in SketchSpec.
    "freq_items_tokens" -> ((s, dir) => {
      val toks = rd(s, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
      graft.operators.Sketch.frequentItems(toks, col("w"), k = 10, maxTracked = 256)
    }),

    // the shard-then-merge route: one sketch per source accumulated,
    // combined, estimated — sketches as data. Exact regime ⇒ must agree
    // bit-for-bit with the unsharded route; SAME oracle gates both.
    "freq_items_union" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      graft.operators.Sketch.frequentItemsSharded(
        d.select(col("source"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("w")),
        col("source"), col("w"), k = 10, maxTracked = 256)
    }),

    // ---------------- DSIR's final selection: Gumbel top-k resampling
    // ∝ importance weight (deterministic md5 uniforms, quantized draws)
    "dsir_resample" -> ((s, dir) => {
      // fanOut: the hashed-ngram scoring pass ran single-task (StageProbe:
      // 3 × ~0.45 s 1-task stages through dsirWeights)
      val d = fanOut(rd(s, dir, "documents"), col("doc_id"))
      val w = graft.operators.LangModel.dsirWeights(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text")
      graft.operators.LangModel.dsirResample(w, "doc_id", k = 100)
        .select("doc_id", "logw_q4", "g_q4", "key_q4")
    }),

    // ---------------- URL canonicalization (URL-level dedup needs one
    // canonical form per page). The tables carry no URL column, so the query
    // synthesizes a deterministic messy URL per doc (mixed case, default
    // port, tracking params, fragment) with the SAME expression as the
    // oracle, then normalizes it — the operator under test is Url.normalize.
    "url_normalize" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val url = syntheticUrl
      d.select(col("doc_id"), url.as("url"),
          graft.operators.Url.normalize(url).as("norm"),
          graft.operators.Url.host(url).as("host"),
          graft.operators.Url.registrableDomain(url).as("reg_domain"),
          graft.operators.Url.tld(url).as("tld"))
        .orderBy("doc_id")
    }),

    // ---------------- per-domain corpus stats over the canonical host
    "domain_stats" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      d.select(graft.operators.Url.host(syntheticUrl).as("host"), col("n_chars"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("host")
    }),

    // ---------------- domain-level PageRank over a deterministic stride
    // link graph (doc i links to docs i+1 and i+7; edges lift to source
    // domains): the Common-Crawl-style quality prior, in EXACT fixed-point
    // integer arithmetic — every iteration is integer multiply /
    // truncating divide / order-free sum, so 5 synchronous iterations
    // hash-match DuckDB's unrolled CTE chain bit-for-bit.
    "domain_pagerank" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select(col("doc_id"), col("source"))
      val b = d.select(col("doc_id").as("__did2"), col("source").as("__src2"))
      def stride(n: Int) = d.join(b, col("__did2") === col("doc_id") + n)
        .select(col("source").as("src"), col("__src2").as("dst"))
      val edges = stride(1).unionAll(stride(7))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      graft.operators.Graph.pageRank(edges, "src", "dst", "w", iters = 5)
        .orderBy("node")
    }),

    // ---------------- HITS over the same stride link graph (r8): the
    // complementary hub/authority prior, same exact-integer fixed point —
    // 3 unrolled iterations are bit-identical cross-engine
    "domain_hits" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select(col("doc_id"), col("source"))
      val b = d.select(col("doc_id").as("__did2"), col("source").as("__src2"))
      def stride(n: Int) = d.join(b, col("__did2") === col("doc_id") + n)
        .select(col("source").as("src"), col("__src2").as("dst"))
      val edges = stride(1).unionAll(stride(7))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      graft.operators.Graph.hits(edges, "src", "dst", "w", iters = 3)
        .orderBy("node")
    }),

    // ---------------- per-node triangle counts (r8): degree-oriented
    // wedge join — each triangle counted once from its (deg, id)-smallest
    // vertex, hub fanout bounded by the orientation
    "domain_triangles" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select(col("doc_id"), col("source"))
      val b = d.select(col("doc_id").as("__did2"), col("source").as("__src2"))
      def stride(n: Int) = d.join(b, col("__did2") === col("doc_id") + n)
        .select(col("source").as("src"), col("__src2").as("dst"))
      graft.operators.Graph.triangles(stride(1).unionAll(stride(7)),
        "src", "dst").orderBy("node")
    }),

    // ---------------- UT1-style domain-suffix blocklist AS DATA: each
    // host's bounded suffix chain explodes against a broadcast blocklist
    // table ("src0.example.com" blocks every subdomain; an exact-host entry
    // blocks just that host); survivors ride an AQE-sized anti-join.
    "url_blocklist" -> ((s, dir) => {
      import s.implicits._
      val d = rd(s, dir, "documents")
      val withHost = d.select(col("doc_id"), col("source"),
        graft.operators.Url.host(syntheticUrl).as("host"))
      val bl = Seq("src0.example.com", "src3.example.com", "www.src1.example.com")
        .toDF("suffix")
      graft.operators.Url.blocklistFilter(withHost, "doc_id", "host", bl)
        .orderBy("doc_id")
    }),

    // ---------------- CCNet-style boilerplate removal: lines repeating in
    // ≥50% of a source's docs (header/footer templates, synthesized with
    // the SAME expression as the oracle) are dropped; the 20%-frequency
    // line and the unique body survive. Integer threshold compare, ordered
    // line reassembly — exact under the hash gate.
    "boilerplate_removal" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val synth = concat(lit("Home | About | Contact\n"), col("text"),
        when(col("doc_id") % 5 === 0, lit("\nSpecial Offer Today")).otherwise(lit("")),
        lit("\nCopyright "), col("source"), lit(" All rights reserved"))
      val in = d.select(col("doc_id"), col("source"), synth.as("text"))
      graft.operators.Boilerplate.removeBoilerplate(in, "doc_id", "text", "source",
        fracPct = 50, minDocs = 2).orderBy("doc_id")
    }),

    // ---------------- HTML-to-text extraction: the tables carry no HTML, so
    // the query wraps each doc in deterministic markup (script/style/comment
    // blocks, entities, two anchor styles) with the SAME expression as the
    // oracle — Html.stripTags/links are the only things under test.
    "html_extract" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val html = concat(
        // total under null source (concat would null-propagate the page)
        lit("<html><head><title>"), coalesce(col("source"), lit("")), lit("</title>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2; // dead</script>"),
        lit("<style>p { color: red }</style></head><body>"),
        lit("<!-- hidden --><h1>Doc "), col("doc_id").cast(StringType), lit("</h1>"),
        lit("<p>"), col("text"), lit(" &amp; more &lt;escaped&gt;&nbsp;tail</p>"),
        lit("<a href=\"https://example.com/"), col("doc_id").cast(StringType),
        lit("\">x</a>"),
        when(col("doc_id") % 4 === 0,
          lit("<a href='http://alt.example.org/a'>y</a>")).otherwise(lit("")),
        lit("</body></html>"))
      graft.operators.Html.extract(
          d.select(col("doc_id"), html.as("html")), "html", "clean")
        .select(col("doc_id"), col("clean"),
          // driver gate takes scalar columns only — join the link array
          array_join(col("clean_links"), "|").as("links"), col("n_links"))
        .orderBy("doc_id")
    }),

    // ---------------- the flagship COMPOSITION under the hash gate: a real
    // WARC crawl archive (deterministic fixture derived from documents —
    // every doc one 200 text/html response across 4 segment files) runs
    // the whole corpus build: Warc.read → htmlResponses → Html.extract →
    // Gopher quality gate → minhash near-dup clustering → keep cluster
    // representatives → sequence packing. Output = the packed survivors;
    // a doc appears iff every stage agreed, and its pack coordinates
    // depend on every other survivor — so the oracle checks the stages'
    // WIRING, not just each stage alone.
    "corpus_build_warc" -> ((s, dir) => {
      val fixture = warcFixture(s, dir)
      // fan out BEFORE Html.extract (r15): the extract chain ran inside the
      // 4-file WARC scan stage (StageProbe: 2.2 s single-task); only the
      // cheap uri-regexp stays in the scan, the heavy markup strip rides
      // the 32-way doc_id partitioning the downstream stages reuse
      // minPartitions = parallelism (r15): binaryFiles' default sizing
      // packed all 4 small segments into ONE split, so the WARC parse ran
      // serially (StageProbe: 1.24 s in 1 task). The hint restores the
      // documented one-task-per-segment split; at crawl scale segment
      // count >> cores, so the hint is a no-op there.
      val pages = graft.sources.Warc.htmlResponses(
        graft.sources.Warc.read(s, fixture + "/seg-*.warc",
          minPartitions = s.sparkContext.defaultParallelism))
        .select(regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
          .cast(LongType).as("doc_id"), col("html"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val docs = graft.operators.Html.extract(pages, "html", "text")
        .select("doc_id", "text")
      // gate = the word-count / word-length / alpha-fraction rules: the
      // synthetic corpus has no English stopword signal, so the full
      // battery's required-stopword rule (hash-checked by gopher_filter)
      // would annihilate the corpus and void the composition — this
      // subset splits it 277/500 at sf0.01
      // 2 consumers: the cluster pass and the survivors join
      val kept = graft.operators.TextAnalysis.gopherFilter(docs, "text")
        .filter(col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) && col("alpha_frac") >= 0.8)
        .select(col("doc_id"), col("text"))
        .transform(Ops.materialize)
      val reps = Dedup.nearDupClusters(kept, "text", "doc_id",
          n = 3, k = 8, bands = 4, threshold = 0.5)
        .filter(col("cluster") === col("doc_id")).select("doc_id")
      val survivors = kept.join(reps, Seq("doc_id"))
      graft.operators.Corpus.packSequences(survivors, "doc_id",
          size(TextAnalysis.tokens(col("text"))), nShards = 8, budget = 512)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // ---------------- C4 heuristic page cleaning: documents have no line
    // structure, so the query builds a deterministic page per doc (8-token
    // lines, md5-decided terminal punctuation, planted code/lorem poison on
    // doc_id % 13 / % 17) with the SAME expression as the oracle, then runs
    // the filter — TextAnalysis.c4Filter is the only thing under test.
    "c4_filter" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val segs = Dedup.tokenChunks(col("text"), 8)
      val lines = transform(segs, seg =>
        when(substring(md5(seg), 1, 1) < "8", concat(seg, lit(".")))
          .otherwise(seg))
      val page = concat(
        array_join(lines, "\n"),
        when(col("doc_id") % 13 === 0,
          lit("\nthis page has { code } in it.")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")))
      TextAnalysis.c4Filter(
        fanOut(d, col("doc_id")).select(col("doc_id"), page.as("page")), "page")
        .select(col("doc_id"), col("clean"), col("n_lines"), col("n_kept"),
          col("has_lorem"), col("has_brace"), col("keep"))
        .orderBy("doc_id")
    }),

    // ---------------- multimodal binary plumbing: payload metadata
    "multimodal_meta" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      graft.operators.Multimodal.withByteMeta(d, "payload")
        .select("doc_id", "byte_len", "content_md5")
        .orderBy("doc_id")
    }),

    // ---------------- multimodal REAL image decode round-trip: a solid-colour
    // PNG is encoded per doc (dims + colour are modular functions of doc_id),
    // then decoded back with javax.imageio; the oracle recomputes the same
    // formulas directly, so the codec path (encode → bytes → decode → pixel
    // means) is what's under test. PNG is lossless → means are exact.
    "multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id")).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          val w = (id % 13 + 1).toInt
          val h = (id % 7 + 1).toInt
          val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt
          (id, graft.operators.Multimodal.encodePng(w, h, rgb))
        }
      }.toDF("doc_id", "payload")
      graft.operators.Multimodal.decodeImages(bin, "doc_id", "payload")(s)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    }),

    // ---------------- quality-classifier inference (FineWeb-Edu shape):
    // hashed bag-of-words linear model with integer milli-weights, one
    // doc-keyed sum, threshold keep — the weights are a deterministic
    // md5 fixture the oracle reproduces
    "quality_classifier" -> ((s, dir) => {
      graft.operators.TextAnalysis.classifierScore(
        rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---------------- same classifier through the weights-as-DATA apply
    // (classifierScoreWeights) called directly: the (bucket, w_milli)
    // table — here the md5 fixture's 32k rows, in deployment the
    // coefficients classifierTrain/classifierExportWeights learn — rides a
    // BroadcastHashJoin; same hash as quality_classifier
    "quality_classifier_join" -> ((s, dir) => {
      graft.operators.TextAnalysis.classifierScoreWeights(
        rd(s, dir, "documents"), "doc_id", "text",
        graft.operators.TextAnalysis.classifierFixtureWeights(s, 1 << 15, "qc1"))
        .orderBy("doc_id")
    }),

    // ---------------- BM25 retrieval against fixed seed terms — targeted
    // curation's ranking primitive (quantized idf + order-free integer
    // score sum make the ranking bit-stable cross-engine)
    "bm25_topk" -> ((s, dir) => {
      graft.operators.TextAnalysis.bm25TopK(
        rd(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "vector", "join"), k = 20)
    }),

    // ---------------- BM25 with the query terms as DATA (bm25TopKJoin):
    // three seed queries ride a broadcast-joined (query_id, term) table;
    // corpus-side postings/idf are computed once, per-query top-k is a
    // query-partitioned window — the thousands-of-seed-queries shape
    "bm25_multiquery" -> ((s, dir) => {
      import s.implicits._
      val qt = Seq(
        ("q_data", "spark"), ("q_data", "vector"), ("q_data", "join"),
        ("q_scan", "scan"), ("q_scan", "filter"), ("q_scan", "column"),
        ("q_stream", "stream"), ("q_stream", "window"), ("q_stream", "batch"))
        .toDF("query_id", "term")
      graft.operators.TextAnalysis.bm25TopKJoin(
        fanOut(rd(s, dir, "documents"), col("doc_id")), "doc_id", "text", qt, k = 15)
        .orderBy(col("query_id"), col("score_q").desc, col("doc_id"))
    }),

    // ---------------- multimodal resize: deterministic GRADIENT PNGs
    // (pixel channels affine in x,y) are nearest-neighbor resized to 4×3
    // with the floor grid mapping, re-encoded, then decoded back — the
    // oracle recomputes the sampled-pixel means directly, so the whole
    // decode → resize → encode → decode chain is under test.
    "multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id")).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          val w = (id % 13 + 2).toInt
          val h = (id % 7 + 2).toInt
          (id, graft.operators.Multimodal.encodeGradientPng(w, h, (id % 256).toInt))
        }
      }.toDF("doc_id", "payload")
      val small = graft.operators.Multimodal.resizeImages(bin, "doc_id", "payload", 4, 3)(s)
      graft.operators.Multimodal.decodeImages(small, "doc_id", "payload")(s)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    }),

    // ---------------- perceptual-hash image dedup: REAL PNG decode →
    // 8×8 aHash (integer threshold, bit-string form) → ONE phash groupBy
    // labels every image with its duplicate cluster (48 distinct gradient
    // parameter combos over 500 docs ⇒ real collision groups). The
    // payloads never enter a shuffle; the oracle rebuilds the sampled
    // grid in closed form.
    "multimodal_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id")).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          val w = (id % 3 + 4).toInt
          val h = (id % 2 + 4).toInt
          (id, graft.operators.Multimodal.encodeGradientPng(w, h, (id % 8).toInt))
        }
      }.toDF("doc_id", "payload")
      val ph = graft.operators.Multimodal.perceptualHashes(bin, "doc_id", "payload")(s)
      val grp = ph.groupBy(col("phash"))
        .agg(min(col("id")).as("dup_of"), count(lit(1)).as("n_same"))
      ph.join(grp, "phash")
        .select(col("id").as("doc_id"), col("phash"), col("dup_of"), col("n_same"))
        .orderBy("doc_id")
    }),

    // ---------------- banded Hamming near-dup over the perceptual hashes:
    // 4×16-bit bands, pigeonhole guarantees distance ≤ 3 pairs share a
    // band, ONE equality join builds candidates (never all pairs), exact
    // Hamming filters. Runs on the same real-decode phash column.
    // Fixture capped at 1 000 images with a 192-combo parameter space: the
    // synthetic corpus reuses parameters cyclically, so uncapped growth
    // inflates collision GROUP SIZE (quadratic pairs) rather than adding
    // new images — the same blow-up streaming_neardup's replay caps. Real
    // corpora grow the image population, not the per-hash multiplicity.
    "multimodal_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      val ids = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"))
        .filter(col("doc_id") < 1000).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          val w = (id % 3 + 4).toInt
          val h = (id % 2 + 4).toInt
          // vary the gradient SLOPES, not just the base: aHash thresholds
          // relative structure, so base alone (a uniform shift) leaves the
          // bit pattern identical — slopes are what differentiate images
          (id, graft.operators.Multimodal.encodeGradientPng(w, h, (id % 32).toInt,
            mx = (id % 5 + 1).toInt, my = (id % 7 + 1).toInt))
        }
      }.toDF("doc_id", "payload")
      val ph = graft.operators.Multimodal.perceptualHashes(bin, "doc_id", "payload")(s)
      graft.operators.Multimodal.phashNearDups(ph, "id", "phash", bands = 4, maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // ---------------- real audio PCM statistics: deterministic 16-bit
    // mono WAVs are JDK-encoded per doc, then REALLY decoded back through
    // javax.sound.sampled — n/sum-of-squares/peak/zero-crossings are exact
    // integers, rms is two correctly-rounded IEEE ops; the oracle replays
    // the sample formula in closed form. The silence/clipping/tone-vs-
    // noise thresholds an audio curation pass uses come straight off
    // these columns.
    "multimodal_audio_stats" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id")).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          (id, graft.operators.Multimodal.encodePcmWav(
            (id % 50 + 20).toInt, (id % 97).toInt))
        }
      }.toDF("doc_id", "payload")
      graft.operators.Multimodal.decodeAudioStatsBatch(bin, "doc_id", "payload")(s)
        .select(col("id").as("doc_id"), col("n_samples"), col("sum_sq"),
          col("peak"), col("zero_crossings"), col("rms"))
        .orderBy("doc_id")
    }),

    // ---------------- the multimodal FLAGSHIP composition — the image
    // sibling of corpus_build_warc: synthesize a mixed corpus (gradients +
    // corrupt payloads + thumbnails), REAL-decode metadata, filter
    // undecodable/too-small, perceptual-hash dedup keeping each cluster's
    // minimum, resize survivors to 4×3 thumbs, REAL-decode those, and
    // shard-assign for the training writer. Every stage is a component
    // with its own green oracle row; this row proves they compose.
    "corpus_build_multimodal" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 1000).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          val payload =
            if (id % 97 == 0) "corrupt-not-an-image".getBytes("UTF-8")
            else {
              val w = if (id % 11 == 0) 2 else (id % 3 + 4).toInt
              val h = if (id % 11 == 0) 2 else (id % 2 + 4).toInt
              graft.operators.Multimodal.encodeGradientPng(w, h, (id % 32).toInt,
                mx = (id % 5 + 1).toInt, my = (id % 7 + 1).toInt)
            }
          (id, payload)
        }
      }.toDF("doc_id", "payload")
      val meta = graft.operators.Multimodal.decodeImages(bin, "doc_id", "payload")(s)
      val okIds = meta.filter(col("width").isNotNull &&
        col("width") >= 3 && col("height") >= 3).select(col("id"))
      val good = bin.join(okIds, bin("doc_id") === okIds("id")).select(bin.columns.map(bin(_)): _*)
      val ph = graft.operators.Multimodal.perceptualHashes(good, "doc_id", "payload")(s)
      val keep = ph.groupBy(col("phash")).agg(min(col("id")).as("keep_id"))
        .select(col("keep_id").as("id"))
      val kept = good.join(keep, good("doc_id") === keep("id"))
        .select(good.columns.map(good(_)): _*)
      val thumbs = graft.operators.Multimodal.resizeImages(kept, "doc_id", "payload", 4, 3)(s)
      graft.operators.Multimodal.decodeImages(thumbs, "doc_id", "payload")(s)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .withColumn("shard",
          pmod(graft.operators.Dedup.hash60(concat(lit("mshard:"),
            col("doc_id").cast(org.apache.spark.sql.types.StringType))), lit(4L)))
        .orderBy("doc_id")
    }),

    // ---------------- multimodal frame sampling with REAL container
    // decode: animated GIFs (the JDK's one multi-frame codec, solid-colour
    // frames so palette round-trip is exact) are frame-sampled at stride 2
    // and each sampled frame decoded to dims + channel means executor-side.
    "multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id")).as[Long]
      val bin = ids.mapPartitions { it =>
        it.map { id =>
          val w = (id % 5 + 1).toInt
          val h = (id % 3 + 1).toInt
          val rgbs = (0 until (id % 4 + 1).toInt).map { f =>
            ((((id + 7 * f) % 256) << 16) | (((3 * id + 11 * f) % 256) << 8) |
              ((5 * id + 13 * f) % 256)).toInt
          }
          (id, graft.operators.Multimodal.encodeGif(w, h, rgbs))
        }
      }.toDF("doc_id", "payload")
      graft.operators.Multimodal.sampleDecodeFrames(bin, "doc_id", "payload", stride = 2)(s)
        .select(col("id").as("doc_id"), col("frame"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id", "frame")
    }),

    // ---------------- streaming near-dup candidates, deterministically
    // replayed: the whole documents table arrives as ONE micro-batch of a
    // MemoryStream, so "previously seen" reduces to lexicographically-
    // smaller string doc id (the operator sorts each batch by its string
    // id) and the emitted rows are exactly the same-LSH-bucket pairs with
    // signature-estimated Jaccard >= threshold — a closed form the DuckDB
    // oracle reproduces. The collect is replay-harness plumbing
    // (MemoryStream is driver-fed by definition), not the operator's plan;
    // maxPerBucket is raised past the corpus size so the single-batch
    // replay never evicts (the multi-batch/eviction/TTL behaviors are
    // covered by StreamsSpec/StreamingE2ESpec).
    "streaming_neardup" -> ((s, dir) => {
      import s.implicits._
      // replay capped at 1 000 docs: the synthetic token-soup corpus is
      // near-duplicative by construction, so uncapped-bucket candidate
      // pairs grow ~quadratically in replay size (57 s at 5 000 docs);
      // semantics are pinned just as well on the bounded prefix, and the
      // production path bounds exactly this blow-up with maxPerBucket
      val docs = rd(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .filter(col("doc_id") < 1000)
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      replay(s, "append", Seq(docs)) { (c, in) =>
        // a MemoryStream batch is ONE partition, and the signature stage
        // (interpreted HOF minhash) runs BEFORE the stateful shuffle — fan
        // the stream out first or that stage is single-threaded (measured
        // 5 ms/doc serial; a real deployment inherits source partitions)
        graft.streaming.Streams.streamingNearDupCandidates(
          in.toDF("doc_id", "text")
            .repartition(c.sparkContext.defaultParallelism, col("doc_id")),
          "doc_id", "text",
          n = 3, k = 16, bands = 8, threshold = 0.3, maxPerBucket = 1 << 20)
      }.orderBy("id", "dup_of", "band")
    }),

    // ---------------- the same replay split across TWO micro-batches, so
    // the CROSS-BATCH state path itself is under the hash gate: docs 0-499
    // arrive (and pair among themselves by string-id order), the batch
    // commits, then docs 500-999 arrive and pair against the RETAINED
    // STATE plus their own batch. "Seen before" therefore has a closed
    // form the oracle reproduces: earlier batch, or same batch with
    // lexicographically smaller string id.
    "streaming_neardup_2batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .filter(col("doc_id") < 1000)
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      // batch 1 commits its state; batch 2 pairs against the retained state
      val (b1, b2) = docs.partition(_._1 < 500)
      replay(s, "append", Seq(b1, b2)) { (_, in) =>
        graft.streaming.Streams.streamingNearDupCandidates(
          in.toDF("doc_id", "text").repartition(4, col("doc_id")),
          "doc_id", "text",
          n = 3, k = 16, bands = 8, threshold = 0.3, maxPerBucket = 1 << 20)
      }.orderBy("id", "dup_of", "band")
    }),

    // ---------------- streaming session windows under the hash gate
    // (r8): a two-batch MemoryStream replay split at the median event
    // time, so in-flight sessions SPAN the batch boundary and the
    // cross-batch session-merge state is what the oracle checks; a
    // far-future flush event advances the watermark so append mode emits
    // every real session exactly once. Oracle = batch gaps-and-islands
    // with session_window's exact boundary rule (a gap of EXACTLY the
    // duration starts a new session — windows are [start, end)).
    "streaming_sessions_2batch" -> ((s, dir) => {
      import s.implicits._
      val ev = rd(s, dir, "events")
        .select(col("event_id").cast(LongType), unix_micros(col("ts")).as("us"),
          col("user_id").cast(LongType))
        .orderBy("us", "event_id").as[(Long, Long, Long)].collect().toSeq
      val cut = ev(ev.length / 2)._2
      val (b1, b2) = ev.partition(_._2 < cut)
      val flush = Seq((-1L, ev.map(_._2).max + 86400L * 1000000L, -1L))
      // open sessions persist after b1, merge across batches in b2, and
      // the flush event's watermark emits them
      replay(s, "append", Seq(b1, b2, flush)) { (_, in) =>
        val stream = in.toDF("event_id", "us", "user_id")
          .withColumn("ts", timestamp_micros(col("us")))
          .repartition(4, col("user_id"))
        graft.streaming.Streams.sessionAgg(stream, "ts",
          gap = "30 minutes", watermark = "1 second", keys = Seq("user_id"),
          aggs = Seq(count(lit(1)).as("n_events")))
      }.filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // ---------------- streaming dedup under the hash gate (r8): batch 2
    // repeats every batch-1 key (doc_id % 137 wraps) — the cross-batch
    // dropDuplicates state must suppress the repeats, so each key appears
    // EXACTLY once in the sink; keys-only output keeps the row
    // independent of which duplicate won inside a batch
    "streaming_dedup_2batch" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id").cast(LongType))
        .orderBy("doc_id").as[Long].collect().toSeq
      val (b1, b2) = ids.partition(_ < 250)
      replay(s, "append", Seq(b1, b2)) { (_, in) =>
        graft.streaming.Streams.streamingDedup(
          in.toDF("id")
            .select((col("id") % 137L).as("key"))
            .repartition(4, col("key")),
          Seq("key"), None, None)
      }.orderBy("key")
    }),

    // ---------------- streaming running count under the hash gate (r8):
    // mapGroupsWithState accumulates per-key counts across batches; the
    // final max(running_count) per key must equal the key's total corpus
    // occurrences — only correct if batch-2 increments land on the
    // batch-1 state
    "streaming_runcount_2batch" -> ((s, dir) => {
      import s.implicits._
      val rows = rd(s, dir, "documents")
        .filter(col("source").isNotNull)
        .select(col("source"), col("doc_id").cast(LongType))
        .orderBy("doc_id").as[(String, Long)].collect().toSeq
      val (b1, b2) = rows.partition(_._2 < 250)
      replay(s, "update", Seq(b1, b2)) { (_, in) =>
        graft.streaming.Streams.runningCountPerKey(
          in.toDF("source", "doc_id").repartition(4, col("source")), "source")
      }.groupBy(col("key"))
        .agg(max("running_count").as("n")).orderBy("key")
    }),

    // ---------------- the EVICTION path of the streaming running count
    // (r15, mirroring streaming_quantile_evict_3batch): event-time TTL —
    // key "evict" counts docs 0-99 in batch 1 (event times ~1000 s), then
    // batch 2 carries only "keep" at ~50000 s, advancing the watermark
    // past evict's armed deadline (watermark-at-arm 0 + 1 h), so its
    // counter is removed in the watermark-advance batch. Batch 3 re-feeds
    // "evict" with docs 100-299: the counter restarted from zero, so its
    // max emission is 200 — a leak would emit 300 and mismatch. "keep"
    // receives data in batches 1-2 only (max emission 200 = its full
    // feed), insensitive to its own later eviction.
    "streaming_runcount_evict_3batch" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id").cast(LongType))
        .orderBy("doc_id").as[Long].collect().toSeq
      def grp(lo: Long, hi: Long, g: String, base: Long) =
        ids.filter(id => id >= lo && id < hi).map(id => (g, base + id % 50))
      val b1 = grp(0, 100, "evict", 1000L) ++ grp(300, 400, "keep", 1000L)
      val b2 = grp(400, 500, "keep", 50000L)
      val b3 = grp(100, 300, "evict", 100000L)
      replay(s, "update", Seq(b1, b2, b3)) { (_, in) =>
        graft.streaming.Streams.runningCountPerKey(
          in.toDF("source", "tsec")
            .withColumn("ts", timestamp_seconds(col("tsec")))
            .repartition(4, col("source")),
          "source", stateTtl = Some("1 hour"), eventTimeCol = Some("ts"))
      }.groupBy(col("key"))
        .agg(max("running_count").as("n")).orderBy("key")
    }),

    // ---------------- watermark-BOUNDED streaming dedup under the hash
    // gate (r8): the production path — dropDuplicatesWithinWatermark's
    // state is evicted once the watermark passes entry time + delay, so
    // state is bounded at 100 TB where the plain seen-set grows forever.
    // The replay exercises BOTH behaviors: batch-2 keys 0..29 duplicate
    // long-expired batch-1 entries (ts 0..29, watermark 269 s) and MUST
    // re-emit; keys 270..279 duplicate still-alive entries (ts 270..279,
    // +10 s delay > watermark) and MUST stay suppressed. Every stream key
    // appears once per batch, so no in-batch dedup winner ambiguity.
    "streaming_dedup_wm_2batch" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id").cast(LongType))
        .filter(col("doc_id") < 280 || col("doc_id") >= 300)
        .orderBy("doc_id").as[Long].collect().toSeq
      def keyOf(id: Long): Long =
        if (id < 280) id
        else if (id >= 300 && id <= 329) id - 300
        else if (id >= 330 && id <= 339) 270 + (id - 330) % 10
        else id
      val rows = ids.map(id => (keyOf(id), id))
      // b1 moves the watermark to 269 s; b2 then meets expired and alive keys
      val (b1, b2) = rows.partition(_._2 < 280)
      replay(s, "append", Seq(b1, b2)) { (_, in) =>
        graft.streaming.Streams.streamingDedup(
          in.toDF("key", "ts_s")
            // +1000 s base: Spark's initial watermark is epoch 0, and a row
            // AT the watermark is late — ts 0 would silently drop
            .withColumn("ts", timestamp_micros((col("ts_s") + 1000L) * 1000000L))
            .repartition(4, col("key")),
          Seq("key"), Some("ts"), Some("10 seconds"))
      }.select(col("key"), col("ts_s")).orderBy("key", "ts_s")
    }),

    // ---------------- streaming signal buffer under the hash gate (r8):
    // every doc buffers under its source key in batch 1; batch 2 carries
    // the remaining docs plus ONE signal row for each hash-even source —
    // the release must include the batch-1 payloads held in state, so
    // the cross-batch buffer path itself is what the oracle checks.
    // Hash-odd sources never signal and must emit nothing.
    "streaming_signal_2batch" -> ((s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents")
        .filter(col("source").isNotNull)
        .select(col("source"), col("doc_id").cast(LongType))
        .orderBy("doc_id").as[(String, Long)].collect().toSeq
      val dataRows = docs.map { case (src, id) =>
        (src, false, id.toString, id) }
      val signals = docs.map(_._1).distinct
        .filter(src => java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(src)
            .substring(0, 15), 16) % 2 == 0)
        .map(src => (src, true, null: String, 0L))
      // b1 only buffers; the signals in batch 2 release
      val (b1, b2data) = dataRows.partition(_._4 < 250)
      replay(s, "append", Seq(b1, b2data ++ signals)) { (_, in) =>
        graft.streaming.Streams.signalBuffer(
          in.toDF("k", "sig", "payload", "seq").repartition(4, col("k")),
          "k", "sig", "payload", "seq")
      }.orderBy("key", "payload")
    }),

    // ---------------- the EVICTION path of the streaming signal buffer
    // (r15): a key whose signal never arrives holds its full buffered
    // payload forever — the worst NoTimeout leak class (payload, not a
    // counter). Event-time TTL replay: "evict" buffers docs 0-99 in
    // batch 1 (event times ~1000 s, deadline = watermark-at-arm 0 +
    // 49500 s), "keep" buffers docs 300-399. Batch 2 buffers keep's docs
    // 400-499 at ~50000 s, re-arming keep at watermark(~1049) + 49500 =
    // ~50549 s, and advances the watermark to ~50049 s: PAST evict's
    // 49500 s deadline (buffer dropped) but BEFORE keep's (buffer held).
    // Batch 3 feeds evict docs 100-299 plus a signal row for BOTH keys:
    // evict releases 100-299 only (batch-1 payloads were evicted — a
    // leak re-emits 0-99 and mismatches), keep releases its full 300-499
    // (an over-eager TTL loses 300-399 and mismatches). Both failure
    // directions hash-gated.
    "streaming_signal_evict_3batch" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id").cast(LongType))
        .orderBy("doc_id").as[Long].collect().toSeq
      def grp(lo: Long, hi: Long, g: String, base: Long) =
        ids.filter(id => id >= lo && id < hi)
          .map(id => (g, false, id.toString, id, base + id % 50))
      val b1 = grp(0, 100, "evict", 1000L) ++ grp(300, 400, "keep", 1000L)
      val b2 = grp(400, 500, "keep", 50000L)
      val b3 = grp(100, 300, "evict", 60000L) ++ Seq(
        ("evict", true, null: String, 0L, 60000L),
        ("keep", true, null: String, 0L, 60000L))
      replay(s, "append", Seq(b1, b2, b3)) { (_, in) =>
        graft.streaming.Streams.signalBuffer(
          in.toDF("k", "sig", "payload", "seq", "tsec")
            .withColumn("ts", timestamp_seconds(col("tsec")))
            .repartition(4, col("k")),
          "k", "sig", "payload", "seq",
          stateTtl = Some("49500 seconds"), eventTimeCol = Some("ts"))
      }.orderBy("key", "payload")
    }),

    // ---------------- streaming decontamination gate under the hash gate
    // (r9): the online eval-overlap tag in front of a training ingest.
    // The gate is a stateless Bloom-prefilter + exact-verify projection,
    // so the 2-batch replay checks the one thing that can drift: the
    // broadcast probes (bitset + sorted gram array) score batch-2 rows
    // identically to batch-1 rows, and the per-row tags equal the batch
    // decontaminate's exact n-gram overlap counts — same oracle modulo
    // column names.
    "streaming_decontaminate_2batch" -> ((s, dir) => {
      import s.implicits._
      val rows = rd(s, dir, "documents").filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").cast(LongType), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      val (b1, b2) = rows.partition(_._1 < 250)
      replay(s, "append", Seq(b1, b2)) { (c, in) =>
        val bench = rd(c, dir, "documents").filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("text"))
        graft.streaming.Streams.streamingDecontaminationGate(
          in.toDF("doc_id", "text"), bench, "doc_id", "text", n = 8)
          .select(col("doc_id"), col("n_suspect").cast(LongType).as("n_suspect"),
            col("suspect"))
      }.orderBy("doc_id")
    }),

    // ---------------- watermarked stream-stream join under the hash gate
    // (r9): the two-sided buffered-state operator. The replay is built so
    // EVERY matched pair is cross-batch — batch 1 feeds the left side
    // doc_id < 250 and the right side >= 250, batch 2 swaps — so a match
    // can only come from one side's state buffer meeting the other side's
    // later arrivals. The 10-minute watermark exceeds the event-time span,
    // so no state is evicted and the appended output must equal the full
    // batch join with the ±5 s range condition (the oracle).
    "streaming_join_2batch" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id").cast(LongType))
        .filter(col("doc_id") < 500).orderBy("doc_id").as[Long].collect().toSeq
      val (lo, hi) = ids.partition(_ < 250)
      streamJoinReplay(s, Seq(lo -> hi, hi -> lo), watermark = "10 minutes")
    }),

    // ---------------- the EVICTION path of the stream-stream join (r10):
    // where `streaming_join_2batch` oversizes the watermark so nothing
    // evicts, this replay undersizes it (60 s against a ~500 s event span)
    // and feeds a THIRD batch of ids 200-249 whose event times sit far
    // below the watermark advanced by batch 2 (~wm 449 s). Those rows are
    // dropped as late on both sides and their state is long evicted, so
    // their would-be diagonal matches (lid = rid, |Δt| ≤ 3 s ≤ 5 s) must
    // be ABSENT: the oracle joins only the batch-1/2 id ranges, and any
    // leak of a 200-249 pair hash-mismatches.
    "streaming_join_evict_3batch" -> ((s, dir) => {
      import s.implicits._
      val ids = rd(s, dir, "documents").select(col("doc_id").cast(LongType))
        .filter(col("doc_id") < 500).orderBy("doc_id").as[Long].collect().toSeq
      val b1 = ids.filter(_ < 200)
      val b2 = ids.filter(_ >= 300)
      val late = ids.filter(i => i >= 200 && i < 250)
      streamJoinReplay(s, Seq(b1 -> b1, b2 -> b2, late -> late), watermark = "60 seconds")
    }),

    // ---------------- SFT / preference-data assembly (r8): the
    // post-training half of the pipeline. Pair mining is ONE
    // struct-argmin/argmax groupBy (shuffle carries |prompts| rows);
    // rendering is one conversation-keyed groupBy + pure HOF folds.
    // Scores and char offsets are exact integers, so both replay
    // bit-for-bit.
    "preference_pairs" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .select((col("doc_id") % 97).as("prompt_id"), col("doc_id").as("rid"),
          col("text").as("resp"),
          (col("n_chars") % 997).cast(LongType).as("score"))
      graft.operators.Sft.preferencePairs(d, "prompt_id", "rid", "resp",
        col("score"), minMargin = 10L).orderBy("prompt_id")
    }),
    "chat_render" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
        .select(expr("doc_id div 4").as("conv_id"),
          (col("doc_id") % 4).as("ord"),
          when(col("doc_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          col("text").as("content"))
      graft.operators.Sft.chatRender(d, "conv_id", "ord", "role", "content")
        .orderBy("conv_id", "span_idx")
    }),

    // ---------------- encoding repair (r8): ftfy-core mojibake fix as a
    // pure codegen replace chain; the corruption is synthesized with the
    // IDENTICAL expression in the oracle, so the repair chain and the
    // occurrence counter are the only things under test. n_after proves
    // convergence (one pass repairs one round of mis-decoding).
    "mojibake_fix" -> ((s, dir) => {
      val corrupt = concat(
        call_function("replace",
          call_function("replace",
            call_function("replace", col("text"), lit("a"), lit("Ã¡")),
            lit("o"), lit("Ã³")),
          lit("e"), lit("Ã©")),
        lit(" â€œquoteâ€¦â€“"))
      fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), corrupt.as("bad"))
        .select(col("doc_id"),
          graft.operators.Cleanup.mojibakeCount(col("bad")).as("n_bad"),
          graft.operators.Cleanup.mojibakeFix(col("bad")).as("fixed"))
        .withColumn("n_after",
          graft.operators.Cleanup.mojibakeCount(col("fixed")))
        .orderBy("doc_id")
    }),

    // ---------------- SFT flagship composition (r8): the post-training
    // counterpart of corpus_build_warc — mojibake repair, scoring, DPO
    // pair mining, chat-template rendering with loss spans, shard assign,
    // all stages composed end-to-end under one oracle. Every stage also
    // has its own green row; this row proves the composition.
    "sft_build" -> ((s, dir) => {
      val corrupt = concat(
        call_function("replace",
          call_function("replace", col("text"), lit("a"), lit("Ã¡")),
          lit("e"), lit("Ã©")),
        lit(" â€“fin"))
      val d = rd(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          graft.operators.Cleanup.mojibakeFix(corrupt).as("fixed"))
      val responses = d.select((col("doc_id") % 97).as("prompt_id"),
        col("doc_id").as("rid"), col("fixed").as("resp"),
        (col("n_chars") % 997).cast(LongType).as("score"))
      val pairs = graft.operators.Sft.preferencePairs(
        responses, "prompt_id", "rid", "resp", col("score"), minMargin = 10L)
      val turns = pairs.select(col("prompt_id").as("conv_id"), lit(0L).as("ord"),
          lit("user").as("role"),
          concat(lit("Q:"), col("prompt_id").cast(StringType)).as("content"))
        .unionAll(pairs.select(col("prompt_id").as("conv_id"), lit(1L).as("ord"),
          lit("assistant").as("role"), col("chosen").as("content")))
      val rendered = graft.operators.Sft.chatRender(
        turns, "conv_id", "ord", "role", "content")
      rendered.join(pairs.select(col("prompt_id").as("conv_id"), col("margin")),
          "conv_id")
        .select(col("conv_id"),
          pmod(graft.operators.Dedup.hash60(concat(lit("shard:"),
            col("conv_id").cast(StringType))), lit(8L)).as("shard"),
          col("text"), col("text_len"),
          col("span_start"), col("span_end"), col("margin"))
        .orderBy("conv_id")
    }),

    // ---------------- training-objective prep (r8): deterministic FIM
    // rearrangement and T5 span corruption — hash-selected cuts/masks, so
    // the oracle replays every byte
    "fim_transform" -> ((s, dir) =>
      graft.operators.Corpus.fimTransform(
        rd(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", ratePct = 50)
        .select(col("id").as("doc_id"), col("fim"), col("out"))
        .orderBy("doc_id")),
    "span_corrupt" -> ((s, dir) =>
      graft.operators.Corpus.spanCorrupt(
        fanOut(rd(s, dir, "documents"), col("doc_id")), "doc_id", "text", maskPct = 15)
        .select(col("id").as("doc_id"), col("input"), col("target"),
          col("n_masked"), col("n_groups"))
        .orderBy("doc_id")),

    // ---------------- unigram-LM Viterbi segmentation (r8): the
    // SentencePiece inference shape — frequency-seeded piece vocabulary
    // AS DATA, per-word max-likelihood split; all stages after the corpus
    // scan run on the distinct-word table
    "unigram_segment" -> ((s, dir) => {
      // enrich the small synthetic vocabulary with md5-derived pseudo-words
      // (variable-length [a-f] runs) so the DP sees hundreds of distinct
      // words at many lengths; the oracle appends the identical expression
      val wf = graft.operators.Unigram.wordFreqs(
        fanOut(rd(s, dir, "documents"), col("doc_id")).select(col("doc_id"),
          concat(col("text"), lit(" "),
            md5(col("doc_id").cast(StringType))).as("text")),
        "text")
        // 2 consumers: pieceVocab and segmentWords; vocabulary-sized
        .transform(Ops.materialize)
      val vocab = graft.operators.Unigram.pieceVocab(wf, k = 500,
        maxPieceLen = 6)
      graft.operators.Unigram.segmentWords(wf, vocab, maxPieceLen = 6,
        maxWordLen = 16).orderBy("w")
    }),

    // ---------------- WordPiece greedy longest-match-first (r9): the
    // third tokenizer family (BERT inference shape) — ##-prefixed
    // continuation pieces as driver DATA, greedy walk as one compiled
    // per-word function; same distinct-word-table scale shape as
    // BPE/unigram, same enriched corpus as unigram_segment
    "wordpiece_segment" -> ((s, dir) => {
      val wf = graft.operators.Unigram.wordFreqs(
        fanOut(rd(s, dir, "documents"), col("doc_id")).select(col("doc_id"),
          concat(col("text"), lit(" "),
            md5(col("doc_id").cast(StringType))).as("text")),
        "text")
        // 2 consumers: vocab and encodeWords; vocabulary-sized
        .transform(Ops.materialize)
      val vocab = graft.operators.WordPiece.vocab(wf, k = 500, maxPieceLen = 6)
      graft.operators.WordPiece.encodeWords(wf, vocab, maxPieceLen = 6,
        maxWordLen = 16).orderBy("w")
    }),

    // ---------------- one hard-EM refinement round over the same
    // machinery: counts from round-1 segmentations, chars floored at 1,
    // re-segment — both DP rounds under one oracle
    "unigram_em" -> ((s, dir) => {
      val docs = fanOut(rd(s, dir, "documents"), col("doc_id")).select(col("doc_id"),
        concat(col("text"), lit(" "),
          md5(col("doc_id").cast(StringType))).as("text"))
      // 4 consumers across two DP rounds; vocabulary-sized
      val wf = graft.operators.Unigram.wordFreqs(docs, "text")
        .transform(Ops.materialize)
      val vocab = graft.operators.Unigram.pieceVocab(wf, k = 500,
        maxPieceLen = 6)
      val vocab2 = graft.operators.Unigram.emRefine(wf, vocab,
        maxPieceLen = 6, maxWordLen = 16)
      graft.operators.Unigram.segmentWords(wf, vocab2, maxPieceLen = 6,
        maxWordLen = 16).orderBy("w")
    }),

    // ---------------- the same DP applied corpus-wide: per-document
    // subword counts — the tokenizer-budget signal packing needs
    "unigram_doc_tokens" -> ((s, dir) => {
      // fanOut: wordFreqs' tokenize and the per-doc regexp explode both ran
      // single-task (StageProbe: ~4.5 s of 1-task stages); doc_id is the
      // per-doc aggregation's key
      val docs = fanOut(rd(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          concat(col("text"), lit(" "),
            md5(col("doc_id").cast(StringType))).as("text"))
      // 2 consumers: pieceVocab and segmentWords; vocabulary-sized
      val wf = graft.operators.Unigram.wordFreqs(docs, "text")
        .transform(Ops.materialize)
      val vocab = graft.operators.Unigram.pieceVocab(wf, k = 500,
        maxPieceLen = 6)
      val segs = graft.operators.Unigram.segmentWords(wf, vocab,
        maxPieceLen = 6, maxWordLen = 16)
        .select(col("w"), col("n_pieces"))
      val dwords = docs.select(col("doc_id"), explode(expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .filter(length(col("w")) <= 16)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      dwords.join(segs, "w")
        .groupBy("doc_id")
        .agg(sum(col("c") * col("n_pieces")).as("n_subwords"),
          sum("c").as("n_words"))
        .orderBy("doc_id")
    }),

    // ---------------- corpus snapshot diff (r8): the new snapshot drops
    // every 17th doc, rewrites every 13th, adds a doc per 19th — the diff
    // classifies all of it from fingerprints alone
    "snapshot_diff" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select(col("doc_id"), col("text"))
      val newSnap = d.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(d.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast(StringType)).as("text")))
      graft.operators.Corpus.snapshotDiff(d, newSnap, "doc_id", "text")
        .orderBy("id")
    }),

    // ---------------- k-NN label propagation (r8): seeds = every 5th
    // vector with its label; majority vote over 1e-12-quantized cosines,
    // ties to the smaller label — auto-labeling's deterministic core
    "knn_classify" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"),
          col("label"))
      graft.operators.Similarity.knnClassify(
        e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0),
        "vec_id", "q", "label", k = 5)
        .orderBy("id")
    }),

    // ---------------- code-vs-prose routing (r8): every 4th doc gains a
    // code snippet; the structural-density vote must flag exactly those
    "code_prose" -> ((s, dir) => {
      val t2 = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(codeSnippet)).otherwise(lit("")))
      graft.operators.TextAnalysis.codeProse(
        rd(s, dir, "documents").select(col("doc_id"), t2.as("t2")),
        "doc_id", "t2")
        .select(col("id").as("doc_id"), col("n_chars"), col("n_sym"),
          col("n_semi"), col("n_lines"), col("n_indent"), col("is_code"))
        .orderBy("doc_id")
    }),

    // ---------------- social keyword tagger (r14, ref TwitterTagger
    // keywords branch): all four flag combinations under one gate — exact
    // token match (single word + multi-word phrase), case-insensitive
    // substring, case-sensitive substring (matches nothing on the
    // lowercase corpus, pinning that the flag actually skips the lower
    // fold). Pure codegen expressions; tags joined to a string for the
    // pandas gate. Safe to replay: the corpus has no newlines/VT, so the
    // Java-vs-RE2 `$`/`\s` edge differences can't bite.
    "keyword_tagger" -> ((s, dir) => {
      import graft.operators.TextAnalysis.Keyword
      graft.operators.TextAnalysis.keywordTagger(
          rd(s, dir, "documents").select(col("doc_id"), col("text")),
          "text",
          Seq(Keyword("the", exact = true), Keyword("Data", caseSensitive = true),
            Keyword("spark"), Keyword("fast sort", exact = true)),
          "tags")
        .select(col("doc_id"), array_join(col("tags"), ",").as("tags"))
        .orderBy("doc_id")
    }),

    // ---------------- high-entropy secret scan (r8): planted md5 digests
    // (high entropy) and repeated filler (near-zero) ride the corpus; the
    // entropy score is all-integer so the threshold replays exactly
    "secret_scan" -> ((s, dir) => {
      val t2 = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" "), md5(col("doc_id").cast(StringType))))
          .when(col("doc_id") % 5 === 1, lit(" aaaaaaaaaaaaaaaaaaaaaaaa"))
          .otherwise(lit("")))
      graft.operators.TextAnalysis.secretScan(
        rd(s, dir, "documents").select(col("doc_id"), t2.as("t2")),
        "doc_id", "t2")
        .select(col("id").as("doc_id"), col("n_candidates"),
          col("n_secrets"), col("max_ent_q4"))
        .orderBy("doc_id")
    }),

    // ---------------- margin-based bitext mining (r8): embeddings split
    // into two "languages" by id parity; Artetxe-Schwenk ratio margin over
    // 1e-12-quantized cosines (exact integer neighborhood sums, one IEEE
    // division). Exact all-pairs candidates at oracle scale — the 100 TB
    // path feeds the same margin algebra from knnJoinIvf's cell join.
    "bitext_margin" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"),
          transform(col("embedding").cast(ArrayType(DoubleType)),
            x => floor(x * 1e6)).cast(ArrayType(DoubleType)).as("q"))
      graft.operators.Similarity.marginMine(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1), "vec_id", "q", k = 4)
        .orderBy("src_id")
    }),

    // ---------------- winnowing fingerprints (r14): MOSS document
    // fingerprinting — positional shingle hashes, per-window min with the
    // robust rightmost-tie rule packed into one BIGINT key, distinct. The
    // per-row-heavy md5 stage fans out on doc_id exactly like minhash and
    // the window reuses that partitioning.
    "winnow_fingerprints" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.winnowFingerprints(d, "doc_id", "text", n = 3, w = 4)
        .orderBy("doc_id", "pos")
    }),

    // ---------------- winnowing candidate pairs (r14): inverted index over
    // the selected fingerprints, stop-fingerprint pruning, bucket
    // self-join, >= minShared shared fingerprints per pair.
    "winnow_candidates" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.winnowCandidates(d, "doc_id", "text", n = 3, w = 4,
        minShared = 2, maxBucket = 50)
        .orderBy("doc_a", "doc_b")
    }),

    // ---------------- winnowing match-span localization (r14): the MOSS
    // reporting step — candidate pairs' shared fingerprints joined back on
    // fp, each side's hit positions merged gaps-and-islands style (gap =
    // w+n-1, the guarantee window) into token spans with per-span hit
    // counts. The windows run per (pair, side) — never a corpus ordering.
    "winnow_match_spans" -> ((s, dir) => {
      val d = rd(s, dir, "documents").select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Dedup.winnowMatchSpans(d, "doc_id", "text", n = 3, w = 4,
        minShared = 2, maxBucket = 50)
        .orderBy("doc_a", "doc_b", "side", "span_start")
    }),

    // ---------------- deterministic per-group bottom-k-hash sample (r14):
    // k smallest salted id-hashes per source via the bounded-heap topk_by
    // aggregate — map-side partials reduce each partition to k rows per
    // group BEFORE the shuffle (the fixed-k holdout-slice shape at 100 TB).
    "hash_bottomk_sample" -> ((s, dir) => {
      graft.operators.Corpus.hashBottomKSample(
        rd(s, dir, "documents"), Seq("source"), "doc_id", k = 5)
        .orderBy("source", "doc_id")
    }),

    // ---------------- weighted without-replacement sample (r15): priority
    // sampling (Duffield–Lund–Thorup) — per-source k-row samples weighted
    // by doc length, with the unbiased ŵ = max(w, τ) estimator column that
    // lets the slice answer subset-sum questions (token budgets per
    // source) without a second corpus pass. Hash-deterministic priorities,
    // bounded-heap aggregate, broadcast join-back — unsampled rows never
    // shuffle.
    "priority_sample" -> ((s, dir) => {
      graft.operators.Corpus.prioritySample(
        rd(s, dir, "documents").filter(col("text").isNotNull)
          .withColumn("w", length(col("text")).cast(DoubleType)),
        Seq("source"), "doc_id", "w", k = 8)
        .orderBy("source", "doc_id")
    }),

    // ---------------- JL random-projection rerank retrieval (r14): stage 1
    // ranks the corpus by cosine in the 16-dim PROJECTED space (sign matrix
    // rides the plan as literals, dOut native dot loops/row), keeps top
    // m=50; stage 2 re-scores those 50 exactly in the full 64 dims via a
    // broadcast join. The only corpus-wide pass runs at dOut/dIn = 1/4 of
    // brute-force FLOPs.
    "rproj_rerank_topk" -> ((s, dir) => {
      val e = rd(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
      graft.operators.Similarity.rprojRerankTopK(e, "vec_id", "v",
        queryId = 7L, dIn = 64, dOut = 16, m = 50, k = 10)
        .select(col("vec_id"), col("cos"))
    }))

  /** IVF-PQ oracle: ann_ivf_topk's assignment/probe CTEs restricted to the
    * probed posting lists, then ann_pq_adc's encode + integerized ADC table
    * over that slice only — identical fold orders and tie rules.
    * Parameterized by the vector-source CTE so the embeddings-table and
    * pretrained-w2v variants share the whole pipeline. */
  private def ivfPqOracleSql(eCte: String): String =
    s"""WITH e AS ($eCte),
         c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
               FROM e ORDER BY vec_id LIMIT 8),
         d AS (SELECT e.vec_id, e.v, c.j,
                 list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(e.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
                   (a, b) -> a + b) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, v, j AS centroid FROM
                 (SELECT vec_id, v, j,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM d)
               WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         probes AS (SELECT j FROM (
             SELECT c.j, list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(c.cv, q.qv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
               (a, b) -> a + b) AS dist FROM c, q)
           ORDER BY dist, j LIMIT 2),
         pr AS (SELECT vec_id, v FROM a WHERE centroid IN (SELECT j FROM probes)),
         sub AS (SELECT unnest(range(0, 8)) AS s),
         seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
                   FROM e ORDER BY vec_id LIMIT 4),
         cb AS (SELECT sub.s, seeds.j, seeds.v[sub.s*8+1 : sub.s*8+8] AS cv
                FROM sub CROSS JOIN seeds),
         dist2 AS (SELECT pr.vec_id, cb.s, cb.j,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(pr.v[cb.s*8+1 : cb.s*8+8], cb.cv),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS d
           FROM pr CROSS JOIN cb),
         codes AS (SELECT vec_id, s, j AS code FROM (
             SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
             FROM dist2)
           WHERE rn = 1),
         tbl AS (SELECT cb.s, cb.j,
             CAST(floor(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(cb.cv, q.qv[cb.s*8+1 : cb.s*8+8]),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) * 1000000)
               AS BIGINT) AS cell
           FROM cb, q)
         SELECT vec_id, CAST(sum(cell) AS BIGINT) AS adc FROM codes
         JOIN tbl ON codes.s = tbl.s AND codes.code = tbl.j
         WHERE vec_id != 0
         GROUP BY vec_id ORDER BY adc ASC, vec_id ASC LIMIT 10"""

  /** Synthetic code snippet appended to every 4th document by the
    * `code_prose` fixture — newlines embedded, no single quotes, so the
    * IDENTICAL literal drops into both the Spark lit() and the SQL. */
  private val codeSnippet: String =
    "\nfor (int i = 0; i < n; i++) {\n    x[i] = y[i] + z;\n    s += x[i];\n}\n"

  /** Shared by ann_knn_join (window path) and ann_knn_join_heap (bounded-
    * heap aggregate) — the same left-to-right 0.0-seeded fold as
    * Similarity.cosine, the same (cosine desc, neighbor asc) rank. */
  private val annKnnJoinSql: String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
    s"""WITH e AS (
          SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x*1000000)) AS q
          FROM embeddings WHERE vec_id < 300),
        p AS (SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
                ${dot("a.q", "b.q")} / (sqrt(${dot("a.q", "a.q")}) * sqrt(${dot("b.q", "b.q")})) AS cosine
              FROM e a, e b WHERE a.vec_id != b.vec_id),
        r AS (SELECT id, neighbor_id, cosine,
                CAST(row_number() OVER (PARTITION BY id
                  ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
              FROM p)
        SELECT id, neighbor_id, rank, cosine FROM r WHERE rank <= 5
        ORDER BY id, rank"""
  }

  /** Shared by decontaminate and decontaminate_bloom — the bloom semi-join
    * is a plan-level optimization with identical output. */
  private val decontaminateSql: String = {
    // rolling-hash chain over 8 tokens, identical to minhashBase's shingles
    val chain = (1 until 8).foldLeft("th[i]") { (acc, j) =>
      s"(($acc * 131 + th[i+$j]) % 2147483647)"
    }
    s"""WITH t AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        h AS (
          SELECT doc_id, list_transform(toks,
            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
          FROM t),
        sh AS (
          SELECT doc_id, CASE WHEN len(th) < 8 THEN CAST([] AS BIGINT[]) ELSE
            list_distinct(list_transform(range(1, len(th) - 7 + 1), i -> $chain))
          END AS gh
          FROM h),
        bench AS (SELECT DISTINCT unnest(gh) AS g FROM sh WHERE doc_id % 97 = 0),
        dg AS (SELECT doc_id, unnest(gh) AS g FROM sh WHERE doc_id % 97 != 0),
        hits AS (SELECT doc_id, count(*) AS n_hits FROM dg JOIN bench USING (g) GROUP BY 1)
        SELECT d.doc_id, CAST(coalesce(x.n_hits, 0) AS BIGINT) AS n_hits,
          coalesce(x.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits x ON d.doc_id = x.doc_id
        WHERE d.doc_id % 97 != 0 ORDER BY d.doc_id"""
  }

  /** lm_perplexity's quantized self-scoring CTE chain through `sc` =
    * (doc_id, lang, n_bigrams, logprob_q4) — shared by both perplexity-tier
    * oracles. The tier key is one IEEE division of identical integers, so
    * it is bit-stable cross-engine. */
  private val pplScoreCtes: String =
    """t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         p AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> struct_pack(a := toks[i], b := toks[i+1]))) AS pr
               FROM t WHERE len(toks) >= 2),
         pairs AS (SELECT doc_id, pr.a AS a, pr.b AS b FROM p),
         big AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
         ctx AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM big GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vocab_size
               FROM (SELECT unnest(toks) AS tok FROM t)),
         terms AS (
           SELECT pairs.doc_id,
             CAST(floor(1e4 * (ln(big.c_ab + 1)
               - ln(ctx.c_a + (SELECT vocab_size FROM v)))) AS BIGINT) AS term
           FROM pairs JOIN big USING (a, b) JOIN ctx USING (a)),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(term) AS BIGINT) AS logprob_q4
                 FROM terms GROUP BY 1),
         sc AS (SELECT d.doc_id, d.lang,
                  CAST(coalesce(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                  CAST(coalesce(g.logprob_q4, 0) AS BIGINT) AS logprob_q4
                FROM documents d LEFT JOIN agg g USING (doc_id))"""

  /** dsirWeights' hashed-gram scoring CTEs through `agg` = (doc_id,
    * n_grams, logw_q4) — shared by the weight and resample oracles. */
  /** Shared by quantile_sketch and quantile_sketch_merge: both paths
    * answer the exact order statistics in the sketch's exact regime, so
    * one oracle gates the aggregate AND the relational merge. Lower
    * quantile at rank ceil(p·n): min v with row_number ≥ target. */
  private val qsketchOracleSql: String =
    """WITH v AS (
         SELECT source, CAST(length(text) AS DOUBLE) AS v
         FROM documents WHERE text IS NOT NULL),
       r AS (SELECT source, v,
               row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY source) AS n FROM v)
       SELECT source, CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50,
         min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90,
         min(CASE WHEN rn >= ceil(0.99 * n) THEN v END) AS p99
       FROM r GROUP BY source ORDER BY source"""

  /** Shared by the winnowing oracles: positional shingle hashes (the
    * minhash fold WITHOUT distinct — winnowing selects by position), packed
    * keys h·2²⁰ + (2²⁰−1−pos), per-window slice min from q = min(w, ng) to
    * ng (1-based), distinct, decode. n=3, w=4, posBound=2²⁰ — the query
    * defaults. */
  private val winnowCtes: String =
    """t AS (
         SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
         FROM documents),
       h AS (SELECT doc_id, list_transform(toks,
               t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
             FROM t),
       sh AS (SELECT doc_id, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
               list_transform(range(1, len(th) - 2 + 1),
                 i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2])
                   % 2147483647)
             END AS gh FROM h),
       kk AS (SELECT doc_id, len(gh) AS ng,
               list_transform(range(1, len(gh) + 1),
                 q -> gh[q] * 1048576 + (1048575 - (q - 1))) AS keys
             FROM sh WHERE len(gh) > 0),
       mm AS (SELECT doc_id,
               list_distinct(list_transform(range(least(4, ng), ng + 1),
                 q -> list_min(keys[greatest(1, q - 3) : q]))) AS mks
             FROM kk),
       fpu AS (SELECT doc_id, unnest(mks) AS mk FROM mm),
       dec AS (SELECT doc_id, CAST(1048575 - (mk % 1048576) AS BIGINT) AS pos,
               CAST(mk // 1048576 AS BIGINT) AS fp FROM fpu)"""

  private val dsirWeightCtes: String =
    """t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         h AS (SELECT doc_id, list_transform(toks,
                 t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
               FROM t),
         g AS (SELECT doc_id, unnest(list_concat(th,
                 list_transform(range(1, len(th)),
                   i -> (th[i] * 131 + th[i+1]) % 2147483647))) AS hsh
               FROM h),
         b AS (SELECT doc_id, hsh % 10000 AS bucket FROM g),
         ct AS (SELECT bucket, count(*) AS c_t FROM b WHERE doc_id % 97 = 0 GROUP BY 1),
         cs AS (SELECT bucket, count(*) AS c_s FROM b WHERE doc_id % 97 != 0 GROUP BY 1),
         tt AS (SELECT coalesce(sum(c_t), 0) AS tot_t FROM ct),
         ts AS (SELECT coalesce(sum(c_s), 0) AS tot_s FROM cs),
         terms AS (SELECT b.doc_id,
             CAST(floor(1e4 * (ln(coalesce(ct.c_t, 0) + 1) - ln(tt.tot_t + 10000)
               - ln(coalesce(cs.c_s, 0) + 1) + ln(ts.tot_s + 10000))) AS BIGINT) AS term
           FROM b LEFT JOIN ct USING (bucket) LEFT JOIN cs USING (bucket), tt, ts
           WHERE b.doc_id % 97 != 0),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(term) AS BIGINT) AS logw_q4
                 FROM terms GROUP BY 1)"""

  val oracleSql: Seq[(String, String)] = Seq(
    "bpe_train" -> {
      val union = (1 to bpeMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
      s"WITH ${bpeTrainCtes(bpeMerges)} SELECT step, lft, rgt, merged, cnt FROM ($union) ORDER BY step"
    },
    "bpe_bytes_train" -> {
      val union = (1 to bpeMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
      s"WITH ${bpeBytesTrainCtes(bpeMerges)} SELECT step, lft, rgt, merged, cnt FROM ($union) ORDER BY step"
    },
    "bpe_bytes_encode" ->
      s"""WITH ${bpeBytesTrainCtes(bpeMerges)},
         enc AS (SELECT w, CAST(len(string_split(trim(rep, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_syms FROM r$bpeMerges),
         dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, replace(unnest(regexp_extract_all(text, '${"""''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""}')), ' ', chr(288)) AS w FROM documents) GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c * n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(c) AS BIGINT) AS n_pretokens
         FROM dw JOIN enc USING (w) GROUP BY 1 ORDER BY doc_id""",
    "bpe_encode" ->
      s"""WITH ${bpeTrainCtes(bpeMerges)},
         enc AS (SELECT w, CAST(len(string_split(trim(rep, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_syms FROM r$bpeMerges),
         dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents) GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c * n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(c) AS BIGINT) AS n_words
         FROM dw JOIN enc USING (w) GROUP BY 1 ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY 1""",
    "dedup_minhash_sig" -> {
      val perm = (0 until 8).map { j =>
        s"coalesce(list_min(list_transform(gh, x -> (x * ${2L * j + 1} + ${12289L * j + 741}) % 2147483647)), ${Long.MaxValue})"
      }.mkString(", ")
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          h AS (
            SELECT doc_id, list_transform(toks,
              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647 % 2147483647) AS th
            FROM t),
          sh AS (
            SELECT doc_id, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
              list_distinct(list_transform(range(1, len(th) - 2 + 1),
                i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647))
            END AS gh
            FROM h)
          SELECT doc_id, array_to_string([$perm], ',') AS sig FROM sh ORDER BY doc_id"""
    },
    "pii_scrub" -> {
      // single-quoted SQL literals pass backslashes through verbatim, so the
      // exact same pattern strings reach RE2 as reach Java regex
      val e = TextAnalysis.emailRe
      val p = TextAnalysis.phoneRe
      s"""SELECT doc_id,
            CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
            regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'),
              '$p', '<PHONE>', 'g') AS clean
          FROM documents ORDER BY doc_id"""
    },
    "card_scrub" -> {
      val cr = TextAnalysis.cardRe
      // same candidate regex; Luhn as a nested lambda with the identical
      // right-to-left double/-9 arithmetic; only valid matches replaced
      s"""WITH syn AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0 THEN ' card 4111111111111111 ok' ELSE '' END ||
           CASE WHEN doc_id % 4 = 0 THEN ' pay 5500 0000 0000 0004 now' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN ' order 4111111111111112 ref' ELSE '' END AS text
         FROM documents),
         v AS (SELECT doc_id, text,
           list_filter(regexp_extract_all(text, '$cr'), cd ->
             list_sum(list_transform(
               range(1, len(regexp_replace(cd, '[ -]', '', 'g')) + 1),
               i -> CASE WHEN i % 2 = 0 THEN
                      CASE WHEN CAST(regexp_replace(cd, '[ -]', '', 'g')[-i] AS INT) * 2 > 9
                           THEN CAST(regexp_replace(cd, '[ -]', '', 'g')[-i] AS INT) * 2 - 9
                           ELSE CAST(regexp_replace(cd, '[ -]', '', 'g')[-i] AS INT) * 2 END
                    ELSE CAST(regexp_replace(cd, '[ -]', '', 'g')[-i] AS INT) END)) % 10 = 0)
           AS valid
         FROM syn)
         SELECT doc_id, CAST(len(valid) AS BIGINT) AS n_cards,
           list_reduce(list_prepend(text, valid),
             (acc, vv) -> replace(acc, vv, '<CARD>')) AS clean
         FROM v ORDER BY doc_id"""
    },
    "repetition_stats" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, chr(10)) AS lines,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, lines, toks,
             CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             END AS g2
           FROM t)
         SELECT doc_id,
           1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE)
             AS dup_line_frac,
           CASE WHEN len(g2) > 0 THEN
             1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
           ELSE 0.0 END AS dup_2gram_frac,
           CAST(list_sum(list_transform(toks, t2 -> len(t2))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_word_len
         FROM g ORDER BY doc_id""",
    // the Porter/POS/RBEM automata in SQL (see [[NlpSql]]) — formerly the
    // suite's only rows-only row
    "nlp_stem_pos_sentiment" -> NlpSql.sql,
    "nlp_emotion" -> NlpSql.emotionSql,
    "nlp_tokenize" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
         SELECT doc_id, array_to_string(toks, ' ') AS toks,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           toks[1] AS first_tok, toks[-1] AS last_tok
         FROM t ORDER BY doc_id""",
    "ngram_jaccard" -> {
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          h AS (
            SELECT doc_id, list_transform(toks,
              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647 % 2147483647) AS th
            FROM t),
          sh AS (
            SELECT doc_id, CASE WHEN len(th) < 2 THEN CAST([] AS BIGINT[]) ELSE
              list_distinct(list_transform(range(1, len(th) - 1 + 1),
                i -> (th[i] * 131 + th[i+1]) % 2147483647))
            END AS gh
            FROM h),
          p AS (SELECT gh AS ph FROM sh WHERE doc_id = 0)
          SELECT sh.doc_id,
            CAST(len(list_intersect(sh.gh, p.ph)) AS DOUBLE) /
            CAST(len(sh.gh) + len(p.ph) - len(list_intersect(sh.gh, p.ph)) AS DOUBLE) AS jac
          FROM sh, p WHERE sh.doc_id != 0 ORDER BY sh.doc_id"""
    },
    "dedup_minhash_lsh" -> {
      val perm = (0 until 8).map { j =>
        s"list_min(list_transform(gh, x -> (x * ${2L * j + 1} + ${12289L * j + 741}) % 2147483647))"
      }.mkString(", ")
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          h AS (
            SELECT doc_id, list_transform(toks,
              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
            FROM t),
          sh AS (
            SELECT doc_id, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
              list_distinct(list_transform(range(1, len(th) - 2 + 1),
                i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647))
            END AS gh
            FROM h),
          sig AS (SELECT doc_id, gh, [$perm] AS sig FROM sh),
          bands AS (
            SELECT doc_id, gh, unnest(list_transform(range(4), j ->
              j::VARCHAR || ':' || sig[2*j+1]::VARCHAR || ':' || sig[2*j+2]::VARCHAR)) AS band
            FROM sig),
          pairs AS (
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.gh AS gh1, b.gh AS gh2
            FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
          SELECT id1, id2,
            CAST(len(list_intersect(gh1, gh2)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(gh1, gh2))) AS DOUBLE) AS jac
          FROM pairs ORDER BY id1, id2"""
    },
    "dedup_simhash" ->
      """WITH t AS (
           SELECT doc_id, list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks
           FROM documents),
         h AS (
           SELECT doc_id, list_transform(toks,
             t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
           FROM t)
         SELECT doc_id, CAST(list_sum(list_transform(range(16), i ->
           CASE WHEN list_sum(list_transform(th, x ->
             CASE WHEN (x & (1::BIGINT << i)) != 0 THEN 1 ELSE -1 END)) >= 0
           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
         FROM h ORDER BY doc_id""",
    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(e.v, q.qv), p -> p[1] * p[2])), (a, b) -> a + b)
             / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(e.v, e.v), p -> p[1] * p[2])), (a, b) -> a + b))
                * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(q.qv, q.qv), p -> p[1] * p[2])), (a, b) -> a + b)))
             AS cos
           FROM e, q WHERE e.vec_id != 0)
         SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    // the same planted-weight formulas regenerated in SQL; every step
    // integer-exact except the floor-quantized sigmoid
    "deeplearn_mlp_forward" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * 1024) AS BIGINT)) AS xq
           FROM embeddings),
         hid AS (
           SELECT vec_id,
             list_transform(range(8), i ->
               CAST(floor(10000.0 / (1.0 + exp(-(CAST(
                 1024 * ((i % 5) - 2) +
                 CAST(list_sum(list_transform(range(64), j ->
                   (((i * 7 + j * 13) % 11) - 5) * xq[j + 1])) AS BIGINT)
               AS DOUBLE) / 8192.0)))) AS BIGINT)) AS a1
           FROM e),
         lg AS (
           SELECT vec_id, a1,
             list_transform(range(4), c ->
               ((c % 3) - 1) +
               CAST(list_sum(list_transform(range(8), i ->
                 (((c * 5 + i * 3) % 7) - 3) * a1[i + 1])) AS BIGINT)) AS z2
           FROM hid)
         SELECT vec_id,
           CAST(CASE WHEN z2[1] = list_max(z2) THEN 0
                     WHEN z2[2] = list_max(z2) THEN 1
                     WHEN z2[3] = list_max(z2) THEN 2
                     ELSE 3 END AS INT) AS cls,
           CAST(list_sum(a1) AS BIGINT) AS h_sum,
           CAST(list_sum(z2) AS BIGINT) AS logit_sum
         FROM lg ORDER BY vec_id""",
    // generated oracles: the trained-then-quantized stack weights render
    // as list literals through stackPredictOracleSql — SdA and DBN share
    // the inference math, so one builder gates both
    "deeplearn_sda_predict" -> stackPredictOracleSql(sdaDemoWeights),
    "deeplearn_dbn_predict" -> stackPredictOracleSql(dbnDemoWeights),
    "hmm_viterbi_decode" -> hmmViterbiOracleSql(hmmDemoModel),
    "fpgrowth_itemsets" ->
      // brute subset-count over the 5-item universe: every non-empty mask
      // of {m2,m3,m4,m5,m6}, support = transactions containing ALL masked
      // items, keep freq >= ceil(0.12 * N) — FP-Growth's exact minCount
      """WITH tx AS (
           SELECT doc_id % 2 = 0 AS b2, doc_id % 3 = 0 AS b3,
                  doc_id % 4 = 0 AS b4, doc_id % 5 = 0 AS b5,
                  doc_id % 6 = 0 AS b6
           FROM documents),
         n AS (SELECT count(*) AS cnt FROM tx),
         sup AS (
           SELECT m,
             concat_ws(',',
               CASE WHEN (m & 1)  > 0 THEN 'm2' END,
               CASE WHEN (m & 2)  > 0 THEN 'm3' END,
               CASE WHEN (m & 4)  > 0 THEN 'm4' END,
               CASE WHEN (m & 8)  > 0 THEN 'm5' END,
               CASE WHEN (m & 16) > 0 THEN 'm6' END) AS itemset,
             (SELECT count(*) FROM tx WHERE
                ((m & 1)  = 0 OR b2) AND ((m & 2)  = 0 OR b3) AND
                ((m & 4)  = 0 OR b4) AND ((m & 8)  = 0 OR b5) AND
                ((m & 16) = 0 OR b6)) AS freq
           FROM (SELECT range AS m FROM range(1, 32)))
         SELECT itemset, CAST(freq AS BIGINT) AS freq FROM sup, n
         WHERE freq >= CAST(ceil(0.12 * cnt) AS BIGINT)
         ORDER BY itemset""",
    "minmax_scale" ->
      // MinMaxScaler's exact arithmetic at the default [0,1] output range:
      // (x - min) * (scale/range) — a precomputed RECIPROCAL multiply, not
      // a division (1-ulp different; the division form fails the gate) —
      // and 0.5 for 0-range columns
      """WITH v AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS f1,
                      CAST(doc_id % 97 AS DOUBLE) AS f2 FROM documents),
         m AS (SELECT min(f1) AS m1, max(f1) AS x1,
                      min(f2) AS m2, max(f2) AS x2 FROM v)
         SELECT doc_id,
           CASE WHEN x1 - m1 = 0 THEN 0.5
                ELSE (f1 - m1) * (CAST(1.0 AS DOUBLE) / (x1 - m1)) END AS s1,
           CASE WHEN x2 - m2 = 0 THEN 0.5
                ELSE (f2 - m2) * (CAST(1.0 AS DOUBLE) / (x2 - m2)) END AS s2
         FROM v, m ORDER BY doc_id""",
    "onehot_encode" ->
      // alphabetAsc index via dense_rank over the distinct categories;
      // dropLast: vector has nl-1 slots, the last category activates none
      """WITH k AS (SELECT count(DISTINCT lang) AS nl FROM documents),
         r AS (SELECT lang, dense_rank() OVER (ORDER BY lang) - 1 AS idx
               FROM (SELECT DISTINCT lang FROM documents)),
         d AS (SELECT doc_id, lang FROM documents)
         SELECT d.doc_id, d.lang, CAST(k.nl - 1 AS INT) AS vec_size,
           CAST(CASE WHEN r.idx < k.nl - 1 THEN r.idx ELSE -1 END AS BIGINT)
             AS active
         FROM d JOIN r USING (lang), k ORDER BY d.doc_id""",
    "impute_mode" ->
      // mode = (count desc, value asc) first — unique by construction here,
      // so the ORDER BY tie rule never decides
      """WITH v AS (SELECT doc_id,
             CASE WHEN doc_id % 10 = 9 THEN NULL
                  WHEN doc_id % 10 < 4 THEN CAST(1.0 AS DOUBLE)
                  WHEN doc_id % 10 < 7 THEN CAST(2.0 AS DOUBLE)
                  ELSE CAST(3.0 AS DOUBLE) END AS v
           FROM documents),
         m AS (SELECT v AS fill FROM v WHERE v IS NOT NULL
               GROUP BY v ORDER BY count(*) DESC, v ASC LIMIT 1)
         SELECT doc_id, coalesce(v.v, m.fill) AS v FROM v, m
         ORDER BY doc_id""",
    "doc_embedding_pool" ->
      // same hash-embedding table (byte j of one md5 per word, signed),
      // exact integer sums, one division per dimension, ordered by dim
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         comp AS (SELECT doc_id, w, unnest(range(0, 16)) AS j FROM tok),
         v AS (SELECT doc_id, j,
                 ('0x' || substr(md5(w), CAST(2*j+1 AS INT), 2))::BIGINT - 128 AS c
               FROM comp),
         agg AS (SELECT doc_id, j, CAST(sum(c) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
                 FROM v GROUP BY 1, 2)
         SELECT doc_id, CAST(j AS INT) AS dim,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS val
         FROM agg ORDER BY doc_id, dim""",
    "ann_sq8_topk" ->
      // int8 codes via floor(x·127/scale + 0.5); integer dot; one float
      // de-scale expression in the same parenthesization as the Spark side
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         enc AS (SELECT vec_id, sc,
                  CASE WHEN sc = 0 THEN list_transform(v, x -> 0::BIGINT)
                       ELSE list_transform(v, x -> CAST(floor(x * 127.0 / sc + 0.5) AS BIGINT))
                  END AS c
                 FROM (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS sc FROM e)),
         q AS (SELECT c AS qc, sc AS qsc FROM enc WHERE vec_id = 0),
         sc2 AS (SELECT enc.vec_id,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(list_zip(enc.c, q.qc), p -> p[1] * p[2])),
                    (a, b) -> a + b) AS dot_q,
                  enc.sc AS sc, q.qsc AS qsc
                 FROM enc, q WHERE enc.vec_id != 0)
         SELECT vec_id, dot_q,
           (CAST(dot_q AS DOUBLE) * (sc * qsc)) / 16129.0 AS score
         FROM sc2 ORDER BY score DESC, vec_id ASC LIMIT 10""",
    "ann_ivf_topk" ->
      // same sequential-fold arithmetic as ann_cosine_topk; assignment is
      // argmin squared-L2 with ties to the lowest centroid index
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
               FROM e ORDER BY vec_id LIMIT 8),
         d AS (SELECT e.vec_id, e.v, c.j,
                 list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(e.v, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
                   (a, b) -> a + b) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, v, j AS centroid FROM
                 (SELECT vec_id, v, j,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM d)
               WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         probes AS (SELECT j FROM (
             SELECT c.j, list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(c.cv, q.qv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
               (a, b) -> a + b) AS dist FROM c, q)
           ORDER BY dist, j LIMIT 2),
         scored AS (
           SELECT a.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(a.v, q.qv), p -> p[1] * p[2])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(a.v, a.v), p -> p[1] * p[2])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(q.qv, q.qv), p -> p[1] * p[2])), (x, y) -> x + y)))
             AS cos
           FROM a, q
           WHERE a.centroid IN (SELECT j FROM probes) AND a.vec_id != 0)
         SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    "ann_pq_adc" ->
      // same seeded codebooks (4 lowest-id vectors, m=8 × dsub=8), same
      // ordered-fold subspace distances, same argmin tie rule (lowest code),
      // integerized ADC cells so the m-term sum is order-free
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sub AS (SELECT unnest(range(0, 8)) AS s),
         seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
                   FROM e ORDER BY vec_id LIMIT 4),
         cb AS (SELECT sub.s, seeds.j, seeds.v[sub.s*8+1 : sub.s*8+8] AS cv
                FROM sub CROSS JOIN seeds),
         dist AS (SELECT e.vec_id, cb.s, cb.j,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(e.v[cb.s*8+1 : cb.s*8+8], cb.cv),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))), (a, b) -> a + b) AS d
           FROM e CROSS JOIN cb),
         codes AS (SELECT vec_id, s, j AS code FROM (
             SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
             FROM dist)
           WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         tbl AS (SELECT cb.s, cb.j,
             CAST(floor(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(cb.cv, q.qv[cb.s*8+1 : cb.s*8+8]),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))), (a, b) -> a + b) * 1000000)
               AS BIGINT) AS cell
           FROM cb, q)
         SELECT vec_id, CAST(sum(cell) AS BIGINT) AS adc FROM codes
         JOIN tbl ON codes.s = tbl.s AND codes.code = tbl.j
         WHERE vec_id != 0
         GROUP BY vec_id ORDER BY adc ASC, vec_id ASC LIMIT 10""",
    "ann_ivfpq" ->
      ivfPqOracleSql("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"),
    "ann_ivfpq_join" -> // centroid ids by position ≡ by vec_id: same oracle
      ivfPqOracleSql("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"),
    "w2v_ivfpq" ->
      // same IVF-PQ math over the deterministic pretrained-w2v fixture the
      // Spark side writes and reads back through the word2vec text source:
      // v[i][j] = ((i*31 + j*17) % 97 - 48) / 64, exact in float32 so the
      // file → parse → float → double chain matches this double arithmetic
      ivfPqOracleSql(
        """SELECT i AS vec_id, list_transform(range(64), j ->
             CAST((i*31 + j*17) % 97 - 48 AS DOUBLE) / 64.0) AS v
           FROM (SELECT unnest(range(200)) AS i) t"""),
    "embedding_near_dup" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> CAST(floor(x*1000000) AS BIGINT)) AS q
           FROM embeddings WHERE vec_id < 300),
         n AS (SELECT vec_id, q,
             CAST(list_sum(list_transform(list_zip(q,q), p -> p[1]*p[2])) AS BIGINT) AS n2
           FROM e)
         SELECT id1, id2, cos FROM (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
             CAST(list_sum(list_transform(list_zip(a.q,b.q), p -> p[1]*p[2])) AS BIGINT)
               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
           FROM n a, n b WHERE a.vec_id < b.vec_id)
         WHERE cos >= 0.4 ORDER BY id1, id2""",
    "semantic_dedup" -> {
      // the IDENTICAL left-to-right fold arithmetic as the Spark cosine()
      // (aggregate over zip_with) — exact on the integerized vectors
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      def nrm(a: String) = s"sqrt(${dot(a, a)})"
      s"""WITH RECURSIVE e AS (
            SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)) AS q
            FROM embeddings),
          c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, q AS cv
                FROM e ORDER BY vec_id LIMIT 16),
          d AS (SELECT e.vec_id, e.q, c.j,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(list_zip(e.q, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (a, b) -> a + b) AS dist
                FROM e CROSS JOIN c),
          a AS (SELECT vec_id, q, j AS centroid FROM (
                  SELECT vec_id, q, j,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM d)
                WHERE rn = 1),
          cs AS (SELECT a.vec_id, ${dot("a.q", "c.cv")} / (${nrm("a.q")} * ${nrm("c.cv")}) AS centsim
                 FROM a JOIN c ON a.centroid = c.j),
          dup AS (SELECT x.vec_id AS id1, y.vec_id AS id2 FROM a x
                  JOIN a y ON x.centroid = y.centroid AND x.vec_id < y.vec_id
                  WHERE ${nrm("x.q")} > 0 AND ${nrm("y.q")} > 0
                    AND ${dot("x.q", "y.q")} >= (0.4 * ${nrm("x.q")}) * ${nrm("y.q")}),
          sym AS (SELECT id1 AS u, id2 AS v FROM dup UNION SELECT id2, id1 FROM dup),
          lbl(u, m) AS (SELECT vec_id, vec_id FROM e UNION
                        SELECT s.u, l.m FROM sym s JOIN lbl l ON l.u = s.v),
          comp AS (SELECT u AS vec_id, min(m) AS cluster FROM lbl GROUP BY u),
          ranked AS (SELECT comp.vec_id, comp.cluster,
                       row_number() OVER (PARTITION BY comp.cluster
                         ORDER BY cs.centsim, comp.vec_id) AS rn
                     FROM comp JOIN cs ON comp.vec_id = cs.vec_id)
          SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, rn = 1 AS keep
          FROM ranked ORDER BY vec_id"""
    },
    "semantic_decontaminate" -> {
      // each pair cosine is ONE exact dot (same left-to-right fold as
      // vec_dot), two sqrt, one multiply, one divide; max is order-free,
      // so the relational MAX equals the Spark greatest-fold bit-for-bit
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      def nrm(a: String) = s"sqrt(${dot(a, a)})"
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)) AS q
            FROM embeddings),
          b AS (SELECT q AS bv, ${nrm("q")} AS bn FROM e
                WHERE vec_id % 23 = 0 AND ${nrm("q")} > 0),
          n AS (SELECT vec_id, q, ${nrm("q")} AS nq FROM e),
          p AS (SELECT n.vec_id, max(${dot("n.q", "b.bv")} / (n.nq * b.bn)) AS max_cos
                FROM n CROSS JOIN b WHERE n.nq > 0 GROUP BY n.vec_id)
          SELECT n.vec_id, p.max_cos,
            coalesce(p.max_cos >= 0.9, FALSE) AS suspect
          FROM n LEFT JOIN p ON n.vec_id = p.vec_id ORDER BY n.vec_id"""
    },
    "ivf_assign_join" ->
      // centroid ids ARE the low vec_ids; argmin squared-L2 with ties to
      // the lowest centroid id — the min-over-(dist,id)-structs rule
      """WITH e AS (SELECT vec_id,
           list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)) AS q
           FROM embeddings),
         c AS (SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id < 64),
         d AS (SELECT e.vec_id, c.cid,
                 list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(list_zip(e.q, c.cv),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))),
                   (a, b) -> a + b) AS dist
               FROM e CROSS JOIN c)
         SELECT vec_id, CAST(cid AS BIGINT) AS centroid FROM (
           SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           FROM d)
         WHERE rn = 1 ORDER BY vec_id""",
    "semantic_dedup_join" -> {
      // semantic_dedup's program with the 64-centroid quantizer: centroid
      // ids are the low vec_ids themselves, everything else identical
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      def nrm(a: String) = s"sqrt(${dot(a, a)})"
      s"""WITH RECURSIVE e AS (
            SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)) AS q
            FROM embeddings),
          c AS (SELECT vec_id AS j, q AS cv FROM e WHERE vec_id < 64),
          d AS (SELECT e.vec_id, e.q, c.j,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(list_zip(e.q, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (a, b) -> a + b) AS dist
                FROM e CROSS JOIN c),
          a AS (SELECT vec_id, q, j AS centroid FROM (
                  SELECT vec_id, q, j,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM d)
                WHERE rn = 1),
          cs AS (SELECT a.vec_id, ${dot("a.q", "c.cv")} / (${nrm("a.q")} * ${nrm("c.cv")}) AS centsim
                 FROM a JOIN c ON a.centroid = c.j),
          dup AS (SELECT x.vec_id AS id1, y.vec_id AS id2 FROM a x
                  JOIN a y ON x.centroid = y.centroid AND x.vec_id < y.vec_id
                  WHERE ${nrm("x.q")} > 0 AND ${nrm("y.q")} > 0
                    AND ${dot("x.q", "y.q")} >= (0.4 * ${nrm("x.q")}) * ${nrm("y.q")}),
          sym AS (SELECT id1 AS u, id2 AS v FROM dup UNION SELECT id2, id1 FROM dup),
          lbl(u, m) AS (SELECT vec_id, vec_id FROM e UNION
                        SELECT s.u, l.m FROM sym s JOIN lbl l ON l.u = s.v),
          comp AS (SELECT u AS vec_id, min(m) AS cluster FROM lbl GROUP BY u),
          ranked AS (SELECT comp.vec_id, comp.cluster,
                       row_number() OVER (PARTITION BY comp.cluster
                         ORDER BY cs.centsim, comp.vec_id) AS rn
                     FROM comp JOIN cs ON comp.vec_id = cs.vec_id)
          SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, rn = 1 AS keep
          FROM ranked ORDER BY vec_id"""
    },
    "lang_id" -> {
      val scores = TextAnalysis.langMarkers.zipWithIndex.map { case ((lang, markers), i) =>
        val inList = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($inList))) * 8 + ${7 - i} AS s_$lang"
      }.mkString(", ")
      val best = "greatest(" + TextAnalysis.langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val decode = TextAnalysis.langMarkers.zipWithIndex.map { case ((lang, _), i) =>
        s"WHEN $best % 8 = ${7 - i} THEN '$lang'"
      }.reverse.mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          sc AS (SELECT doc_id, $scores FROM t)
          SELECT doc_id, CASE WHEN $best < 8 THEN 'und' $decode END AS pred_lang
          FROM sc ORDER BY doc_id"""
    },
    "quality_score" -> {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          f AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
            CAST(len(list_filter(toks, t -> t IN ($stopList))) AS BIGINT) AS n_stop,
            CAST(length(text) AS BIGINT) AS n_chars_m
          FROM t)
          SELECT doc_id, n_tokens, n_punct, n_stop,
            0.4 * least(CAST(n_tokens AS DOUBLE), 256.0) / 256.0
            + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_m AS DOUBLE))
            + 0.3 * least(4.0 * CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 1.0) AS quality
          FROM f ORDER BY doc_id"""
    },
    "token_count" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens
         FROM documents ORDER BY doc_id""",
    "doc_fingerprint" ->
      """SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(text) + 1), i -> CAST(unicode(text[i:i]) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
         FROM documents ORDER BY doc_id""",
    "pmi" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok
           FROM documents),
         freq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1 HAVING count(*) >= 50),
         tv AS (SELECT t.doc_id, t.tok, f.df FROM toks t JOIN freq f ON t.tok = f.tok),
         pairs AS (
           SELECT a.tok AS x, b.tok AS y, a.df AS nx, b.df AS ny, count(*) AS nxy
           FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.tok < b.tok
           GROUP BY 1, 2, 3, 4)
         SELECT x, y, nxy,
           CAST(nxy * (SELECT count(*) FROM documents) AS DOUBLE)
             / CAST(nx * ny AS DOUBLE) AS pmi_ratio
         FROM pairs ORDER BY pmi_ratio DESC, x, y LIMIT 20""",
    "document_assembly" ->
      """SELECT user_id, string_agg(event_type, ' ' ORDER BY event_id) AS doc
         FROM events WHERE event_type IS NOT NULL AND length(event_type) > 0
         GROUP BY 1 ORDER BY 1""",
    "multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         md5(text) AS content_md5
         FROM documents ORDER BY doc_id""",
    "multimodal_decode" ->
      """SELECT doc_id,
         CAST(doc_id % 13 + 1 AS INT) AS width,
         CAST(doc_id % 7 + 1 AS INT) AS height,
         CAST(doc_id % 256 AS DOUBLE) AS mean_r,
         CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
         CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
         FROM documents ORDER BY doc_id""",
    "decontaminate" -> decontaminateSql,
    // bloom pre-filter changes the plan, not the result set
    "decontaminate_bloom" -> decontaminateSql,
    // full-join equivalence: nothing evicts under the oversized watermark,
    // so the appended stream-stream join output is the batch θ-join
    "streaming_join_2batch" ->
      """WITH l AS (SELECT doc_id % 50 AS k, doc_id AS lid, doc_id AS lt
           FROM documents WHERE doc_id < 500),
         r AS (SELECT doc_id % 50 AS k, doc_id AS rid, doc_id + doc_id % 7 - 3 AS rt
           FROM documents WHERE doc_id < 500)
         SELECT l.k AS k, lid, rid FROM l JOIN r
           ON l.k = r.k AND r.rt BETWEEN l.lt - 5 AND l.lt + 5
         ORDER BY l.k, lid, rid""",
    // eviction replay: batch-3 ids 200-249 arrive below the watermark and
    // must contribute NOTHING, so the oracle joins only the on-time id
    // ranges (batches 1 and 2); ids 250-299 are never fed at all
    "streaming_join_evict_3batch" ->
      """WITH ids AS (SELECT doc_id FROM documents
           WHERE doc_id < 200 OR (doc_id >= 300 AND doc_id < 500)),
         l AS (SELECT doc_id % 50 AS k, doc_id AS lid, doc_id AS lt FROM ids),
         r AS (SELECT doc_id % 50 AS k, doc_id AS rid, doc_id + doc_id % 7 - 3 AS rt FROM ids)
         SELECT l.k AS k, lid, rid FROM l JOIN r
           ON l.k = r.k AND r.rt BETWEEN l.lt - 5 AND l.lt + 5
         ORDER BY l.k, lid, rid""",
    // the streaming gate's Bloom-prefilter + exact-verify tag equals the
    // batch decontaminate per row (Bloom has no false negatives; false
    // positives die on the exact probe), so the oracle is the same query
    // under the gate's column names
    "streaming_decontaminate_2batch" ->
      decontaminateSql.replace("n_hits", "n_suspect")
        .replace("contaminated", "suspect"),
    "lm_perplexity" ->
      // each log term quantized as floor(1e4·term): ln is not correctly
      // rounded cross-engine, so the coarse quantization shrinks the floor
      // boundary-coincidence window to ~1e-11 per distinct count pair (a
      // mitigation sized so expected corpus-wide divergence is ≪ 1)
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         p AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> struct_pack(a := toks[i], b := toks[i+1]))) AS pr
               FROM t WHERE len(toks) >= 2),
         pairs AS (SELECT doc_id, pr.a AS a, pr.b AS b FROM p),
         big AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
         ctx AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM big GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vocab_size
               FROM (SELECT unnest(toks) AS tok FROM t)),
         terms AS (
           SELECT pairs.doc_id,
             CAST(floor(1e4 * (ln(big.c_ab + 1)
               - ln(ctx.c_a + (SELECT vocab_size FROM v)))) AS BIGINT) AS term
           FROM pairs JOIN big USING (a, b) JOIN ctx USING (a)),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(term) AS BIGINT) AS logprob_q4
                 FROM terms GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(g.logprob_q4, 0) AS BIGINT) AS logprob_q4
         FROM documents d LEFT JOIN agg g USING (doc_id) ORDER BY d.doc_id""",
    "rrf_fuse_topk" ->
      // both cosine lists ranked in one pass (rn per query id), rank-only
      // integer contributions floor(1e12/(60+rn)), order-free sum
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 42)),
         scored AS (
           SELECT q.qid, e.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(e.v, q.qv), p -> p[1] * p[2])), (a, b) -> a + b)
             / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(e.v, e.v), p -> p[1] * p[2])), (a, b) -> a + b))
                * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(q.qv, q.qv), p -> p[1] * p[2])), (a, b) -> a + b)))
             AS cos
           FROM e, q WHERE e.vec_id != q.qid),
         topk AS (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
           FROM scored),
         contrib AS (SELECT vec_id AS id,
             CAST(floor(1e12 / (60.0 + rn)) AS BIGINT) AS contrib
           FROM topk WHERE rn <= 10),
         agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_lists,
             CAST(sum(contrib) AS BIGINT) AS rrf_q FROM contrib GROUP BY 1)
         SELECT id, n_lists, rrf_q, CAST(rrf_q AS DOUBLE) / 1e12 AS rrf_score
         FROM agg ORDER BY rrf_q DESC, id ASC LIMIT 10""",

    "js_divergence_pairwise" ->
      // identical expression tree: p = c/n IEEE divisions, per-term
      // floor(1e4·…) ln quantization, 1e9 mass integerization, js_est
      // derived from the integer sums with the fixed ln2 literal
      """WITH t AS (
           SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents WHERE text IS NOT NULL),
         c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         p AS (SELECT c.source, c.tok, CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS p
               FROM c JOIN n USING (source)),
         sh AS (SELECT a.source AS g_a, b.source AS g_b, a.p AS p, b.p AS q
                FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source),
         agg AS (SELECT g_a, g_b, CAST(count(*) AS BIGINT) AS n_shared,
                   CAST(sum(CAST(floor(1e4 * (p * ln(2.0 * p / (p + q))
                     + q * ln(2.0 * q / (p + q)))) AS BIGINT)) AS BIGINT) AS shared_q4,
                   CAST(sum(CAST(floor(1e9 * p) AS BIGINT)) AS BIGINT) AS pa_q9,
                   CAST(sum(CAST(floor(1e9 * q) AS BIGINT)) AS BIGINT) AS qb_q9
                 FROM sh GROUP BY 1, 2)
         SELECT g_a AS source_a, g_b AS source_b, n_shared, shared_q4, pa_q9, qb_q9,
           0.5 * (CAST(shared_q4 AS DOUBLE) / 1e4) + 0.5 * 0.6931471805599453 *
             ((1.0 - CAST(pa_q9 AS DOUBLE) / 1e9) + (1.0 - CAST(qb_q9 AS DOUBLE) / 1e9))
             AS js_est
         FROM agg ORDER BY source_a, source_b""",

    "kn_bigram_score" ->
      // identical expression tree to the Spark side: discounted ML +
      // interpolation weight × add-one-smoothed continuation probability,
      // unseen context → continuation only; each ln term floor-quantized
      // at 1e4 (the scoreBigram mitigation contract)
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         p AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> struct_pack(a := toks[i], b := toks[i+1]))) AS pr
               FROM t WHERE len(toks) >= 2),
         pairs AS (SELECT doc_id, pr.a AS a, pr.b AS b FROM p),
         tr AS (SELECT a, b FROM pairs WHERE doc_id % 2 = 0),
         big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM tr GROUP BY 1, 2),
         ctx AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
                   CAST(count(*) AS BIGINT) AS n_follow FROM big GROUP BY 1),
         cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS n_prec FROM big GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM big),
         v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
               FROM (SELECT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 0)),
         sc AS (SELECT doc_id, a, b FROM pairs WHERE doc_id % 2 = 1),
         terms AS (
           SELECT sc.doc_id,
             CAST(floor(1e4 * ln(
               CASE WHEN ctx.c_a IS NOT NULL THEN
                 greatest(CAST(coalesce(big.c_ab, 0) AS DOUBLE) - 0.75, 0.0)
                     / CAST(ctx.c_a AS DOUBLE)
                   + 0.75 * CAST(ctx.n_follow AS DOUBLE) / CAST(ctx.c_a AS DOUBLE)
                     * ((CAST(coalesce(cnt.n_prec, 0) AS DOUBLE) + 1.0)
                        / (CAST((SELECT n_types FROM tot) AS DOUBLE)
                           + CAST((SELECT vocab_size FROM v) AS DOUBLE)))
               ELSE (CAST(coalesce(cnt.n_prec, 0) AS DOUBLE) + 1.0)
                    / (CAST((SELECT n_types FROM tot) AS DOUBLE)
                       + CAST((SELECT vocab_size FROM v) AS DOUBLE))
               END)) AS BIGINT) AS term
           FROM sc LEFT JOIN big USING (a, b) LEFT JOIN ctx USING (a)
                   LEFT JOIN cnt USING (b)),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(term) AS BIGINT) AS kn_logprob_q4
                 FROM terms GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(g.kn_logprob_q4, 0) AS BIGINT) AS kn_logprob_q4
         FROM documents d LEFT JOIN agg g USING (doc_id)
         WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""",

    "cross_corpus_dedup" -> {
      val perm = (0 until 16).map { j =>
        s"list_min(list_transform(gh, x -> (x * ${2L * j + 1} + ${12289L * j + 741}) % 2147483647))"
      }.mkString(", ")
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          h AS (
            SELECT doc_id, list_transform(toks,
              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
            FROM t),
          sh AS (
            SELECT doc_id, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
              list_distinct(list_transform(range(1, len(th) - 2 + 1),
                i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647))
            END AS gh
            FROM h),
          sig AS (SELECT doc_id, gh, [$perm] AS sig FROM sh WHERE len(gh) > 0),
          bands AS (
            SELECT doc_id, gh, unnest(list_transform(range(4), j ->
              j::VARCHAR || ':' || sig[4*j+1]::VARCHAR || ':' || sig[4*j+2]::VARCHAR || ':' || sig[4*j+3]::VARCHAR || ':' || sig[4*j+4]::VARCHAR)) AS band
            FROM sig),
          pairs AS (
            SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS ref_id, a.gh AS gh1, b.gh AS gh2
            FROM bands a JOIN bands b ON a.band = b.band
            WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
          scored AS (
            SELECT in_id, ref_id,
              CAST(len(list_intersect(gh1, gh2)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(gh1, gh2))) AS DOUBLE) AS jaccard
            FROM pairs)
          SELECT in_id, ref_id, jaccard FROM scored WHERE jaccard >= 0.3
          ORDER BY in_id, ref_id"""
    },
    "corpus_stats" ->
      """WITH t AS (
           SELECT lang, source, CAST(n_chars AS BIGINT) AS nc,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ntok,
             md5(text) AS h
           FROM documents),
         hc AS (SELECT h, count(*) AS k FROM t GROUP BY 1)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs
         FROM t JOIN hc USING (h) GROUP BY lang ORDER BY lang""",
    "ann_knn_join" -> annKnnJoinSql,
    // the heap-aggregate path is a plan-level change with identical output
    "ann_knn_join_heap" -> annKnnJoinSql,
    "ann_knn_join_ivf" -> {
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      def l2(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"""
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x*1000000)) AS q
            FROM embeddings),
          cents AS (SELECT vec_id AS cj, q AS cq FROM e WHERE vec_id < 32),
          d AS (SELECT e.vec_id, c.cj, ${l2("e.q", "c.cq")} AS dist
                FROM e, cents c),
          ranked AS (SELECT vec_id, cj,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist, cj) AS rn
                     FROM d),
          home AS (SELECT vec_id, cj AS cell FROM ranked WHERE rn = 1),
          probes AS (SELECT vec_id, cj AS cell FROM ranked WHERE rn <= 2),
          cand AS (SELECT DISTINCT p.vec_id AS id, h.vec_id AS neighbor_id
                   FROM probes p JOIN home h USING (cell)
                   WHERE p.vec_id != h.vec_id),
          scored AS (SELECT cand.id, cand.neighbor_id,
                       ${dot("a.q", "b.q")} / (sqrt(${dot("a.q", "a.q")}) * sqrt(${dot("b.q", "b.q")})) AS cosine
                     FROM cand
                     JOIN e a ON a.vec_id = cand.id
                     JOIN e b ON b.vec_id = cand.neighbor_id),
          r AS (SELECT id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY id
                    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
                FROM scored)
          SELECT id, neighbor_id, rank, cosine FROM r WHERE rank <= 3
          ORDER BY id, rank"""
    },
    "corpus_unimax" ->
      // the waterfill is a fixed sequence of IEEE double ops (multiply,
      // divide, least, subtract) replayed in driver-visit order by the
      // recursive CTE; epoch thresholds integer-compare like corpus_mix
      """WITH RECURSIVE c AS (
           SELECT source, CAST(sum(n_chars) AS BIGINT) AS n,
                  CAST(row_number() OVER (ORDER BY CAST(sum(n_chars) AS BIGINT), source)
                    AS INTEGER) AS rn
           FROM documents GROUP BY source),
         l AS (SELECT CAST(max(rn) AS INTEGER) AS nl FROM c),
         alloc AS (
           SELECT 0 AS rn, CAST(250000 AS DOUBLE) AS b_rem,
                  CAST(NULL AS VARCHAR) AS source, CAST(0 AS DOUBLE) AS a,
                  CAST(1 AS DOUBLE) AS n
           UNION ALL
           SELECT c.rn,
             alloc.b_rem - least(2.0 * c.n, alloc.b_rem / ((SELECT nl FROM l) - alloc.rn)),
             c.source,
             least(2.0 * c.n, alloc.b_rem / ((SELECT nl FROM l) - alloc.rn)),
             CAST(c.n AS DOUBLE)
           FROM alloc JOIN c ON c.rn = alloc.rn + 1),
         e AS (SELECT source, a / n AS epochs FROM alloc WHERE rn > 0),
         r AS (SELECT source, CAST(floor(epochs) AS BIGINT) AS m_full,
                 CAST(floor((epochs - floor(epochs)) * 2147483647) AS BIGINT) AS thr
               FROM e)
         SELECT doc_id, source, n_epochs FROM (
           SELECT d.doc_id, d.source,
             r.m_full + CASE WHEN ('0x' || substr(md5('unimax:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 2147483647 < r.thr THEN 1 ELSE 0 END AS n_epochs
           FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.source)
         WHERE n_epochs > 0 ORDER BY doc_id""",
    "ppl_buckets" ->
      s"""WITH $pplScoreCtes,
         ne AS (SELECT doc_id, lang, n_bigrams,
                  CAST(-logprob_q4 AS DOUBLE) / n_bigrams AS ppl,
                  CAST(ntile(3) OVER (PARTITION BY lang
                    ORDER BY CAST(-logprob_q4 AS DOUBLE) / n_bigrams ASC, doc_id ASC)
                    AS INTEGER) AS ppl_bucket
                FROM sc WHERE n_bigrams > 0),
         em AS (SELECT doc_id, lang, n_bigrams, NULL::DOUBLE AS ppl,
                  0 AS ppl_bucket FROM sc WHERE n_bigrams = 0)
         SELECT doc_id, lang, n_bigrams, ppl, ppl_bucket,
           CASE WHEN ppl_bucket = 0 THEN 'none' WHEN ppl_bucket = 1 THEN 'head'
                WHEN ppl_bucket = 3 THEN 'tail' ELSE 'middle' END AS bucket_label
         FROM (SELECT * FROM ne UNION ALL SELECT * FROM em) ORDER BY doc_id""",
    "ppl_buckets_hist" ->
      // histogram thresholds: t_q = min integer-ppl bin whose per-language
      // cumulative count reaches ceil(q·N/3); docs bucket by threshold
      // comparison, so same-bin ties share a bucket (unlike ntile)
      s"""WITH $pplScoreCtes,
         ne AS (SELECT doc_id, lang, n_bigrams,
                  CAST(-logprob_q4 AS DOUBLE) / n_bigrams AS ppl,
                  CAST(floor(CAST(-logprob_q4 AS DOUBLE) / n_bigrams) AS BIGINT) AS bin
                FROM sc WHERE n_bigrams > 0),
         hist AS (SELECT lang, bin, count(*) AS c FROM ne GROUP BY 1, 2),
         cm AS (SELECT lang, bin,
                  sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cs FROM hist),
         tot AS (SELECT lang, count(*) AS n FROM ne GROUP BY 1),
         thr AS (SELECT cm.lang,
                   min(CASE WHEN cs >= (1 * n + 2) // 3 THEN bin END) AS t1,
                   min(CASE WHEN cs >= (2 * n + 2) // 3 THEN bin END) AS t2
                 FROM cm JOIN tot ON cm.lang IS NOT DISTINCT FROM tot.lang
                 GROUP BY 1),
         nb AS (SELECT ne.doc_id, ne.lang, ne.n_bigrams, ne.ppl,
                  1 + CASE WHEN ne.bin > thr.t1 THEN 1 ELSE 0 END
                    + CASE WHEN ne.bin > thr.t2 THEN 1 ELSE 0 END AS ppl_bucket
                FROM ne JOIN thr ON ne.lang IS NOT DISTINCT FROM thr.lang),
         em AS (SELECT doc_id, lang, n_bigrams, NULL::DOUBLE AS ppl,
                  0 AS ppl_bucket FROM sc WHERE n_bigrams = 0)
         SELECT doc_id, lang, n_bigrams, ppl,
           CAST(ppl_bucket AS INTEGER) AS ppl_bucket,
           CASE WHEN ppl_bucket = 0 THEN 'none' WHEN ppl_bucket = 1 THEN 'head'
                WHEN ppl_bucket = 3 THEN 'tail' ELSE 'middle' END AS bucket_label
         FROM (SELECT * FROM nb UNION ALL SELECT * FROM em) ORDER BY doc_id""",
    "substring_dedup" -> {
      def chainSql(mult: Int) = (1 until 8).foldLeft("th[i]") { (acc, j) =>
        s"(($acc * $mult + th[i+$j]) % 2147483647)"
      }
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          h AS (SELECT doc_id, toks, list_transform(toks,
                  t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
                FROM t),
          win AS (SELECT doc_id, unnest(list_transform(range(1, len(th) - 6),
                    i -> struct_pack(pos := i, h1 := ${chainSql(131)}, h2 := ${chainSql(137)}))) AS s
                  FROM h),
          w2 AS (SELECT doc_id, s.pos AS pos, s.h1 AS h1, s.h2 AS h2 FROM win),
          rk AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h1, h2 ORDER BY doc_id, pos) AS rn,
                   count(*) OVER (PARTITION BY h1, h2) AS c
                 FROM w2),
          rm AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM rk WHERE c > 1 AND rn > 1),
          isl AS (SELECT doc_id, s, e,
                    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
                  FROM (SELECT doc_id, s, e,
                          max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                        FROM rm)),
          mg AS (SELECT doc_id, island, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2),
          v AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                  CAST(sum(e - s + 1) AS BIGINT) AS n_removed FROM mg GROUP BY 1),
          remidx AS (SELECT doc_id, unnest(range(s, e + 1)) AS idx FROM mg),
          tok AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                    i -> struct_pack(idx := i, tk := toks[i]))) AS s FROM h),
          tk AS (SELECT doc_id, s.idx AS idx, s.tk AS tk FROM tok),
          kept AS (SELECT tk.doc_id, tk.idx, tk.tk FROM tk
                   LEFT JOIN remidx ON tk.doc_id = remidx.doc_id AND tk.idx = remidx.idx
                   WHERE remidx.idx IS NULL),
          cl AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS clean FROM kept GROUP BY 1)
          SELECT d.doc_id, CAST(coalesce(v.n_spans, 0) AS BIGINT) AS n_dup_spans,
            CAST(coalesce(v.n_removed, 0) AS BIGINT) AS n_removed_tokens,
            coalesce(cl.clean, '') AS clean
          FROM documents d LEFT JOIN v USING (doc_id) LEFT JOIN cl USING (doc_id)
          ORDER BY d.doc_id"""
    },
    "gopher_filter" -> {
      val stops = TextAnalysis.gopherRequiredStops
        .map(w => s"CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (
            SELECT doc_id, text,
              string_split_regex(trim(lower(text)), '\\s+') AS toks,
              string_split(text, chr(10)) AS lines
            FROM documents),
          f AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS mean_word_len,
              CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS hash_ratio,
              CAST((length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS ellipsis_ratio,
              CAST(len(list_filter(lines, l -> starts_with(l, chr(8226))
                  OR starts_with(l, '-') OR starts_with(l, '*'))) AS DOUBLE)
                / CAST(len(lines) AS DOUBLE) AS bullet_frac,
              CAST(len(list_filter(lines, l -> ends_with(l, '...')
                  OR ends_with(l, chr(8230)))) AS DOUBLE)
                / CAST(len(lines) AS DOUBLE) AS ellipsis_line_frac,
              CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS alpha_frac,
              CAST($stops AS BIGINT) AS n_req_stop
            FROM t)
          SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
            bullet_frac, ellipsis_line_frac, alpha_frac, n_req_stop,
            (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
              AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
              AND bullet_frac <= 0.9 AND ellipsis_line_frac <= 0.3
              AND alpha_frac >= 0.8 AND n_req_stop >= 2 AS keep
          FROM f ORDER BY doc_id"""
    },
    "gopher_repetition" -> {
      val topNs = 2 to 4
      val dupNs = 5 to 10
      // gram identity = (rolling hash, char length) — same md5/131 scheme
      // as the Spark side, so the count shuffle payload is longs-only in
      // BOTH engines and collisions (if any) merge identically
      def ghashExpr(n: Int): String =
        (1 until n).foldLeft("th[i]") { (prev, k) =>
          s"(($prev * 131 + th[i+$k]) % 2147483647)"
        }
      def glenExpr(n: Int): String =
        (0 until n).map(k => s"ls[i+$k]").mkString(" + ") + s" + ${n - 1}"
      val gramStreams = (topNs ++ dupNs).map { n =>
        s"""SELECT doc_id, tot, $n AS n,
              unnest(list_transform(range(1, len(th) - ${n - 2}), i -> ${ghashExpr(n)})) AS gh,
              unnest(list_transform(range(1, len(th) - ${n - 2}), i -> ${glenExpr(n)})) AS gl
            FROM s WHERE len(th) >= $n"""
      }.mkString(" UNION ALL ")
      val ths = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16, 5 -> 0.15, 6 -> 0.14,
        7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
      def fracCol(n: Int, src: String, alias: String) =
        s"""least(CAST(coalesce(max(CASE WHEN n = $n THEN $src END), 0) AS DOUBLE)
              / CAST(tot AS DOUBLE), 1.0) AS $alias"""
      val topCols = topNs.map(n => fracCol(n, "topchars", s"top_${n}gram_frac"))
      val dupCols = dupNs.map(n => fracCol(n, "dupchars", s"dup_${n}gram_frac"))
      val keepExpr = (topNs.map(n => s"f.top_${n}gram_frac <= ${ths(n)}") ++
        dupNs.map(n => s"f.dup_${n}gram_frac <= ${ths(n)}")).mkString(" AND ")
      val outFracs = (topNs.map(n => s"top_${n}gram_frac") ++
        dupNs.map(n => s"dup_${n}gram_frac"))
        .map(c => s"coalesce(f.$c, 0.0) AS $c").mkString(", ")
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
          s AS (SELECT doc_id,
                  list_transform(toks, x ->
                    ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647) AS th,
                  list_transform(toks, x -> CAST(length(x) AS BIGINT)) AS ls,
                  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
                    + len(toks) - 1 AS tot
                FROM t),
          g AS ($gramStreams),
          c AS (SELECT doc_id, tot, n, gh, gl, count(*) AS cnt FROM g GROUP BY 1, 2, 3, 4, 5),
          a1 AS (SELECT doc_id, tot, n, cnt, gl,
                   row_number() OVER (PARTITION BY doc_id, n
                     ORDER BY cnt DESC, gl DESC, gh DESC) AS rn
                 FROM c),
          atop AS (SELECT doc_id, tot, n, cnt * gl AS topchars FROM a1 WHERE rn = 1),
          adup AS (SELECT doc_id, tot, n,
                     sum(CASE WHEN cnt >= 2 THEN cnt * gl ELSE 0 END) AS dupchars
                   FROM c GROUP BY 1, 2, 3),
          u AS (SELECT doc_id, tot, n, topchars, NULL::BIGINT AS dupchars FROM atop
                UNION ALL
                SELECT doc_id, tot, n, NULL::BIGINT, dupchars FROM adup),
          f AS (SELECT doc_id, tot, ${(topCols ++ dupCols).mkString(", ")}
                FROM u GROUP BY doc_id, tot)
          SELECT d.doc_id, $outFracs,
            coalesce($keepExpr, TRUE) AS keep
          FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
          ORDER BY d.doc_id"""
    },
    "dsir_weights" ->
      // same md5/rolling-131 gram hashes as decontaminate; ln quantized per
      // term like lm_perplexity (mitigation, not guarantee — see there)
      s"""WITH $dsirWeightCtes
         SELECT d.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(a.logw_q4, 0) AS BIGINT) AS logw_q4
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.doc_id % 97 != 0 ORDER BY d.doc_id""",
    "kmv_distinct" ->
      // same bottom-64 hash sketch: the estimate is ONE IEEE division of
      // the shared constants by the k-th minimum, so it hash-matches
      """WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT DISTINCT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rn AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn FROM hh),
         bk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk
                FROM rn WHERE rn <= 64 GROUP BY 1),
         ex AS (SELECT source, CAST(count(DISTINCT bg) AS BIGINT) AS n_exact FROM bg GROUP BY 1)
         SELECT bk.source, bk.n_kept,
           CASE WHEN bk.n_kept < 64 THEN CAST(bk.n_kept AS DOUBLE)
                ELSE floor(63.0 * 1152921504606846976.0 / CAST(bk.hk AS DOUBLE)) END
             AS kmv_est,
           ex.n_exact
         FROM bk JOIN ex ON bk.source IS NOT DISTINCT FROM ex.source
         ORDER BY bk.source""",
    "kmv_distinct_heap" ->
      // the bounded-heap path keeps the SAME k smallest distinct hashes —
      // a set property, so the oracle is the window formulation verbatim
      """WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT DISTINCT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rn AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn FROM hh),
         bk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk
                FROM rn WHERE rn <= 64 GROUP BY 1),
         ex AS (SELECT source, CAST(count(DISTINCT bg) AS BIGINT) AS n_exact FROM bg GROUP BY 1)
         SELECT bk.source, bk.n_kept,
           CASE WHEN bk.n_kept < 64 THEN CAST(bk.n_kept AS DOUBLE)
                ELSE floor(63.0 * 1152921504606846976.0 / CAST(bk.hk AS DOUBLE)) END
             AS kmv_est,
           ex.n_exact
         FROM bk JOIN ex ON bk.source IS NOT DISTINCT FROM ex.source
         ORDER BY bk.source""",
    "freq_items_tokens" ->
      // exact regime: capacity ≥ vocab means the sketch counts exactly, so
      // the oracle is a plain GROUP BY count with the same total order
      """WITH t AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           FROM documents)
         SELECT w AS item, CAST(count(*) AS BIGINT) AS cnt
         FROM t GROUP BY 1 ORDER BY cnt DESC, item LIMIT 10""",
    "freq_items_union" ->
      // the sharded route answers the SAME question: per-source sketches
      // combined lose nothing in the exact regime
      """WITH t AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           FROM documents)
         SELECT w AS item, CAST(count(*) AS BIGINT) AS cnt
         FROM t GROUP BY 1 ORDER BY cnt DESC, item LIMIT 10""",
    "streaming_freq_items_2batch" ->
      // the cross-batch state fold must land on the plain per-source
      // GROUP BY counts, top-5 per source under the (cnt desc, item) order
      """WITH t AS (
           SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS item
           FROM documents),
         c AS (SELECT source, item, CAST(count(*) AS BIGINT) AS cnt
               FROM t GROUP BY 1, 2),
         r AS (SELECT source, item, cnt,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY cnt DESC, item) AS rn
               FROM c)
         SELECT source, item, cnt FROM r WHERE rn <= 5
         ORDER BY source, cnt DESC, item""",
    "cms_heavy_hitters" ->
      // same affine (2j+1, 12289j+741) mod P row hashes over the shared
      // 60-bit token hash; counters are plain GROUP BY sums, estimates are
      // min over the d=4 rows, threshold 500
      """WITH t AS (
           SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         tok AS (SELECT unnest(toks) AS tok FROM t),
         h AS (SELECT tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
               FROM tok),
         cells AS (SELECT h.tok, r.j,
                     (h.h * (2*r.j + 1) + (12289*r.j + 741)) % 2147483647 % 1024 AS cell
                   FROM h, (SELECT unnest(range(4)) AS j) r),
         cms AS (SELECT j, cell, CAST(count(*) AS BIGINT) AS cnt
                 FROM cells GROUP BY 1, 2),
         cand AS (SELECT DISTINCT tok FROM tok),
         qc AS (SELECT cand.tok, r.j,
                  (('0x' || substr(md5(cand.tok), 1, 15))::BIGINT % 2147483647
                    * (2*r.j + 1) + (12289*r.j + 741)) % 2147483647 % 1024 AS cell
                FROM cand, (SELECT unnest(range(4)) AS j) r),
         est AS (SELECT qc.tok AS q, min(coalesce(cms.cnt, 0)) AS cms_est
                 FROM qc LEFT JOIN cms ON cms.j = qc.j AND cms.cell = qc.cell
                 GROUP BY 1),
         ex AS (SELECT tok AS q, CAST(count(*) AS BIGINT) AS n_exact
                FROM tok GROUP BY 1)
         SELECT est.q, est.cms_est, ex.n_exact FROM est JOIN ex USING (q)
         WHERE est.cms_est >= 500 ORDER BY q""",
    "cms_heavy_change" ->
      // the cms_heavy_hitters cell machinery twice (doc-parity snapshots),
      // candidate set = union of both token streams, delta = after − before
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         hB AS (SELECT tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
                FROM tok WHERE doc_id % 4 = 0),
         hA AS (SELECT tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
                FROM tok WHERE doc_id % 4 != 0),
         cmsB AS (SELECT r.j, (hB.h * (2*r.j + 1) + (12289*r.j + 741)) % 2147483647 % 1024 AS cell,
                    CAST(count(*) AS BIGINT) AS cnt
                  FROM hB, (SELECT unnest(range(4)) AS j) r GROUP BY 1, 2),
         cmsA AS (SELECT r.j, (hA.h * (2*r.j + 1) + (12289*r.j + 741)) % 2147483647 % 1024 AS cell,
                    CAST(count(*) AS BIGINT) AS cnt
                  FROM hA, (SELECT unnest(range(4)) AS j) r GROUP BY 1, 2),
         cand AS (SELECT DISTINCT tok FROM tok),
         qc AS (SELECT cand.tok, r.j,
                  (('0x' || substr(md5(cand.tok), 1, 15))::BIGINT % 2147483647
                    * (2*r.j + 1) + (12289*r.j + 741)) % 2147483647 % 1024 AS cell
                FROM cand, (SELECT unnest(range(4)) AS j) r),
         eB AS (SELECT qc.tok AS q, min(coalesce(cmsB.cnt, 0)) AS est_before
                FROM qc LEFT JOIN cmsB ON cmsB.j = qc.j AND cmsB.cell = qc.cell
                GROUP BY 1),
         eA AS (SELECT qc.tok AS q, min(coalesce(cmsA.cnt, 0)) AS est_after
                FROM qc LEFT JOIN cmsA ON cmsA.j = qc.j AND cmsA.cell = qc.cell
                GROUP BY 1)
         SELECT eB.q, eB.est_before, eA.est_after,
           eA.est_after - eB.est_before AS delta
         FROM eB JOIN eA USING (q)
         WHERE abs(eA.est_after - eB.est_before) >= 200 ORDER BY q""",

    "hll_distinct" ->
      // deterministic HLL p=8: bucket = h >> 52, rank = 53 − length(bin(low))
      // (low = 0 ⇒ 53); harmonic sum as the exact integer Σ 2^(53−ρ) plus
      // 2^53 per zero register; estimate = floor(α·m²·2^53 / sum) — the
      // identical double literal and single division as the Spark side
      s"""WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rg AS (SELECT source, h >> 52 AS bucket,
                  max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                           ELSE 53 - length(bin(h & 4503599627370495)) END) AS r
                FROM hh GROUP BY 1, 2),
         ag AS (SELECT source, count(*) AS n_obs,
                  sum(1::BIGINT << CAST(53 - r AS INT)) AS s_obs FROM rg GROUP BY 1),
         ex AS (SELECT source, CAST(count(DISTINCT bg) AS BIGINT) AS n_exact FROM bg GROUP BY 1)
         SELECT ag.source, CAST(256 - n_obs AS BIGINT) AS n_zero,
           CAST(s_obs + (256 - n_obs) * 9007199254740992 AS BIGINT) AS sum_scaled,
           floor(${graft.operators.Sketch.hllConstant(8)} /
             CAST(s_obs + (256 - n_obs) * 9007199254740992 AS DOUBLE)) AS hll_est,
           ex.n_exact
         FROM ag JOIN ex ON ag.source IS NOT DISTINCT FROM ex.source
         ORDER BY ag.source""",
    "hll_union" ->
      // merged registers = global registers (max distributes over union),
      // so the oracle folds the corpus-wide register table directly
      s"""WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rg AS (SELECT h >> 52 AS bucket,
                  max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                           ELSE 53 - length(bin(h & 4503599627370495)) END) AS r
                FROM hh GROUP BY 1),
         ag AS (SELECT count(*) AS n_obs,
                  sum(1::BIGINT << CAST(53 - r AS INT)) AS s_obs FROM rg),
         ex AS (SELECT CAST(count(DISTINCT bg) AS BIGINT) AS n_exact FROM bg)
         SELECT CAST(256 - n_obs AS BIGINT) AS n_zero,
           CAST(s_obs + (256 - n_obs) * 9007199254740992 AS BIGINT) AS sum_scaled,
           floor(${graft.operators.Sketch.hllConstant(8)} /
             CAST(s_obs + (256 - n_obs) * 9007199254740992 AS DOUBLE)) AS hll_est,
           ex.n_exact
         FROM ag, ex""",
    "streaming_hll_2batch" ->
      // the replayed stream's final registers == the batch fold over the
      // whole corpus (max() merge is order- and batch-boundary-free)
      s"""WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rg AS (SELECT source, h >> 52 AS bucket,
                  max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                           ELSE 53 - length(bin(h & 4503599627370495)) END) AS r
                FROM hh GROUP BY 1, 2),
         ag AS (SELECT source, count(*) AS n_obs,
                  sum(1::BIGINT << CAST(53 - r AS INT)) AS s_obs FROM rg GROUP BY 1)
         SELECT source, CAST(256 - n_obs AS BIGINT) AS n_zero,
           CAST(s_obs + (256 - n_obs) * 9007199254740992 AS BIGINT) AS sum_scaled,
           floor(${graft.operators.Sketch.hllConstant(8)} /
             CAST(s_obs + (256 - n_obs) * 9007199254740992 AS DOUBLE)) AS hll_est
         FROM ag ORDER BY source""",
    "streaming_kmv_2batch" ->
      // the replayed stream's final bottom-64 == the batch sketch over the
      // whole corpus (the retained set is order- and batch-boundary-free)
      """WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT DISTINCT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rn AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn FROM hh),
         bk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk
                FROM rn WHERE rn <= 64 GROUP BY 1)
         SELECT source, n_kept,
           CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                ELSE floor(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)) END
             AS kmv_est
         FROM bk ORDER BY source""",
    "vocab_oov" ->
      // top-100 vocabulary by count (ties: token asc) rebuilt identically;
      // OOV = token with no vocabulary row
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         vc AS (SELECT w FROM (SELECT w, count(*) AS n FROM tok GROUP BY 1
                ORDER BY n DESC, w ASC LIMIT 100)),
         j AS (SELECT tok.doc_id, tok.w, vc.w AS vw
               FROM tok LEFT JOIN vc ON vc.w = tok.w)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS oov_rate
         FROM j GROUP BY 1 ORDER BY 1""",
    "kmv_overlap" ->
      // bottom-64 of each corpus, bottom-64 of their union, coincidence
      // fraction — identical CASE/arithmetic order to the Spark side
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         bgAll AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1])) AS bg
                   FROM t WHERE len(toks) >= 2),
         ba AS (SELECT DISTINCT ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h
                FROM bgAll WHERE doc_id % 2 = 0 ORDER BY h LIMIT 64),
         bb AS (SELECT DISTINCT ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h
                FROM bgAll WHERE doc_id % 2 = 1 ORDER BY h LIMIT 64),
         u AS (SELECT DISTINCT h FROM
                 (SELECT h FROM ba UNION ALL SELECT h FROM bb) ORDER BY h LIMIT 64),
         us AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk FROM u),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common
                FROM u JOIN ba USING (h) JOIN bb USING (h)),
         ue AS (SELECT CASE WHEN us.n_kept < 64 THEN CAST(us.n_kept AS DOUBLE)
                  ELSE floor(63.0 * 1152921504606846976.0 / CAST(us.hk AS DOUBLE)) END
                  AS union_est FROM us)
         SELECT us.n_kept, nc.n_common, ue.union_est,
           CAST(nc.n_common AS DOUBLE) / us.n_kept AS jaccard_est,
           floor(CAST(nc.n_common AS DOUBLE) / us.n_kept * ue.union_est) AS inter_est
         FROM us, nc, ue""",
    "kmv_pairwise_overlap" ->
      // per-source bottom-64 via window rank, pairs by source inequality,
      // union bottom-64 re-ranked per pair, coincidence counted against
      // both sides' retained sets — identical CASE/arithmetic order
      """WITH t AS (
           SELECT source, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         bg AS (SELECT source, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         hh AS (SELECT DISTINCT source, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h FROM bg),
         rn AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn FROM hh),
         bk AS (SELECT source, h FROM rn WHERE rn <= 64),
         srcs AS (SELECT DISTINCT source FROM bk),
         pr AS (SELECT a.source AS sa, b.source AS sb
                FROM srcs a JOIN srcs b ON a.source < b.source),
         uh AS (SELECT pr.sa, pr.sb, k.h FROM pr
                JOIN bk k ON k.source = pr.sa OR k.source = pr.sb
                GROUP BY 1, 2, 3),
         urn AS (SELECT sa, sb, h,
                   row_number() OVER (PARTITION BY sa, sb ORDER BY h ASC) AS rn FROM uh),
         uk AS (SELECT sa, sb, h FROM urn WHERE rn <= 64),
         st AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk
                FROM uk GROUP BY 1, 2),
         cm AS (SELECT u.sa, u.sb, CAST(count(*) AS BIGINT) AS n_common
                FROM uk u
                JOIN bk ka ON ka.source = u.sa AND ka.h = u.h
                JOIN bk kb ON kb.source = u.sb AND kb.h = u.h
                GROUP BY 1, 2),
         fin AS (SELECT st.sa, st.sb, st.n_kept,
                   CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
                   CASE WHEN st.n_kept < 64 THEN CAST(st.n_kept AS DOUBLE)
                        ELSE floor(63.0 * 1152921504606846976.0 / CAST(st.hk AS DOUBLE)) END
                     AS union_est,
                   CAST(coalesce(cm.n_common, 0) AS DOUBLE) / st.n_kept AS jaccard_est
                 FROM st LEFT JOIN cm ON cm.sa = st.sa AND cm.sb = st.sb)
         SELECT sa AS source_a, sb AS source_b, n_kept, n_common, union_est,
           jaccard_est, floor(jaccard_est * union_est) AS inter_est
         FROM fin ORDER BY source_a, source_b""",

    "quantile_sketch" ->
      // exact regime (k=256 ≥ every group): the sketch is the sorted value
      // multiset at weight 1, so the lower quantile at rank ceil(p·n) is
      // the exact order statistic — the same rank math as the Spark fold
      qsketchOracleSql,
    "quantile_sketch_merge" ->
      // merged exact-regime shard sketches carry the union multiset, so
      // the relational merge path answers the SAME order statistics
      qsketchOracleSql,
    "streaming_quantile_2batch" ->
      // cross-batch KLL state in the exact regime answers the same exact
      // order statistics as the batch aggregate — one oracle, three paths
      qsketchOracleSql,
    "streaming_quantile_evict_3batch" ->
      // after the TTL eviction, "evict"'s max-n emission covers docs
      // 100-299 ONLY (batch 3 restarted from empty state); "keep" covers
      // its full 300-499 feed — any state leak across the eviction
      // boundary inflates n and shifts every quantile
      """WITH v AS (
           SELECT CASE WHEN doc_id >= 100 AND doc_id < 300 THEN 'evict'
                       ELSE 'keep' END AS source,
                  CAST(length(text) AS DOUBLE) AS v
           FROM documents
           WHERE text IS NOT NULL AND doc_id >= 100 AND doc_id < 500),
         r AS (SELECT source, v,
                 row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
                 count(*) OVER (PARTITION BY source) AS n FROM v)
         SELECT source, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50,
           min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90,
           min(CASE WHEN rn >= ceil(0.99 * n) THEN v END) AS p99
         FROM r GROUP BY source ORDER BY source""",
    "winsorize_p99" ->
      // p99 from the exact-regime sketch, broadcast back, integer clamp sum
      """WITH v AS (
           SELECT source, CAST(length(text) AS DOUBLE) AS len
           FROM documents WHERE text IS NOT NULL),
         r AS (SELECT source, len,
                 row_number() OVER (PARTITION BY source ORDER BY len) AS rn,
                 count(*) OVER (PARTITION BY source) AS n FROM v),
         q AS (SELECT source, min(CASE WHEN rn >= ceil(0.99 * n) THEN len END) AS p99
               FROM r GROUP BY source)
         SELECT v.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN v.len > q.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
           CAST(sum(CAST(least(v.len, q.p99) AS BIGINT)) AS BIGINT) AS sum_winsorized
         FROM v JOIN q ON v.source IS NOT DISTINCT FROM q.source
         GROUP BY v.source ORDER BY v.source""",
    "dsir_resample" ->
      // Gumbel top-k over the same weights: u = (md5-hash + 0.5)/2^60,
      // g_q4 = floor(1e4 * -ln(-ln(u))), keep the 100 largest logw+g keys
      s"""WITH $dsirWeightCtes,
         w AS (SELECT d.doc_id, CAST(coalesce(a.logw_q4, 0) AS BIGINT) AS logw_q4
               FROM documents d LEFT JOIN agg a USING (doc_id)
               WHERE d.doc_id % 97 != 0),
         gq AS (SELECT doc_id, logw_q4,
                  CAST(floor(1e4 * -ln(-ln(
                    (CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       AS DOUBLE) + 0.5) / 1152921504606846976.0))) AS BIGINT) AS g_q4
                FROM w)
         SELECT doc_id, logw_q4, g_q4, logw_q4 + g_q4 AS key_q4 FROM gq
         ORDER BY key_q4 DESC, doc_id ASC LIMIT 100""",
    "poisson_sample" ->
      // keep iff hash(id)·W < k·w·2^60 in exact HUGEINT arithmetic
      """WITH t AS (SELECT CAST(sum(n_chars) AS HUGEINT) AS W FROM documents)
         SELECT doc_id, source, n_chars FROM documents, t
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS HUGEINT) * W
             < 50::HUGEINT * CAST(n_chars AS HUGEINT) * 1152921504606846976::HUGEINT
         ORDER BY doc_id""",
    "corpus_mix" ->
      // sqrt is IEEE-correctly-rounded in both engines; the keep threshold is
      // integer-compared so the sample is bit-identical
      """WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
         m AS (SELECT min(n) AS nmin FROM c),
         r AS (SELECT source, sqrt((SELECT nmin FROM m) / n) AS mix_rate FROM c)
         SELECT d.doc_id, d.source, r.mix_rate
         FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.source
         WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 2147483647
               < CAST(floor(mix_rate * 2147483647) AS BIGINT)
         ORDER BY d.doc_id""",
    "text_cleanup" -> {
      val sw = graft.operators.Cleanup.defaultStopwords("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
           SELECT doc_id, string_split_regex(
             trim(lower(text || ' . ; ! ab xy) z the')), '\\s+') AS toks
           FROM documents),
         c1 AS (SELECT doc_id,
           list_filter(toks, t -> NOT list_contains($sw, t)) AS a FROM t),
         c2 AS (SELECT doc_id,
           list_filter(a, t -> NOT regexp_matches(t, '^\\p{P}$$')) AS b FROM c1),
         c4 AS (SELECT doc_id, list_transform(b, t -> upper(t)) AS d,
           list_filter(b, t -> length(t) > 2) AS lng FROM c2)
         SELECT doc_id, coalesce(array_to_string(d, ' '), '') AS cleaned,
           CAST(len(d) AS BIGINT) AS n_kept,
           CAST(len(lng) AS BIGINT) AS n_long
         FROM c4 ORDER BY doc_id"""
    },
    "fixed_width" ->
      """SELECT doc_id, substr(text, 1, 5) AS f1, substr(text, 6, 7) AS f2,
           substr(text, 13, 4) AS f3,
           CAST(length(substr(text, 17)) AS BIGINT) AS rest_len
         FROM documents ORDER BY doc_id""",
    "corpus_split" -> {
      // the EXACT integer boundaries splitAssign compiled (see
      // Corpus.splitThresholds) — no float re-derivation in SQL
      val Seq(t1, t2) = graft.operators.Corpus.splitThresholds(
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1))
      s"""SELECT doc_id,
           CASE WHEN h < $t1 THEN 'train'
                WHEN h < $t2 THEN 'validation'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2147483647 AS h
               FROM documents)
         ORDER BY doc_id"""
    },
    "corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
           ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 2147483647 AS shuffle_key
         FROM documents)
         SELECT doc_id, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS pos
         FROM k ORDER BY doc_id""",
    "chunk_sliding" ->
      // same window/stride arithmetic: starts are range(0, n, 48), the
      // slice is 1-based inclusive (list_slice), md5 over the identical
      // space-joined chunk string
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         c AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start FROM s)
         SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
           CAST(start AS INT) AS start,
           CAST(LEAST(64, n - start) AS INT) AS n_toks,
           md5(array_to_string(list_slice(toks, start + 1, start + 64), ' '))
             AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""",
    "pack_sequences" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 2147483647 AS h
           FROM documents),
         s AS (SELECT doc_id, n_tok, h, h % 8 AS shard FROM t),
         w AS (
           SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos,
             n_tok,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
           FROM s)
         SELECT doc_id, shard, pos, n_tok, tok_offset,
           CAST(tok_offset // 512 AS BIGINT) AS seq_id
         FROM w ORDER BY doc_id""",
    "pack_docs_nosplit" ->
      // the same shard/order derivation as pack_sequences, then the
      // next-fit walk unrolled as a recursive CTE (one step per shard pos)
      """WITH RECURSIVE t AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 2147483647 AS h
           FROM documents),
         s AS (SELECT doc_id, n_tok, h, h % 8 AS shard FROM t),
         b AS (SELECT doc_id, shard, n_tok,
                 CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
               FROM s),
         walk AS (
           SELECT shard, pos, doc_id, n_tok, 1::BIGINT AS bin, n_tok AS fill
           FROM b WHERE pos = 1
           UNION ALL
           SELECT nb.shard, nb.pos, nb.doc_id, nb.n_tok,
             CASE WHEN w.fill + nb.n_tok <= 128 THEN w.bin ELSE w.bin + 1 END,
             CASE WHEN w.fill + nb.n_tok <= 128 THEN w.fill + nb.n_tok ELSE nb.n_tok END
           FROM walk w JOIN b nb ON nb.shard = w.shard AND nb.pos = w.pos + 1)
         SELECT doc_id, shard, pos, n_tok, bin FROM walk ORDER BY doc_id""",
    "ann_lsh_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         planes AS (
           SELECT t.r AS t, p.r AS p,
             list_transform(range(64), d ->
               ('0x'||substr(md5('plane:'||(t.r*1000+p.r)::VARCHAR||':'||d::VARCHAR),1,15))::BIGINT
                 % 100000 / 50000.0 - 1.0) AS w
           FROM range(4) t(r), range(8) p(r)),
         dots AS (
           SELECT e.vec_id, pl.t, pl.p,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(e.v, pl.w), z -> z[1]*z[2])), (a,x) -> a+x) AS dt
           FROM e, planes pl),
         bits AS (
           SELECT vec_id, t,
             CAST(sum(CASE WHEN dt >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bb
           FROM dots GROUP BY 1, 2),
         bk AS (SELECT vec_id, list(t::VARCHAR || ':' || bb::VARCHAR ORDER BY t) AS buckets
                FROM bits GROUP BY 1),
         q AS (SELECT buckets AS qb, (SELECT v FROM e WHERE vec_id=0) AS qv
               FROM bk WHERE vec_id=0),
         cand AS (
           SELECT b2.vec_id, e.v, q.qv FROM bk b2 JOIN e USING (vec_id), q
           WHERE b2.vec_id != 0 AND list_has_any(b2.buckets, q.qb))
         SELECT vec_id,
           list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip(v, qv), z -> z[1]*z[2])), (a,b) -> a+b)
           / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(list_zip(v, v), z -> z[1]*z[2])), (a,b) -> a+b))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(list_zip(qv, qv), z -> z[1]*z[2])), (a,b) -> a+b))) AS cos
         FROM cand ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    "url_normalize" ->
      s"""WITH u AS (SELECT doc_id, $syntheticUrlSql AS url FROM documents),
         s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS u1 FROM u),
         s2 AS (SELECT *, split_part(u1, '?', 1) AS base,
           CASE WHEN position('?' IN u1) > 0 THEN substr(u1, position('?' IN u1)+1)
                ELSE '' END AS qs
           FROM s1),
         s3 AS (SELECT *, regexp_extract(base, '^[^:/?#]+://[^/?#]*') AS sa FROM s2),
         s4 AS (SELECT *, lower(sa) AS sal,
           CASE WHEN substr(base, length(sa)+1) = '/' THEN ''
                ELSE substr(base, length(sa)+1) END AS path
           FROM s3),
         s5 AS (SELECT *,
           CASE WHEN starts_with(sal,'http://') AND ends_with(sal,':80')
                  THEN substr(sal,1,length(sal)-3)
                WHEN starts_with(sal,'https://') AND ends_with(sal,':443')
                  THEN substr(sal,1,length(sal)-4)
                ELSE sal END AS sanorm,
           list_filter(string_split(qs,'&'), p -> NOT (starts_with(p,'utm_')
             OR starts_with(p,'fbclid=') OR starts_with(p,'gclid=') OR p = '')) AS params,
           lower(regexp_extract(url, '^[^:/?#]+://([^:/?#]*)', 1)) AS host
           FROM s4)
         SELECT doc_id, url,
           sanorm || path ||
             CASE WHEN len(params) > 0 THEN '?' || array_to_string(params,'&')
                  ELSE '' END AS norm,
           host,
           CASE WHEN regexp_extract(host, '[^.]+\\.[^.]+$$') = '' THEN host
                ELSE regexp_extract(host, '[^.]+\\.[^.]+$$') END AS reg_domain,
           regexp_extract(host, '[^.]+$$') AS tld
         FROM s5 ORDER BY doc_id""",
    "domain_stats" ->
      s"""WITH u AS (SELECT doc_id, n_chars, $syntheticUrlSql AS url FROM documents)
         SELECT lower(regexp_extract(url, '^[^:/?#]+://([^:/?#]*)', 1)) AS host,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM u GROUP BY 1 ORDER BY 1""",
    "domain_pagerank" -> pageRankSql(5),
    "domain_hits" -> hitsSql(3),
    "domain_triangles" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
         le AS (SELECT a.source AS src, b.source AS dst
                FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
                UNION ALL
                SELECT a.source AS src, b.source AS dst
                FROM d a JOIN d b ON b.doc_id = a.doc_id + 7),
         und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                 FROM le WHERE src != dst),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
                   SELECT u AS n FROM und UNION ALL SELECT v FROM und)
                 GROUP BY 1),
         o AS (SELECT
                 CASE WHEN (du.dg, und.u) < (dv.dg, und.v)
                      THEN und.u ELSE und.v END AS a,
                 CASE WHEN (du.dg, und.u) < (dv.dg, und.v)
                      THEN und.v ELSE und.u END AS b,
                 CASE WHEN (du.dg, und.u) < (dv.dg, und.v)
                      THEN dv.dg ELSE du.dg END AS db
               FROM und JOIN deg du ON du.n = und.u
                 JOIN deg dv ON dv.n = und.v),
         w AS (SELECT o1.a, o1.b AS x, o2.b AS y
               FROM o o1 JOIN o o2 ON o1.a = o2.a
                 AND (o1.db, o1.b) < (o2.db, o2.b)),
         t AS (SELECT w.a, w.x, w.y
               FROM w JOIN o e3 ON e3.a = w.x AND e3.b = w.y),
         pern AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                    SELECT a AS n FROM t UNION ALL SELECT x FROM t
                    UNION ALL SELECT y FROM t)
                  GROUP BY 1)
         SELECT deg.n AS node,
           CAST(coalesce(pern.n_triangles, 0) AS BIGINT) AS n_triangles
         FROM deg LEFT JOIN pern ON pern.n = deg.n ORDER BY node""",
    "url_blocklist" ->
      // suffix chain via list slicing; label-wise matching (no substring
      // confusion: src0.example.com never matches www.src10.example.com)
      s"""WITH u AS (SELECT doc_id, source,
           lower(regexp_extract($syntheticUrlSql, '^[^:/?#]+://([^:/?#]*)', 1)) AS host
         FROM documents),
         bl AS (SELECT * FROM (VALUES ('src0.example.com'), ('src3.example.com'),
                ('www.src1.example.com')) AS t(suffix)),
         sfx AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ls) + 1),
                    i -> array_to_string(ls[i:], '.'))) AS sfx
                 FROM (SELECT doc_id, string_split(host, '.') AS ls FROM u)),
         blocked AS (SELECT DISTINCT s.doc_id
                     FROM sfx s JOIN bl ON s.sfx = lower(trim(bl.suffix)))
         SELECT u.doc_id, u.source, u.host FROM u
         WHERE NOT EXISTS (SELECT 1 FROM blocked b WHERE b.doc_id = u.doc_id)
         ORDER BY u.doc_id""",
    "boilerplate_removal" ->
      // same synthesized template; boilerplate = trimmed lines in ≥50% of a
      // source's docs (and ≥2), removal by anti-join, ordered reassembly
      """WITH syn AS (SELECT doc_id, source,
           'Home | About | Contact' || chr(10) || text ||
           CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Special Offer Today' ELSE '' END ||
           chr(10) || 'Copyright ' || source || ' All rights reserved' AS text
         FROM documents),
         lns AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM syn),
         ln AS (SELECT doc_id, source,
                  unnest(list_transform(range(1, len(ls) + 1),
                    i -> {'pos': i, 'line': ls[i]}), recursive := true)
                FROM lns),
         ld AS (SELECT DISTINCT source, trim(line) AS key, doc_id FROM ln),
         lc AS (SELECT source, key, CAST(count(*) AS BIGINT) AS n_docs FROM ld GROUP BY 1, 2),
         gt AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_total
                FROM syn GROUP BY 1),
         bp AS (SELECT lc.source, lc.key FROM lc JOIN gt ON gt.source = lc.source
                WHERE n_docs >= 2 AND n_docs * 100 >= n_total * 50),
         kept AS (SELECT ln.* FROM ln
                  WHERE NOT EXISTS (SELECT 1 FROM bp
                    WHERE bp.source = ln.source AND bp.key = trim(ln.line))),
         outt AS (SELECT doc_id, source, string_agg(line, chr(10) ORDER BY pos) AS text
                  FROM kept GROUP BY 1, 2)
         SELECT syn.doc_id, syn.source, coalesce(outt.text, '') AS text
         FROM syn LEFT JOIN outt ON outt.doc_id = syn.doc_id AND outt.source = syn.source
         ORDER BY syn.doc_id""",
    "html_extract" ->
      s"""WITH h AS (SELECT doc_id,
           ('<html><head><title>' || coalesce(source, '') || '</title>' ||
            '<script type="text/javascript">var x = 1 < 2; // dead</script>' ||
            '<style>p { color: red }</style></head><body>' ||
            '<!-- hidden --><h1>Doc ' || doc_id || '</h1>' ||
            '<p>' || text || ' &amp; more &lt;escaped&gt;&nbsp;tail</p>' ||
            '<a href="https://example.com/' || doc_id || '">x</a>' ||
            CASE WHEN doc_id % 4 = 0 THEN '<a href=''http://alt.example.org/a''>y</a>' ELSE '' END ||
            '</body></html>') AS html
           FROM documents),
         s1 AS (SELECT doc_id, html,
           regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS a FROM h),
         s2 AS (SELECT *, regexp_replace(a, '(?is)<script.*?</script>', '', 'g') AS b FROM s1),
         s3 AS (SELECT *, regexp_replace(b, '(?is)<style.*?</style>', '', 'g') AS c FROM s2),
         s4 AS (SELECT *, regexp_replace(c,
           '(?i)<br[^>]*>|</p>|</div>|</li>|</tr>|</h[1-6]>|</title>', chr(10), 'g') AS d FROM s3),
         s5 AS (SELECT *, regexp_replace(d, '<[^>]*>', ' ', 'g') AS e FROM s4),
         s6 AS (SELECT *, replace(replace(replace(replace(replace(replace(e,
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&amp;', '&') AS f FROM s5),
         s7 AS (SELECT *, regexp_replace(f, '[ \\t\\x0B\\f\\r]+', ' ', 'g') AS g1 FROM s6),
         s8 AS (SELECT *, regexp_replace(g1, ' ?\\n ?', chr(10), 'g') AS g2 FROM s7),
         s9 AS (SELECT *, trim(regexp_replace(g2, '\\n{2,}', chr(10), 'g')) AS clean FROM s8),
         lk AS (SELECT doc_id, clean,
           list_concat(regexp_extract_all(html, 'href="([^"]*)"', 1),
                       regexp_extract_all(html, 'href=''([^'']*)''', 1)) AS clean_links
           FROM s9)
         SELECT doc_id, clean,
           coalesce(array_to_string(clean_links, '|'), '') AS links,
           CAST(len(clean_links) AS BIGINT) AS n_links
         FROM lk ORDER BY doc_id""",
    "corpus_build_warc" -> {
      // the full composition replayed from documents: the WARC/HTTP layer
      // must be byte-lossless (wrap → crawl archive → parse → extract must
      // return the same clean text this chain computes), then the gopher
      // gate, minhash clustering (clusterSql, source = quality keepers)
      // and packing all run on each other's outputs
      val prelude = s"""h0 AS (SELECT doc_id,
            '<html><body><p>' || text || '</p></body></html>' AS html
            FROM documents),
          s1 AS (SELECT doc_id, regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS a FROM h0),
          s2 AS (SELECT *, regexp_replace(a, '(?is)<script.*?</script>', '', 'g') AS b FROM s1),
          s3 AS (SELECT *, regexp_replace(b, '(?is)<style.*?</style>', '', 'g') AS c FROM s2),
          s4 AS (SELECT *, regexp_replace(c,
            '(?i)<br[^>]*>|</p>|</div>|</li>|</tr>|</h[1-6]>|</title>', chr(10), 'g') AS d FROM s3),
          s5 AS (SELECT *, regexp_replace(d, '<[^>]*>', ' ', 'g') AS e FROM s4),
          s6 AS (SELECT *, replace(replace(replace(replace(replace(replace(e,
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&amp;', '&') AS f FROM s5),
          s7 AS (SELECT *, regexp_replace(f, '[ \\t\\x0B\\f\\r]+', ' ', 'g') AS g1 FROM s6),
          s8 AS (SELECT *, regexp_replace(g1, ' ?\\n ?', chr(10), 'g') AS g2 FROM s7),
          s9 AS (SELECT doc_id, trim(regexp_replace(g2, '\\n{2,}', chr(10), 'g')) AS text FROM s8),
          gt AS (SELECT doc_id, text,
              string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM s9),
          gf AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS mean_word_len,
              CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) AS alpha_frac
            FROM gt),
          kept AS (SELECT s9.doc_id, s9.text FROM s9 JOIN gf ON s9.doc_id = gf.doc_id
            WHERE (gf.n_words BETWEEN 50 AND 100000)
              AND (gf.mean_word_len BETWEEN 3.0 AND 10.0)
              AND gf.alpha_frac >= 0.8),"""
      val tail = """, comp AS (SELECT u AS doc_id, min(m) AS cluster FROM lbl GROUP BY u),
          surv AS (SELECT k.doc_id, k.text FROM kept k
            JOIN comp c ON k.doc_id = c.doc_id WHERE c.cluster = k.doc_id),
          pk0 AS (SELECT doc_id,
              CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok,
              ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 2147483647 AS h
            FROM surv),
          pk1 AS (SELECT doc_id, n_tok, h, h % 8 AS shard FROM pk0),
          pkw AS (SELECT doc_id, shard,
              CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos,
              n_tok,
              CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
            FROM pk1)
          SELECT doc_id, shard, pos, n_tok, tok_offset,
            CAST(tok_offset // 512 AS BIGINT) AS seq_id
          FROM pkw ORDER BY doc_id"""
      clusterSql(tail, source = "kept", prelude = prelude)
    },
    "c4_filter" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         ch AS (
           SELECT doc_id, list_transform(range(1, len(toks)+1, 8),
             i -> array_to_string(toks[i:i+7], ' ')) AS segs
           FROM t),
         ln AS (
           SELECT doc_id, list_transform(segs,
             s -> CASE WHEN substr(md5(s), 1, 1) < '8' THEN s || '.' ELSE s END) AS lines
           FROM ch),
         pg AS (
           SELECT doc_id, array_to_string(lines, chr(10)) ||
             CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'this page has { code } in it.' ELSE '' END ||
             CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END AS page
           FROM ln),
         f AS (SELECT doc_id, page, string_split(page, chr(10)) AS ls FROM pg),
         k AS (SELECT doc_id, page, ls,
           list_filter(ls, l -> trim(l) != ''
             AND regexp_matches(l, '[.!?"]$')
             AND len(string_split_regex(trim(l), '\s+')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept
           FROM f)
         SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           contains(lower(page), 'lorem ipsum') AS has_lorem,
           contains(page, '{') AS has_brace,
           (NOT contains(lower(page), 'lorem ipsum') AND NOT contains(page, '{')
             AND len(kept) >= 3) AS keep
         FROM k ORDER BY doc_id""",
    "line_dedup" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         ch AS (
           SELECT doc_id, list_transform(range(1, len(toks)+1, 8),
             i -> array_to_string(toks[i:i+7], ' ')) AS segs
           FROM t),
         ex AS (
           SELECT doc_id, unnest(segs) AS seg, unnest(range(1, len(segs)+1)) AS pos
           FROM ch),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(DISTINCT doc_id) AS nd FROM ex
             WHERE trim(seg) != '' GROUP BY 1)
           WHERE nd > 1),
         mk AS (
           SELECT e.doc_id, e.pos, e.seg, b.seg IS NOT NULL AS rm
           FROM ex e LEFT JOIN boiler b ON e.seg = b.seg),
         agg AS (
           SELECT doc_id,
             string_agg(CASE WHEN NOT rm THEN seg END, ' ' ORDER BY pos) AS clean,
             count(CASE WHEN rm THEN 1 END) AS n_removed
           FROM mk GROUP BY 1)
         SELECT d.doc_id, coalesce(a.clean, '') AS clean,
           CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id""",
    "dedup_cluster" -> clusterSql(
      "SELECT u AS doc_id, CAST(min(m) AS BIGINT) AS cluster FROM lbl GROUP BY u ORDER BY doc_id"),
    "dedup_retention" -> clusterSql(
      """SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS csize FROM
           (SELECT u, min(m) AS cluster FROM lbl GROUP BY u)
         GROUP BY 1 ORDER BY 1"""),
    "dedup_retention_quality" -> clusterSql {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT cluster, keep_id, quality FROM (
            SELECT c.cluster, c.u AS keep_id, q.quality,
              row_number() OVER (PARTITION BY c.cluster
                ORDER BY q.quality DESC, c.u DESC) AS rn
            FROM (SELECT u, CAST(min(m) AS BIGINT) AS cluster FROM lbl GROUP BY u) c
            JOIN (SELECT doc_id,
                    0.4 * least(CAST(len(toks) AS DOUBLE), 256.0) / 256.0
                    + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE))
                    + 0.3 * least(4.0 * CAST(len(list_filter(toks, x -> x IN ($stopList))) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE), 1.0) AS quality
                  FROM (SELECT doc_id, text,
                          string_split_regex(trim(lower(text)), '\\s+') AS toks
                        FROM documents)) q ON q.doc_id = c.u)
          WHERE rn = 1 ORDER BY cluster"""
    },
    "quality_classifier" ->
      // same md5 bucket + milli-weight fixture; logit = (Σw / 1000.0) / n
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         tok AS (SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 32768 AS bucket
                 FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
         w AS (SELECT doc_id,
                 ('0x' || substr(md5('qc1:' || CAST(bucket AS VARCHAR)), 1, 15))::BIGINT
                   % 2001 - 1000 AS w
               FROM tok),
         sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                  CAST(sum(w) AS BIGINT) AS score_milli FROM w GROUP BY 1)
         SELECT d.doc_id, coalesce(sc.n_toks, 0) AS n_toks,
           coalesce(sc.score_milli, 0) AS score_milli,
           CASE WHEN coalesce(sc.n_toks, 0) > 0
             THEN coalesce(sc.score_milli, 0) / 1000.0 / sc.n_toks ELSE 0.0 END AS logit,
           CASE WHEN coalesce(sc.n_toks, 0) > 0
             THEN coalesce(sc.score_milli, 0) / 1000.0 / sc.n_toks ELSE 0.0 END > 0.0 AS keep
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""",
    "quality_classifier_join" ->
      // the weight table materializes the same md5 fixture as 32k rows and
      // joins on bucket — scores must match the expression path exactly
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         tok AS (SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 32768 AS bucket
                 FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
         wt AS (SELECT r.range AS bucket,
                  ('0x' || substr(md5('qc1:' || CAST(r.range AS VARCHAR)), 1, 15))::BIGINT
                    % 2001 - 1000 AS w_milli
                FROM range(0, 32768) r),
         sc AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                  CAST(sum(coalesce(wt.w_milli, 0)) AS BIGINT) AS score_milli
                FROM tok LEFT JOIN wt USING (bucket) GROUP BY 1)
         SELECT d.doc_id, coalesce(sc.n_toks, 0) AS n_toks,
           coalesce(sc.score_milli, 0) AS score_milli,
           CASE WHEN coalesce(sc.n_toks, 0) > 0
             THEN coalesce(sc.score_milli, 0) / 1000.0 / sc.n_toks ELSE 0.0 END AS logit,
           CASE WHEN coalesce(sc.n_toks, 0) > 0
             THEN coalesce(sc.score_milli, 0) / 1000.0 / sc.n_toks ELSE 0.0 END > 0.0 AS keep
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""",
    "bm25_topk" ->
      // identical operation order to bm25TopK: ((1e4-quantized idf) ·
      // tf·(k1+1)) / (tf + k1·((1−b) + (b·dl)/avgdl)), floor(100·…), int sum
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM t),
         st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         tf AS (SELECT doc_id, tok AS term, count(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                WHERE tok IN ('spark', 'vector', 'join') GROUP BY 1, 2),
         dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfr FROM tf GROUP BY 1),
         idf AS (SELECT term,
                   CAST(floor(1e4 * ln((n - dfr + 0.5) / (dfr + 0.5) + 1.0)) AS BIGINT)
                     AS idf_q4
                 FROM dfreq, st),
         contrib AS (SELECT tf.doc_id,
             CAST(floor(100.0 * idf.idf_q4 * (tf.tf * (1.2 + 1.0)) /
               (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS BIGINT) AS c
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), st)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_q FROM contrib
         GROUP BY 1 ORDER BY score_q DESC, doc_id ASC LIMIT 20""",
    "bm25_multiquery" ->
      // terms-as-data form: postings/idf computed ONCE over the distinct
      // vocabulary, then fanned out to queries; per-query top-15 by
      // row_number — arithmetic identical to bm25_topk
      """WITH qt(query_id, term) AS (VALUES
           ('q_data', 'spark'), ('q_data', 'vector'), ('q_data', 'join'),
           ('q_scan', 'scan'), ('q_scan', 'filter'), ('q_scan', 'column'),
           ('q_stream', 'stream'), ('q_stream', 'window'), ('q_stream', 'batch')),
         vocab AS (SELECT DISTINCT term FROM qt),
         t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM t),
         st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         tf AS (SELECT doc_id, tok AS term, count(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                WHERE tok IN (SELECT term FROM vocab) GROUP BY 1, 2),
         dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfr FROM tf GROUP BY 1),
         idf AS (SELECT term,
                   CAST(floor(1e4 * ln((n - dfr + 0.5) / (dfr + 0.5) + 1.0)) AS BIGINT)
                     AS idf_q4
                 FROM dfreq, st),
         contrib AS (SELECT tf.doc_id, tf.term,
             CAST(floor(100.0 * idf.idf_q4 * (tf.tf * (1.2 + 1.0)) /
               (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS BIGINT) AS c
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), st),
         pq AS (SELECT qt.query_id, contrib.doc_id, CAST(sum(c) AS BIGINT) AS score_q
                FROM contrib JOIN qt USING (term) GROUP BY 1, 2),
         rn AS (SELECT query_id, doc_id, score_q,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score_q DESC, doc_id ASC) AS rn FROM pq)
         SELECT query_id, doc_id, score_q FROM rn WHERE rn <= 15
         ORDER BY query_id, score_q DESC, doc_id""",
    "multimodal_resize" ->
      // the nearest-neighbor floor grid: src = (t·srcDim) // dstDim; pixel
      // channel formulas mirror encodeGradientPng (mod-256 affine in x,y)
      """WITH d AS (SELECT doc_id, (doc_id % 13) + 2 AS sw, (doc_id % 7) + 2 AS sh,
                      doc_id % 256 AS base FROM documents),
         px AS (SELECT doc_id,
                  (base + 3 * ((tx * sw) // 4) + 5 * ((ty * sh) // 3)) % 256 AS r,
                  (base * 3 + 3 * ((tx * sw) // 4) + 5 * ((ty * sh) // 3)) % 256 AS g,
                  (base * 5 + 3 * ((tx * sw) // 4) + 5 * ((ty * sh) // 3)) % 256 AS b
                FROM d,
                  (SELECT unnest(range(4)) AS tx),
                  (SELECT unnest(range(3)) AS ty))
         SELECT doc_id, CAST(4 AS INTEGER) AS width, CAST(3 AS INTEGER) AS height,
           CAST(sum(r) AS DOUBLE) / 12 AS mean_r,
           CAST(sum(g) AS DOUBLE) / 12 AS mean_g,
           CAST(sum(b) AS DOUBLE) / 12 AS mean_b
         FROM px GROUP BY doc_id ORDER BY doc_id""",
    "multimodal_phash_dedup" ->
      // the 8×8 floor-grid sample of the gradient in closed form; gray =
      // r+g+b; bit i = gray_i·64 ≥ Σgray, assembled as an ordered bit
      // string; dedup labels by phash equality
      """WITH d AS (SELECT doc_id, (doc_id % 3) + 4 AS sw, (doc_id % 2) + 4 AS sh,
                      doc_id % 8 AS base FROM documents),
         px AS (SELECT doc_id, ty * 8 + tx AS i,
                  ((base + 3 * ((tx * sw) // 8) + 5 * ((ty * sh) // 8)) % 256)
                + ((base * 3 + 3 * ((tx * sw) // 8) + 5 * ((ty * sh) // 8)) % 256)
                + ((base * 5 + 3 * ((tx * sw) // 8) + 5 * ((ty * sh) // 8)) % 256) AS g
                FROM d,
                  (SELECT unnest(range(8)) AS tx),
                  (SELECT unnest(range(8)) AS ty)),
         tot AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS total FROM px GROUP BY 1),
         ph AS (SELECT px.doc_id,
                  string_agg(CASE WHEN px.g * 64 >= tot.total THEN '1' ELSE '0' END,
                    '' ORDER BY px.i) AS phash
                FROM px JOIN tot ON tot.doc_id = px.doc_id GROUP BY 1),
         grp AS (SELECT phash, min(doc_id) AS dup_of, CAST(count(*) AS BIGINT) AS n_same
                 FROM ph GROUP BY 1)
         SELECT ph.doc_id, ph.phash, grp.dup_of, grp.n_same
         FROM ph JOIN grp ON grp.phash = ph.phash ORDER BY ph.doc_id""",
    "multimodal_phash_neardup" ->
      // same closed-form hashes; banded candidates then exact
      // character-wise Hamming distance
      """WITH d AS (SELECT doc_id, (doc_id % 3) + 4 AS sw, (doc_id % 2) + 4 AS sh,
                      doc_id % 32 AS base, (doc_id % 5) + 1 AS mx, (doc_id % 7) + 1 AS my
                    FROM documents WHERE doc_id < 1000),
         px AS (SELECT doc_id, ty * 8 + tx AS i,
                  ((base + mx * ((tx * sw) // 8) + my * ((ty * sh) // 8)) % 256)
                + ((base * 3 + mx * ((tx * sw) // 8) + my * ((ty * sh) // 8)) % 256)
                + ((base * 5 + mx * ((tx * sw) // 8) + my * ((ty * sh) // 8)) % 256) AS g
                FROM d,
                  (SELECT unnest(range(8)) AS tx),
                  (SELECT unnest(range(8)) AS ty)),
         tot AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS total FROM px GROUP BY 1),
         ph AS (SELECT px.doc_id,
                  string_agg(CASE WHEN px.g * 64 >= tot.total THEN '1' ELSE '0' END,
                    '' ORDER BY px.i) AS phash
                FROM px JOIN tot ON tot.doc_id = px.doc_id GROUP BY 1),
         bd AS (SELECT doc_id, phash, unnest(range(4)) AS b FROM ph),
         bd2 AS (SELECT doc_id, phash, b,
                   substr(phash, CAST(b * 16 + 1 AS INT), 16) AS bits FROM bd),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                    a.phash AS pha, c.phash AS phb
                  FROM bd2 a JOIN bd2 c
                    ON a.b = c.b AND a.bits = c.bits AND a.doc_id < c.doc_id),
         hm AS (SELECT id_a, id_b,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN substr(pha, CAST(i AS INT), 1)
                              != substr(phb, CAST(i AS INT), 1)
                         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
                FROM cand)
         SELECT id_a, id_b, hamming FROM hm WHERE hamming <= 3
         ORDER BY id_a, id_b""",
    "corpus_build_multimodal" ->
      // survivors = decodable ∧ ≥3×3 ∧ phash-cluster minimum; then the 4×3
      // resize means in closed form + the shard hash
      """WITH d AS (SELECT doc_id, (doc_id % 3) + 4 AS sw, (doc_id % 2) + 4 AS sh,
                      doc_id % 32 AS base, (doc_id % 5) + 1 AS mx, (doc_id % 7) + 1 AS my
                    FROM documents
                    WHERE doc_id < 1000 AND doc_id % 97 != 0 AND doc_id % 11 != 0),
         px AS (SELECT doc_id, ty * 8 + tx AS i,
                  ((base + mx * ((tx * sw) // 8) + my * ((ty * sh) // 8)) % 256)
                + ((base * 3 + mx * ((tx * sw) // 8) + my * ((ty * sh) // 8)) % 256)
                + ((base * 5 + mx * ((tx * sw) // 8) + my * ((ty * sh) // 8)) % 256) AS g
                FROM d,
                  (SELECT unnest(range(8)) AS tx),
                  (SELECT unnest(range(8)) AS ty)),
         tot AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS total FROM px GROUP BY 1),
         ph AS (SELECT px.doc_id,
                  string_agg(CASE WHEN px.g * 64 >= tot.total THEN '1' ELSE '0' END,
                    '' ORDER BY px.i) AS phash
                FROM px JOIN tot ON tot.doc_id = px.doc_id GROUP BY 1),
         keep AS (SELECT min(doc_id) AS doc_id FROM ph GROUP BY phash),
         rs AS (SELECT d.* FROM d JOIN keep ON keep.doc_id = d.doc_id),
         tpx AS (SELECT doc_id,
                   (base + mx * ((tx * sw) // 4) + my * ((ty * sh) // 3)) % 256 AS r,
                   (base * 3 + mx * ((tx * sw) // 4) + my * ((ty * sh) // 3)) % 256 AS g,
                   (base * 5 + mx * ((tx * sw) // 4) + my * ((ty * sh) // 3)) % 256 AS b
                 FROM rs,
                   (SELECT unnest(range(4)) AS tx),
                   (SELECT unnest(range(3)) AS ty))
         SELECT doc_id, CAST(4 AS INTEGER) AS width, CAST(3 AS INTEGER) AS height,
           CAST(sum(r) AS DOUBLE) / 12 AS mean_r,
           CAST(sum(g) AS DOUBLE) / 12 AS mean_g,
           CAST(sum(b) AS DOUBLE) / 12 AS mean_b,
           (('0x' || substr(md5('mshard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 2147483647) % 4 AS shard
         FROM tpx GROUP BY doc_id ORDER BY doc_id""",
    "multimodal_audio_stats" ->
      // sample t = ((seed + 37t) mod 2001 − 1000)·16; a zero crossing is a
      // sign flip between consecutive samples (lag window)
      """WITH d AS (SELECT doc_id, (doc_id % 50) + 20 AS n, doc_id % 97 AS seed
                    FROM documents),
         sm AS (SELECT doc_id, t, (((seed + 37 * t) % 2001) - 1000) * 16 AS s
                FROM d, (SELECT unnest(range(70)) AS t) WHERE t < n),
         zc AS (SELECT doc_id, t, s,
                  lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS ps FROM sm),
         ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
                  CAST(sum(s * s) AS BIGINT) AS sum_sq,
                  CAST(max(abs(s)) AS BIGINT) AS peak,
                  CAST(sum(CASE WHEN ps IS NOT NULL AND ((s < 0) != (ps < 0))
                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
                FROM zc GROUP BY 1)
         SELECT doc_id, n_samples, sum_sq, peak, zero_crossings,
           sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms
         FROM ag ORDER BY doc_id""",
    "multimodal_frames" ->
      // solid-colour frames: the sampled frame's channel means ARE the
      // palette colour; stride 2 keeps frames 0 and 2 of the 1..4 present
      """WITH d AS (SELECT doc_id, (doc_id % 5) + 1 AS w, (doc_id % 3) + 1 AS h,
                      (doc_id % 4) + 1 AS nf FROM documents),
         fr AS (SELECT doc_id, w, h, CAST(f AS INTEGER) AS frame,
                  (doc_id + 7 * f) % 256 AS r,
                  (3 * doc_id + 11 * f) % 256 AS g,
                  (5 * doc_id + 13 * f) % 256 AS b
                FROM d, (SELECT unnest(range(4)) AS f) WHERE f < nf AND f % 2 = 0)
         SELECT doc_id, frame, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(r AS DOUBLE) AS mean_r, CAST(g AS DOUBLE) AS mean_g,
           CAST(b AS DOUBLE) AS mean_b
         FROM fr ORDER BY doc_id, frame""",
    "streaming_neardup" -> {
      // k=16 signature, 8 bands × 2 rows — coefficients are
      // minhashSignature's (2j+1, 12289j+741) mod P for j = 0..15
      val perm = (0 until 16).map { j =>
        s"list_min(list_transform(gh, x -> (x * ${2L * j + 1} + ${12289L * j + 741}) % 2147483647))"
      }.mkString(", ")
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents WHERE doc_id < 1000),
          h AS (
            SELECT doc_id, list_transform(toks,
              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
            FROM t),
          sh AS (
            SELECT doc_id, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
              list_distinct(list_transform(range(1, len(th) - 2 + 1),
                i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647))
            END AS gh
            FROM h),
          sig AS (SELECT doc_id, [$perm] AS sig FROM sh WHERE len(gh) > 0),
          bands AS (
            SELECT doc_id, sig, unnest(list_transform(range(8), j ->
              struct_pack(bi := CAST(j AS INTEGER), bk :=
                j::VARCHAR || ':' || sig[2*j+1]::VARCHAR || ':' || sig[2*j+2]::VARCHAR))) AS u
            FROM sig),
          pairs AS (
            SELECT CAST(a.doc_id AS VARCHAR) AS id, CAST(b.doc_id AS VARCHAR) AS dup_of,
              (a.u).bi AS band,
              CAST(list_sum(list_transform(range(1, 17),
                i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
                AS est_jaccard
            FROM bands a JOIN bands b
              ON (a.u).bk = (b.u).bk
              AND CAST(a.doc_id AS VARCHAR) > CAST(b.doc_id AS VARCHAR))
          SELECT id, dup_of, band, est_jaccard FROM pairs
          WHERE est_jaccard >= 0.3 ORDER BY id, dup_of, band"""
    },
    "streaming_neardup_2batch" -> {
      val perm = (0 until 16).map { j =>
        s"list_min(list_transform(gh, x -> (x * ${2L * j + 1} + ${12289L * j + 741}) % 2147483647))"
      }.mkString(", ")
      // batch = (doc_id >= 500); "seen before" ⟺ earlier batch OR same
      // batch with lexicographically smaller string id
      s"""WITH t AS (
            SELECT doc_id, CASE WHEN doc_id < 500 THEN 0 ELSE 1 END AS batch,
              string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents WHERE doc_id < 1000),
          h AS (
            SELECT doc_id, batch, list_transform(toks,
              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
            FROM t),
          sh AS (
            SELECT doc_id, batch, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
              list_distinct(list_transform(range(1, len(th) - 2 + 1),
                i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647))
            END AS gh
            FROM h),
          sig AS (SELECT doc_id, batch, [$perm] AS sig FROM sh WHERE len(gh) > 0),
          bands AS (
            SELECT doc_id, batch, sig, unnest(list_transform(range(8), j ->
              struct_pack(bi := CAST(j AS INTEGER), bk :=
                j::VARCHAR || ':' || sig[2*j+1]::VARCHAR || ':' || sig[2*j+2]::VARCHAR))) AS u
            FROM sig),
          pairs AS (
            SELECT CAST(a.doc_id AS VARCHAR) AS id, CAST(b.doc_id AS VARCHAR) AS dup_of,
              (a.u).bi AS band,
              CAST(list_sum(list_transform(range(1, 17),
                i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
                AS est_jaccard
            FROM bands a JOIN bands b
              ON (a.u).bk = (b.u).bk
              AND (b.batch < a.batch OR (b.batch = a.batch
                AND CAST(b.doc_id AS VARCHAR) < CAST(a.doc_id AS VARCHAR))))
          SELECT id, dup_of, band, est_jaccard FROM pairs
          WHERE est_jaccard >= 0.3 ORDER BY id, dup_of, band"""
    },

    // ---------------- SFT / preference-data assembly (r8)
    "preference_pairs" ->
      """WITH r AS (SELECT doc_id % 97 AS prompt_id, doc_id AS rid,
               text AS resp, CAST(n_chars % 997 AS BIGINT) AS score
             FROM documents),
         k AS (SELECT *,
                 row_number() OVER (PARTITION BY prompt_id
                   ORDER BY score DESC, rid) AS rb,
                 row_number() OVER (PARTITION BY prompt_id
                   ORDER BY score ASC, rid) AS rw,
                 count(*) OVER (PARTITION BY prompt_id) AS n FROM r)
         SELECT b.prompt_id, b.rid AS chosen_id, b.resp AS chosen,
                w.rid AS rejected_id, w.resp AS rejected,
                CAST(b.score - w.score AS BIGINT) AS margin,
                CAST(b.n AS BIGINT) AS n_responses
         FROM k b JOIN k w ON b.prompt_id = w.prompt_id
         WHERE b.rb = 1 AND w.rw = 1 AND b.n >= 2
           AND b.score - w.score >= 10
         ORDER BY b.prompt_id""",
    "chat_render" ->
      """WITH t AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS ord,
               CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               text AS content FROM documents),
         p AS (SELECT conv_id, ord, role, content,
                 '<|' || role || '|>' || content || '<|end|>' AS piece FROM t),
         q AS (SELECT *, CAST(length(piece) AS BIGINT) AS plen,
                 CAST(length(content) AS BIGINT) AS clen FROM p),
         o AS (SELECT *, CAST(coalesce(sum(plen) OVER (PARTITION BY conv_id
                 ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS off
               FROM q),
         agg AS (SELECT conv_id, string_agg(piece, '' ORDER BY ord) AS text,
                   CAST(sum(plen) AS BIGINT) AS text_len,
                   CAST(count(*) AS BIGINT) AS n_turns
                 FROM q GROUP BY conv_id),
         sp AS (SELECT conv_id,
                  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ord)
                    AS BIGINT) AS span_idx,
                  CAST(off + plen - clen - 7 AS BIGINT) AS span_start,
                  CAST(off + plen - 7 AS BIGINT) AS span_end
                FROM o WHERE role = 'assistant')
         SELECT a.conv_id, a.text, a.text_len, a.n_turns,
                s.span_idx, s.span_start, s.span_end
         FROM agg a JOIN sp s ON a.conv_id = s.conv_id
         ORDER BY a.conv_id, s.span_idx""",

    // ---------------- encoding repair (r8): the corrupt expression is
    // IDENTICAL to the Spark side's; the fix/count chains are unrolled
    // from Cleanup.mojibakeTable so both engines run the same sequence
    "mojibake_fix" ->
      s"""WITH c AS (SELECT doc_id,
               replace(replace(replace(text, 'a', 'Ã¡'), 'o', 'Ã³'),
                 'e', 'Ã©') || ' â€œquoteâ€¦â€“' AS bad
             FROM documents),
         f AS (SELECT doc_id, bad, ${mojibakeFixSql("bad")} AS fixed FROM c)
         SELECT doc_id, CAST(${mojibakeCountSql("bad")} AS BIGINT) AS n_bad,
                fixed, CAST(${mojibakeCountSql("fixed")} AS BIGINT) AS n_after
         FROM f ORDER BY doc_id""",

    // ---------------- streaming running count (r8): final state = totals
    "streaming_runcount_2batch" ->
      """SELECT source AS key, CAST(count(*) AS BIGINT) AS n
         FROM documents WHERE source IS NOT NULL
         GROUP BY source ORDER BY key""",

    // ---------------- running-count eviction (r15): after the TTL fires,
    // "evict"'s max emission counts its batch-3 re-feed only (docs
    // 100-299 → 200); "keep" counted its full batches-1-2 feed (docs
    // 300-499 → 200). A state leak across the eviction makes evict 300.
    "streaming_runcount_evict_3batch" ->
      """SELECT CASE WHEN doc_id < 300 THEN 'evict' ELSE 'keep' END AS key,
                CAST(count(*) AS BIGINT) AS n
         FROM documents
         WHERE doc_id >= 100 AND doc_id < 500
         GROUP BY 1 ORDER BY key""",

    // ---------------- watermark-bounded streaming dedup (r8): emitted =
    // batch 1 + expired re-emits + new keys; alive-key dups (docs
    // 330..339) suppressed
    "streaming_dedup_wm_2batch" ->
      """WITH m AS (
           SELECT doc_id,
             CASE WHEN doc_id < 280 THEN doc_id
                  WHEN doc_id BETWEEN 300 AND 329 THEN doc_id - 300
                  WHEN doc_id BETWEEN 330 AND 339 THEN 270 + (doc_id - 330) % 10
                  ELSE doc_id END AS key
           FROM documents
           WHERE doc_id < 280 OR doc_id >= 300)
         SELECT key, doc_id AS ts_s FROM m
         WHERE NOT (doc_id BETWEEN 330 AND 339)
         ORDER BY key, ts_s""",

    // ---------------- streaming dedup (r8): distinct keys exactly once
    "streaming_dedup_2batch" ->
      """SELECT DISTINCT doc_id % 137 AS key FROM documents ORDER BY key""",

    // ---------------- streaming signal buffer (r8): released = every doc
    // of every hash-even source (batch-1 buffers included); hash-odd
    // sources stay held forever and emit nothing
    "streaming_signal_2batch" ->
      """SELECT d.source AS key, CAST(d.doc_id AS VARCHAR) AS payload
         FROM documents d
         WHERE d.source IS NOT NULL
           AND ('0x' || substr(md5(d.source), 1, 15))::BIGINT % 2 = 0
         ORDER BY key, payload""",

    // ---------------- signal-buffer eviction (r15): evict's batch-1
    // payloads (docs 0-99) were TTL-dropped before its signal, so the
    // release covers docs 100-299 only; keep's buffer survived and
    // releases its full 300-499 feed. Leak → 0-99 reappear; over-eager
    // TTL → 300-399 vanish.
    "streaming_signal_evict_3batch" ->
      """SELECT CASE WHEN doc_id < 300 THEN 'evict' ELSE 'keep' END AS key,
                CAST(doc_id AS VARCHAR) AS payload
         FROM documents
         WHERE doc_id >= 100 AND doc_id < 500
         ORDER BY key, payload""",

    // ---------------- streaming session windows (r8): batch
    // gaps-and-islands replay; >= gap starts a new session (Spark's
    // session_window is [start, end)), end = last event + gap
    "streaming_sessions_2batch" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) AS us, event_id,
               lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_us
             FROM events),
         f AS (SELECT user_id, us, event_id,
                 CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                      THEN 1 ELSE 0 END AS new_sess
               FROM g),
         s AS (SELECT user_id, us,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id
                   ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS sid
               FROM f)
         SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
           count(*) AS n_events
         FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""",

    // ---------------- SFT flagship composition (r8): the render stage is
    // closed-form here (exactly two turns per conversation), which keeps
    // the oracle independent of the Spark-side HOF fold it checks
    "sft_build" ->
      s"""WITH c AS (SELECT doc_id, n_chars,
             ${mojibakeFixSql(
               "(replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©') || ' â€“fin')")} AS fixed
           FROM documents),
         r AS (SELECT doc_id % 97 AS prompt_id, doc_id AS rid, fixed AS resp,
                 CAST(n_chars % 997 AS BIGINT) AS score FROM c),
         k AS (SELECT *,
                 row_number() OVER (PARTITION BY prompt_id
                   ORDER BY score DESC, rid) AS rb,
                 row_number() OVER (PARTITION BY prompt_id
                   ORDER BY score ASC, rid) AS rw,
                 count(*) OVER (PARTITION BY prompt_id) AS n FROM r),
         pairs AS (SELECT b.prompt_id AS conv_id, b.resp AS chosen,
                     CAST(b.score - w.score AS BIGINT) AS margin
                   FROM k b JOIN k w ON b.prompt_id = w.prompt_id
                   WHERE b.rb = 1 AND w.rw = 1 AND b.n >= 2
                     AND b.score - w.score >= 10),
         o AS (SELECT conv_id,
                 '<|user|>Q:' || CAST(conv_id AS VARCHAR) ||
                   '<|end|><|assistant|>' || chosen || '<|end|>' AS text,
                 chosen, margin,
                 CAST(15 + length('Q:' || CAST(conv_id AS VARCHAR)) + 13
                   AS BIGINT) AS span_start
               FROM pairs)
         SELECT conv_id,
           CAST(('0x' || substr(md5('shard:' || CAST(conv_id AS VARCHAR)), 1, 15))::BIGINT
             % 2147483647 % 8 AS BIGINT) AS shard,
           text, CAST(length(text) AS BIGINT) AS text_len,
           span_start,
           CAST(span_start + length(chosen) AS BIGINT) AS span_end, margin
         FROM o ORDER BY conv_id""",

    // ---------------- training-objective prep (r8)
    "fim_transform" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
             FROM documents),
         h AS (SELECT doc_id, text, L,
                 ('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2147483647 % 100 < 50 AS fim,
                 ('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2147483647 % (L + 1) AS c1
               FROM d),
         g AS (SELECT *, c1 +
                 ('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2147483647 % (L - c1 + 1) AS c2
               FROM h)
         SELECT doc_id, fim,
           CASE WHEN fim THEN
             '<|fim_pre|>' || substr(text, 1, CAST(c1 AS INTEGER)) ||
             '<|fim_suf|>' || substr(text, CAST(c2 + 1 AS INTEGER), CAST(L AS INTEGER)) ||
             '<|fim_mid|>' || substr(text, CAST(c1 + 1 AS INTEGER), CAST(c2 - c1 AS INTEGER))
           ELSE text END AS out
         FROM g ORDER BY doc_id""",
    "span_corrupt" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         x AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                 i -> struct_pack(pos := i - 1, tok := toks[i]))) AS u FROM t),
         p AS (SELECT doc_id, CAST((u).pos AS BIGINT) AS pos, (u).tok AS tok FROM x),
         m AS (SELECT *,
                 ('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':'
                   || CAST(pos AS VARCHAR)), 1, 15))::BIGINT
                   % 2147483647 % 100 < 15 AS mk
               FROM p),
         g AS (SELECT *, (mk AND NOT coalesce(lag(mk) OVER
                 (PARTITION BY doc_id ORDER BY pos), false)) AS strt
               FROM m),
         i AS (SELECT *, sum(CASE WHEN strt THEN 1 ELSE 0 END) OVER
                 (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
               FROM g),
         pieces AS (SELECT doc_id, pos, mk, gid,
             CASE WHEN NOT mk THEN tok
                  WHEN strt THEN '<X' || CAST(gid - 1 AS VARCHAR) || '>'
                  ELSE '' END AS in_piece,
             CASE WHEN mk AND strt THEN '<X' || CAST(gid - 1 AS VARCHAR) || '> ' || tok
                  WHEN mk THEN tok
                  ELSE '' END AS tgt_piece
           FROM i)
         SELECT doc_id,
           coalesce(string_agg(in_piece, ' ' ORDER BY pos)
             FILTER (WHERE in_piece != ''), '') AS input,
           coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
             FILTER (WHERE tgt_piece != ''), '') AS target,
           CAST(sum(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(max(gid) AS BIGINT) AS n_groups
         FROM pieces GROUP BY doc_id ORDER BY doc_id""",

    // ---------------- unigram-LM Viterbi segmentation (r8): the DP
    // unrolls as one CTE stage per word position (≤ maxWordLen), each an
    // argmax over edges from earlier positions with the IDENTICAL
    // (score desc, pieces asc, split asc) tie order
    "unigram_segment" -> unigramSql(k = 500, maxPieceLen = 6, maxWordLen = 16),
    "wordpiece_segment" -> wordpieceSql(k = 500, maxPieceLen = 6, maxWordLen = 16),
    "unigram_doc_tokens" -> unigramDocSql(k = 500, maxPieceLen = 6, maxWordLen = 16),
    "unigram_em" -> unigramEmSql(k = 500, maxPieceLen = 6, maxWordLen = 16),

    // ---------------- corpus snapshot diff (r8)
    "snapshot_diff" -> {
      def fp(expr: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length($expr) + 1),
               i -> CAST(unicode(($expr)[i:i]) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 2147483647)"""
      s"""WITH oldd AS (SELECT doc_id AS id, ${fp("text")} AS ofp FROM documents),
         newdocs AS (
           SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                               ELSE text END AS text
           FROM documents WHERE doc_id % 17 != 0
           UNION ALL
           SELECT doc_id + 100000, 'new doc ' || CAST(doc_id AS VARCHAR)
           FROM documents WHERE doc_id % 19 = 0),
         newd AS (SELECT doc_id AS id, ${fp("text")} AS nfp FROM newdocs)
         SELECT coalesce(o.id, n.id) AS id,
           CASE WHEN o.id IS NULL THEN 'added'
                WHEN n.id IS NULL THEN 'removed'
                WHEN o.ofp IS NOT DISTINCT FROM n.nfp THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.ofp AS old_fp, n.nfp AS new_fp
         FROM oldd o FULL OUTER JOIN newd n ON o.id = n.id
         ORDER BY id"""
    },

    // ---------------- k-NN label propagation (r8)
    "knn_classify" -> {
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      s"""WITH e AS (SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x*1000000)) AS q,
               label
             FROM embeddings WHERE vec_id < 300),
         qs AS (SELECT vec_id AS id, q FROM e WHERE vec_id % 5 != 0),
         sd AS (SELECT vec_id AS seed_id, q AS sq, CAST(label AS BIGINT) AS label
                FROM e WHERE vec_id % 5 = 0),
         p AS (SELECT qs.id, sd.seed_id, sd.label,
                 CAST(floor((${dot("qs.q", "sd.sq")} /
                   (sqrt(${dot("qs.q", "qs.q")}) * sqrt(${dot("sd.sq", "sd.sq")})))
                   * 1000000000000 + 0.5) AS BIGINT) AS cos_q
               FROM qs, sd),
         r AS (SELECT *, row_number() OVER (PARTITION BY id
                 ORDER BY cos_q DESC, seed_id) AS rk FROM p),
         v AS (SELECT id, label, CAST(count(*) AS BIGINT) AS votes,
                 CAST(max(cos_q) AS BIGINT) AS best_cos_q
               FROM r WHERE rk <= 5 GROUP BY 1, 2),
         b AS (SELECT *, row_number() OVER (PARTITION BY id
                 ORDER BY votes DESC, label ASC) AS rb FROM v)
         SELECT id, label AS pred_label, votes, best_cos_q
         FROM b WHERE rb = 1 ORDER BY id"""
    },

    "keyword_tagger" ->
      // same four keywords: exact = token-boundary regex on the lowered
      // text, substring = contains; tag order follows the keyword list
      """SELECT doc_id, concat_ws(',',
           CASE WHEN regexp_matches(lower(text), '(^|\s)the(\s|$)')
                THEN 'the' END,
           CASE WHEN contains(text, 'Data') THEN 'Data' END,
           CASE WHEN contains(lower(text), 'spark') THEN 'spark' END,
           CASE WHEN regexp_matches(lower(text), '(^|\s)fast sort(\s|$)')
                THEN 'fast sort' END) AS tags
         FROM documents ORDER BY doc_id""",

    // ---------------- code-vs-prose routing (r8): identical synthetic
    // snippet, counts via global regexp_replace ('g' — DuckDB defaults to
    // first-match-only), the same integer density vote
    "code_prose" ->
      s"""WITH s AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 4 = 0 THEN '$codeSnippet' ELSE '' END AS t2
           FROM documents),
         c AS (SELECT doc_id,
             CAST(length(t2) AS BIGINT) AS n_chars,
             CAST(length(t2) - length(regexp_replace(t2,
               '[{}()\\[\\];=<>]', '', 'g')) AS BIGINT) AS n_sym,
             CAST(length(t2) - length(regexp_replace(t2, ';', '', 'g'))
               AS BIGINT) AS n_semi,
             CAST(length(t2) - length(regexp_replace(t2, '\\n', '', 'g')) + 1
               AS BIGINT) AS n_lines,
             CAST(len(list_filter(string_split(t2, chr(10)),
               l -> l LIKE '    %' OR l LIKE chr(9) || '%')) AS BIGINT)
               AS n_indent
           FROM s)
         SELECT doc_id, n_chars, n_sym, n_semi, n_lines, n_indent,
           (CASE WHEN n_sym * 100 >= n_chars * 3 THEN 1 ELSE 0 END +
            CASE WHEN n_indent * 5 >= n_lines THEN 1 ELSE 0 END +
            CASE WHEN n_semi * 100 >= n_chars THEN 1 ELSE 0 END) >= 2
             AS is_code
         FROM c ORDER BY doc_id""",

    // ---------------- high-entropy secret scan (r8): the per-candidate
    // score replays row-exploded (unnest chars, count, integer-floor
    // terms) — the Spark side's HOF fold computes the identical integers
    "secret_scan" ->
      """WITH s AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 5 = 0 THEN ' ' || md5(CAST(doc_id AS VARCHAR))
                  WHEN doc_id % 5 = 1 THEN ' aaaaaaaaaaaaaaaaaaaaaaaa'
                  ELSE '' END AS t2 FROM documents),
         c AS (SELECT doc_id, regexp_extract_all(t2, '[A-Za-z0-9+/=_-]{20,}') AS cands
               FROM s),
         e AS (SELECT doc_id, unnest(list_transform(range(1, len(cands) + 1),
                 i -> struct_pack(ci := i, t := cands[i]))) AS u FROM c),
         tok AS (SELECT doc_id, (u).ci AS ci, (u).t AS t FROM e),
         ch AS (SELECT doc_id, ci, t,
                  unnest(list_transform(range(1, length(t) + 1), i -> t[i:i])) AS d
                FROM tok),
         cnt AS (SELECT doc_id, ci, t, d, CAST(count(*) AS BIGINT) AS n
                 FROM ch GROUP BY 1, 2, 3, 4),
         sq AS (SELECT doc_id, ci, CAST(length(t) AS BIGINT) AS L,
                  CAST(floor(1e4 * length(t) * ln(length(t))) AS BIGINT)
                    - CAST(sum(CAST(floor(1e4 * n * ln(n)) AS BIGINT)) AS BIGINT) AS q
                FROM cnt GROUP BY doc_id, ci, t),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
                   CAST(sum(CASE WHEN q >= 25000 * L THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_secrets,
                   max(CAST(floor(CAST(q AS DOUBLE) / CAST(L AS DOUBLE)) AS BIGINT))
                     AS max_ent_q4
                 FROM sq GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(a.n_secrets, 0) AS BIGINT) AS n_secrets,
           CAST(coalesce(a.max_ent_q4, -1) AS BIGINT) AS max_ent_q4
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    // ---------------- margin-based bitext mining (r8)
    "bitext_margin" -> {
      def dot(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      s"""WITH e AS (SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x*1000000)) AS q
             FROM embeddings WHERE vec_id < 200),
         s AS (SELECT vec_id AS src_id, q AS sq FROM e WHERE vec_id % 2 = 0),
         t AS (SELECT vec_id AS tgt_id, q AS tq FROM e WHERE vec_id % 2 = 1),
         p AS (SELECT src_id, tgt_id,
                 CAST(floor((${dot("sq", "tq")} /
                   (sqrt(${dot("sq", "sq")}) * sqrt(${dot("tq", "tq")})))
                   * 1000000000000 + 0.5) AS BIGINT) AS cos_q
               FROM s, t),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY src_id
                   ORDER BY cos_q DESC, tgt_id) AS rs,
                 row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cos_q DESC, src_id) AS rt FROM p),
         ns AS (SELECT src_id, CAST(sum(cos_q) AS BIGINT) AS nsum_src
                FROM r WHERE rs <= 4 GROUP BY 1),
         nt AS (SELECT tgt_id, CAST(sum(cos_q) AS BIGINT) AS nsum_tgt
                FROM r WHERE rt <= 4 GROUP BY 1),
         c AS (SELECT r.src_id, r.tgt_id, r.cos_q, ns.nsum_src, nt.nsum_tgt,
                 (r.cos_q * 8) / (ns.nsum_src + nt.nsum_tgt) AS margin
               FROM r JOIN ns ON ns.src_id = r.src_id
                 JOIN nt ON nt.tgt_id = r.tgt_id
               WHERE r.rs <= 4),
         b AS (SELECT *, row_number() OVER (PARTITION BY src_id
                 ORDER BY margin DESC, tgt_id) AS rb FROM c)
         SELECT src_id, tgt_id, cos_q, nsum_src, nsum_tgt, margin
         FROM b WHERE rb = 1 ORDER BY src_id"""
    },

    // same positional shingle fold as dedup_minhash_sig (no distinct),
    // then the packed-key window min (h*2^20 + (2^20-1-pos), so plain min
    // = min hash / rightmost position) replayed as a list slice min
    "winnow_fingerprints" ->
      s"WITH $winnowCtes SELECT doc_id, pos, fp FROM dec ORDER BY doc_id, pos",
    "winnow_candidates" ->
      s"""WITH $winnowCtes,
         sel AS (SELECT DISTINCT doc_id AS doc, fp FROM dec),
         keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
         pr AS (SELECT s.fp, s.doc FROM sel s JOIN keep USING (fp))
         SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS shared
         FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc < b.doc
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b""",

    "winnow_match_spans" ->
      // same fingerprint/pair CTEs as winnow_candidates, then per-(pair,
      // side) gaps-and-islands over the matched positions (gap 6 = w+n-1),
      // spans closed at max(pos)+n tokens
      s"""WITH $winnowCtes,
         sel AS (SELECT DISTINCT doc_id AS doc, fp FROM dec),
         keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
         pr AS (SELECT s.fp, s.doc FROM sel s JOIN keep USING (fp)),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b
                   FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc < b.doc
                   GROUP BY 1, 2 HAVING count(*) >= 2),
         hits AS (SELECT p.doc_a, p.doc_b, fa.pos AS pa, fb.pos AS pb
                  FROM pairs p
                  JOIN dec fa ON fa.doc_id = p.doc_a
                  JOIN dec fb ON fb.doc_id = p.doc_b AND fb.fp = fa.fp),
         sides AS (SELECT DISTINCT doc_a, doc_b, 'a' AS side, pa AS pos FROM hits
                   UNION SELECT DISTINCT doc_a, doc_b, 'b', pb FROM hits),
         isl AS (SELECT doc_a, doc_b, side, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_a, doc_b, side
                          ORDER BY pos) > 6 THEN 1 ELSE 0 END AS nw
                 FROM sides),
         grp AS (SELECT doc_a, doc_b, side, pos,
                   sum(nw) OVER (PARTITION BY doc_a, doc_b, side ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl)
         SELECT doc_a, doc_b, side, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 3 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_fps
         FROM grp GROUP BY doc_a, doc_b, side, island
         ORDER BY doc_a, doc_b, side, span_start""",

    // k smallest (md5(id) % P, id) per source — rank replay of the
    // bounded-heap aggregate
    "hash_bottomk_sample" ->
      """WITH h AS (SELECT source, doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 2147483647 AS hh
         FROM documents),
         r AS (SELECT source, doc_id, hh,
           row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
         FROM h)
         SELECT source, CAST(doc_id AS BIGINT) AS doc_id, CAST(hh AS BIGINT) AS h
         FROM r WHERE rn <= 5 ORDER BY source, doc_id""",

    // priority sampling rank replay: q = w / ((md5(id)+1)/2^60) — the same
    // two correctly-rounded IEEE divisions as the Spark plan — rank DESC
    // with id tie-break, tau = the 9th priority (k+1) or 0
    "priority_sample" ->
      """WITH w AS (SELECT source, doc_id, CAST(length(text) AS DOUBLE) AS weight
                    FROM documents WHERE text IS NOT NULL),
         q AS (SELECT source, doc_id, weight,
                 weight / (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   + 1 AS DOUBLE) / 1152921504606846976.0) AS q
               FROM w),
         r AS (SELECT source, doc_id, weight, q,
                 row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC) AS rn
               FROM q),
         tk AS (SELECT source, max(CASE WHEN rn = 9 THEN q ELSE 0 END) AS tau
                FROM r GROUP BY source)
         SELECT r.source, CAST(r.doc_id AS BIGINT) AS doc_id, r.weight,
           r.q AS priority, tk.tau, greatest(r.weight, tk.tau) AS w_hat
         FROM r JOIN tk ON tk.source IS NOT DISTINCT FROM r.source
         WHERE r.rn <= 8 ORDER BY r.source, r.doc_id""",

    // the 16x64 Rademacher sign matrix rendered as a literal (same values
    // the Spark plan carries), identical fold orders both stages
    "midrank_normalize" ->
      // midrank CDF = (2·cumCount − tieCount + 1) / (2·n) from the
      // value-count table, joined back null-safely per (source, value)
      """WITH b AS (
           SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len
           FROM documents WHERE text IS NOT NULL),
         c AS (SELECT source, len, CAST(count(*) AS BIGINT) AS c
               FROM b GROUP BY 1, 2),
         r AS (SELECT source, len,
                 CAST(2 * sum(c) OVER (PARTITION BY source ORDER BY len ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - c + 1 AS DOUBLE)
                 / CAST(2 * sum(c) OVER (PARTITION BY source) AS DOUBLE) AS cdf
               FROM c)
         SELECT b.doc_id, b.source, b.len, r.cdf
         FROM b JOIN r ON r.source IS NOT DISTINCT FROM b.source AND r.len = b.len
         ORDER BY b.doc_id""",

    "spearman_corr" ->
      // doubled-average-rank algebra: 2·avgRank = 2·cumCount − tieCount + 1
      // from the value-count table, integer moment sums, one double ρ
      """WITH b AS (
           SELECT source, CAST(length(text) AS BIGINT) AS x,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS y
           FROM documents WHERE text IS NOT NULL),
         cx AS (SELECT source, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         rx AS (SELECT source, x,
                  2 * sum(c) OVER (PARTITION BY source ORDER BY x ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS rx
                FROM cx),
         cy AS (SELECT source, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         ry AS (SELECT source, y,
                  2 * sum(c) OVER (PARTITION BY source ORDER BY y ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS ry
                FROM cy),
         j AS (SELECT b.source, rx.rx, ry.ry FROM b
               JOIN rx ON rx.source IS NOT DISTINCT FROM b.source AND rx.x = b.x
               JOIN ry ON ry.source IS NOT DISTINCT FROM b.source AND ry.y = b.y),
         agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rx) AS BIGINT) AS sx2, CAST(sum(ry) AS BIGINT) AS sy2,
                   CAST(sum(rx * ry) AS BIGINT) AS sxy4,
                   CAST(sum(rx * rx) AS BIGINT) AS sxx4,
                   CAST(sum(ry * ry) AS BIGINT) AS syy4
                 FROM j GROUP BY 1)
         SELECT source, n, sx2, sy2, sxy4, sxx4, syy4,
           (CAST(n AS DOUBLE) * CAST(sxy4 AS DOUBLE)
              - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE)) /
           (sqrt(CAST(n AS DOUBLE) * CAST(sxx4 AS DOUBLE)
              - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)) *
            sqrt(CAST(n AS DOUBLE) * CAST(syy4 AS DOUBLE)
              - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE))) AS spearman_rho
         FROM agg ORDER BY source""",

    "rank_eval_rproj" -> {
      // the rproj_rerank CTEs replayed per query id (predicted lists) +
      // exact-cosine truth lists, then the metric algebra: integerized
      // 1e9·ln2/ln(rank+1) discounts, IEEE divisions of the integer sums
      val mat = graft.operators.Similarity.rprojSigns(16, 64)
        .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      def dotSql(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      def cosSql(a: String, b: String) =
        s"""CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) = 0
             THEN NULL
             ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
           END"""
      def perQid(q: Long) =
        s"""q$q AS (SELECT p AS qp, v AS qv FROM proj WHERE vec_id = $q),
         s1$q AS (SELECT proj.vec_id, ${cosSql("proj.p", s"q$q.qp")} AS pcos
                 FROM proj, q$q WHERE proj.vec_id != $q),
         c$q AS (SELECT vec_id FROM s1$q WHERE pcos IS NOT NULL
                 ORDER BY pcos DESC, vec_id ASC LIMIT 50),
         s2$q AS (SELECT e.vec_id, ${cosSql("e.v", s"q$q.qv")} AS cos
                 FROM e JOIN c$q USING (vec_id), q$q),
         p$q AS (SELECT CAST($q AS BIGINT) AS qid, vec_id, cos FROM s2$q
                 WHERE cos IS NOT NULL ORDER BY cos DESC, vec_id ASC LIMIT 10),
         ts$q AS (SELECT e.vec_id, ${cosSql("e.v", s"q$q.qv")} AS cos
                 FROM e, q$q WHERE e.vec_id != $q),
         t$q AS (SELECT CAST($q AS BIGINT) AS qid, vec_id FROM ts$q
                 WHERE cos IS NOT NULL ORDER BY cos DESC, vec_id ASC LIMIT 10)"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sm AS (SELECT $mat AS m),
         proj AS MATERIALIZED (SELECT vec_id, v, list_transform(range(16), i ->
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(v, sm.m[i + 1]), p -> p[1] * p[2])),
               (x, y) -> x + y) / ${math.sqrt(16.0)}) AS p
           FROM e, sm),
         ${perQid(0L)}, ${perQid(7L)}, ${perQid(42L)},
         pred AS (SELECT * FROM p0 UNION ALL SELECT * FROM p7
                  UNION ALL SELECT * FROM p42),
         tru AS (SELECT * FROM t0 UNION ALL SELECT * FROM t7
                 UNION ALL SELECT * FROM t42),
         prr AS (SELECT qid, vec_id, row_number() OVER
                   (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
                 FROM pred),
         nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM tru GROUP BY 1),
         hits AS (SELECT p.qid, p.rn FROM prr p
                  JOIN tru t ON t.qid = p.qid AND t.vec_id = p.vec_id
                  WHERE p.rn <= 10),
         hagg AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_hits,
             CAST(sum(CAST(floor(1e9 * 0.6931471805599453 / ln(rn + 1.0)) AS BIGINT))
               AS BIGINT) AS dcg_q9,
             1.0 / min(rn) AS mrr
           FROM hits GROUP BY 1),
         idcg AS (SELECT qid, n_rel,
             CAST(list_sum(list_transform(range(1, least(10, n_rel) + 1),
               i -> CAST(floor(1e9 * 0.6931471805599453 / ln(i + 1.0)) AS BIGINT)))
               AS BIGINT) AS idcg_q9
           FROM nrel)
         SELECT i.qid, i.n_rel, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(i.n_rel AS DOUBLE) AS recall_at_k,
           coalesce(h.mrr, 0.0) AS mrr,
           CAST(coalesce(h.dcg_q9, 0) AS BIGINT) AS dcg_q9, i.idcg_q9,
           CAST(coalesce(h.dcg_q9, 0) AS DOUBLE) / CAST(i.idcg_q9 AS DOUBLE) AS ndcg_at_k
         FROM idcg i LEFT JOIN hagg h USING (qid) ORDER BY i.qid"""
    },

    "rproj_rerank_topk" -> {
      val mat = graft.operators.Similarity.rprojSigns(16, 64)
        .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      def dotSql(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"""
      def cosSql(a: String, b: String) =
        s"""CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) = 0
             THEN NULL
             ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
           END"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sm AS (SELECT $mat AS m),
         proj AS (SELECT vec_id, v, list_transform(range(16), i ->
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(v, sm.m[i + 1]), p -> p[1] * p[2])),
               (x, y) -> x + y) / ${math.sqrt(16.0)}) AS p
           FROM e, sm),
         q AS (SELECT p AS qp, v AS qv FROM proj WHERE vec_id = 7),
         st1 AS (SELECT proj.vec_id, ${cosSql("proj.p", "q.qp")} AS pcos
                 FROM proj, q WHERE proj.vec_id != 7),
         cand AS (SELECT vec_id FROM st1 WHERE pcos IS NOT NULL
                  ORDER BY pcos DESC, vec_id ASC LIMIT 50),
         st2 AS (SELECT e.vec_id, ${cosSql("e.v", "q.qv")} AS cos
                 FROM e JOIN cand USING (vec_id), q)
         SELECT vec_id, cos FROM st2 WHERE cos IS NOT NULL
         ORDER BY cos DESC, vec_id ASC LIMIT 10"""
    })

  /** DuckDB replay of `Unigram.pieceVocab` + `segmentWords`: the Viterbi
    * DP unrolled as one argmax CTE stage per word position; `allI`
    * accumulates best states for positions 0..I so stage I+1 joins every
    * reachable predecessor. Same vocabulary selection order, same
    * quantized-ln scores, same tie rule. MATERIALIZED hints stop DuckDB
    * from inlining the chain exponentially. */
  private def unigramBaseCtes(k: Int, maxPieceLen: Int,
                              maxWordLen: Int): String =
    s"""wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             SELECT unnest(regexp_extract_all(
               lower(text || ' ' || md5(CAST(doc_id AS VARCHAR))), '[a-z]+')) AS w
             FROM documents) GROUP BY 1),
         pieces AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS freq FROM (
             SELECT unnest(flatten(list_transform(range(1, length(w) + 1), j ->
               list_transform(range(1, least($maxPieceLen, length(w) - j + 1) + 1),
                 len -> substr(w, j, len))))) AS piece, freq
             FROM wf) GROUP BY 1),
         topk AS (SELECT piece, freq FROM (
             SELECT piece, freq,
               row_number() OVER (ORDER BY freq DESC, piece ASC) AS rn
             FROM pieces) WHERE rn <= $k),
         chars AS (SELECT piece, freq FROM pieces WHERE length(piece) = 1),
         vocab AS (SELECT piece, CAST(max(freq) AS BIGINT) AS freq FROM (
             SELECT * FROM topk UNION ALL SELECT * FROM chars) GROUP BY 1),
         vt AS (SELECT CAST(sum(freq) AS BIGINT) AS F FROM vocab),
         scored AS MATERIALIZED (SELECT piece,
             CAST(floor(1e4 * (ln(freq) - ln(vt.F))) AS BIGINT) AS sq
           FROM vocab, vt),
         dw AS (SELECT w, CAST(length(w) AS BIGINT) AS L FROM wf
                WHERE length(w) BETWEEN 1 AND $maxWordLen),
         cand AS (SELECT w, L,
             unnest(flatten(list_transform(range(1, CAST(L AS INTEGER) + 1), j ->
               list_transform(range(1, least($maxPieceLen,
                   CAST(L AS INTEGER) - j + 1) + 1),
                 len -> struct_pack(j := j - 1, i := j - 1 + len,
                   piece := substr(w, j, len)))))) AS e
           FROM dw)"""

  /** One full DP + backtrack chain against the scores CTE `sc`, all CTE
    * names prefixed `pfx` so two rounds (EM) can coexist in one WITH. */
  private def unigramDpCtes(pfx: String, sc: String, maxWordLen: Int): String = {
    val head =
      s"""${pfx}edges AS MATERIALIZED (SELECT c.w, CAST((c.e).j AS BIGINT) AS j,
             CAST((c.e).i AS BIGINT) AS i, s.sq
           FROM cand c JOIN $sc s ON s.piece = (c.e).piece),
         ${pfx}all0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS pos,
             CAST(0 AS BIGINT) AS bq,
             CAST(0 AS BIGINT) AS n, CAST(-1 AS BIGINT) AS bj FROM dw)"""
    val stages = (1 to maxWordLen).map { i =>
      s"""
         ${pfx}a$i AS MATERIALIZED (SELECT w, pos, bq, n, bj FROM (
             SELECT e.w, CAST($i AS BIGINT) AS pos, p.bq + e.sq AS bq,
               p.n + 1 AS n, e.j AS bj,
               row_number() OVER (PARTITION BY e.w
                 ORDER BY p.bq + e.sq DESC, p.n + 1 ASC, e.j ASC) AS rn
             FROM ${pfx}edges e JOIN ${pfx}all${i - 1} p
               ON p.w = e.w AND p.pos = e.j
             WHERE e.i = $i) WHERE rn = 1),
         ${pfx}all$i AS MATERIALIZED (
           SELECT * FROM ${pfx}all${i - 1} UNION ALL SELECT * FROM ${pfx}a$i)"""
    }.mkString(",")
    val bt0 = s"""
         ${pfx}bt0 AS MATERIALIZED (SELECT w, L AS pos, '' AS seg FROM dw)"""
    val btStages = (1 to maxWordLen).map { st =>
      s"""
         ${pfx}bt$st AS MATERIALIZED (SELECT b.w, f.bj AS pos,
             substr(b.w, CAST(f.bj + 1 AS INTEGER),
               CAST(b.pos - f.bj AS INTEGER)) ||
               CASE WHEN b.seg = '' THEN '' ELSE ' ' || b.seg END AS seg
           FROM ${pfx}bt${st - 1} b JOIN ${pfx}all$maxWordLen f
             ON f.w = b.w AND f.pos = b.pos
           WHERE b.pos > 0)"""
    }.mkString(",")
    val btUnion = (1 to maxWordLen)
      .map(st => s"SELECT w, pos, seg FROM ${pfx}bt$st").mkString(" UNION ALL ")
    head + "," + stages + "," + bt0 + "," + btStages +
      s""",
         ${pfx}btfin AS (SELECT w, seg FROM ($btUnion) WHERE pos = 0)"""
  }

  /** Final per-word projection from a DP chain's terminal states. */
  private def unigramFinalSelect(pfx: String, maxWordLen: Int): String =
    s"""
      SELECT dw.w, f.n AS n_pieces, f.bq AS score_q,
        substr(dw.w, CAST(f.bj + 1 AS INTEGER),
          CAST(dw.L - f.bj AS INTEGER)) AS last_piece,
        ${pfx}btfin.seg AS seg
      FROM dw JOIN ${pfx}all$maxWordLen f ON f.w = dw.w AND f.pos = dw.L
      JOIN ${pfx}btfin ON ${pfx}btfin.w = dw.w
      ORDER BY dw.w"""

  // ----------------------------------------------- nlp pipeline oracle
  // The Porter/POS/RBEM automata, expressed in DuckDB SQL so the suite's
  // last rows-only row joins the hash gate. Keys to expressibility: the
  // fixture corpus is lowercase [a-y]+ (no digits/punct/uppercase, so the
  // CD/NNP/clitic branches are dead); Porter's y-as-vowel recursion is a
  // sequential fold building the c/v pattern; the tagger's prev-tag
  // dependence folds over the token list with the tag string as the
  // accumulator; and RBEM's four passes commute into closed-form
  // window-count exponents. Validated cell-identical against the Spark
  // output at sf0.001 and sf0.01 (1000 docs, 0 mismatches) and against
  // the published Porter vocabulary.

  private object NlpSql {
    def cv(x: String): String =
      s"list_reduce(list_prepend('', list_transform(range(1, length($x) + 1), " +
        s"i -> substr($x, CAST(i AS INTEGER), 1))), (acc, ch) -> acc || " +
        "CASE WHEN ch IN ('a','e','i','o','u') THEN 'v' " +
        "WHEN ch = 'y' AND acc <> '' AND substr(acc, length(acc), 1) = 'c' THEN 'v' " +
        "ELSE 'c' END)"
    def measure(x: String): String = {
      val c = cv(x)
      s"((length($c) - length(replace($c, 'vc', ''))) // 2)"
    }
    def hasVowel(x: String): String = s"(contains(${cv(x)}, 'v'))"
    def endsDoubleC(x: String): String =
      s"(length($x) >= 2 AND substr($x, length($x), 1) = substr($x, length($x) - 1, 1) " +
        s"AND substr(${cv(x)}, length($x), 1) = 'c')"
    def endsCvc(x: String): String =
      s"(length($x) >= 3 AND substr(${cv(x)}, length($x) - 2, 3) = 'cvc' " +
        s"AND NOT substr($x, length($x), 1) IN ('w','x','y'))"
    def drop(x: String, k: Int): String = s"substr($x, 1, length($x) - $k)"

    val step2: Seq[(String, String)] = Seq(
      "ational" -> "ate", "tional" -> "tion", "enci" -> "ence", "anci" -> "ance",
      "izer" -> "ize", "abli" -> "able", "alli" -> "al", "entli" -> "ent",
      "eli" -> "e", "ousli" -> "ous", "ization" -> "ize", "ation" -> "ate",
      "ator" -> "ate", "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
      "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble",
      "logi" -> "log")
    val step3: Seq[(String, String)] = Seq(
      "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
      "ical" -> "ic", "ful" -> "", "ness" -> "")
    val step4: Seq[String] = Seq("al", "ance", "ence", "er", "ic", "able",
      "ible", "ant", "ement", "ment", "ent", "ion", "ou", "ism", "ate",
      "iti", "ous", "ive", "ize").sortBy(-_.length)

    def sufCase(col: String, rules: Seq[(String, String)]): (String, String) = (
      "CASE " + rules.map { case (s, _) =>
        s"WHEN $col LIKE '%$s' THEN '$s'" }.mkString(" ") + " ELSE NULL END",
      "CASE " + rules.map { case (s, r) =>
        s"WHEN $col LIKE '%$s' THEN '$r'" }.mkString(" ") + " ELSE NULL END")

    def stemmerCtes: String = {
      val (s2suf, s2rep) = sufCase("w1c", step2)
      val (s3suf, s3rep) = sufCase("w2", step3)
      val s4suf = "CASE " + step4.map(s =>
        s"WHEN w3 LIKE '%$s' THEN '$s'").mkString(" ") + " ELSE NULL END"
      s"""
 dw AS (SELECT DISTINCT t AS w FROM tokpos),
 st1a AS (SELECT w,
   CASE WHEN length(w) <= 2 THEN w
        WHEN w LIKE '%sses' THEN ${drop("w", 2)}
        WHEN w LIKE '%ies' THEN ${drop("w", 2)}
        WHEN w LIKE '%ss' THEN w
        WHEN w LIKE '%s' THEN ${drop("w", 1)}
        ELSE w END AS w1a
   FROM dw),
 st1bp AS (SELECT w, w1a,
   CASE WHEN length(w) <= 2 THEN w1a
        WHEN w1a LIKE '%eed' THEN
          CASE WHEN ${measure(drop("w1a", 3))} > 0 THEN ${drop("w1a", 1)} ELSE w1a END
        WHEN w1a LIKE '%ed' AND ${hasVowel(drop("w1a", 2))} THEN ${drop("w1a", 2)}
        WHEN w1a LIKE '%ing' AND ${hasVowel(drop("w1a", 3))} THEN ${drop("w1a", 3)}
        ELSE w1a END AS w1bp,
   (length(w) > 2 AND NOT w1a LIKE '%eed' AND
    ((w1a LIKE '%ed' AND ${hasVowel(drop("w1a", 2))}) OR
     (w1a LIKE '%ing' AND ${hasVowel(drop("w1a", 3))}))) AS cleanup
   FROM st1a),
 st1b AS (SELECT w,
   CASE WHEN NOT cleanup THEN w1bp
        WHEN w1bp LIKE '%at' OR w1bp LIKE '%bl' OR w1bp LIKE '%iz' THEN w1bp || 'e'
        WHEN ${endsDoubleC("w1bp")} AND NOT substr(w1bp, length(w1bp), 1) IN ('l','s','z')
          THEN ${drop("w1bp", 1)}
        WHEN ${measure("w1bp")} = 1 AND ${endsCvc("w1bp")} THEN w1bp || 'e'
        ELSE w1bp END AS w1b
   FROM st1bp),
 st1c AS (SELECT w,
   CASE WHEN length(w) <= 2 THEN w1b
        WHEN w1b LIKE '%y' AND ${hasVowel(drop("w1b", 1))} THEN ${drop("w1b", 1)} || 'i'
        ELSE w1b END AS w1c
   FROM st1b),
 st2m AS (SELECT w, w1c, $s2suf AS suf, $s2rep AS rep FROM st1c),
 st2 AS (SELECT w,
   CASE WHEN length(w) <= 2 OR suf IS NULL THEN w1c
        WHEN ${measure("substr(w1c, 1, length(w1c) - length(suf))")} > 0
          THEN substr(w1c, 1, length(w1c) - length(suf)) || rep
        ELSE w1c END AS w2
   FROM st2m),
 st3m AS (SELECT w, w2, $s3suf AS suf, $s3rep AS rep FROM st2),
 st3 AS (SELECT w,
   CASE WHEN length(w) <= 2 OR suf IS NULL THEN w2
        WHEN ${measure("substr(w2, 1, length(w2) - length(suf))")} > 0
          THEN substr(w2, 1, length(w2) - length(suf)) || rep
        ELSE w2 END AS w3
   FROM st3m),
 st4m AS (SELECT w, w3, $s4suf AS suf FROM st3),
 st4 AS (SELECT w,
   CASE WHEN length(w) <= 2 OR suf IS NULL THEN w3
        WHEN ${measure("substr(w3, 1, length(w3) - length(suf))")} > 1
             AND (suf <> 'ion' OR substr(w3, length(w3) - length(suf), 1) IN ('s','t'))
          THEN substr(w3, 1, length(w3) - length(suf))
        ELSE w3 END AS w4
   FROM st4m),
 st5a AS (SELECT w,
   CASE WHEN length(w) <= 2 THEN w4
        WHEN w4 LIKE '%e' AND (${measure(drop("w4", 1))} > 1 OR
          (${measure(drop("w4", 1))} = 1 AND NOT ${endsCvc(drop("w4", 1))}))
          THEN ${drop("w4", 1)}
        ELSE w4 END AS w5a
   FROM st4),
 stem AS (SELECT w,
   CASE WHEN length(w) <= 2 THEN w5a
        WHEN ${measure("w5a")} > 1 AND w5a LIKE '%ll' THEN ${drop("w5a", 1)}
        ELSE w5a END AS stem
   FROM st5a)"""
    }

    // transcription of Nlp.lexicon; values with '$' stay literal
    val lexicon: Seq[(String, String)] = Seq(
      "the" -> "DT", "a" -> "DT", "an" -> "DT", "this" -> "DT", "that" -> "DT",
      "these" -> "DT", "those" -> "DT", "some" -> "DT", "any" -> "DT",
      "no" -> "DT", "each" -> "DT", "every" -> "DT",
      "i" -> "PRP", "you" -> "PRP", "he" -> "PRP", "she" -> "PRP", "it" -> "PRP",
      "we" -> "PRP", "they" -> "PRP", "me" -> "PRP", "him" -> "PRP",
      "her" -> "PRP$", "us" -> "PRP", "them" -> "PRP",
      "my" -> "PRP$", "your" -> "PRP$", "his" -> "PRP$", "its" -> "PRP$",
      "our" -> "PRP$", "their" -> "PRP$",
      "in" -> "IN", "on" -> "IN", "at" -> "IN", "by" -> "IN", "for" -> "IN",
      "with" -> "IN", "from" -> "IN", "of" -> "IN", "over" -> "IN",
      "under" -> "IN", "into" -> "IN", "through" -> "IN", "about" -> "IN",
      "as" -> "IN", "to" -> "TO",
      "and" -> "CC", "or" -> "CC", "but" -> "CC", "nor" -> "CC",
      "can" -> "MD", "could" -> "MD", "will" -> "MD", "would" -> "MD",
      "shall" -> "MD", "should" -> "MD", "may" -> "MD", "might" -> "MD",
      "must" -> "MD",
      "is" -> "VBZ", "are" -> "VBP", "am" -> "VBP", "was" -> "VBD",
      "were" -> "VBD", "be" -> "VB", "been" -> "VBN", "being" -> "VBG",
      "has" -> "VBZ", "have" -> "VBP", "had" -> "VBD",
      "does" -> "VBZ", "do" -> "VBP", "did" -> "VBD",
      "not" -> "RB", "never" -> "RB", "very" -> "RB", "really" -> "RB",
      "quite" -> "RB", "too" -> "RB", "so" -> "RB", "just" -> "RB",
      "here" -> "RB", "there" -> "RB", "now" -> "RB", "then" -> "RB",
      "what" -> "WP", "who" -> "WP", "whom" -> "WP", "which" -> "WDT",
      "when" -> "WRB", "where" -> "WRB", "why" -> "WRB", "how" -> "WRB",
      "good" -> "JJ", "bad" -> "JJ", "big" -> "JJ", "small" -> "JJ",
      "new" -> "JJ", "old" -> "JJ", "high" -> "JJ", "low" -> "JJ",
      "great" -> "JJ", "quick" -> "JJ", "lazy" -> "JJ", "brown" -> "JJ",
      "happy" -> "JJ", "sad" -> "JJ", "free" -> "JJ", "first" -> "JJ",
      "last" -> "JJ", "other" -> "JJ", "own" -> "JJ", "same" -> "JJ")
    val nounSuf = Seq("ness", "ment", "tion", "sion", "ship", "ance", "ence", "ity", "ism")
    val adjSuf = Seq("ous", "ful", "able", "ible", "ive", "ish", "less", "ic")

    def tagOne(t: String, prev: String): String = {
      val lex = lexicon.map { case (w, v) =>
        s"WHEN $t = '$w' THEN '$v'" }.mkString(" ")
      val nsuf = nounSuf.map(s => s"$t LIKE '%$s'").mkString(" OR ")
      val asuf = adjSuf.map(s => s"$t LIKE '%$s'").mkString(" OR ")
      s"""CASE WHEN $t = '' THEN 'SYM' $lex
      WHEN $t LIKE '%ly' THEN 'RB'
      WHEN $t LIKE '%ing' AND length($t) > 4 THEN 'VBG'
      WHEN $t LIKE '%ed' AND length($t) > 3 THEN 'VBD'
      WHEN $nsuf THEN 'NN'
      WHEN $asuf THEN 'JJ'
      WHEN $t LIKE '%est' AND length($t) > 4 THEN 'JJS'
      WHEN $t LIKE '%er' AND length($t) > 3 THEN 'JJR'
      WHEN $t LIKE '%s' AND NOT $t LIKE '%ss' AND length($t) > 2 THEN
        CASE WHEN $prev IN ('NN','NNS','NNP','PRP') THEN 'VBZ' ELSE 'NNS' END
      WHEN $prev IN ('MD','TO') THEN 'VB'
      ELSE 'NN' END"""
    }

    def tagsFold: String = {
      val prev = "regexp_extract(acc, '[^ ]+$')"
      s"list_reduce(list_prepend('', toks), (acc, t) -> " +
        s"acc || CASE WHEN acc = '' THEN '' ELSE ' ' END || (${tagOne("t", prev)}))"
    }

    val pos = Seq("good", "great", "excellent", "love", "loves", "loved",
      "like", "likes", "happy", "nice", "best", "awesome", "fantastic",
      "wonderful", "amazing", "perfect", "enjoy", "enjoyed")
    val neg = Seq("bad", "terrible", "awful", "hate", "hates", "hated",
      "worst", "sad", "poor", "horrible", "disappointing", "boring",
      "broken", "wrong", "fail", "failed", "useless")
    val amp = Seq("very", "really", "extremely", "so", "totally",
      "absolutely", "incredibly")
    val att = Seq("slightly", "somewhat", "barely", "hardly", "marginally", "mildly")
    val rflip = Seq("not", "never", "no", "cannot", "nobody", "nothing")
    val lflip = Seq("though", "although")
    val stops = Seq("but", "however", "yet")
    val win = 4

    def inList(e: String, xs: Seq[String]): String =
      s"$e IN (${xs.map(x => s"'$x'").mkString(", ")})"

    def polarityWith(posList: Seq[String], negList: Seq[String]): String = {
      val ls = s"coalesce(list_max(list_filter(range(1, len(toks) + 1), " +
        s"p -> ${inList("toks[p]", stops)})), 0)"
      val emit = s"CASE WHEN ${inList("toks[j]", posList)} THEN 1.0 " +
        (if (negList.nonEmpty)
          s"WHEN ${inList("toks[j]", negList)} THEN -1.0 " else "") +
        "ELSE 0.0 END"
      def winCount(xs: Seq[String]) =
        s"len(list_filter(range(greatest(1, j - $win), j), p -> ${inList("toks[p]", xs)}))"
      val lf = s"len(list_filter(range(j + 1, least(len(toks), j + $win) + 1), " +
        s"p -> ${inList("toks[p]", lflip)}))"
      s"coalesce(list_sum(list_transform(range(1, len(toks) + 1), j -> " +
        s"(CASE WHEN j < ($ls) THEN 0.0 ELSE $emit END) " +
        s"* power(2.0, ${winCount(amp)}) * power(0.5, ${winCount(att)}) " +
        s"* power(-1.0, ${winCount(rflip)} + $lf))), 0.0)"
    }

    def polarityExpr: String = polarityWith(pos, neg)

    // transcription of Nlp.emotionLexicons
    val emotions: Seq[(String, Seq[String])] = Seq(
      "happiness" -> Seq("happy", "joy", "delighted", "glad", "cheerful", "love", "enjoy"),
      "sadness" -> Seq("sad", "unhappy", "depressed", "miserable", "cry", "grief"),
      "anger" -> Seq("angry", "furious", "mad", "outraged", "annoyed", "hate"),
      "fear" -> Seq("afraid", "scared", "terrified", "fear", "anxious", "worried"))

    /** rbemEmotion oracle: one emission pass per emotion lexicon with the
      * same modifier machinery (positive = lexicon, negative = empty). */
    def emotionSql: String = {
      val cols = emotions.map { case (emo, lex) =>
        s"${polarityWith(lex, Nil)} AS $emo" }.mkString(",\n   ")
      val planted = "text || CASE WHEN doc_id % 5 = 0 THEN ' very happy but sad' ELSE '' END" +
        " || CASE WHEN doc_id % 7 = 0 THEN ' not angry though afraid hate cry' ELSE '' END"
      s"""WITH tt AS (
   SELECT doc_id, string_split_regex(trim(lower($planted)), '\\s+') AS toks FROM documents)
 SELECT doc_id,
   $cols
 FROM tt ORDER BY doc_id"""
    }

    def sql: String =
      s"""WITH tt AS (
   SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
 tokpos AS (SELECT doc_id, (e).j AS j, (e).t AS t FROM (
   SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
     j -> struct_pack(j := j, t := toks[j]))) AS e FROM tt)),
 $stemmerCtes,
 stemmed AS (SELECT tp.doc_id,
     array_to_string(list(s.stem ORDER BY tp.j), ' ') AS stemmed
   FROM tokpos tp JOIN stem s ON s.w = tp.t GROUP BY tp.doc_id),
 tagged AS (SELECT doc_id, $tagsFold AS pos_tags, $polarityExpr AS polarity
   FROM tt)
 SELECT t.doc_id, s.stemmed, t.pos_tags, t.polarity
 FROM tagged t LEFT JOIN stemmed s ON s.doc_id = t.doc_id
 ORDER BY t.doc_id"""
  }

  /** WordPiece greedy longest-match-first oracle: ##-prefixed candidate
    * pieces, top-k + single-char vocab, per-position longest-edge table,
    * then the greedy walk unrolled as one CTE stage per step (each step
    * consumes ≥ 1 char, so maxWordLen stages always terminate); a position
    * with no matching piece collapses the word to [UNK] (BERT rule). */
  private def wordpieceSql(k: Int, maxPieceLen: Int, maxWordLen: Int): String = {
    val base =
      s"""wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             SELECT unnest(regexp_extract_all(
               lower(text || ' ' || md5(CAST(doc_id AS VARCHAR))), '[a-z]+')) AS w
             FROM documents) GROUP BY 1),
         pieces AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS freq FROM (
             SELECT unnest(flatten(list_transform(range(1, length(w) + 1), j ->
               list_transform(range(1, least($maxPieceLen, length(w) - j + 1) + 1),
                 len -> CASE WHEN j = 1 THEN substr(w, j, len)
                             ELSE '##' || substr(w, j, len) END)))) AS piece, freq
             FROM wf) GROUP BY 1),
         topk AS (SELECT piece FROM (
             SELECT piece, row_number() OVER (ORDER BY freq DESC, piece ASC) AS rn
             FROM pieces) WHERE rn <= $k),
         chars AS (SELECT piece FROM pieces WHERE length(piece) = 1
                   OR (length(piece) = 3 AND piece LIKE '##%')),
         vocab AS (SELECT DISTINCT piece FROM
             (SELECT * FROM topk UNION ALL SELECT * FROM chars)),
         dw AS (SELECT w, CAST(length(w) AS BIGINT) AS L FROM wf
                WHERE length(w) BETWEEN 1 AND $maxWordLen),
         cand AS (SELECT w, L,
             unnest(flatten(list_transform(range(1, CAST(L AS INTEGER) + 1), j ->
               list_transform(range(1, least($maxPieceLen,
                   CAST(L AS INTEGER) - j + 1) + 1),
                 len -> struct_pack(j := j - 1, i := j - 1 + len,
                   piece := CASE WHEN j = 1 THEN substr(w, j, len)
                                 ELSE '##' || substr(w, j, len) END))))) AS e
           FROM dw),
         medges AS MATERIALIZED (SELECT c.w, CAST((c.e).j AS BIGINT) AS j,
             CAST(max((c.e).i) AS BIGINT) AS mi
           FROM cand c JOIN vocab v ON v.piece = (c.e).piece
           GROUP BY 1, 2),
         g0 AS (SELECT w, L, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
             '' AS seg, false AS unk FROM dw)"""
    val stages = (1 to maxWordLen).map { st =>
      s"""
         g$st AS MATERIALIZED (SELECT s.w, s.L,
             CASE WHEN m.mi IS NULL THEN s.L ELSE m.mi END AS pos,
             CASE WHEN m.mi IS NULL THEN CAST(1 AS BIGINT) ELSE s.n + 1 END AS n,
             CASE WHEN m.mi IS NULL THEN '[UNK]'
                  ELSE s.seg || CASE WHEN s.seg = '' THEN '' ELSE ' ' END ||
                    CASE WHEN s.pos = 0 THEN substr(s.w, 1, CAST(m.mi AS INTEGER))
                         ELSE '##' || substr(s.w, CAST(s.pos + 1 AS INTEGER),
                           CAST(m.mi - s.pos AS INTEGER)) END
             END AS seg,
             m.mi IS NULL AS unk
           FROM g${st - 1} s LEFT JOIN medges m ON m.w = s.w AND m.j = s.pos
           WHERE s.pos < s.L)"""
    }.mkString(",")
    val fin = (1 to maxWordLen)
      .map(st => s"SELECT w, pos, L, n, seg, unk FROM g$st")
      .mkString(" UNION ALL ")
    s"""WITH $base,$stages
       SELECT w, n AS n_pieces, seg, unk AS is_unk
       FROM ($fin) WHERE pos = L ORDER BY w"""
  }

  private def unigramSql(k: Int, maxPieceLen: Int, maxWordLen: Int): String =
    "WITH " + unigramBaseCtes(k, maxPieceLen, maxWordLen) + "," +
      unigramDpCtes("", "scored", maxWordLen) +
      unigramFinalSelect("", maxWordLen)

  /** One EM round: piece counts from the round-1 Viterbi segmentations
    * (weighted by word frequency), single characters floored at count 1
    * so coverage never dies, re-scored, re-segmented — the SentencePiece
    * refinement loop made explicit. */
  private def unigramEmSql(k: Int, maxPieceLen: Int, maxWordLen: Int): String =
    "WITH " + unigramBaseCtes(k, maxPieceLen, maxWordLen) + "," +
      unigramDpCtes("", "scored", maxWordLen) +
      s""",
         emc AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
             SELECT unnest(string_split(btfin.seg, ' ')) AS piece, wf.freq
             FROM btfin JOIN wf ON wf.w = btfin.w) t GROUP BY 1),
         chars2 AS (SELECT p.piece,
             CAST(greatest(coalesce(emc.c, 0), 1) AS BIGINT) AS c
           FROM (SELECT DISTINCT piece FROM pieces WHERE length(piece) = 1) p
           LEFT JOIN emc ON emc.piece = p.piece),
         vocab2 AS (SELECT piece, CAST(max(c) AS BIGINT) AS c FROM (
             SELECT * FROM emc UNION ALL SELECT * FROM chars2) GROUP BY 1),
         vt2 AS (SELECT CAST(sum(c) AS BIGINT) AS F FROM vocab2),
         scored2 AS MATERIALIZED (SELECT piece,
             CAST(floor(1e4 * (ln(c) - ln(vt2.F))) AS BIGINT) AS sq
           FROM vocab2, vt2),""" +
      unigramDpCtes("em", "scored2", maxWordLen) +
      unigramFinalSelect("em", maxWordLen)

  /** Doc-level application of the same DP: subword counts per document —
    * shares `unigramSql`'s CTE chain up to the final-position states. */
  private def unigramDocSql(k: Int, maxPieceLen: Int,
                            maxWordLen: Int): String = {
    val full = unigramSql(k, maxPieceLen, maxWordLen)
    val cut = full.lastIndexOf("SELECT dw.w")
    full.substring(0, cut) +
      s""", dwords AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(regexp_extract_all(
               lower(text || ' ' || md5(CAST(doc_id AS VARCHAR))), '[a-z]+')) AS w
             FROM documents) t
           WHERE length(w) <= $maxWordLen GROUP BY 1, 2)
         SELECT d.doc_id, CAST(sum(d.c * f.n) AS BIGINT) AS n_subwords,
           CAST(sum(d.c) AS BIGINT) AS n_words
         FROM dwords d JOIN all$maxWordLen f
           ON f.w = d.w AND f.pos = length(d.w)
         GROUP BY 1 ORDER BY 1"""
  }

  /** Unrolled [[graft.operators.Cleanup.mojibakeTable]] repair chain over a
    * SQL column reference — the oracle side of `mojibakeFix`. */
  private def mojibakeFixSql(ref: String): String =
    graft.operators.Cleanup.mojibakeTable.foldLeft(ref) {
      case (acc, (bad, good)) =>
        s"replace($acc, ${sqlStr(bad)}, ${sqlStr(good)})"
    }

  /** Σ occurrence counts of each mojibake sequence in `ref` — exact
    * integer arithmetic (`//` on exact multiples). */
  private def mojibakeCountSql(ref: String): String =
    graft.operators.Cleanup.mojibakeTable.map { case (bad, _) =>
      s"((length($ref) - length(replace($ref, ${sqlStr(bad)}, ''))) // ${bad.length})"
    }.mkString("(", " + ", ")")

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Shared oracle scaffold for the clustering queries: the same minhash+LSH
    * pair pipeline as `dedup_minhash_lsh` (verified ≥ 0.5 Jaccard), then a
    * recursive min-label fixpoint — `lbl` holds every (node, reachable id)
    * pair, so min(m) per node is the component minimum, which is exactly what
    * the star-contraction returns. */
  /** The minhash→LSH→verify→connected-components CTE chain shared by the
    * dedup oracle rows. `source` is the (doc_id, text) relation to dedup;
    * `prelude` lets a caller prepend its own CTEs (must end with a comma);
    * `select` may itself continue the WITH list (", cte AS (...) SELECT"). */
  private def clusterSql(select: String, source: String = "documents",
                         prelude: String = ""): String = {
    val perm = (0 until 8).map { j =>
      s"list_min(list_transform(gh, x -> (x * ${2L * j + 1} + ${12289L * j + 741}) % 2147483647))"
    }.mkString(", ")
    s"""WITH RECURSIVE $prelude t AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM $source),
        h AS (
          SELECT doc_id, list_transform(toks,
            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647) AS th
          FROM t),
        sh AS (
          SELECT doc_id, CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[]) ELSE
            list_distinct(list_transform(range(1, len(th) - 2 + 1),
              i -> (((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647))
          END AS gh
          FROM h),
        sig AS (SELECT doc_id, gh, [$perm] AS sig FROM sh),
        bands AS (
          SELECT doc_id, gh, unnest(list_transform(range(4), j ->
            j::VARCHAR || ':' || sig[2*j+1]::VARCHAR || ':' || sig[2*j+2]::VARCHAR)) AS band
          FROM sig),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.gh AS gh1, b.gh AS gh2
          FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        verified AS (
          SELECT id1, id2 FROM pairs
          WHERE CAST(len(list_intersect(gh1, gh2)) AS DOUBLE) /
                CAST(len(list_distinct(list_concat(gh1, gh2))) AS DOUBLE) >= 0.5),
        sym AS (SELECT id1 AS u, id2 AS v FROM verified
                UNION SELECT id2, id1 FROM verified),
        lbl(u, m) AS (
          SELECT doc_id, doc_id FROM $source
          UNION
          SELECT s.u, l.m FROM sym s JOIN lbl l ON l.u = s.v)
        $select"""
  }
}
