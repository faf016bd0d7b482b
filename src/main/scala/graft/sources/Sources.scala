package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Source operators (SURVEY.md §2.1) on Spark's readers — schema inference,
 * partitioned listing, and predicate pushdown come from the data source API;
 * the reference's actor/batching machinery has no equivalent here because
 * partitioning IS the batching.
 */
object Sources {

  /** The one inferring file read: `format` (parquet, json, csv) with
    * `options` over `path`. Spark infers a file source's schema with a job
    * of its own on every read (a footer read for parquet, a full scan for
    * JSON, the header line for CSV), so a flow or query rebuilt over the
    * same files would pay that job on every build. Here the schema is
    * inferred once per key and later reads pass it with `.schema`, which
    * launches no job. The key is the format, the options, the path, the
    * path's listing (name, length, mtime of the file, or of each child of a
    * flat directory) and the session's conf, so a rewritten file or a conf
    * that changes inference (`spark.sql.legacy.parquet.nanosAsLong`) is
    * inferred afresh. Globs, nested (partitioned) directories and missing
    * paths keep Spark's own inference and errors. */
  def load(spark: SparkSession, format: String, options: Map[String, String],
           path: String): DataFrame =
    read(spark, format, options, listing(spark, path).map((path, _)))(_.load(path))

  /** Inline JSON rows (the `list` generator), one object per string. Spark
    * infers their schema with a job, so it is inferred once per rows and
    * session conf, through the same cache as [[load]]. */
  def jsonRows(spark: SparkSession, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    read(spark, "json", Map.empty, Some(rows))(_.json(spark.createDataset(rows)))
  }

  /** `from` over a reader of `format` with `options`. With a `version` that
    * identifies the input, the schema is inferred once per (format,
    * options, version, session conf) and later reads pass it with
    * `.schema`; without one, Spark infers it on every read. */
  private def read(spark: SparkSession, format: String, options: Map[String, String],
                   version: Option[Any])(from: DataFrameReader => DataFrame): DataFrame = {
    val reader = spark.read.format(format).options(options)
    version.fold(from(reader)) { v =>
      val key = (format, options, v, spark.conf.getAll)
      schemas.synchronized(Option(schemas.get(key))) match {
        case Some(schema) => from(reader.schema(schema))
        case None =>
          val df = from(reader)
          schemas.synchronized(schemas.put(key, df.schema))
          df
      }
    }
  }

  /** Inferred schemas by read key, least recently used evicted first. */
  private val schemas = new java.util.LinkedHashMap[Any, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Any, StructType]): Boolean =
      size > 256
  }

  /** (name, length, mtime) of `path` if it is a file, or of each child if
    * it is a directory of files; None for a glob, a nested directory or a
    * missing path. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    if (path.exists("*?[{\\".contains(_))) None
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def entry(f: org.apache.hadoop.fs.FileStatus) =
        (f.getPath.getName, f.getLen, f.getModificationTime)
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) Some(Seq(entry(st)))
        else {
          val children = fs.listStatus(p).toSeq
          if (children.exists(_.isDirectory)) None
          else Some(children.map(entry).sortBy(_._1))
        }
      } catch { case _: java.io.FileNotFoundException => None }
    }

  /** CSVGenerator (ref: modules/csv/.../CsvGenerator.scala:111): header,
    * separator, quote, escape, optional line range. */
  def csv(spark: SparkSession, path: String, header: Boolean = true, sep: String = ",",
          quote: String = "\"", escape: String = "\\",
          startLine: Option[Long] = None, endLine: Option[Long] = None): DataFrame = {
    val df = load(spark, "csv", Map("header" -> header.toString, "sep" -> sep,
      "quote" -> quote, "escape" -> escape), path)
    lineRange(df, startLine, endLine)
  }

  /** LineGenerator (ref: app/tuktu/generators/FileGenerators.scala:79):
    * text lines with optional start/end offsets. The dense line number comes
    * from the layout-order index (per-partition numbering + broadcast
    * offsets) — no single-partition window, no RDD round-trip. */
  def lines(spark: SparkSession, path: String,
            startLine: Option[Long] = None, endLine: Option[Long] = None): DataFrame =
    lineRange(spark.read.text(path), startLine, endLine)

  private def lineRange(df: DataFrame, start: Option[Long], end: Option[Long]): DataFrame =
    if (start.isEmpty && end.isEmpty) df
    else {
      val dense = graft.engine.Ops.indexByLayout(df, "__line")
      val lo = start.getOrElse(0L)
      val hi = end.getOrElse(Long.MaxValue)
      dense.filter(col("__line") >= lo && col("__line") <= hi).drop("__line")
    }

  /** CSVReaderProcessor (ref: modules/csv/.../CsvProcessors.scala:58):
    * parse ONE CSV record held in a string field into top-level columns
    * (opencsv semantics: configurable separator/quote/escape, reference
    * defaults ';' '"' '\'). Headers: given explicitly, taken from the first
    * row (one `head()` — schema inference, like every reader), or "0".."n".
    * `headersFromFirst` also drops that header row, like the reference's
    * Enumeratee.drop(1). Parsing is `from_csv` — codegen'd, no UDF. */
  def csvField(df: DataFrame, field: String, headers: Option[Seq[String]] = None,
               headersFromFirst: Boolean = false, sep: String = ";",
               quote: String = "\"", escape: String = "\\",
               removeOriginal: Boolean = false): DataFrame = {
    val opts = Map("sep" -> sep, "quote" -> quote, "escape" -> escape)
    // schema probe (one head(), like any reader's inference): parse the
    // layout-first record wide, count cells by last non-null — trailing
    // EMPTY fields don't widen the schema, matching the reference's
    // headers-from-one-line behavior
    def parseOne(line: String, width: Int): Seq[String] = {
      val one = df.sparkSession.createDataset(Seq(line))(
        org.apache.spark.sql.Encoders.STRING).toDF("v")
      val schema = StructType((0 until width).map(i =>
        StructField(i.toString, StringType)))
      val r = one.select(from_csv(col("v"), schema, opts).as("p")).head.getStruct(0)
      (0 until width).map(i => if (r.isNullAt(i)) null else r.getString(i))
    }
    val (hdrs, dropFirst) = headers match {
      case Some(hs) => (hs, false)
      case None =>
        val probe = df.select(col(field).cast(StringType)).head.getString(0)
        // widen the probe until the record fits (last cell null) — a record
        // denser than the current guess would otherwise silently truncate
        // the inferred header set
        var guess = 256
        var cells = parseOne(probe, guess)
        while (cells.last != null && guess < (1 << 20)) {
          guess *= 4
          cells = parseOne(probe, guess)
        }
        require(cells.last == null, s"csvField: probe record has $guess+ columns")
        val width = cells.lastIndexWhere(_ != null) max 0
        if (headersFromFirst) (cells.take(width + 1), true)
        else ((0 to width).map(_.toString), false)
    }
    // headers_from_first consumes the first record (ref Enumeratee.drop(1));
    // "first" in the batch model is layout order, same index the line-range
    // readers use
    val ln = uniqName("__csvln")
    val base =
      if (dropFirst)
        graft.engine.Ops.indexByLayout(df, ln).filter(col(ln) > 0).drop(ln)
      else df
    val parsed = uniqName("__csv")
    val schema = StructType(hdrs.map(h => StructField(h, StringType)))
    val widened = hdrs.foldLeft(
      base.withColumn(parsed, from_csv(col(field).cast(StringType), schema, opts))) {
        (d, h) => d.withColumn(h, col(parsed).getField(h))
      }.drop(parsed)
    if (removeOriginal) widened.drop(field) else widened
  }

  private def uniqName(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID.toString.take(8)

  /** ReadGoogleWord2VecProcessor, text form (ref modules/nlp/.../models/
    * Word2Vec.scala:172): "word v1 v2 …" lines (gzip handled by the codec
    * layer) as a (word, vector) DataFrame — the pretrained-embedding source
    * for the similarity/dedup operators. Like the reference, every line is
    * a record (no header-line skip). Fully distributed text scan. */
  def word2vecText(spark: SparkSession, path: String): DataFrame = {
    val t = split(col("value"), " ")
    spark.read.text(path)
      .select(element_at(t, 1).as("word"),
        transform(slice(t, lit(2), greatest(size(t) - 1, lit(0))),
          _.cast(FloatType)).as("vector"))
  }

  /** ReadGoogleWord2VecProcessor, C binary form (ref Word2Vec.scala:206;
    * format: ASCII "words dim" header, then per word a whitespace-terminated
    * name + dim little-endian float32s, optionally gzipped). Record
    * boundaries are only discoverable sequentially, so each FILE parses in
    * ONE task through the Hadoop FS API (hdfs://s3a:// work) — the same
    * shape as the spreadsheet readers; shard large models across files for
    * parallelism. */
  def word2vecBinary(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(glob)
    val paths = p.getFileSystem(conf).globStatus(p)
      .filter(_.isFile).map(_.getPath.toString).toSeq
    require(paths.nonEmpty, s"word2vecBinary: no files match $glob")
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    spark.sparkContext.parallelize(paths, paths.length).flatMap { f =>
      val hp = new org.apache.hadoop.fs.Path(f)
      val raw = hp.getFileSystem(serConf.value).open(hp)
      val in: java.io.InputStream =
        if (f.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
        else new java.io.BufferedInputStream(raw)
      // a downstream limit()/take() or a truncated-record failure abandons
      // the iterator before hasNext drains it — close with the task, not
      // just on exhaustion
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      def readToken(): String = {
        val sb = new StringBuilder
        var b = in.read()
        while (b == '\n' || b == ' ') b = in.read() // skip separators
        while (b != -1 && b != ' ' && b != '\n') { sb.append(b.toChar); b = in.read() }
        sb.toString
      }
      def readFloats(n: Int): Array[Float] = {
        val bytes = new Array[Byte](4 * n)
        var off = 0
        while (off < bytes.length) {
          val r = in.read(bytes, off, bytes.length - off)
          require(r > 0, "word2vecBinary: truncated vector record")
          off += r
        }
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Array.fill(n)(bb.getFloat())
      }
      val words = readToken().toInt
      val dim = readToken().toInt
      new Iterator[(String, Array[Float])] {
        private var i = 0
        override def hasNext: Boolean = {
          val more = i < words
          if (!more) in.close()
          more
        }
        override def next(): (String, Array[Float]) = {
          i += 1
          (readToken(), readFloats(dim))
        }
      }
    }.toDF("word", "vector")
  }

  /** JSON file source (JSONParse-at-source). */
  def json(spark: SparkSession, path: String): DataFrame = load(spark, "json", Map.empty, path)

  /** FilesGenerator (ref: FileGenerators.scala:145): recursive file listing
    * with glob, as a DataFrame of paths + metadata. */
  def files(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*")
      .load(glob)
      .select(col("path"), col("length"), col("modificationTime"))

  /** BinaryFileGenerator (ref: FileGenerators.scala:241). */
  def binaryFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)

  /** TimeGenerator (ref: app/tuktu/generators/TimeGenerator.scala:105):
    * timestamps from start to end stepping by an interval. */
  def timeRange(spark: SparkSession, start: String, end: String, step: String): DataFrame =
    spark.range(1).select(explode(sequence(
      to_timestamp(lit(start)), to_timestamp(lit(end)),
      expr(s"INTERVAL $step"))).as("ts"))

  /** ListGenerator (ref: DummyGenerator.scala:120): inline values. */
  def list(spark: SparkSession, values: Seq[Any]): DataFrame = {
    import spark.implicits._
    values.headOption match {
      case Some(_: Int) | Some(_: Long) => values.map(_.toString.toLong).toDF("value")
      case Some(_: Double)              => values.map(_.toString.toDouble).toDF("value")
      case _                            => values.map(String.valueOf).toDF("value")
    }
  }

  /** SQLGenerator (ref: modules/nosql/.../sql.scala:11): JDBC read — the
    * connector does partitioned parallel reads when bounds are given. */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: Option[String] = None, lowerBound: Long = 0,
           upperBound: Long = 0, numPartitions: Int = 1): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    partitionColumn.fold(r) { pc =>
      r.option("partitionColumn", pc).option("lowerBound", lowerBound)
        .option("upperBound", upperBound).option("numPartitions", numPartitions)
    }.load()
  }

  /** GeneratorWrapperProcessor's dominant shape (ref:
    * app/tuktu/processors/meta/GeneratorWrapperProcessor.scala:69): run a
    * generator per datum with the datum interpolated into its config —
    * concretely, each row names a file and a line generator runs over it,
    * attaching one output row per line alongside the original columns.
    * Executor-side streaming reads in a flatMap (the same per-row imperative
    * territory as the multimodal decode stage); rows whose file is missing
    * produce nothing, mirroring the reference's skip-on-error. */
  def linesPerRow(df: DataFrame, pathCol: String, out: String): DataFrame = {
    val spark = df.sparkSession
    val base = if (df.columns.contains(out)) df.drop(out) else df // replace, like withColumn
    val schema = StructType(base.schema.fields :+ StructField(out, StringType, nullable = true))
    // Serialize the Hadoop conf once; executors resolve each path through the
    // Hadoop FS API so hdfs:// and s3a:// URIs work, not just local paths.
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rdd = base.rdd.flatMap { row =>
      val p = row.getAs[String](pathCol)
      val reader =
        if (p == null) null
        else try {
          val path = new org.apache.hadoop.fs.Path(p)
          new java.io.BufferedReader(new java.io.InputStreamReader(
            path.getFileSystem(serConf.value).open(path), "UTF-8"))
        } catch { case _: java.io.IOException => null }
      if (reader == null) Iterator.empty
      else {
        // Guaranteed close even when the iterator is abandoned early
        // (limit/take) or the file is empty: task-completion listener owns
        // the handle; eager closes below just release it sooner.
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        new Iterator[org.apache.spark.sql.Row] {
          // stream line-by-line: memory stays bounded per line, not per file
          private var line = { val l = reader.readLine(); if (l == null) closeOnce(); l }
          override def hasNext: Boolean = line != null
          override def next(): org.apache.spark.sql.Row = {
            val l = line
            line = reader.readLine()
            if (line == null) closeOnce()
            org.apache.spark.sql.Row.fromSeq(row.toSeq :+ l)
          }
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** FileToStringProcessor (ref: app/tuktu/processors/file/FileToString.scala):
    * read the ENTIRE file named by `pathCol` into one string value per row —
    * the whole-file sibling of [[linesPerRow]], same Hadoop FS resolution so
    * remote URIs work. Missing/unreadable files yield null (skip-on-error
    * stays distinguishable from an empty file, which yields ""). */
  def fileToString(df: DataFrame, pathCol: String, out: String): DataFrame = {
    val spark = df.sparkSession
    val base = if (df.columns.contains(out)) df.drop(out) else df
    val schema = StructType(base.schema.fields :+ StructField(out, StringType, nullable = true))
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rdd = base.rdd.map { row =>
      val p = row.getAs[String](pathCol)
      val content =
        if (p == null) null
        else try {
          val path = new org.apache.hadoop.fs.Path(p)
          val in = path.getFileSystem(serConf.value).open(path)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: java.io.IOException => null }
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ content)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** FileToJsonProcessor (ref: app/tuktu/processors/file/FileToJson.scala:16):
    * whole file parsed as JSON. The reference keeps an untyped JsValue; the
    * Spark-4 analog is the VARIANT type — `parse_json` preserves arbitrary
    * nesting without a declared schema and stays fully codegen'd. */
  def fileToJson(df: DataFrame, pathCol: String, out: String): DataFrame =
    fileToString(df, pathCol, out)
      .withColumn(out, try_parse_json(col(out)))

  /** XmlGenerator / XmlToMapProcessor (ref: FileGenerators.scala:215,
    * BaseProcessors.scala:1247): parse an XML string column into a
    * map<tag,text> of child elements + attributes (via scala-xml, as a UDF —
    * XML parsing has no Catalyst expression). Parsing goes through
    * [[SecureXml]]: DOCTYPE/external entities are rejected (XXE hardening
    * for untrusted corpus rows). */
  val xmlToMap: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) null
      else {
        val node = SecureXml.loadString(s)
        val attrs = node.attributes.asAttrMap.map { case (k, v) => s"@$k" -> v }
        val children = node.child.collect {
          case e: scala.xml.Elem => e.label -> e.text
        }.toMap
        attrs ++ children
      }
    }
}
