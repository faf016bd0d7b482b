package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.DataFrame
import scala.collection.concurrent.TrieMap

/**
 * Model lifecycle (ref: modules/ml/app/tuktu/ml/processors/
 * BaseMLProcessor.scala:22-239 — train / apply / serialize / deserialize /
 * destroy processors over a cluster-replicated in-memory model repository):
 * named spark.ml Transformers in a process-local registry. Serialization is
 * MLWritable `save` / `PipelineModel.load`, so a persisted model outlives
 * the session and loads identically on any cluster — the durable path the
 * reference's replicated heap map lacks. Apply is `transform`, which keeps
 * scoring fully distributed and codegen-friendly.
 */
object ModelRegistry {
  private val models = TrieMap.empty[String, Transformer]

  /** TrainProcessor: fit (caller supplies the fit) and register. */
  def train(name: String, fit: => Transformer): Transformer = {
    val m = fit
    models.put(name, m)
    m
  }

  def put(name: String, model: Transformer): Unit = models.put(name, model)
  def get(name: String): Option[Transformer] = models.get(name)
  def names: Seq[String] = models.keys.toSeq.sorted

  /** ApplyProcessor: score with a registered model. */
  def apply(name: String, df: DataFrame): DataFrame =
    models.getOrElse(name,
      throw new IllegalArgumentException(s"no model '$name' in registry")).transform(df)

  /** SerializeProcessor: persist to any Hadoop-visible path. */
  def serialize(name: String, path: String): Unit =
    models.getOrElse(name,
      throw new IllegalArgumentException(s"no model '$name' in registry")) match {
      case w: MLWritable => w.write.overwrite().save(path)
      case h: HmmTransformer => HMM.save(h.model, path)
      case a: AriTransformer => TimeSeries.saveAri(a.model, path)
      case other => throw new IllegalArgumentException(
        s"model '$name' (${other.getClass.getSimpleName}) is not MLWritable")
    }

  /** DeserializeProcessor: load a previously saved model. The saved
    * metadata names the concrete class, so any MLReadable model round-trips
    * — not just PipelineModel (the className is dispatched through the
    * model's own companion `load`). */
  def deserialize(name: String, path: String): Transformer = {
    val spark = org.apache.spark.sql.SparkSession.active
    val meta = graft.sources.Sources.json(spark, s"$path/metadata")
      .select("class").head.getString(0)
    val companion = Class.forName(meta + "$")
    val module = companion.getField("MODULE$").get(null)
    val model = companion.getMethod("load", classOf[String])
      .invoke(module, path).asInstanceOf[Transformer]
    train(name, model)
  }

  /** DestroyProcessor. */
  def destroy(name: String): Unit = models.remove(name)
}

/**
 * Reference Normalization model (modules/ml/app/tuktu/ml/models/
 * preprocessing/Normalization.scala:13): per-FIELD min/max collected at
 * train time; apply rescales each trained field in place to [lo, hi]
 * (constant fields → 0, the reference's `max - min == 0` branch). A
 * Transformer so it lives in the registry like every other model; the
 * stats map is config-sized (one pair per field). Not MLWritable — the
 * reference java-serializes it, and serialize() names that gap clearly. */
class FieldNormalizer(val stats: Map[String, (Double, Double)],
                      val lo: Double, val hi: Double)
    extends Transformer {
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.types.{DoubleType, StructType}
  override val uid: String =
    org.apache.spark.ml.util.Identifiable.randomUID("fieldNormalizer")
  /** Restrict to the apply-config's field subset (NormalizationApply's
    * own `fields`, which may be narrower than the trained set). */
  def restrictTo(fields: Seq[String]): FieldNormalizer =
    new FieldNormalizer(stats.filter { case (k, _) => fields.contains(k) }, lo, hi)
  override def transform(ds: org.apache.spark.sql.Dataset[_]): DataFrame =
    stats.foldLeft(ds.toDF()) { case (d, (f, (mn, mx))) =>
      if (!d.columns.contains(f)) d
      else d.withColumn(f,
        if (mx - mn == 0) lit(0.0)
        else (col(f).cast(DoubleType) - mn) / (mx - mn) * (hi - lo) + lo)
    }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema.map(f =>
      if (stats.contains(f.name)) f.copy(dataType = DoubleType) else f))
  override def copy(extra: org.apache.spark.ml.param.ParamMap): FieldNormalizer = this
}
