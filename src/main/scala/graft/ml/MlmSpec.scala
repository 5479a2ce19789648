package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** STAC-MLM-style model metadata, re-expressed for Spark.
  *
  * Mirrors the reference's `MLModel` data model (data_model/data_model.py:
  * input/output dim order + shape, band list, value-scaling spec) without
  * the xarray machinery: here "input" is a fixed-width feature array column
  * and dims are logical names used for validation, not physical axes.
  *
  * @param name          model name (STAC `mlm:name`)
  * @param framework     producing framework; this library writes
  *                      "spark-mllib" and load validates it
  *                      (reference: load_model.py framework check)
  * @param inputDims     logical input dim names, e.g. ["batch", "band"]
  * @param inputShape    shape per dim, −1 = unbounded (batch)
  * @param bands         feature/band names in model input order
  *                      (reference: data_model.py:1189 band selection)
  * @param scaling       per-model value scaling applied before predict
  *                      (reference: utils/scaling_utils.py:63)
  * @param outputClasses class labels the model emits
  * @param pretrained    false until `ml_fit` has run
  * @param accuracy      holdout accuracy recorded by fit, NaN before
  * @param kappa         Cohen's kappa on the holdout, NaN before
  */
final case class MlmSpec(
    name: String,
    framework: String = "spark-mllib",
    inputDims: Seq[String] = Seq("batch", "band"),
    inputShape: Seq[Int] = Seq(-1, 64),
    bands: Seq[String] = Nil,
    scaling: Option[ValueScaling] = None,
    outputClasses: Seq[Int] = Nil,
    pretrained: Boolean = false,
    accuracy: Double = Double.NaN,
    kappa: Double = Double.NaN) {

  /** Width of the feature dimension (last non-batch entry). */
  def featureWidth: Int = inputShape.last

  def toJson: String = {
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jd(d: Double) = if (d.isNaN) "null" else d.toString
    val scalingJson = scaling match {
      case Some(v) => s"""{"kind": ${js(v.kind)}, "p1": ${jd(v.p1)}, "p2": ${jd(v.p2)}}"""
      case None    => "null"
    }
    s"""{
       |  "mlm:name": ${js(name)},
       |  "mlm:framework": ${js(framework)},
       |  "input_dims": [${inputDims.map(js).mkString(", ")}],
       |  "input_shape": [${inputShape.mkString(", ")}],
       |  "bands": [${bands.map(js).mkString(", ")}],
       |  "scaling": $scalingJson,
       |  "output_classes": [${outputClasses.mkString(", ")}],
       |  "pretrained": $pretrained,
       |  "accuracy": ${jd(accuracy)},
       |  "kappa": ${jd(kappa)}
       |}""".stripMargin
  }

  def save(path: String): Unit = {
    Files.createDirectories(Paths.get(path))
    Files.write(Paths.get(path, "mlm.json"),
      toJson.getBytes(StandardCharsets.UTF_8))
  }
}

/** Value-scaling spec (reference ValueScaling): kind ∈ min-max | z-score |
  * scale | offset | clip | clip-min | clip-max, with up to two parameters
  * (min/max, mean/std, …).
  */
final case class ValueScaling(kind: String, p1: Double, p2: Double)

object MlmSpec {

  private val mapper = new ObjectMapper()

  /** Load and validate an mlm.json sidecar (reference: load_model.py:21 —
    * unknown framework or inconsistent shapes must fail before any data
    * moves). Read through the Hadoop FS and parsed on the driver with
    * Jackson, so a load runs no Spark job.
    */
  def load(spark: SparkSession, path: String): MlmSpec = {
    val root = mapper.readTree(ProbeModels.read(spark, s"$path/mlm.json"))
    def field(name: String): JsonNode = {
      val n = root.get(name)
      require(n != null, s"load_ml_model: mlm.json has no field '$name'")
      n
    }
    def seqOf[A](name: String)(f: JsonNode => A): Seq[A] =
      field(name).elements().asScala.map(f).toSeq
    def optD(n: JsonNode): Double = if (n.isNull) Double.NaN else n.asDouble()
    val scaling = field("scaling") match {
      case n if n.isNull => None
      case n => Some(ValueScaling(n.path("kind").asText(),
        optD(n.path("p1")), optD(n.path("p2"))))
    }
    val spec = MlmSpec(
      name = field("mlm:name").asText(),
      framework = field("mlm:framework").asText(),
      inputDims = seqOf("input_dims")(_.asText()),
      inputShape = seqOf("input_shape")(_.asInt()),
      bands = seqOf("bands")(_.asText()),
      scaling = scaling,
      outputClasses = seqOf("output_classes")(_.asInt()),
      pretrained = field("pretrained").asBoolean(),
      accuracy = optD(field("accuracy")),
      kappa = optD(field("kappa")))
    require(spec.framework == "spark-mllib",
      s"load_ml_model: unsupported framework '${spec.framework}'")
    require(spec.inputDims.length == spec.inputShape.length,
      s"load_ml_model: input dims ${spec.inputDims} vs shape ${spec.inputShape}")
    require(spec.bands.isEmpty || spec.bands.length == spec.featureWidth,
      s"load_ml_model: ${spec.bands.length} bands but feature width ${spec.featureWidth}")
    spec
  }
}
