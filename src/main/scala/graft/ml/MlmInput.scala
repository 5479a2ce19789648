package graft.ml

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The model-input stage every `ml_predict` backend runs before its model —
  * the reference's `MLModel` input handling: dimension checks
  * (data_model.py:222,249), band selection (data_model.py:1189), value
  * scaling (scaling_utils.py:63) and the cube → batches reshape
  * (data_model.py:438,666). [[RfClassModel]] (spark-mllib) and
  * [[ExternalModel]] (onnx / pytorch / graft-mlp) both build their inputs
  * here; each keeps only its own model call, nodata split and error text.
  * Every piece is declarative column math, so Catalyst sees (and codegens)
  * the whole stage.
  */
private[ml] object MlmInput {

  /** `feats` unchanged when it holds `width` elements; any other row fails
    * at execution time with `message` followed by its size. A raise_error
    * guard costs no extra pass and fails on the first bad row. */
  def widthGuard(feats: Column, width: Int, message: String): Column =
    when(size(feats) === width, feats)
      .otherwise(raise_error(concat(lit(message), size(feats).cast("string"))))

  /** The value scaling of the feature array `feats`. A `processing`
    * expression (a whitelisted sql expression over `x`; the reference
    * declares this type but raises NotImplemented, scaling_utils.py:95)
    * runs per element through [[ProcessExpression]]. Otherwise one scaling
    * entry broadcasts to every element, and per-band entries (one per band,
    * all of one kind) become per-position literal arrays: band `b` covers
    * the `cellsPerBand` positions from `b · cellsPerBand`, so they need a
    * `channelFirst` layout. */
  def scale(spark: SparkSession, feats: Column, scaling: Seq[ValueScaling],
            processing: Option[String] = None, bands: Int = 1,
            cellsPerBand: Int = 1, channelFirst: Boolean = true): Column =
    processing match {
      case Some(e) =>
        transform(feats, x => ProcessExpression.column(spark, e, Map("x" -> x)))
      case None => scaling match {
        case Seq() => feats
        case Seq(one) =>
          transform(feats, x => formula(one.kind, x, lit(one.p1), lit(one.p2)))
        case many =>
          require(many.length == bands,
            s"ml_predict: ${many.length} value_scaling entries for $bands bands")
          require(many.map(_.kind).distinct.length == 1,
            "ml_predict: mixed value_scaling kinds are not supported")
          require(channelFirst,
            "ml_predict: per-band tile scaling requires channel-first input")
          val p1s = typedlit(many.flatMap(v => Seq.fill(cellsPerBand)(v.p1)))
          val p2s = typedlit(many.flatMap(v => Seq.fill(cellsPerBand)(v.p2)))
          transform(feats, (x, i) => formula(many.head.kind, x,
            element_at(p1s, i + 1), element_at(p2s, i + 1)))
      }
    }

  /** One element of each scaling kind (reference: scaling_utils.py). */
  private def formula(kind: String, x: Column, p1: Column, p2: Column): Column =
    kind match {
      case "z-score"  => (x - p1) / p2
      case "min-max"  => (x - p1) / (p2 - p1)
      case "scale"    => x / p1
      case "offset"   => x - p1
      case "clip"     => least(greatest(x, p1), p2)
      case "clip-min" => greatest(x, p1)
      case "clip-max" => least(x, p1)
      case other =>
        throw new IllegalArgumentException(s"unknown scaling '$other'")
    }

  /** The band pivot of a datacube into the model's input order: the cube's
    * non-band dims, and per group of them one aggregate feature array whose
    * element `i` is the value under `bands(i)`, matched by name or through
    * its band aliases. A group missing a band fails at execution time (the
    * reference raises on a dimension/band mismatch before predicting).
    *
    * max, not first: a deterministic pivot. first() evaluated in two
    * nodata branches could disagree on a cell holding duplicate (dims,
    * band) rows with mixed NaN/non-NaN values (the cell would land in both
    * or neither branch), and its pick depends on partition order. max
    * ignores nulls the same way, is identical on well-formed cubes (one row
    * per (dims, band)), and on duplicates resolves NaN-dominant (Spark
    * orders NaN greatest): the conservative choice, routing the cell to the
    * nodata path. */
  def bandPivot(cube: graft.cube.DataCube,
                bands: Seq[String]): (Seq[String], Column) = {
    val b = cube.requireDim(cube.bandDim, "bands")
    val value = col(cube.valueCol)
    val feats = array(bands.map { name =>
      val alts = graft.cube.BandAliases.alternatives(name).map(_.toLowerCase)
      max(when(lower(col(b)).isin(alts: _*) || col(b) === name, value))
    }: _*)
    val guarded = when(exists(feats, _.isNull),
        raise_error(lit("ml_predict: cube is missing one of bands " +
          bands.mkString("[", ",", "]"))).cast("array<double>"))
      .otherwise(feats)
    (cube.dims.filterNot(_ == b), guarded)
  }
}
