package graft.ml

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Exact

/** Random-forest classification, reference-equivalent surface on MLlib.
  *
  * Mirrors the reference's `RfClassModel` behavior
  * (ml_models/scikit_learn_model.py): label encoding with a +1 shift
  * (R-club compatibility the reference preserves), 85/15 train/holdout
  * split, holdout accuracy + Cohen's kappa recorded into the model
  * metadata, per-chunk prediction. Spark-first: training is MLlib's
  * distributed forest (partition-parallel), prediction is a map-only
  * `transform` — no driver-side data movement at any size.
  *
  * `maxVariables` maps to MLlib `featureSubsetStrategy`
  * (reference: init_models.py `mlm_class_random_forest`):
  * "sqrt" | "log2" | "all" | "onethird" | an integer count.
  */
final class RfClassModel(
    val spec: MlmSpec,
    val model: Option[RandomForestClassificationModel]) {

  def pretrained: Boolean = model.isDefined

  /** ml_predict: the [[MlmInput]] width guard and value scaling →
    * assemble the MLlib vector → transform. The width check is an
    * execution-time raise_error guard, so it costs no extra pass and fails
    * on the first bad row (reference: data_model.py:222 dim checks).
    */
  def predict(df: DataFrame, featuresCol: String = "embedding"): DataFrame = {
    val m = model.getOrElse(
      throw new IllegalStateException("ml_predict: model is not trained"))
    val n = spec.featureWidth
    val scaled = MlmInput.scale(df.sparkSession,
      MlmInput.widthGuard(col(featuresCol), n,
        s"ml_predict: expected $n features, got "),
      spec.scaling.toList)
    // Reserved-name hygiene: assemble into uniquely-named temp columns (a
    // caller's own `features`/`rawPrediction`/`probability` must survive);
    // `prediction` IS the public output, so an existing one fails fast
    // rather than being silently clobbered.
    require(!df.columns.contains("prediction"),
      "ml_predict: input already has a 'prediction' column")
    val m2 = m.copy(org.apache.spark.ml.param.ParamMap.empty)
      .setFeaturesCol("_graft_features")
      .setRawPredictionCol("_graft_raw")
      .setProbabilityCol("_graft_prob")
    val withFeatures = df.withColumn("_graft_features",
      array_to_vector(scaled.cast("array<double>")))
    // decode the +1 label shift applied at fit time
    m2.transform(withFeatures)
      .withColumn("prediction", col("prediction").cast("int") - 1)
      .drop("_graft_features", "_graft_raw", "_graft_prob")
  }

  /** ml_predict on a datacube (reference: data_model.py:438,666 — cube →
    * batches → cube reshaping): the [[MlmInput]] band pivot into the
    * model's feature order (spec.bands, resolved through the cube's
    * labels), the vector predict, and a cube keyed by the remaining
    * dimensions. The pivot is one conditional aggregation — a single
    * shuffle on the non-band dims; prediction itself stays map-only.
    */
  def predictCube(cube: graft.cube.DataCube): graft.cube.DataCube = {
    val (keep, feats) = MlmInput.bandPivot(cube, spec.bands)
    val assembled = cube.df.groupBy(keep.map(col): _*)
      .agg(feats.as("_features"))
    // nodata shortcut (reference data_model.py:899 save_blocks): a cell
    // whose features are ALL NaN never reaches the model and predicts NaN
    // — the empty-block sentinel of the dask path, per-row here.
    val allNan = forall(col("_features"), x => isnan(x))
    val predicted = predict(assembled.filter(!allNan), "_features")
      .drop("_features")
      .withColumnRenamed("prediction", cube.valueCol)
      .select((keep.map(col) :+ col(cube.valueCol).cast("double")
        .as(cube.valueCol)): _*)
    // the NaN comes from the features COLUMN (all-NaN by the filter), not
    // a literal: a lit(NaN) branch would constant-fold into any downstream
    // int cast and ANSI-fail even on cubes with zero nodata cells
    val empties = assembled.filter(allNan)
      .select((keep.map(col) :+
        element_at(col("_features"), 1).as(cube.valueCol)): _*)
    graft.cube.DataCube(predicted.unionByName(empties), cube.valueCol)
  }

  def save(path: String): Unit = {
    val m = model.getOrElse(
      throw new IllegalStateException("save_ml_model: model is not trained"))
    m.write.overwrite().save(s"$path/model")
    spec.save(path)
    // MLlib FITTING is not oracle-replayable (SURVEY §6), but SCORING is:
    // every save also exports the fitted trees as a graft-sk-forest
    // sidecar (the A29 interop format — engine-portable literal CASE
    // chains), which is how the pinned-forest gate fixture
    // (ml_rf_score_pinned) is produced. classes(i) = i - 1 undoes
    // ml_fit's +1 R-compat label shift.
    ProbeModels.write(org.apache.spark.sql.SparkSession.active,
      s"$path/skforest.json",
      MllibExport.toSkForestJson(m, (0 until m.numClasses).map(_ - 1.0)))
  }
}

object RfClassModel {

  /** mlm_class_random_forest: configure an untrained model
    * (reference: init_models.py:17). */
  def untrained(numTrees: Int = 100, maxVariables: String = "sqrt",
                seed: Long = 42L, name: String = "rf-class",
                maxDepth: Int = 10): RfUntrained =
    RfUntrained(numTrees, maxVariables, seed, name, maxDepth)

  /** load_ml_model: metadata validation happens in MlmSpec.load before the
    * (potentially large) model files are touched. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): RfClassModel = {
    val spec = MlmSpec.load(spark, path)
    require(spec.pretrained, s"load_ml_model: $path metadata says not pretrained")
    new RfClassModel(spec, Some(RandomForestClassificationModel.load(s"$path/model")))
  }
}

/** Builder for a not-yet-fit random forest (the reference separates
  * `mlm_class_random_forest` from `ml_fit`). */
/** sklearn's RandomForestClassifier grows unbounded trees by default; MLlib
  * defaults to depth 5, which badly underfits wide features — default 10
  * here to sit closer to the reference's behavior. */
final case class RfUntrained(numTrees: Int, maxVariables: String, seed: Long,
                             name: String, maxDepth: Int = 10) {

  private def subsetStrategy: String = maxVariables match {
    case "sqrt" | "log2" | "all" | "onethird" => maxVariables
    case n if n.forall(_.isDigit)             => n
    case other =>
      throw new IllegalArgumentException(s"max_variables: $other")
  }

  /** ml_fit (reference: ml_fit.py + scikit_learn_model.py:160): +1 label
    * shift, seeded 85/15 split, fit, holdout accuracy and Cohen's kappa
    * recorded in the returned metadata.
    */
  def fit(df: DataFrame, featuresCol: String = "embedding",
          labelCol: String = "label"): RfClassModel = {
    // Partition-layout canonicalization BEFORE any seeded randomness:
    // randomSplit's per-partition Bernoulli and MLlib's per-partition
    // bagging/binning RNG make the fitted forest a function of the input
    // PARTITIONING, and scan partitioning follows cluster size
    // (bytesPerCore = totalBytes / defaultParallelism) — so the same fit
    // on a resized cluster trains a different model. Hash-repartition on
    // the feature vector to a FIXED count and sort within partitions:
    // assignment and order become pure functions of the data, and the fit
    // is bitwise reproducible across cluster resizes (the battery's
    // partition-invariance contract). One bounded extra shuffle of the
    // training set — training inputs are sampled subsets, not the lake.
    val canon = df.select(
        col(featuresCol).cast("array<double>").as("_f"),
        (col(labelCol) + 1).cast("double").as("label"))
      .repartition(32, col("_f"))
      .sortWithinPartitions(col("_f"), col("label"))
    // cache: tree training makes one pass per depth level, and the
    // class-list / feature-width aggregate and the holdout metrics add two
    // more — without this every pass re-reads the source and re-builds
    // the vectors
    val prepared = canon.select(
      array_to_vector(col("_f")).as("features"),
      col("label"),
      size(col("_f")).as("_w")).cache()
    // sorted class list and width range in one job, before the fit: a
    // ragged training set fails here instead of taking one row's width
    val meta = prepared.agg(
      sort_array(collect_set((col("label") - 1).cast("int"))),
      min(col("_w")), max(col("_w"))).collect()(0) // SCALE:rf-fit-meta
    if (meta.isNullAt(1) || meta.getInt(1) != meta.getInt(2)) {
      prepared.unpersist()
      throw new IllegalArgumentException("ml_fit: training rows need one " +
        s"feature width, got ${meta.get(1)} to ${meta.get(2)}")
    }
    val classes = meta.getSeq[Int](0)
    val width = meta.getInt(1)
    val Array(train, test) = prepared.randomSplit(Array(0.85, 0.15), seed)
    val rf = new RandomForestClassifier()
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setFeatureSubsetStrategy(subsetStrategy)
      .setSeed(seed)
    val m = rf.fit(train)
    val (acc, kappa) = holdoutMetrics(m.transform(test))
    prepared.unpersist()
    val spec = MlmSpec(
      name = name,
      inputShape = Seq(-1, width),
      bands = (0 until width).map(i => s"f$i"),
      outputClasses = classes,
      pretrained = true,
      accuracy = acc,
      kappa = kappa)
    new RfClassModel(spec, Some(m))
  }

  /** Accuracy + Cohen's kappa from one aggregation pass over the holdout
    * (the reference prints the same report after fit). */
  private def holdoutMetrics(pred: DataFrame): (Double, Double) = {
    val cells = pred.groupBy("label", "prediction").count().collect() // SCALE:rf-holdout-cells
    val n = cells.map(_.getAs[Long]("count")).sum.toDouble
    if (n == 0) return (Double.NaN, Double.NaN)
    val po = cells.filter(r => r.getAs[Double]("label") == r.getAs[Double]("prediction"))
      .map(_.getAs[Long]("count")).sum / n
    val byLabel = cells.groupBy(_.getAs[Double]("label"))
      .view.mapValues(_.map(_.getAs[Long]("count")).sum / n).toMap
    val byPred = cells.groupBy(_.getAs[Double]("prediction"))
      .view.mapValues(_.map(_.getAs[Long]("count")).sum / n).toMap
    val pe = byLabel.keySet.intersect(byPred.keySet)
      .map(k => byLabel(k) * byPred(k)).sum
    (po, if (pe == 1.0) 1.0 else (po - pe) / (1 - pe))
  }
}
