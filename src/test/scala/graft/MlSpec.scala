package graft

import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Tables}
import graft.ml.{MlProcesses, MlmSpec, RfClassModel, ValueScaling}

/** Value-level invariants for the ML processes (the driver gate only checks
  * rows): the forest must beat chance by a wide margin on the 10-class
  * embeddings, metadata must round-trip exactly, and predictions must be
  * identical before and after save/load.
  */
class MlSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()

  /** The driver embeddings' labels are only weakly separable (trees can't
    * exploit the diffuse directional signal), so the accuracy gate runs on
    * a separable derivation: shift feature[label] by +2. Metadata
    * invariants still come from the real-table fit below.
    */
  private lazy val separable = emb.select(col("vec_id"), col("label"),
    transform(col("embedding"),
      (x, i) => when(i === col("label"), x + lit(2.0f))
        .otherwise(x)).as("embedding")).cache()

  private lazy val model =
    MlProcesses.mlFit(MlProcesses.mlmClassRandomForest(numTrees = 50), emb)

  private lazy val sepModel =
    MlProcesses.mlFit(MlProcesses.mlmClassRandomForest(numTrees = 50), separable)

  test("fit learns a separable label: holdout accuracy and kappa high") {
    assert(sepModel.spec.accuracy > 0.6,
      s"holdout accuracy ${sepModel.spec.accuracy} too low on separable data")
    assert(sepModel.spec.kappa > 0.5,
      s"kappa ${sepModel.spec.kappa} too low on separable data")
  }

  test("fit on driver embeddings records metadata") {
    assert(model.spec.pretrained)
    assert(model.spec.outputClasses == (0 to 9))
    assert(model.spec.featureWidth == 64)
    assert(!model.spec.accuracy.isNaN && !model.spec.kappa.isNaN)
  }

  test("train-set predictions mostly match labels (forest memorizes)") {
    val pred = MlProcesses.mlPredict(sepModel, separable)
    val acc = pred.filter(col("prediction") === col("label")).count().toDouble /
      pred.count()
    assert(acc > 0.7, s"train accuracy $acc unexpectedly low")
  }

  test("save → load roundtrips metadata and predictions exactly") {
    val dir = Fixtures.dir("mlm_spec")
    MlProcesses.saveMlModel(model, dir)
    val loaded = MlProcesses.loadMlModel(spark, dir)
    assert(loaded.spec == model.spec)
    val a = MlProcesses.mlPredict(model, emb).select("vec_id", "prediction")
    val b = MlProcesses.mlPredict(loaded, emb).select("vec_id", "prediction")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "reloaded model must predict identically")
  }

  test("cube predict equals vector predict (band pivot roundtrip)") {
    import org.apache.spark.sql.functions.posexplode
    val cube = graft.cube.DataCube(emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("_pos", "value")))
      .select(col("vec_id"), concat(lit("f"), col("_pos")).as("band"),
        col("value").cast("double").as("value")))
    val viaCube = model.predictCube(cube).df
      .select(col("vec_id"), col("value").cast("int").as("p"))
    val direct = MlProcesses.mlPredict(model, emb)
      .select(col("vec_id"), col("prediction").as("p"))
    assert(viaCube.exceptAll(direct).isEmpty && direct.exceptAll(viaCube).isEmpty,
      "cube-predict must equal vector-predict")
  }

  test("cube predict: an all-NaN (nodata) cell predicts NaN, others " +
       "unchanged (reference empty-block sentinel)") {
    import org.apache.spark.sql.functions.posexplode
    val base = emb.limit(20)
    val nodataId = base.agg(min("vec_id")).head().getLong(0)
    val cube = graft.cube.DataCube(base.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("_pos", "value")))
      .select(col("vec_id"), concat(lit("f"), col("_pos")).as("band"),
        when(col("vec_id") === nodataId, lit(Double.NaN))
          .otherwise(col("value").cast("double")).as("value")))
    val out = model.predictCube(cube).df
    assert(out.count() == 20)
    val nodata = out.filter(col("vec_id") === nodataId).head()
    assert(java.lang.Double.isNaN(nodata.getAs[Double]("value")),
      "nodata cell must predict NaN")
    val others = out.filter(col("vec_id") =!= nodataId)
      .select(col("vec_id"), col("value").cast("int").as("p"))
    val direct = MlProcesses.mlPredict(model,
      base.filter(col("vec_id") =!= nodataId))
      .select(col("vec_id"), col("prediction").as("p"))
    assert(others.exceptAll(direct).isEmpty && direct.exceptAll(others).isEmpty,
      "non-nodata cells must predict exactly as before")
  }

  test("cube predict: duplicate (dims, band) rows with mixed NaN land in " +
       "EXACTLY one branch, deterministically (NaN-dominant pivot)") {
    import org.apache.spark.sql.functions.posexplode
    val base = emb.limit(12)
    val poisonId = base.agg(min("vec_id")).head().getLong(0)
    val clean = base.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("_pos", "value")))
      .select(col("vec_id"), concat(lit("f"), col("_pos")).as("band"),
        col("value").cast("double").as("value"))
    // poison: a SECOND row per (poisonId, band) carrying NaN — the
    // malformed-cube shape where a first()-based pivot re-evaluated
    // across two branch filters could land the cell in both or neither
    val poison = clean.filter(col("vec_id") === poisonId)
      .withColumn("value", lit(Double.NaN))
    val cube = graft.cube.DataCube(clean.unionByName(poison))
    (1 to 3).foreach { rep =>
      val out = model.predictCube(cube).df
      assert(out.count() == 12, s"rep $rep: one output row per cell")
      assert(out.filter(col("vec_id") === poisonId).count() == 1,
        s"rep $rep: poisoned cell must land exactly once")
      // max() resolves the duplicate NaN-dominant -> the cell routes to
      // the nodata branch and predicts NaN, same answer every run
      assert(java.lang.Double.isNaN(out.filter(col("vec_id") === poisonId)
        .head().getAs[Double]("value")),
        s"rep $rep: NaN-dominant pivot must route the cell to nodata")
    }
  }

  test("cube predict fails fast on a missing band") {
    import org.apache.spark.sql.functions.posexplode
    val partial = graft.cube.DataCube(emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("_pos", "value")))
      .filter(col("_pos") =!= 7)
      .select(col("vec_id"), concat(lit("f"), col("_pos")).as("band"),
        col("value").cast("double").as("value")))
    val ex = intercept[Exception] {
      model.predictCube(partial).df.collect()
    }
    assert(ex.getMessage.contains("missing one of bands") || ex.getCause != null)
  }

  test("predict rejects wrong feature width at execution time") {
    val bad = emb.withColumn("embedding",
      slice(col("embedding"), 1, 10))
    val ex = intercept[Exception] {
      MlProcesses.mlPredict(model, bad).collect()
    }
    assert(ex.getMessage.contains("expected 64 features") ||
      ex.getCause != null)
  }

  test("predict applies the spec's value scaling: z-score, min-max and " +
       "clip equal the unscaled trees on pre-scaled features") {
    import spark.implicits._
    val raw = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    // the documented formulas (scaling_utils.py), applied on the driver
    val cases = Seq[(ValueScaling, Double => Double)](
      ValueScaling("z-score", 0.05, 0.2) -> (x => (x - 0.05) / 0.2),
      ValueScaling("min-max", -0.5, 0.5) -> (x => (x - -0.5) / (0.5 - -0.5)),
      ValueScaling("clip", -0.05, 0.05) -> (x => math.min(math.max(x, -0.05), 0.05)))
    val plain = MlProcesses.mlPredict(model, emb).select("vec_id", "prediction")
    for ((v, f) <- cases) {
      val scaled = new RfClassModel(model.spec.copy(scaling = Some(v)), model.model)
      val viaSpec = MlProcesses.mlPredict(scaled, emb)
        .select("vec_id", "prediction")
      val prescaled = raw.map { case (id, e) => (id, e.map(x => f(x.toDouble))) }
        .toDF("vec_id", "embedding")
      val viaData = MlProcesses.mlPredict(model, prescaled)
        .select("vec_id", "prediction")
      assert(viaSpec.exceptAll(viaData).isEmpty && viaData.exceptAll(viaSpec).isEmpty,
        s"${v.kind}: the spec's scaling must predict as the pre-scaled features")
      assert(!viaSpec.exceptAll(plain).isEmpty,
        s"${v.kind}: the scaling changes no prediction, so it shows nothing")
    }
  }

  test("fit rejects a training set with unequal feature widths") {
    import spark.implicits._
    val ragged = Seq((Array(0.1, 0.2), 0), (Array(0.3), 1))
      .toDF("embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      MlProcesses.mlFit(MlProcesses.mlmClassRandomForest(numTrees = 2), ragged)
    }
    assert(ex.getMessage.contains("ml_fit: training rows need one feature " +
      "width, got 1 to 2"), ex.getMessage)
  }

  test("mlm.json survives a spec round-trip including scaling") {
    val spec = MlmSpec(name = "t", bands = Seq("a", "b"),
      inputShape = Seq(-1, 2), scaling = Some(ValueScaling("z-score", 0.5, 2.0)),
      outputClasses = Seq(0, 1), pretrained = true, accuracy = 0.9, kappa = 0.8)
    val dir = Fixtures.dir("mlm_json")
    spec.save(dir)
    assert(MlmSpec.load(spark, dir) == spec)
  }

  test("mlm.json load runs no job; no scaling and NaN scores round-trip") {
    val spec = MlmSpec(name = "t", inputShape = Seq(-1, 3))
    val dir = Fixtures.dir("mlm_json_nan")
    spec.save(dir)
    val (back, jobs) = jobsRun(MlmSpec.load(spark, dir))
    assert(jobs.isEmpty, s"MlmSpec.load ran jobs: $jobs")
    assert(back.scaling.isEmpty && back.accuracy.isNaN && back.kappa.isNaN)
    assert(back.copy(accuracy = 0.0, kappa = 0.0) ==
      spec.copy(accuracy = 0.0, kappa = 0.0))
  }

  test("load rejects foreign frameworks") {
    val spec = MlmSpec(name = "t", framework = "pytorch")
    val dir = Fixtures.dir("mlm_bad")
    spec.save(dir)
    val ex = intercept[IllegalArgumentException] {
      MlmSpec.load(spark, dir)
    }
    assert(ex.getMessage.contains("unsupported framework"))
  }
}
