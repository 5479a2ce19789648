package graft

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._

import graft.core.Fixtures
import graft.ml.{MllibExport, ProbeModels, RidgeProbe, SkForest}

/** The MLlib→graft-sk-forest export seam (`ml_rf_score_pinned`):
  *  - the committed artifact must be exactly what the deterministic fit
  *    recipe produces (byte parity — fit drift, export drift, or
  *    committed-file drift all fail here; this also re-proves the fit's
  *    partition invariance, since the suite session runs local[4]/4
  *    shuffle partitions vs the exporter main's local[8]/32);
  *  - SkForest scoring of the export must agree with MLlib
  *    `model.transform` on every corpus row (prediction parity, after
  *    undoing the +1 label shift through the classes vector);
  *  - `save_ml_model` must ship the sidecar, and the sidecar must be the
  *    same bytes as the direct export.
  */
class MllibExportSpec extends SparkSpec {

  private lazy val fitted = MllibExport.fitPinned(spark, sfDir)
  private lazy val exported = {
    val m = fitted.model.get
    MllibExport.toSkForestJson(m, (0 until m.numClasses).map(_ - 1.0))
  }

  test("re-fit + export reproduces the committed resource byte-for-byte") {
    assert(exported == SkForest.mllibFixtureJson(),
      "exported JSON differs from committed /graft/mllib_rf.json — " +
        "regenerate with tools/run_local.sh graft.ml.MllibExport")
  }

  test("committed fixture parses: 8 trees, 3 features, phantom class -1") {
    val f = SkForest.loadMllibFixture()
    assert(f.nFeatures == 3)
    assert(f.classes == IndexedSeq(-1.0, 0.0, 1.0))
    assert(f.trees.size == 8)
    for (t <- f.trees; n <- t.nodes if n.l < 0) {
      assert(math.abs(n.probs.sum - 1.0) < 1e-12)
      assert(n.probs(0) == 0.0, "phantom class 0 must carry no leaf mass")
    }
  }

  test("SkForest scoring of the export matches MLlib transform") {
    val m = fitted.model.get
    val feats = RidgeProbe.qualityFeatures(
      graft.core.Tables.documents(spark, sfDir))
    val mlPred = m.transform(feats.select(col("doc_id"),
        array_to_vector(array(col("x1"), col("x2"), col("x3"))
          .cast("array<double>")).as("features")))
      .select(col("doc_id"), (col("prediction") - 1).as("ml_pred"))
    val skPred = SkForest.scoreDocuments(feats,
        SkForest.fromJson(exported), Seq("x1", "x2", "x3"))
      .select(col("doc_id"), col("pred"))
    val n = feats.count()
    assert(n > 0)
    val agree = mlPred.join(skPred, "doc_id")
      .filter(col("ml_pred") === col("pred")).count()
    assert(agree == n, s"only $agree/$n predictions agree")
  }

  test("save_ml_model ships the sidecar, byte-equal to the direct export") {
    val dir = Fixtures.dir("mllib_save")
    fitted.save(dir)
    assert(ProbeModels.read(spark, s"$dir/skforest.json") == exported)
  }
}
