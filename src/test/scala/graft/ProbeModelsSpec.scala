package graft

import org.apache.spark.sql.functions._

import graft.ml.{BoostProbe, ProbeModels, RidgeProbe, TreeProbe}
import graft.ml.TreeProbe.bin

/** Save/load for the trainer family: every roundtrip must be lossless —
  * splits exact, doubles bit-identical (toString round-trip). */
class ProbeModelsSpec extends SparkSpec {

  private def feats = RidgeProbe.qualityFeatures(
    graft.core.Tables.documents(spark, sfDir))

  test("tree JSON roundtrip is lossless") {
    val t = TreeProbe.fit(feats, Seq("x1", "x2", "x3"), "y", 3, lit(1L), None)
    assert(ProbeModels.treeFromJson(ProbeModels.treeJson(t)) == t)
  }

  test("forest JSON roundtrip is lossless") {
    val trees = (1 to 2).map { b =>
      TreeProbe.fit(feats, Seq("x1", "x2", "x3"), "y", 2,
        TreeProbe.bootstrapWeight(col("doc_id"), b), Some(s"t$b"))
    }
    assert(ProbeModels.forestFromJson(ProbeModels.forestJson(trees)) == trees)
  }

  test("boost JSON roundtrip: doubles bit-identical") {
    val base = (1 to 3).foldLeft(feats)((d, i) =>
      d.withColumn(s"_b$i", bin(col(s"x$i"))))
    val (f0, trees) = BoostProbe.fit(base, 3, "y", 2, 2, 0.5)
    val (f0b, nub, tb) = ProbeModels.boostFromJson(
      ProbeModels.boostJson(f0, 0.5, trees))
    assert(java.lang.Double.doubleToLongBits(f0) ==
      java.lang.Double.doubleToLongBits(f0b))
    assert(nub == 0.5 && tb.map(_.splits) == trees.map(_.splits))
    trees.zip(tb).foreach { case (x, y) =>
      x.leafVal.foreach { case (n, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(y.leafVal(n)))
      }
    }
  }

  test("ml_tree_roundtrip deletes its sidecar directory after the read") {
    val tmp = graft.core.Fixtures.root.toFile
    def dirs = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("tree_model_")).toSet
    val before = dirs
    graft.queries.MlQueries.queries("ml_tree_roundtrip")(spark, sfDir)
    assert((dirs -- before).isEmpty, s"leaked: ${dirs -- before}")
  }

  test("load rejects a wrong framework tag") {
    intercept[IllegalArgumentException](
      ProbeModels.treeFromJson("""{"framework":"graft-boost"}"""))
  }
}
