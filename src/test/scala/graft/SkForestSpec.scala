package graft

import org.apache.spark.sql.functions._

import graft.core.Fixtures
import graft.ml.SkForest

/** The pickled-sklearn interop loop: tools/convert_sklearn.py must turn
  * the committed sklearn-shaped pickle into EXACTLY the committed
  * graft-sk-forest resource (byte parity — drift in either artifact or
  * the converter fails here), and the Scala scorer must walk the trees
  * with sklearn's documented predict semantics (x<=t left, leaf-prob
  * normalization baked offline, mean over trees, first-index argmax).
  */
class SkForestSpec extends SparkSpec {

  private lazy val forest = SkForest.loadFixture()

  test("converter reproduces the committed resource byte-for-byte") {
    val repo = new java.io.File(".").getCanonicalFile
    val py = new java.io.File(repo, "tools/convert_sklearn.py")
    val pkl = new java.io.File(repo, "tools/fixtures/sklearn_rf.pkl")
    assume(py.isFile && pkl.isFile, "converter fixture not present")
    val out = java.nio.file.Paths.get(Fixtures.dir("sk_conv"), "sk_conv.json")
    // PATH-resolved python3 (pyenv shims etc.); skip if absent or no numpy
    val rc =
      try new ProcessBuilder("python3", py.getPath, pkl.getPath,
        out.toString).inheritIO().start().waitFor()
      catch { case _: java.io.IOException => -1 }
    assume(rc != -1, "no python3 in this environment")
    assert(rc == 0, s"convert_sklearn.py exited $rc")
    val produced = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    val committed = {
      val in = getClass.getResourceAsStream("/graft/sklearn_rf.json")
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(produced == committed,
      "converted JSON differs from committed resource")
  }

  test("fixture parses: 3 trees, 2 integer classes, 3 features") {
    assert(forest.nFeatures == 3)
    assert(forest.classes == IndexedSeq(0.0, 1.0))
    assert(forest.trees.size == 3)
    assert(forest.trees.map(_.nodes.size) == IndexedSeq(5, 5, 3))
    // every leaf distribution sums to ~1 (converter normalized offline)
    for (t <- forest.trees; n <- t.nodes if n.l < 0)
      assert(math.abs(n.probs.sum - 1.0) < 1e-12)
  }

  test("scoring matches hand-traversed sklearn semantics, <= goes left") {
    val df = spark.createDataFrame(Seq(
      (1L, 0.4, 0.2, 0.8),        // t0→leaf2, t1→leaf4, t2→leaf1
      (2L, 0.02, 0.5, 0.03),      // t0→leaf3, t1→leaf1, t2→leaf1
      (3L, 0.0635, 0.5461, 0.056) // every split exactly at threshold → left
    )).toDF("id", "x1", "x2", "x3")
    val xs = Seq(col("x1"), col("x2"), col("x3"))
    val scored = df
      .withColumn("p0", SkForest.probCol(forest, 0, xs))
      .withColumn("p1", SkForest.probCol(forest, 1, xs))
      .withColumn("pred",
        SkForest.predictCol(forest, Seq(col("p0"), col("p1"))))
      .orderBy("id").collect()

    def row(leaf0: Int, leaf1: Int, leaf2: Int, c: Int): Double =
      (forest.trees(0).nodes(leaf0).probs(c) +
        forest.trees(1).nodes(leaf1).probs(c) +
        forest.trees(2).nodes(leaf2).probs(c)) / 3.0

    assert(scored(0).getAs[Double]("p0") == row(2, 4, 1, 0))
    assert(scored(0).getAs[Double]("p1") == row(2, 4, 1, 1))
    assert(scored(0).getAs[Double]("pred") == 1.0)
    assert(scored(1).getAs[Double]("p0") == row(3, 1, 1, 0))
    assert(scored(1).getAs[Double]("pred") == 0.0)
    // boundary: x == threshold takes the LEFT branch in sklearn
    assert(scored(2).getAs[Double]("p0") == row(3, 1, 1, 0))
    assert(scored(2).getAs[Double]("pred") == 0.0)
  }

  test("argmax tie-break: first (lowest-index) class wins, like numpy") {
    val tied = SkForest.Forest(1, IndexedSeq(0.0, 1.0), IndexedSeq(
      SkForest.Tree(IndexedSeq(
        SkForest.Node(-1, -1, -1, Double.NaN, IndexedSeq(0.5, 0.5))))))
    val df = spark.range(1).toDF("id").withColumn("x1", lit(0.3))
    val out = df
      .withColumn("p0", SkForest.probCol(tied, 0, Seq(col("x1"))))
      .withColumn("p1", SkForest.probCol(tied, 1, Seq(col("x1"))))
      .withColumn("pred",
        SkForest.predictCol(tied, Seq(col("p0"), col("p1"))))
      .head()
    assert(out.getAs[Double]("pred") == 0.0)
  }

  test("gate query runs on sf0.001 and predicts both classes") {
    val out = graft.queries.MlQueries.queries("ml_sklearn_predict")(
      spark, sfDir)
    assert(out.columns.toSeq ==
      Seq("doc_id", "x1", "x2", "x3", "y", "p0", "p1", "pred"))
    val preds = out.groupBy("pred").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(preds.keySet.subsetOf(Set(0.0, 1.0)) && preds.size == 2,
      s"expected both classes, got $preds")
    // p0 + p1 == 1 exactly is NOT guaranteed (double sums), but close
    val drift = out.select(max(abs(col("p0") + col("p1") - 1.0))).head()
      .getDouble(0)
    assert(drift < 1e-12)
  }

  test("declared bands bind: a table carrying them scores directly, " +
      "any column names") {
    // the reference's pickle predict accepts ANY feature table — when the
    // input already has the item's declared band columns they are scored
    // as-is (no silent re-derivation), and arbitrary band names work
    val forest = graft.ml.SkForest.loadFixture()
    val docs = graft.core.Tables.documents(spark, sfDir)
    val feats = graft.ml.RidgeProbe.qualityFeatures(docs)
    val derived = graft.ml.SkForest.scoreDocuments(docs, forest,
      Seq("x1", "x2", "x3"))
    // feats already carries x1..x3 -> direct path; rows must be identical
    val direct = graft.ml.SkForest.scoreDocuments(feats, forest,
      Seq("x1", "x2", "x3"))
    assert(direct.exceptAll(derived).isEmpty &&
      derived.exceptAll(direct).isEmpty,
      "direct-band scoring diverges from the derived-feature path")
    // renamed bands: same features under different names, same probs/pred
    val renamed = feats.withColumnRenamed("x1", "a")
      .withColumnRenamed("x2", "b").withColumnRenamed("x3", "c")
    val viaNames = graft.ml.SkForest.scoreDocuments(renamed, forest,
      Seq("a", "b", "c"))
    assert(viaNames.columns.toSeq ==
      Seq("doc_id", "a", "b", "c", "y", "p0", "p1", "pred"))
    val lhs = viaNames.select(col("doc_id"), col("p0"), col("p1"), col("pred"))
    val rhs = derived.select(col("doc_id"), col("p0"), col("p1"), col("pred"))
    assert(lhs.exceptAll(rhs).isEmpty && rhs.exceptAll(lhs).isEmpty,
      "renamed-band scoring diverges")
    // a bare feature table (no doc_id/y) still scores
    val bare = graft.ml.SkForest.scoreDocuments(
      feats.select("x1", "x2", "x3"), forest, Seq("x1", "x2", "x3"))
    assert(bare.columns.toSeq == Seq("x1", "x2", "x3", "p0", "p1", "pred"))
    assert(bare.count() == derived.count())
  }

  test("12-class conversion scores with a linear-size argmax plan") {
    // the reference predicts arbitrary class counts
    // (scikit_learn_model.py:53); the argmax must stay linear in C — the
    // running-best fold this replaced grew O(2^C) (~3^11 nodes at C=12)
    val repo = new java.io.File(".").getCanonicalFile
    val py = new java.io.File(repo, "tools/convert_sklearn.py")
    val pkl = new java.io.File(repo, "tools/fixtures/sklearn_rf12.pkl")
    assume(py.isFile && pkl.isFile, "12-class fixture not present")
    val out = java.nio.file.Paths.get(Fixtures.dir("sk12"), "sk12.json")
    val rc =
      try new ProcessBuilder("python3", py.getPath, pkl.getPath,
        out.toString).inheritIO().start().waitFor()
      catch { case _: java.io.IOException => -1 }
    assume(rc != -1, "no python3 in this environment")
    assert(rc == 0, s"convert_sklearn.py exited $rc")
    val f12 = SkForest.fromJson(
      new String(java.nio.file.Files.readAllBytes(out), "UTF-8"))
    assert(f12.classes.size == 12 && f12.trees.size == 2)

    val df = spark.createDataFrame(Seq(
      (1L, 0.3, 0.3, 0.0), // both stumps left → class 2 with prob 1
      (2L, 0.9, 0.9, 0.0)  // right/right → 7 and 11 tie at 0.5
    )).toDF("id", "x1", "x2", "x3")
    val xs = Seq(col("x1"), col("x2"), col("x3"))
    val scored = f12.classes.indices.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"p$c", SkForest.probCol(f12, c, xs))
    }
    val ps = f12.classes.indices.map(c => col(s"p$c"))
    val predCol = SkForest.predictCol(f12, ps)
    assert(predCol.toString.length < 30000,
      s"argmax expression blew up: ${predCol.toString.length} chars")
    val sql = SkForest.predictSql(f12, f12.classes.indices.map(c => s"p$c"))
    assert(sql.length < 10000, s"argmax SQL blew up: ${sql.length} chars")

    val rows = scored.withColumn("pred", predCol).orderBy("id").collect()
    assert(rows(0).getAs[Double]("p2") == 1.0)
    assert(rows(0).getAs[Double]("pred") == 2.0)
    // numpy tie-break: 0.5 at classes 7 and 11 → FIRST maximal index
    assert(rows(1).getAs[Double]("p7") == 0.5 &&
      rows(1).getAs[Double]("p11") == 0.5)
    assert(rows(1).getAs[Double]("pred") == 7.0)
  }

  test("graph twin: ml_predict via the STAC-MLM sk-forest item lands on " +
       "identical rows (load_stac_ml asset-fetch path)") {
    val direct = graft.queries.MlQueries.queries("ml_sklearn_predict")(
      spark, sfDir)
    val twin = graft.queries.PipelineQueries.queries(
      "process_graph_sklearn")(spark, sfDir)
    assert(twin.exceptAll(direct).isEmpty && direct.exceptAll(twin).isEmpty,
      "graph-declared sklearn predict must land on the direct query's rows")
    // a non-sk-forest item must be rejected by the sk-forest loader
    val e = intercept[IllegalArgumentException] {
      graft.ml.StacMlm.loadSkForest(
        graft.queries.MlQueries.mlpItemPath)
    }
    assert(e.getMessage.contains("graft-sk-forest"))
  }

  test("oracle SQL literals derive from the same fixture doubles") {
    val sql = graft.queries.MlQueries.oracle("ml_sklearn_predict")
    // every leaf probability literal appears verbatim (toString-exact)
    for (t <- forest.trees; n <- t.nodes if n.l < 0; p <- n.probs)
      assert(sql.contains(p.toString), s"missing literal $p")
    assert(sql.contains("/ 3.0"))
  }
}
