package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.GraftMlBridge
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, Node}
import org.apache.spark.sql.SparkSession

/** Export an MLlib [[RandomForestClassificationModel]] to the
  * `graft-sk-forest` JSON format (the A29 interop format), closing the
  * reference's save→score seam for MLlib-fitted forests: the reference's
  * terminal predict path is a pickled sklearn forest scored per chunk
  * (data_model/scikit_learn_model.py:53), and the exported JSON scores the
  * SAME way on any engine — [[SkForest]]'s zero-shuffle literal CASE chain
  * on the JVM, its generated SQL mirror in the oracle. This is what makes
  * MLlib SCORING gate-verifiable even though MLlib FITTING is not
  * SQL-replayable (SURVEY §6): fit once, export at save time, pin the
  * artifact, hash-gate every score against it (`ml_rf_score_pinned`).
  *
  * The export walks the fitted in-memory trees (`model.trees`) and numbers
  * each tree's nodes in preorder, exactly as MLlib's own `model.write`
  * numbers its node tables (`NodeData.build`), so node ids map 1:1 onto
  * the JSON's index-addressed node arrays. A leaf's class counts are
  * `private[ml]`; they come through [[org.apache.spark.ml.GraftMlBridge]].
  * Nothing is written or read, and no Spark job runs.
  *
  * Semantics parity with MLlib `transform`:
  *  - split: `features(f) <= threshold` → left child — MLlib's
  *    `ContinuousSplit.shouldGoLeft` and sklearn/SkForest agree exactly;
  *  - leaf probabilities: `stats(c) / stats.sum` — the identical per-tree
  *    normalization `predictRaw` applies at score time, done ONCE here so
  *    the JSON doubles are the scoring literals (the A29 convention);
  *  - prediction: first-maximal argmax in both (MLlib `Vector.argmax`,
  *    SkForest's greatest + first-match CASE).
  * [[MllibExportSpec]] pins prediction parity between `model.transform`
  * and SkForest-on-export over a full corpus.
  *
  * `classes` holds the ORIGINAL class values (sklearn `classes_`): MLlib
  * class index i decodes through it, undoing ml_fit's +1 R-compat label
  * shift (class index 0 is then a phantom no leaf ever carries mass for —
  * it can never win a first-maximal argmax against probabilities that sum
  * to 1 over the real classes).
  */
object MllibExport {

  private def d(x: Double) = x.toString // round-trips bit-exactly

  /** Serialize `model` as graft-sk-forest JSON; `classes(i)` is the
    * original value MLlib class index `i` decodes to. */
  def toSkForestJson(model: RandomForestClassificationModel,
                     classes: Seq[Double]): String = {
    require(classes.size == model.numClasses,
      s"export: ${classes.size} class values for ${model.numClasses} classes")
    val trees = model.trees.map { t =>
      val nodes = ArrayBuffer.empty[String]
      // preorder: a node's id is its position, left subtree before right
      def walk(node: Node): Int = {
        val id = nodes.length
        nodes += null
        nodes(id) = node match {
          case n: InternalNode =>
            val split = n.split match {
              case s: ContinuousSplit => s
              case _ => throw new IllegalArgumentException("export: " +
                "categorical splits are not representable in " +
                "graft-sk-forest (continuous features only)")
            }
            val (l, r) = (walk(n.leftChild), walk(n.rightChild))
            s"""{"l":$l,"r":$r,"f":${split.featureIndex},"t":${d(split.threshold)}}"""
          case leaf =>
            val stats = GraftMlBridge.impurityStats(leaf)
            val tot = stats.sum
            require(tot > 0, "export: leaf with zero impurityStats total")
            require(stats.length == classes.size,
              s"export: leaf stats width ${stats.length} != ${classes.size}")
            s"""{"l":-1,"r":-1,"p":[${stats.map(s => d(s / tot)).mkString(",")}]}"""
        }
        id
      }
      walk(t.rootNode)
      nodes.mkString("""{"nodes":[""", ",", "]}")
    }
    s"""{"framework":"graft-sk-forest","n_features":${model.numFeatures},""" +
      s""""classes":[${classes.map(d).mkString(",")}],""" +
      s""""trees":[${trees.mkString(",")}]}"""
  }

  /** The pinned-forest fixture recipe (regenerates
    * src/main/resources/graft/mllib_rf.json): ml_fit's canonicalized
    * deterministic path ([[RfUntrained.fit]] — partition-invariant, so the
    * artifact is bitwise reproducible on any layout) over the D58 quality
    * features at the given sf dir, then export. Usage:
    * tools/run_local.sh graft.ml.MllibExport [sfDir] [outPath]. */
  def fitPinned(spark: SparkSession, sfDir: String): RfClassModel = {
    import org.apache.spark.sql.functions._
    val feats = RidgeProbe
      .qualityFeatures(graft.core.Tables.documents(spark, sfDir))
      .select(array(col("x1"), col("x2"), col("x3")).as("feats"), col("y"))
    RfClassModel
      .untrained(numTrees = 8, maxVariables = "sqrt", seed = 42L,
        name = "graft-rf-pinned", maxDepth = 4)
      .fit(feats, featuresCol = "feats", labelCol = "y")
  }

  def fitAndExport(spark: SparkSession, sfDir: String): String = {
    val m = fitPinned(spark, sfDir).model.get
    // decode = mlIndex - 1 (the +1 R-compat shift ml_fit applies)
    toSkForestJson(m, (0 until m.numClasses).map(_ - 1.0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1)
      .getOrElse("src/main/resources/graft/mllib_rf.json")
    val spark = graft.Battery.session()
    try {
      val json = fitAndExport(spark, sfDir)
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        json.getBytes("UTF-8"))
      System.err.println(s"[export] wrote $outPath (${json.length} bytes)")
    } finally spark.stop()
  }
}
