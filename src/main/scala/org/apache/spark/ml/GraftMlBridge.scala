package org.apache.spark.ml

import org.apache.spark.ml.tree.Node

/** Minimal bridge into MLlib's `private[ml]` tree surface: a fitted node's
  * per-class impurity statistics (a classification leaf's weighted class
  * counts), which `graft.ml.MllibExport` reads from the in-memory trees.
  * These are the same doubles MLlib's own `model.write` persists as
  * `nodeData.impurityStats`. */
object GraftMlBridge {
  def impurityStats(node: Node): Array[Double] = node.impurityStats.stats
}
