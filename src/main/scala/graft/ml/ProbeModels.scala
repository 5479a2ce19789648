package graft.ml

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ml.TreeProbe.{Split, Tree}
import graft.ml.BoostProbe.RTree

/** Save/load for the hash-verified trainer family — the A4/A5
  * (`save_ml_model` / `load_ml_model`) surface extended to the models
  * this repo can gate end-to-end. Format: one `probe.json` per model
  * (framework tag + structure), the `graft-mlp`/mlm.json sidecar
  * convention. Doubles serialize via Scala `toString`, which round-trips
  * bit-exactly (the established literal convention), so a loaded model
  * scores IDENTICALLY to the fitted one — `ml_tree_roundtrip` proves it
  * through the gate by sharing ml_tree_fit's hash oracle.
  *
  * Paths go through the Hadoop FileSystem API (graft.sources.Remote
  * convention), so models persist to whatever the lake uses.
  */
object ProbeModels {

  private def q(s: String) = "\"" + s + "\""

  private def splitsJson(splits: Seq[Split]): String =
    splits.map(s => s"""{"node":${s.node},"f":${s.f},"t":${s.t}}""")
      .mkString("[", ",", "]")

  def treeJson(t: Tree): String =
    s"""{"framework":"graft-tree","splits":${splitsJson(t.splits)},
       |"leaf_pred":${t.leafPred.toSeq.sortBy(_._1)
         .map { case (n, p) => s"""{"n":$n,"p":$p}""" }
         .mkString("[", ",", "]")}}""".stripMargin

  def forestJson(trees: Seq[Tree]): String =
    trees.map(treeJson).mkString(
      """{"framework":"graft-forest","trees":[""", ",", "]}")

  def boostJson(f0: Double, nu: Double, trees: Seq[RTree]): String = {
    val ts = trees.map(t =>
      s"""{"splits":${splitsJson(t.splits)},
         |"leaf_val":${t.leafVal.toSeq.sortBy(_._1)
           .map { case (n, v) => s"""{"n":$n,"v":${q(v.toString)}}""" }
           .mkString("[", ",", "]")}}""".stripMargin)
      .mkString("[", ",", "]")
    s"""{"framework":"graft-boost","f0":${q(f0.toString)},"nu":${q(nu.toString)},"trees":$ts}"""
  }

  private type Json = com.fasterxml.jackson.databind.JsonNode

  private def elements(n: Json): Seq[Json] = n.elements().asScala.toSeq

  /** Parse `json`, requiring its framework tag. */
  private def parse(json: String, framework: String): Json = {
    val root = new ObjectMapper().readTree(json)
    require(root.path("framework").asText() == framework,
      s"load: expected $framework, got ${root.path("framework").asText()}")
    root
  }

  /** One tree object: its splits plus the `leaves` list of
    * {"n": node, `key`: value}. */
  private def parseTree[V](t: Json, leaves: String, key: String,
                           value: Json => V): (Seq[Split], Map[Int, V]) =
    (elements(t.path("splits")).map(e =>
        Split(e.path("node").asInt(), e.path("f").asInt(), e.path("t").asInt())),
      elements(t.path(leaves)).map(e => e.path("n").asInt() -> value(e.path(key))).toMap)

  private def voteTree(t: Json): Tree = {
    val (splits, votes) = parseTree(t, "leaf_pred", "p", _.asInt())
    Tree(splits, votes)
  }

  def treeFromJson(json: String): Tree = voteTree(parse(json, "graft-tree"))

  def forestFromJson(json: String): Seq[Tree] =
    elements(parse(json, "graft-forest").path("trees")).map(voteTree)

  def boostFromJson(json: String): (Double, Double, Seq[RTree]) = {
    val root = parse(json, "graft-boost")
    val trees = elements(root.path("trees")).map { t =>
      val (splits, vals) = parseTree(t, "leaf_val", "v", _.asText().toDouble)
      RTree(splits, vals)
    }
    (root.path("f0").asText().toDouble, root.path("nu").asText().toDouble,
      trees)
  }

  /** Write/read one sidecar file through the Hadoop FS (lake-portable). */
  def write(spark: org.apache.spark.sql.SparkSession, path: String,
            json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def read(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }
}
