package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic histogram CART — a decision-tree (and bagged-forest)
  * trainer the driver gate can hash-verify end-to-end.
  *
  * The reference's flagship ML process is `fit_class_random_forest`
  * (openeo_processes_dask/process_implementations/ml/random_forest.py:60),
  * which the repo mirrors through Spark MLlib (RfClassModel) — but MLlib's
  * impurity ordering and feature subsampling are library-internal, so those
  * queries ride `no_oracle` (SURVEY §6). This trainer is the gate-verifiable
  * twin for the tree family, the same move [[RidgeProbe]] made for linear
  * fits and `Ann.seededCentroids` made for k-means: pin every data-dependent
  * choice to arithmetic both engines reproduce bit-for-bit, then have the
  * oracle generator REPLAY the whole training as unrolled SQL.
  *
  * Determinism pins:
  *  - features are binned on a fixed equi-width grid over [0,1] (features
  *    arrive rnd4'd), so split candidates are the `Bins-1` bin boundaries;
  *  - per-node split choice minimizes the weighted-Gini cost computed from
  *    INTEGER histogram counts with one IEEE division per side — the exact
  *    double DAG is mirrored in the SQL (`side = n − (p² + (n−p)²)/n`);
  *    ties break on (cost, feature, threshold), identical in both engines;
  *  - bootstrap weights (forest) are md5-derived integers per (row, tree):
  *    a 2-hex-digit fold mapped through fixed Poisson(1)-shaped cut points;
  *  - per-node feature subsets (forest) rank features by the md5 hex of
  *    "n<node>:f<f>:<salt>" — string order, both engines.
  *
  * Training and scoring run on the shared histogram-tree core
  * ([[HistTree]]): this object supplies the Gini family ([[Gini]]) —
  * weighted 0/1 label counts per bin, the Gini split cost, majority-vote
  * leaves — plus the bootstrap weights and feature subsets.
  */
object TreeProbe {

  /** Equi-width histogram bins over the [0,1] feature domain. */
  val Bins = 8

  /** A chosen split: rows with bin(feature) <= t go left (node·2),
    * the rest right (node·2+1). */
  final case class Split(node: Int, f: Int, t: Int)

  /** A fitted tree: the split list plus per-leaf majority votes. */
  final case class Tree(splits: Seq[Split], leafPred: Map[Int, Int])

  /** bin(x) = min(floor(x·Bins), Bins−1); x=1.0 lands in the top bin.
    * DuckDB mirror: least(CAST(floor(x * 8) AS INTEGER), 7). */
  def bin(x: Column): Column =
    least(floor(x * Bins).cast("int"), lit(Bins - 1))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Features allowed at `node`: the `m` smallest of 1..k by
    * md5("n<node>:f<f>:<salt>") hex string (tie on f), returned sorted.
    * SQL mirror: row_number() OVER (PARTITION BY node ORDER BY md5(...), f). */
  def allowedFeatures(node: Int, k: Int, m: Int, salt: String): Seq[Int] =
    (1 to k).sortBy(f => (md5hex(s"n$node:f$f:$salt"), f)).take(m).sorted

  /** The Gini family: cells count weighted rows `n` and weighted
    * positives `p` (longs); a split costs Σ_side n − (p² + (n−p)²)/n, the
    * exact double DAG the SQL mirrors (integer counts convert exactly, one
    * division per side, left + right); a leaf votes 1 iff 2p > n (an
    * empty-weight leaf votes 0, both engines). */
  object Gini extends HistTree.Family[Long, Int] {
    def zero = 0L
    def plus(a: Long, b: Long) = a + b
    def minus(a: Long, b: Long) = a - b
    def cost(nl: Long, pl: Long, nr: Long, pr: Long): Double = {
      def side(n: Long, p: Long): Double =
        n.toDouble - (p * p + (n - p) * (n - p)).toDouble / n.toDouble
      side(nl, pl) + side(nr, pr)
    }
    def leaf(n: Long, p: Long) = if (2 * p > n) 1 else 0
    val histSql = "sum(w) AS n, sum(w * yl) AS p"
    val unpivotSql = "w, yl"
    val statSql = "p"
    val zeroSql = "0"
    val costSql =
      """(CAST(nl AS DOUBLE)
        |       - CAST(pl*pl + (nl-pl)*(nl-pl) AS DOUBLE) / CAST(nl AS DOUBLE))
        |    + (CAST(nn - nl AS DOUBLE)
        |       - CAST((pp-pl)*(pp-pl) + ((nn-nl)-(pp-pl))*((nn-nl)-(pp-pl)) AS DOUBLE)
        |         / CAST(nn - nl AS DOUBLE))""".stripMargin
  }

  /** Poisson(1)-shaped bootstrap weight for (id, tree `b`): fold the first
    * two md5 hex digits of "<id>:t<b>" to 0..255, then cut at the fixed
    * points 94/188/235 (≈256·{.368,.368,.184}; the tail is weight 3).
    * Deterministic, row-local, identical in the oracle. */
  def bootstrapWeight(id: Column, b: Int): Column = {
    val hx = conv(substring(
      md5(concat(id.cast("string"), lit(s":t$b"))), 1, 2), 16, 10).cast("int")
    when(hx < 94, 0L).when(hx < 188, 1L).when(hx < 235, 2L).otherwise(3L)
  }

  /** SQL mirror of [[bootstrapWeight]] (DuckDB has no conv; the 2-digit
    * strpos fold is the repo's standard hex decode). */
  def bootstrapWeightSql(idSql: String, b: Int): String = {
    val h = s"md5(CAST($idSql AS VARCHAR) || ':t$b')"
    val hx = s"((strpos('0123456789abcdef', substr($h, 1, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr($h, 2, 1)) - 1))"
    s"(CASE WHEN $hx < 94 THEN 0 WHEN $hx < 188 THEN 1 " +
      s"WHEN $hx < 235 THEN 2 ELSE 3 END)"
  }

  /** Fit one tree over feature columns `xs` (values on the [0,1] rnd4
    * grid) against 0/1 label `yCol`, with per-row weight `weight` and an
    * optional feature-subset salt (forest mode: `Some(salt)` restricts
    * each node to the 2 md5-chosen features). One histogram aggregation
    * per level; the tree comes back as plan literals. */
  def fit(feats: DataFrame, xs: Seq[String], yCol: String, depth: Int,
          weight: Column, featSalt: Option[String]): Tree =
    fitBatch(feats, xs, yCol, depth, Seq(weight), Seq(featSalt)).head

  /** Fit `weights.size` independent trees over the SAME binned base in
    * ONE histogram job per level (r14, guide §1.2/§2.6): a T-tree depth-d
    * fit that used to block on T·(d+1) sequential driver jobs (the forest
    * query measured 36 jobs for 0.3 s of execution) runs d jobs total,
    * final leaves included ([[HistTree.fit]]). Split choice, tie-breaks
    * and leaf votes are bit-identical to the per-tree form (TreeProbeSpec
    * pins batch ≡ sequential on the real corpus). */
  def fitBatch(feats: DataFrame, xs: Seq[String], yCol: String, depth: Int,
               weights: Seq[Column], featSalts: Seq[Option[String]]): Seq[Tree] = {
    val k = xs.size
    require(k >= 1 && k <= 8, s"histogram CART supports 1..8 features, got $k")
    require(featSalts.size == weights.size, "one featSalt per tree")
    val binned = xs.zipWithIndex.foldLeft(
      feats.withColumn("_yl", col(yCol).cast("long"))) {
      case (df, (c, i)) => df.withColumn(s"_b${i + 1}", bin(col(c)))
    }
    val base = weights.zipWithIndex.foldLeft(binned) { case (df, (w, ti)) =>
      df.withColumn(s"_w$ti", w.cast("long"))
        .withColumn(s"_s$ti", col(s"_w$ti") * col("_yl"))
    }
    HistTree.fit(base, k, depth, featSalts, Gini)
      .map { case (splits, votes) => Tree(splits, votes) }
  }

  /** Leaf-assignment Column for a fitted tree over raw features `xs`. */
  def leafCol(tree: Tree, xs: Seq[String], depth: Int): Column =
    HistTree.leafCol(tree.splits, depth, f => bin(col(xs(f - 1))))

  /** Majority-vote prediction for a leaf Column (unknown leaves vote 0). */
  def predCol(tree: Tree, leaf: Column): Column =
    HistTree.leafCase(tree.leafPred, leaf, 0)

  private val qualityXs = Seq("x1", "x2", "x3")

  /** The A13 composed op: quality features → depth-3 CART fit → literal
    * scoring. ONE definition shared by the `ml_tree_fit` query and the
    * process-graph `fit_tree` node, so both hash against the same oracle. */
  def treeQuery(docs: DataFrame): DataFrame = {
    // TRAINING features persist across the plan-time histogram passes
    // (text featurization dominates each pass) and take the
    // scan-parallelism floor, so the one materialization and every
    // cached histogram pass run at core-count parallelism. The RETURNED
    // scoring plan is built on a separate PLAIN feature expression: same
    // rows (a pure row-wise map; the fit's histograms are order-free),
    // but the plan stays the Exchange-free literal map PlanSpec pins.
    val featsT = RidgeProbe.qualityFeatures(
      graft.core.Tables.fanOut(docs)).persist()
    val tree = treeFit(featsT)
    featsT.unpersist(false)
    treeScore(RidgeProbe.qualityFeatures(docs), tree)
  }

  /** The training half of [[treeQuery]]: depth-3 CART over the quality
    * features. */
  def treeFit(feats: DataFrame): Tree =
    fit(feats, qualityXs, "y", depth = 3, lit(1L), None)

  /** The scoring half of [[treeQuery]], shared with `ml_tree_roundtrip`
    * (which scores the tree it reloaded): per-row leaf and vote. */
  def treeScore(feats: DataFrame, tree: Tree): DataFrame =
    feats.withColumn("leaf", leafCol(tree, qualityXs, 3))
      .withColumn("pred", predCol(tree, col("leaf")))
      .select("doc_id", "x1", "x2", "x3", "y", "leaf", "pred")

  /** The training half of [[forestQuery]]: 4-tree md5-bootstrap forest
    * with per-node 2-of-3 feature subsets over the quality features —
    * factored out so the E15 ingest stream trains ONCE offline and scores
    * every arriving micro-batch with the fitted literals. */
  def forestFit(feats: DataFrame): Seq[Tree] =
    fitBatch(feats, qualityXs, "y", depth = 3,
      (1 to 4).map(b => bootstrapWeight(col("doc_id"), b)),
      (1 to 4).map(b => Some(s"t$b")))

  /** The scoring half of [[forestQuery]]: fitted trees are pure plan
    * literals, so this applies to a batch OR a streaming micro-batch
    * unchanged — per-row leaves, per-tree votes, 2-of-4 majority. */
  def forestScore(feats: DataFrame, trees: Seq[Tree]): DataFrame = {
    val withLeaves = feats.select(
      col("doc_id") +: col("y") +:
        trees.zipWithIndex.map { case (t, i) =>
          leafCol(t, qualityXs, 3).as(s"leaf${i + 1}")
        }: _*)
    val withPreds = trees.zipWithIndex.foldLeft(withLeaves) {
      case (df, (t, i)) =>
        df.withColumn(s"p${i + 1}", predCol(t, col(s"leaf${i + 1}")))
    }
    withPreds
      .withColumn("votes",
        trees.indices.map(i => col(s"p${i + 1}")).reduce(_ + _))
      .withColumn("pred", when(col("votes") >= 2, lit(1)).otherwise(lit(0)))
      .select("doc_id", "y", "leaf1", "leaf2", "leaf3", "leaf4",
        "votes", "pred")
  }

  /** Quality features for forest training/scoring — the shared feature
    * map of [[forestQuery]] and the E15 stream. */
  def forestFeatures(docs: DataFrame): DataFrame =
    RidgeProbe.qualityFeatures(docs)

  /** The A14 composed op: 4-tree md5-bootstrap forest with per-node
    * 2-of-3 feature subsets and majority vote — shared by `ml_forest_fit`
    * and the `fit_forest` graph node. */
  def forestQuery(docs: DataFrame): DataFrame = {
    // same split as treeQuery: floor + persist for the training passes,
    // plain Exchange-free plan for the returned scoring map
    val featsT = forestFeatures(graft.core.Tables.fanOut(docs)).persist()
    val trees = forestFit(featsT)
    featsT.unpersist(false)
    forestScore(forestFeatures(docs), trees)
  }

  // ------------------------------------------------------------------
  // Oracle generation: replay the whole training as unrolled SQL.
  // ------------------------------------------------------------------

  /** CTE chain replaying one tree's training; terminal CTE `pr<S>` has
    * (idCol, leaf, pred) per input row. `featsCte` must expose idCol,
    * x1..xk on the rnd4 grid, and 0/1 label y. */
  def oracleSql(featsCte: String, idCol: String, k: Int, depth: Int,
                suffix: String, weightSql: String,
                featSalt: Option[String]): String = {
    val S = suffix
    val bcols = (1 to k).map(f => s"b$f")
    val levels = (1 to depth).map(l => HistTree.levelCtes(S, l, k, Gini,
      idCol +: bcols :+ "w" :+ "yl", featSalt)).mkString(",\n")
    s"""a${S}1 AS MATERIALIZED (
       |  SELECT $idCol, ${(1 to k).map(HistTree.binSql).mkString(", ")},
       |    $weightSql AS w, CAST(y AS BIGINT) AS yl, 1 AS node
       |  FROM $featsCte),
       |$levels,
       |lv$S AS MATERIALIZED (
       |  SELECT node, sum(w) AS n, sum(w * yl) AS p
       |  FROM a$S${depth + 1} GROUP BY node),
       |pr$S AS MATERIALIZED (
       |  SELECT d.$idCol, d.node AS leaf,
       |    CASE WHEN 2 * l.p > l.n THEN 1 ELSE 0 END AS pred
       |  FROM a$S${depth + 1} d JOIN lv$S l ON d.node = l.node)""".stripMargin
  }
}
