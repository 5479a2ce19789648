package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic gradient-boosted regression trees (squared loss) — the
  * boosting member of the hash-verifiable trainer family
  * ([[RidgeProbe]] closed-form, [[LogisticProbe]] GD, [[TreeProbe]] CART).
  *
  * Friedman's algorithm at fixed size: F₀ = decimal-exact mean(y); each
  * round fits a depth-`depth` regression tree to the residual r = y − F
  * by variance-reduction splits, then F += ν·leafMean. Every
  * data-dependent choice is pinned:
  *  - residual histogram sums are DECIMAL(38,10) per (node, feature, bin)
  *    — exact and order-independent, so cumulative threshold sums are the
  *    same number in both engines (a raw double sum would depend on
  *    aggregation order);
  *  - the split score maximizes (Σ_l r)²/n_l + (Σ_r r)²/n_r (the SSE
  *    decomposition — the Σr² term is node-constant), computed in doubles
  *    from the decimal sums with one division per side, ties on
  *    (cost, feature, threshold);
  *  - leaf values v = Σr/n and the update r − ν·v are single IEEE
  *    expressions, mirrored operation-for-operation.
  *
  * Fitting and scoring run on the shared histogram-tree core
  * ([[HistTree]]), the one [[TreeProbe]] uses: this object supplies the
  * variance family ([[Variance]]). Each level is ONE metadata-sized
  * histogram job (≤2^level·k·Bins cells); the fitted ensemble is pure
  * literals, so scoring — and the residual column each round trains on —
  * is a zero-shuffle codegen CASE chain. `rounds` passes over the data
  * total, the same envelope as MLlib's GBT.
  */
object BoostProbe {

  import TreeProbe.{Split, bin}

  private val Dec = "decimal(38,10)"

  /** A fitted regression tree: splits plus per-leaf mean residual. */
  final case class RTree(splits: Seq[Split], leafVal: Map[Int, Double])

  /** The variance family: cells count rows `n` and sum residuals `s` as
    * DECIMAL(38,10) (exact, order-independent); a split costs
    * −(s_l²/n_l + s_r²/n_r), lower = better, in doubles from the decimal
    * sums; a leaf's value is s/n, one IEEE division. */
  object Variance extends HistTree.Family[java.math.BigDecimal, Double] {
    private type D = java.math.BigDecimal
    def zero = java.math.BigDecimal.ZERO
    def plus(a: D, b: D) = a add b
    def minus(a: D, b: D) = a subtract b
    def cost(nl: Long, sl: D, nr: Long, sr: D): Double =
      -(sl.doubleValue * sl.doubleValue / nl.toDouble +
        sr.doubleValue * sr.doubleValue / nr.toDouble)
    def leaf(n: Long, s: D) = s.doubleValue / n.toDouble
    val histSql = "count(*) AS n,\n    sum(CAST(r AS DECIMAL(38,10))) AS s"
    val unpivotSql = "r"
    val statSql = "s"
    val zeroSql = "CAST(0 AS DECIMAL(38,10))"
    val costSql =
      """-(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
        |      + CAST(ss - sl AS DOUBLE) * CAST(ss - sl AS DOUBLE)
        |        / CAST(nn - nl AS DOUBLE))""".stripMargin
  }

  /** Fit one regression tree to residual column `rCol` (an expression
    * over the base columns — literals only, so each histogram pass is
    * one scan). Final-leaf (n, Σr) derive from the last level's
    * histogram ([[HistTree.fit]]), so v = Σr/n is the identical double a
    * direct aggregate gives; BoostProbeSpec pins derived ≡ direct on the
    * real corpus. */
  def fitTree(base: DataFrame, k: Int, depth: Int, rCol: Column): RTree = {
    val (splits, leafVal) = HistTree.fit(
      base.withColumn("_w0", lit(1L)).withColumn("_s0", rCol.cast(Dec)),
      k, depth, Seq(None), Variance).head
    RTree(splits, leafVal)
  }

  /** Leaf-value Column for a fitted regression tree (literal CASE). */
  def valueCol(tree: RTree, leaf: Column): Column =
    HistTree.leafCase(tree.leafVal, leaf, 0.0)

  /** Fit the ensemble: returns (F₀, trees). `base` must already expose
    * binned columns _b1.._bk and the label `yCol`. */
  def fit(base: DataFrame, k: Int, yCol: String, depth: Int,
          rounds: Int, nu: Double): (Double, Seq[RTree]) = {
    val f0row = base.agg(
      sum(col(yCol).cast(Dec)).cast("double").as("s"),
      count(col(yCol)).as("n")).head()
    val f0 = f0row.getDouble(0) / f0row.getLong(1)
    var r: Column = col(yCol) - lit(f0)
    val trees = Vector.newBuilder[RTree]
    for (_ <- 0 until rounds) {
      val tree = fitTree(base, k, depth, r)
      trees += tree
      r = r - lit(nu) * valueCol(tree, leafFromBins(tree, depth))
    }
    (f0, trees.result())
  }

  /** Leaf assignment from the materialized _b1.._bk bin columns. */
  def leafFromBins(tree: RTree, depth: Int): Column =
    HistTree.leafCol(tree.splits, depth, f => col(s"_b$f"))

  /** The A15 composed op: quality features → 3 rounds of depth-2 boosted
    * regression trees (ν=0.5) → literal scoring. Output pins each
    * round's leaf assignment and the final score F = y − r.
    *
    * The feature base is CacheScope-pinned (fit's ~9 actions + the
    * returned lazy plan all scan it) — CALLER CONTRACT: release via
    * [[graft.core.CacheScope.releaseAll]] after materializing the result,
    * or wrap the action in [[graft.core.CacheScope.scoped]]. */
  def boostQuery(docs: DataFrame): DataFrame = {
    val k = 3
    def binned(f: DataFrame) = (1 to k).foldLeft(f) { (df, i) =>
      df.withColumn(s"_b$i", bin(col(s"x$i")))
    }
    // TRAINING base: CacheScope-pinned (not persist/unpersist — fit() runs
    // ~7 actions over it; an eager unpersist would re-derive the features
    // per action, the r12 process_graph_boost amplification pattern) and
    // behind the scan-parallelism floor: without it every per-level
    // histogram job runs as ONE task on a one-split corpus (r15 profile:
    // ml_boost_fit = 18 single-task jobs, 5.6 s of serial build). The
    // RETURNED plan is built on a separate PLAIN base — same rows (pure
    // row-wise map; histograms are order-free sums), but the scoring plan
    // stays the Exchange-free literal map PlanSpec pins, at the price of
    // one uncached feature pass at materialization (the r13 cost).
    val baseT = graft.core.CacheScope.pin(binned(
      RidgeProbe.qualityFeatures(graft.core.Tables.fanOut(docs))))
    val base = binned(RidgeProbe.qualityFeatures(docs))
    val (f0, trees) = fit(baseT, k, "y", depth = 2, rounds = 3, nu = 0.5)
    var r: Column = col("y") - lit(f0)
    val withLeaves = trees.zipWithIndex.foldLeft(base) {
      case (df, (t, i)) =>
        val withL = df.withColumn(s"leaf${i + 1}", leafFromBins(t, 2))
        r = r - lit(0.5) * valueCol(t, col(s"leaf${i + 1}"))
        withL
    }
    withLeaves
      .withColumn("score", graft.core.Exact.rnd4(col("y") - r))
      .withColumn("pred", col("score") >= 0.5)
      .select("doc_id", "x1", "x2", "x3", "y",
        "leaf1", "leaf2", "leaf3", "score", "pred")
  }

  // ------------------------------------------------------------------
  // Oracle: unrolled SQL replay of the whole boost.
  // ------------------------------------------------------------------

  /** CTE chain replaying [[boostQuery]]'s training. `featsCte` must
    * expose idCol, x1..xk and label y; the terminal CTE `bst` has one row
    * per input with (idCol, leaf1..leaf<rounds>, y, r). */
  def oracleSql(featsCte: String, idCol: String, k: Int, depth: Int,
                rounds: Int, nu: Double): String = {
    val bcols = (1 to k).map(f => s"b$f")
    val leafCols = (m: Int) => (1 to m).map(i => s"leaf$i")

    val roundCtes = (1 to rounds).map { m =>
      val S = s"_r$m"
      val carry = bcols ++ leafCols(m - 1)
      val levels = (1 to depth).map(l => HistTree.levelCtes(S, l, k, Variance,
        idCol +: carry :+ "y" :+ "r", None)).mkString(",\n")
      val prevTerm = if (m == 1) "b0" else s"ar_r${m - 1}"
      s"""a${S}1 AS MATERIALIZED (
         |  SELECT $idCol, ${carry.mkString(", ")}, y, r,
         |    1 AS node
         |  FROM $prevTerm),
         |$levels,
         |lv$S AS MATERIALIZED (
         |  SELECT node, count(*) AS n,
         |    CAST(sum(CAST(r AS DECIMAL(38,10))) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS v
         |  FROM a$S${depth + 1} GROUP BY node),
         |ar$S AS MATERIALIZED (
         |  SELECT d.$idCol, ${carry.map(c => s"d.$c").mkString(", ")},
         |    d.node AS leaf$m, d.y, d.r - $nu * l.v AS r
         |  FROM a$S${depth + 1} d JOIN lv$S l ON d.node = l.node)""".stripMargin
    }.mkString(",\n")

    s"""bf0 AS MATERIALIZED (
       |  SELECT CAST(sum(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS s,
       |    count(y) AS n
       |  FROM $featsCte),
       |b0 AS MATERIALIZED (
       |  SELECT $idCol, ${(1 to k).map(HistTree.binSql).mkString(", ")}, y,
       |    y - (SELECT s / n FROM bf0) AS r
       |  FROM $featsCte),
       |$roundCtes,
       |bst AS (
       |  SELECT $idCol, ${leafCols(rounds).mkString(", ")}, y, r
       |  FROM ar_r$rounds)""".stripMargin
  }
}
