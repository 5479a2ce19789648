package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TreeProbe.{Bins, Split}

/** The histogram-tree core both hash-verifiable tree trainers call:
  * [[TreeProbe]] (CART and the bagged forest) and [[BoostProbe]]
  * (boosted regression trees). It holds the one level-synchronous fit
  * loop, the one leaf-assignment fold, the one leaf-literal CASE and the
  * one oracle level-CTE renderer; a [[Family]] supplies only what
  * differs — the per-bin label statistic, the split cost and the leaf
  * rule, each in both engines.
  *
  * Scale shape (MLlib's own architecture, re-derived): training is
  * level-synchronous — ONE histogram job per level for ALL trees of a
  * batch (each row unpivots (tree, node, feature, bin) map-side and
  * partial-aggregates to ≤T·2^level·k·Bins cells, a metadata-sized
  * shuffle) and the argmin runs on the driver over those cells. The
  * fitted tree is pure literals, so scoring — leaf assignment and leaf
  * value — is a zero-shuffle codegen CASE chain that applies to a batch
  * scan or an ingest stream unchanged.
  */
object HistTree {

  /** A tree family. Histogram cells hold (weighted row count n, label
    * statistic s) per (node, feature, bin); `cost` scores a split from
    * its two sides (lowest wins, ties on (feature, threshold)); `leaf`
    * labels a final node from its (n, s). The `*Sql` members are the
    * same choices as DuckDB text for [[levelCtes]]. */
  trait Family[S, V] {
    def zero: S
    def plus(a: S, b: S): S
    def minus(a: S, b: S): S
    def cost(nl: Long, sl: S, nr: Long, sr: S): Double
    def leaf(n: Long, s: S): V
    /** The `h` CTE's per-bin aggregate, defining `n` and the statistic. */
    def histSql: String
    /** Columns the unpivot carries from the level's `a` CTE. */
    def unpivotSql: String
    /** The statistic's column name (`p` → `pl`, `pp`) and zero literal. */
    def statSql: String
    def zeroSql: String
    /** The split cost over `nl`, `<stat>l`, `nn`, `<stat><stat>`. */
    def costSql: String
  }

  /** Sum (n, s) over bins 0 until `m`. */
  private def prefix[S](fam: Family[S, _], a: Array[(Long, S)],
                        m: Int): (Long, S) =
    (0 until m).foldLeft((0L, fam.zero)) { case ((n, s), b) =>
      (n + a(b)._1, fam.plus(s, a(b)._2))
    }

  /** Fit `featSalts.size` trees over `base` in ONE histogram job per
    * level. `base` exposes binned features `_b1.._bk` and, per tree `i`,
    * its row weight `_w<i>` (long) and label statistic `_s<i>` as
    * materialized COLUMNS (never expressions inlined into the Generate —
    * the simhashBlocks no-CSE lesson). `featSalts(i) = Some(salt)`
    * restricts each node to its 2 md5-chosen features
    * ([[TreeProbe.allowedFeatures]]). Returns each tree's splits (level
    * order, node order within a level) and final-leaf labels.
    *
    * Final leaves derive from the LAST level's histogram, with no extra
    * pass: a split node's children are partial sums over the split
    * feature's bins (left = Σ_{b≤t}, right = rest), an unsplit node's
    * total is its f=1 bins summed (bins partition the node's rows) —
    * exact adds of the cells a direct final-node aggregate would
    * recompute (TreeProbeSpec / BoostProbeSpec pin derived ≡ direct). */
  def fit[S, V](base: DataFrame, k: Int, depth: Int,
                featSalts: Seq[Option[String]],
                fam: Family[S, V]): Seq[(Seq[Split], Map[Int, V])] = {
    val nT = featSalts.size
    val binCol = (f: Int) => col(s"_b$f")
    val nodeCols = Array.fill[Column](nT)(lit(1))
    val splits = Array.fill(nT)(Vector.empty[Split])
    var cells = Map.empty[(Int, Int, Int), Array[(Long, S)]]
    var lvl: Seq[Seq[Split]] = Seq.fill(nT)(Seq.empty)
    for (level <- 0 until depth) {
      val withNodes = (0 until nT).foldLeft(base) { (df, ti) =>
        df.withColumn(s"_node$ti", nodeCols(ti))
      }
      val entries = for (ti <- 0 until nT; f <- 1 to k) yield
        struct(lit(ti).as("t"), col(s"_node$ti").as("node"),
          lit(f).as("f"), binCol(f).as("b"), col(s"_w$ti").as("w"),
          col(s"_s$ti").as("s"))
      val hist = withNodes
        .select(explode(array(entries: _*)).as("e"))
        .groupBy(col("e.t").as("t"), col("e.node").as("node"),
          col("e.f").as("f"), col("e.b").as("b"))
        .agg(sum(col("e.w")).as("n"), sum(col("e.s")).as("s"))
        .collect() // SCALE:hist-tree-level
      // (tree, node, f) -> per-bin (n, s); nodes are visited in sorted
      // order below, since the collected row order is partition-dependent
      cells = hist.groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        .map { case (key, rs) =>
          val a = Array.fill(Bins)((0L, fam.zero))
          rs.foreach { r =>
            a(r.getInt(3)) = (r.getLong(4),
              if (r.isNullAt(5)) fam.zero else r.getAs[S](5))
          }
          key -> a
        }
      lvl = (0 until nT).map { ti =>
        val nodes = cells.keysIterator.collect { case (`ti`, node, _) => node }
          .toSeq.distinct.sorted
        nodes.flatMap { node =>
          val fs = featSalts(ti)
            .fold(1 to k: Seq[Int])(TreeProbe.allowedFeatures(node, k, 2, _))
          val cands = for {
            f <- fs
            arr = cells((ti, node, f))
            (nn, ss) = prefix(fam, arr, Bins)
            t <- 0 until Bins - 1
            (nl, sl) = prefix(fam, arr, t + 1)
            if nl > 0 && nn - nl > 0
          } yield (fam.cost(nl, sl, nn - nl, fam.minus(ss, sl)), f, t)
          if (cands.isEmpty) None
          else { val (_, f, t) = cands.min; Some(Split(node, f, t)) }
        }
      }
      for (ti <- 0 until nT) {
        splits(ti) ++= lvl(ti)
        nodeCols(ti) = nodeStep(nodeCols(ti), lvl(ti), level, binCol)
      }
    }

    (0 until nT).map { ti =>
      val splitAt = lvl(ti).map(s => s.node -> s).toMap
      val leaves = cells.keysIterator
        .collect { case (`ti`, node, 1) => node }
        .flatMap { node =>
          splitAt.get(node) match {
            case Some(s) =>
              val arr = cells((ti, node, s.f))
              val (nn, ss) = prefix(fam, arr, Bins)
              val (nl, sl) = prefix(fam, arr, s.t + 1)
              Seq(2 * node -> fam.leaf(nl, sl),
                2 * node + 1 -> fam.leaf(nn - nl, fam.minus(ss, sl)))
            case None =>
              val (nn, ss) = prefix(fam, cells((ti, node, 1)), Bins)
              Seq(node -> fam.leaf(nn, ss))
          }
        }.toMap
      (splits(ti), leaves)
    }
  }

  /** One level of leaf assignment: rows of a split node move to node·2
    * (bin ≤ t) or node·2+1; at level 0 every row sits at the root. */
  private def nodeStep(prev: Column, lvl: Seq[Split], level: Int,
                       binOf: Int => Column): Column =
    lvl.foldLeft(prev) { (acc, s) =>
      when(if (level == 0) lit(true) else prev === s.node,
        when(binOf(s.f) <= s.t, lit(2 * s.node))
          .otherwise(lit(2 * s.node + 1))).otherwise(acc)
    }

  /** Leaf-assignment Column for fitted `splits`: the level-by-level CASE
    * chain over the binned features `binOf(f)` — pure literals. */
  def leafCol(splits: Seq[Split], depth: Int, binOf: Int => Column): Column =
    (0 until depth).foldLeft(lit(1): Column) { (node, level) =>
      val lo = 1 << level
      nodeStep(node, splits.filter(s => s.node >= lo && s.node < 2 * lo),
        level, binOf)
    }

  /** Leaf-literal CASE: the value of the `leaf` Column's node, `default`
    * for a node with no entry. */
  def leafCase[V](leaves: Map[Int, V], leaf: Column, default: V): Column =
    leaves.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (acc, (n, v)) => when(leaf === n, lit(v)).otherwise(acc)
    }

  // ------------------------------------------------------------------
  // Oracle generation: the fit loop's level, replayed as SQL.
  // ------------------------------------------------------------------

  /** bin(x_f) in DuckDB: least(CAST(floor(x * 8) AS INTEGER), 7). */
  def binSql(f: Int): String =
    s"least(CAST(floor(x$f * $Bins) AS INTEGER), ${Bins - 1}) AS b$f"

  /** Level `l` of one tree's replay under CTE suffix `S`, reading
    * `a<S><l>` (columns `carry` plus `node`): the histogram `h`, the
    * forest's md5 feature subset `fs` (when `featSalt` is set), the
    * threshold sums `t`, the split costs `g`, the (cost, f, t) argmin `s`
    * and the next level's node assignment `a<S><l+1>`, which keeps
    * `carry`. All CTEs are MATERIALIZED — DuckDB inlines by default and
    * each level references its parent several times (the ann_ivf
    * lesson). */
  def levelCtes(S: String, l: Int, k: Int, fam: Family[_, _],
                carry: Seq[String], featSalt: Option[String]): String = {
    val x = fam.statSql
    val unpivot = (1 to k).map(f =>
      s"SELECT node, $f AS f, b$f AS b, ${fam.unpivotSql} FROM a$S$l")
      .mkString("\n    UNION ALL ")
    val thVals = (0 until Bins - 1).map(t => s"($t)").mkString(",")
    val fVals = (1 to k).map(f => s"($f)").mkString(",")
    val fsCte = featSalt.map { salt =>
      s"""fs$S$l AS MATERIALIZED (
         |  SELECT node, f FROM (
         |    SELECT nd.node, ff.f,
         |      row_number() OVER (PARTITION BY nd.node
         |        ORDER BY md5('n' || CAST(nd.node AS VARCHAR) || ':f' || CAST(ff.f AS VARCHAR) || ':$salt'), ff.f) AS rn
         |    FROM (SELECT DISTINCT node FROM h$S$l) nd
         |    CROSS JOIN (VALUES $fVals) AS ff(f))
         |  WHERE rn <= 2),
         |""".stripMargin
    }.getOrElse("")
    val fsJoin = if (featSalt.isDefined) s"\n  JOIN fs$S$l USING (node, f)" else ""
    val binPick = s"(CASE s.f ${(1 to k - 1).map(f => s"WHEN $f THEN d.b$f").mkString(" ")} ELSE d.b$k END)"
    s"""h$S$l AS MATERIALIZED (
       |  SELECT node, f, b, ${fam.histSql}
       |  FROM (
       |    $unpivot)
       |  GROUP BY node, f, b),
       |$fsCte""".stripMargin +
    s"""t$S$l AS MATERIALIZED (
       |  SELECT node, f, th.t,
       |    sum(CASE WHEN b <= th.t THEN n ELSE 0 END) AS nl,
       |    sum(CASE WHEN b <= th.t THEN $x ELSE ${fam.zeroSql} END) AS ${x}l,
       |    sum(n) AS nn, sum($x) AS $x$x
       |  FROM h$S$l$fsJoin
       |  CROSS JOIN (VALUES $thVals) AS th(t)
       |  GROUP BY node, f, th.t),
       |g$S$l AS MATERIALIZED (
       |  SELECT node, f, t,
       |    ${fam.costSql} AS cost
       |  FROM t$S$l WHERE nl > 0 AND nn - nl > 0),
       |s$S$l AS MATERIALIZED (
       |  SELECT node, f, t FROM (
       |    SELECT node, f, t, row_number() OVER (
       |      PARTITION BY node ORDER BY cost ASC, f ASC, t ASC) AS rn
       |    FROM g$S$l) WHERE rn = 1),
       |a$S${l + 1} AS MATERIALIZED (
       |  SELECT ${carry.map(c => s"d.$c").mkString(", ")},
       |    CASE WHEN s.node IS NULL THEN d.node
       |         WHEN $binPick <= s.t THEN d.node * 2
       |         ELSE d.node * 2 + 1 END AS node
       |  FROM a$S$l d LEFT JOIN s$S$l s ON d.node = s.node)""".stripMargin
  }
}
