package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exact

/** Exact model-evaluation metrics over a scored table — ROC-AUC via the
  * Mann-Whitney rank statistic (average-rank tie handling) plus the
  * threshold confusion metrics (precision / recall / F1 / accuracy).
  *
  * The reference records accuracy and Cohen's kappa when it fits a model
  * (scikit_learn_model.py:160 via ml_fit); this is the same model-QC
  * seam as a first-class GATE-VERIFIED query: because the probe scores it
  * evaluates are already bit-identical cross-engine (RidgeProbe), and AUC
  * is a pure RANK statistic, every metric here is integer-exact counts +
  * a handful of pinned IEEE divisions — no libm, no approximation, so the
  * whole evaluation replays in DuckDB.
  *
  * AUC with ties: group rows by (already rnd4-gridded) score; for a group
  * g with n_g rows of which pos_g are positive, the average rank of its
  * members is cum_before(g) + (n_g + 1)/2, so
  *   U = Σ_g pos_g · (cum_before(g) + (n_g+1)/2) − n⁺(n⁺+1)/2
  *   AUC = U / (n⁺ · n⁻)
  * — half-integer arithmetic, exact in doubles far past any corpus size.
  *
  * Scale shape: ONE groupBy(score) collapses the corpus to at most
  * ~10⁴·range rows (scores live on the rnd4 grid, so the distinct-score
  * set is BOUNDED regardless of corpus size), then one single-partition
  * window + final aggregate over that bounded table — the corpus itself
  * is scanned once and never shuffled beyond the score-key partial agg.
  */
object Eval {

  /** Metrics report over per-row scores: `scoreCol` (double, expected on
    * the rnd4 grid), `yCol` (0/1 label). One output row. */
  def aucReport(scored: DataFrame, scoreCol: String, yCol: String,
                threshold: Double): DataFrame = {
    val g = scored.groupBy(col(scoreCol).as("score"))
      .agg(count(lit(1)).as("n"),
        sum(col(yCol).cast("long")).as("pos"))
    val w = Window.orderBy(col("score").asc) // SCALE:eval-auc-cum
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cb", coalesce(sum(col("n")).over(w), lit(0L)))
    val a = c.agg(
      sum(col("n")).as("n"),
      sum(col("pos")).as("n_pos"),
      // pos·(cb + (n+1)/2) is a half-integer: exact in double AND in the
      // decimal image, so the sum is order-independent.
      Exact.esum(col("pos").cast("double") *
        (col("cb").cast("double") +
          (col("n").cast("double") + lit(1.0)) / lit(2.0))).as("rank_sum"),
      sum(when(col("score") >= threshold, col("pos")).otherwise(0L)).as("tp"),
      sum(when(col("score") >= threshold, col("n")).otherwise(0L))
        .as("pred_pos"))
    val nPos = col("n_pos").cast("double")
    val nNeg = (col("n") - col("n_pos")).cast("double")
    val u = col("rank_sum") - nPos * (nPos + lit(1.0)) / lit(2.0)
    val auc = when(col("n_pos") === 0 || col("n") === col("n_pos"), lit(0.5))
      .otherwise(u / (nPos * nNeg))
    val tp = col("tp").cast("double")
    val prec = when(col("pred_pos") === 0, lit(0.0))
      .otherwise(tp / col("pred_pos").cast("double"))
    val rec = when(col("n_pos") === 0, lit(0.0)).otherwise(tp / nPos)
    val f1 = when(prec + rec === 0.0, lit(0.0))
      .otherwise(lit(2.0) * prec * rec / (prec + rec))
    val acc = (tp + (col("n") - col("pred_pos") -
      (col("n_pos") - col("tp"))).cast("double")) / col("n").cast("double")
    a.select(
      col("n"), col("n_pos"), col("tp"),
      (col("pred_pos") - col("tp")).as("fp"),
      (col("n_pos") - col("tp")).as("fn"),
      (col("n") - col("pred_pos") - (col("n_pos") - col("tp"))).as("tn"),
      Exact.rnd4(auc).as("auc"),
      Exact.rnd4(prec).as("prec"),
      Exact.rnd4(rec).as("rec"),
      Exact.rnd4(f1).as("f1"),
      Exact.rnd4(acc).as("acc"))
  }

  /** A28: precision-recall summary — step-wise average precision
    * (sklearn `average_precision_score`: AP = Σ_k ΔR_k·P_k over
    * thresholds descending through the distinct scores, ties grouped)
    * plus the best-F1 operating point (argmax F1, ties to the larger
    * threshold). Same scale contract as [[aucReport]]: ONE
    * groupBy(score) collapses the corpus to the BOUNDED rnd4-grid score
    * table; the cumulative/rank windows run only on that bounded table.
    * Counts are exact integers; P/R/F1/AP are pinned-division doubles
    * with the AP sum decimal-exact, so the whole report replays in the
    * oracle ([[prOracleSql]]). */
  def prReport(scored: DataFrame, scoreCol: String = "score",
               yCol: String = "y"): DataFrame = {
    val g = scored.groupBy(col(scoreCol).as("score"))
      .agg(count(lit(1)).as("n"),
        sum(col(yCol).cast("long")).as("pos"))
    val cum = Window.orderBy(col("score").desc) // SCALE:eval-pr-cum
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val c = g.select(col("score"), col("n"), col("pos"),
        sum(col("n")).over(cum).as("cn"),
        sum(col("pos")).over(cum).as("ctp"))
      .withColumn("npos", max(col("ctp")).over(full))
    val p = col("ctp").cast("double") / col("cn").cast("double")
    val r = when(col("npos") > 0,
      col("ctp").cast("double") / col("npos").cast("double"))
      .otherwise(lit(0.0))
    val f1 = when(p + r === 0.0, lit(0.0))
      .otherwise(lit(2.0) * p * r / (p + r))
    val term = when(col("npos") > 0,
      (col("pos").cast("double") / col("npos").cast("double")) * p)
      .otherwise(lit(0.0))
    val ranked = c.withColumn("f1", f1).withColumn("term", term)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("f1").desc, col("score").desc))) // SCALE:eval-pr-best
    ranked.agg(
      sum(col("n")).as("n"),
      max(col("npos")).as("n_pos"),
      Exact.rnd4(Exact.esum(col("term"))).as("ap"),
      Exact.rnd4(max(when(col("rk") === 1, col("f1")))).as("best_f1"),
      max(when(col("rk") === 1, col("score"))).as("best_threshold"))
  }

  /** DuckDB mirror of [[prReport]] as a CTE suffix over `scoredCte`
    * (score, 0/1 y). Terminal CTE: `pr_out`. The same grouped table,
    * cumulative windows, pinned P/R/F1 DAG and decimal-exact AP sum;
    * count sums CAST to BIGINT (DuckDB sums to HUGEINT). */
  def prOracleSql(scoredCte: String): String = {
    val p = "(CAST(ctp AS DOUBLE) / CAST(cn AS DOUBLE))"
    val r = "(CASE WHEN npos > 0 THEN CAST(ctp AS DOUBLE) " +
      "/ CAST(npos AS DOUBLE) ELSE 0.0 END)"
    val f1 = s"(CASE WHEN $p + $r = 0.0 THEN 0.0 " +
      s"ELSE 2.0 * $p * $r / ($p + $r) END)"
    val term = s"(CASE WHEN npos > 0 THEN (CAST(pos AS DOUBLE) " +
      s"/ CAST(npos AS DOUBLE)) * $p ELSE 0.0 END)"
    s"""pg AS (
       |  SELECT score, count(*) AS n,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS pos
       |  FROM $scoredCte GROUP BY score),
       |pc AS (
       |  SELECT score, n, pos,
       |    CAST(sum(n) OVER (ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cn,
       |    CAST(sum(pos) OVER (ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS ctp
       |  FROM pg),
       |pt AS (SELECT *, CAST(max(ctp) OVER () AS BIGINT) AS npos FROM pc),
       |pf AS (
       |  SELECT score, n, pos, cn, ctp, npos, $f1 AS f1, $term AS term,
       |    row_number() OVER (ORDER BY $f1 DESC, score DESC) AS rk
       |  FROM pt),
       |pr_out AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n,
       |    CAST(max(npos) AS BIGINT) AS n_pos,
       |    floor((CAST(sum(CAST(term AS DECIMAL(38,10))) AS DOUBLE))
       |      * 10000 + 0.5) / 10000.0 AS ap,
       |    floor((max(CASE WHEN rk = 1 THEN f1 END)) * 10000 + 0.5)
       |      / 10000.0 AS best_f1,
       |    max(CASE WHEN rk = 1 THEN score END) AS best_threshold
       |  FROM pf)""".stripMargin
  }

  /** A22: calibration (reliability) table — per predicted-probability
    * decile: count, mean prediction, empirical positive rate, gap. Exact
    * counts + decimal-exact sums; O(10) output rows regardless of corpus
    * size. */
  def calibration(scored: DataFrame, scoreCol: String = "score",
                  yCol: String = "y"): DataFrame = {
    val binned = scored.select(
      least(floor(col(scoreCol) * 10).cast("int"), lit(9)).as("bin"),
      col(scoreCol).as("score"), col(yCol).as("y"))
    val g = binned.groupBy("bin").agg(
      count(lit(1)).as("n"),
      Exact.esum(col("score")).as("sp"),
      Exact.esum(col("y")).as("spos"))
    val nD = col("n").cast("double")
    g.select(col("bin"), col("n"),
      Exact.rnd4(col("sp") / nD).as("mean_pred"),
      Exact.rnd4(col("spos") / nD).as("pos_rate"),
      Exact.rnd4(col("sp") / nD - col("spos") / nD).as("gap"))
  }

  /** Cohen's kappa over multi-class (pred, actual) pairs — the metric the
    * reference records at ml_fit time (scikit_learn_model.py:160)
    * alongside accuracy. κ = (p_o − p_e)/(1 − p_e) with the chance
    * agreement p_e from the row/column marginals. Exact counts, pinned
    * divisions; marginal products go through doubles (no long overflow at
    * lake-scale N²) with a decimal-exact sum over the O(classes) rows. */
  def kappaReport(preds: DataFrame, predCol: String,
                  actualCol: String): DataFrame = {
    val totals = preds.agg(count(lit(1)).as("n"),
      sum(when(col(predCol) === col(actualCol), 1L).otherwise(0L))
        .as("agree"))
    val rowM = preds.groupBy(col(actualCol).as("k"))
      .agg(count(lit(1)).as("ra"))
    val colM = preds.groupBy(col(predCol).as("k"))
      .agg(count(lit(1)).as("ca"))
    val peSum = rowM.join(colM, Seq("k"), "outer")
      .agg(Exact.esum(coalesce(col("ra"), lit(0L)).cast("double") *
        coalesce(col("ca"), lit(0L)).cast("double")).as("s"))
    val nD = col("n").cast("double")
    val po = col("agree").cast("double") / nD
    val pe = col("s") / (nD * nD)
    val kappa = when(lit(1.0) - pe === 0.0, lit(0.0))
      .otherwise((po - pe) / (lit(1.0) - pe))
    totals.crossJoin(broadcast(peSum)).select(
      col("n"), col("agree"),
      Exact.rnd4(po).as("po"),
      Exact.rnd4(pe).as("pe"),
      Exact.rnd4(kappa).as("kappa"))
  }

  /** A26: per-class precision/recall/F1/support — the sklearn
    * `classification_report` analog over multi-class (pred, actual)
    * pairs, completing the multi-class report next to [[kappaReport]]'s
    * single-number summary. One O(classes²) confusion aggregate (map-side
    * partials collapse the corpus), then per-class marginals off that
    * tiny table; absent classes on either axis coalesce to 0 counts so
    * precision/recall degenerates are pinned 0. All counts exact, every
    * division/F1 a pinned double DAG. */
  def classReport(preds: DataFrame, predCol: String,
                  actualCol: String): DataFrame = {
    val conf = preds.groupBy(col(predCol).as("p"), col(actualCol).as("a"))
      .agg(count(lit(1)).as("c"))
    val sup = conf.groupBy(col("a").as("cls")).agg(sum("c").as("support"))
    val pp = conf.groupBy(col("p").as("cls")).agg(sum("c").as("pred_pos"))
    val tp = conf.filter(col("p") === col("a"))
      .select(col("p").as("cls"), col("c").as("tp"))
    val j = sup.join(pp, Seq("cls"), "outer").join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("pred_pos"), lit(0L)).as("pred_pos"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val prec = when(col("pred_pos") === 0, lit(0.0))
      .otherwise(col("tp").cast("double") / col("pred_pos").cast("double"))
    val rec = when(col("support") === 0, lit(0.0))
      .otherwise(col("tp").cast("double") / col("support").cast("double"))
    val f1 = when(prec + rec === 0.0, lit(0.0))
      .otherwise(lit(2.0) * prec * rec / (prec + rec))
    j.select(col("cls"), col("support"), col("pred_pos"), col("tp"),
      Exact.rnd4(prec).as("prec"), Exact.rnd4(rec).as("rec"),
      Exact.rnd4(f1).as("f1"))
  }

  /** DuckDB mirror of [[classReport]] over a `predsCte` exposing pred
    * `cls` and `actual`. Terminal CTE: `crep_out`. */
  def classOracleSql(predsCte: String): String =
    s"""cconf AS (
       |  SELECT cls AS p, actual AS a, count(*) AS c
       |  FROM $predsCte GROUP BY 1, 2),
       |csup AS (SELECT a AS cls, CAST(sum(c) AS BIGINT) AS support
       |         FROM cconf GROUP BY 1),
       |cpp AS (SELECT p AS cls, CAST(sum(c) AS BIGINT) AS pred_pos
       |        FROM cconf GROUP BY 1),
       |ctp AS (SELECT p AS cls, CAST(c AS BIGINT) AS tp
       |        FROM cconf WHERE p = a),
       |cj AS (
       |  SELECT COALESCE(csup.cls, cpp.cls) AS cls,
       |    COALESCE(support, 0) AS support,
       |    COALESCE(pred_pos, 0) AS pred_pos,
       |    COALESCE(tp, 0) AS tp
       |  FROM csup FULL OUTER JOIN cpp ON csup.cls = cpp.cls
       |  LEFT JOIN ctp ON COALESCE(csup.cls, cpp.cls) = ctp.cls),
       |cpr AS (
       |  SELECT cls, support, pred_pos, tp,
       |    CASE WHEN pred_pos = 0 THEN 0.0
       |      ELSE CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) END AS pr,
       |    CASE WHEN support = 0 THEN 0.0
       |      ELSE CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END AS rc
       |  FROM cj),
       |crep_out AS (
       |  SELECT cls, support, pred_pos, tp,
       |    floor((pr) * 10000 + 0.5) / 10000.0 AS prec,
       |    floor((rc) * 10000 + 0.5) / 10000.0 AS rec,
       |    floor((CASE WHEN pr + rc = 0.0 THEN 0.0
       |      ELSE 2.0 * pr * rc / (pr + rc) END) * 10000 + 0.5) / 10000.0
       |      AS f1
       |  FROM cpr)""".stripMargin

  /** DuckDB mirror of [[kappaReport]] as a CTE suffix over a `predsCte`
    * exposing pred `cls` and `actual`. Terminal CTE: `kappa_out`. */
  def kappaOracleSql(predsCte: String): String =
    s"""kn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN cls = actual THEN 1 ELSE 0 END) AS BIGINT)
       |      AS agree
       |  FROM $predsCte),
       |kr AS (SELECT actual AS k, count(*) AS ra FROM $predsCte GROUP BY 1),
       |kc AS (SELECT cls AS k, count(*) AS ca FROM $predsCte GROUP BY 1),
       |kp AS (
       |  SELECT CAST(sum(CAST(CAST(coalesce(ra, 0) AS DOUBLE)
       |    * CAST(coalesce(ca, 0) AS DOUBLE) AS DECIMAL(38,10)))
       |    AS DOUBLE) AS s
       |  FROM kr FULL OUTER JOIN kc ON kr.k = kc.k),
       |kappa_out AS (
       |  SELECT n, agree,
       |    floor((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE))
       |      * 10000 + 0.5) / 10000.0 AS po,
       |    floor((s / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |      * 10000 + 0.5) / 10000.0 AS pe,
       |    floor((CASE WHEN 1.0 - s / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
       |        = 0.0 THEN 0.0
       |      ELSE (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
       |            - s / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |           / (1.0 - s / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |      END) * 10000 + 0.5) / 10000.0 AS kappa
       |  FROM kn CROSS JOIN kp)""".stripMargin

  /** DuckDB mirror of [[aucReport]] as a CTE suffix over a `scoredCte`
    * exposing `score` and 0/1 `y`. Terminal CTE: `eval_out`. Every double
    * op is structurally identical to the Column DAG above; count sums are
    * CAST to BIGINT (DuckDB sums to HUGEINT). */
  def oracleSql(scoredCte: String, threshold: Double): String = {
    val th = threshold.toString
    s"""eg AS (
       |  SELECT score, count(*) AS n, CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS pos
       |  FROM $scoredCte GROUP BY score),
       |ec AS (
       |  SELECT score, n, pos,
       |    coalesce(CAST(sum(n) OVER (ORDER BY score ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cb
       |  FROM eg),
       |ea AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(CAST(CAST(pos AS DOUBLE) * (CAST(cb AS DOUBLE)
       |      + (CAST(n AS DOUBLE) + 1.0) / 2.0) AS DECIMAL(38,10)))
       |      AS DOUBLE) AS rank_sum,
       |    CAST(sum(CASE WHEN score >= $th THEN pos ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN score >= $th THEN n ELSE 0 END) AS BIGINT)
       |      AS pred_pos
       |  FROM ec),
       |eval_out AS (
       |  SELECT n, n_pos, tp, pred_pos - tp AS fp, n_pos - tp AS fn,
       |    n - pred_pos - (n_pos - tp) AS tn,
       |    floor((CASE WHEN n_pos = 0 OR n = n_pos THEN 0.5
       |      ELSE (rank_sum - CAST(n_pos AS DOUBLE)
       |              * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
       |           / (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
       |      END) * 10000 + 0.5) / 10000.0 AS auc,
       |    floor((CASE WHEN pred_pos = 0 THEN 0.0
       |      ELSE CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) END)
       |      * 10000 + 0.5) / 10000.0 AS prec,
       |    floor((CASE WHEN n_pos = 0 THEN 0.0
       |      ELSE CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END)
       |      * 10000 + 0.5) / 10000.0 AS rec,
       |    floor((CASE WHEN (CASE WHEN pred_pos = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) END)
       |      + (CASE WHEN n_pos = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END) = 0.0
       |      THEN 0.0
       |      ELSE 2.0 * (CASE WHEN pred_pos = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) END)
       |        * (CASE WHEN n_pos = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END)
       |        / ((CASE WHEN pred_pos = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) END)
       |        + (CASE WHEN n_pos = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END))
       |      END) * 10000 + 0.5) / 10000.0 AS f1,
       |    floor(((CAST(tp AS DOUBLE) + CAST(n - pred_pos - (n_pos - tp)
       |      AS DOUBLE)) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS acc
       |  FROM ea)""".stripMargin
  }

  /** A23: regression-metric report — n, MSE, RMSE, MAE and R² of a
    * predicted numeric column against its label, completing the evaluation
    * family (A19 AUC, A21 kappa, A22 calibration) for the REGRESSION
    * trainers (A15 boost, the curve fits). The reference records fit-time
    * metrics at ml_fit (scikit_learn_model.py:160); this is the regression
    * twin of that report as a first-class gate query.
    *
    * Per-row error math is pinned IEEE doubles over already-bit-exact
    * scores; all five sums go through the decimal image (order-independent,
    * so the single output row is partition-invariant); R² = 1 − SSE/SST
    * with the SST ≤ 0 degenerate (constant label) defined as 0, mirrored
    * in the oracle. One aggregate over one corpus scan — O(1) output. */
  def regressionReport(scored: DataFrame, scoreCol: String = "score",
                       yCol: String = "y"): DataFrame = {
    val err = col(yCol).cast("double") - col(scoreCol).cast("double")
    val rows = scored.select(col(yCol).cast("double").as("_y"),
      (err * err).as("_se"), abs(err).as("_ae"))
    val a = rows.agg(
      count(lit(1)).as("n"),
      Exact.esum(col("_se")).as("sse"),
      Exact.esum(col("_ae")).as("sae"),
      Exact.esum(col("_y")).as("sy"),
      Exact.esum(col("_y") * col("_y")).as("syy"))
    val nD = col("n").cast("double")
    val mse = col("sse") / nD
    a.withColumn("sst", col("syy") - col("sy") * col("sy") / nD)
      .select(col("n"),
        Exact.rnd4(mse).as("mse"),
        Exact.rnd4(sqrt(mse)).as("rmse"),
        Exact.rnd4(col("sae") / nD).as("mae"),
        Exact.rnd4(when(col("sst") <= 0.0, lit(0.0))
          .otherwise(lit(1.0) - col("sse") / col("sst"))).as("r2"))
  }

  /** A24: NDCG@k over a ranked retrieval result — the ranking-quality
    * metric completing the evaluation family for the retrieval/search
    * legs (D6/D7/D50–D52): given per-query ranked candidates and a 0/1
    * `rel` relevance column, emit per query the relevant count, base-2
    * DCG, and NDCG against the ideal reordering of the SAME retrieved
    * list (the standard list-wise normalization, so NDCG = 1 iff every
    * relevant hit ranks above every miss).
    *
    * The discount ln(i+1)/ln(2) is evaluated in-engine on both sides over
    * tiny integer ranks (the D30 ln precedent); both sums are
    * decimal-exact. Input is O(|Q|·k) rows — query-batch-bounded; the two
    * windows are per-query over k rows. */
  def ndcgReport(ranked: DataFrame, k: Int = 10): DataFrame = {
    val ideal = Window.partitionBy("q_id")
      .orderBy(col("rel").desc, col("rank").asc)
    val disc = (r: Column) =>
      log(r.cast("double") + lit(1.0)) / log(lit(2.0))
    val t = ranked.filter(col("rank") <= k)
      .withColumn("irank", row_number().over(ideal))
    val g = t.groupBy("q_id").agg(
      sum(col("rel").cast("long")).as("n_rel"),
      Exact.esum(col("rel").cast("double") / disc(col("rank"))).as("_dcg"),
      Exact.esum(col("rel").cast("double") / disc(col("irank"))).as("_idcg"))
    g.select(col("q_id"), col("n_rel"),
      Exact.rnd4(col("_dcg")).as("dcg"),
      Exact.rnd4(when(col("n_rel") === 0, lit(0.0))
        .otherwise(col("_dcg") / col("_idcg"))).as("ndcg"))
  }

  /** DuckDB mirror of [[ndcgReport]] as a CTE suffix over a `rankedCte`
    * exposing (q_id, rank, rel). Terminal CTE: `ndcg_out`. */
  def ndcgOracleSql(rankedCte: String, k: Int = 10): String =
    s"""nd AS (
       |  SELECT q_id, rank, rel,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, rank ASC) AS irank
       |  FROM $rankedCte WHERE rank <= $k),
       |ng AS (
       |  SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel,
       |    CAST(sum(CAST(CAST(rel AS DOUBLE)
       |      / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
       |      AS DECIMAL(38,10))) AS DOUBLE) AS dcg_raw,
       |    CAST(sum(CAST(CAST(rel AS DOUBLE)
       |      / (ln(CAST(irank AS DOUBLE) + 1.0) / ln(2.0))
       |      AS DECIMAL(38,10))) AS DOUBLE) AS idcg_raw
       |  FROM nd GROUP BY 1),
       |ndcg_out AS (
       |  SELECT q_id, n_rel,
       |    floor((dcg_raw) * 10000 + 0.5) / 10000.0 AS dcg,
       |    floor((CASE WHEN n_rel = 0 THEN 0.0
       |      ELSE dcg_raw / idcg_raw END) * 10000 + 0.5) / 10000.0 AS ndcg
       |  FROM ng)""".stripMargin

  /** Exact top-`k` retrieval with label-match relevance — the shared
    * ranked input of the A24/A25 ranking metrics: corpus labels join the
    * tiny shortlist broadcast, the corpus never shuffles. Output:
    * (q_id, rank, rel). */
  def labelRanked(emb: DataFrame, nQueries: Int = 20,
                  k: Int = 10): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
    val top = graft.sim.Ann.bruteForceTopK(q, emb, k = k)
    emb.select(col("vec_id").as("c_id"), col("label").as("_cl"))
      .join(broadcast(top.select("q_id", "c_id", "rank")), Seq("c_id"))
      .join(broadcast(q.select(col("vec_id").as("q_id"),
        col("label").as("_ql"))), Seq("q_id"))
      .select(col("q_id"), col("rank"),
        when(col("_cl") === col("_ql"), lit(1)).otherwise(lit(0)).as("rel"))
  }

  /** A25: average precision + reciprocal rank per query over a ranked
    * retrieval result — with [[ndcgReport]] the standard ranking-metric
    * pair (MAP/MRR). AP = mean over relevant positions of precision@k
    * (0 when nothing relevant); RR = 1/rank of the first relevant hit.
    * Prefix counts are one ordered window over k rows per query; every
    * division is pinned; the AP sum is decimal-exact. */
  def mapReport(ranked: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = ranked.filter(col("rank") <= k)
      .withColumn("cum", sum(col("rel").cast("long")).over(w))
    val g = t.groupBy("q_id").agg(
      sum(col("rel").cast("long")).as("n_rel"),
      Exact.esum(when(col("rel") === 1,
        col("cum").cast("double") / col("rank").cast("double"))
        .otherwise(lit(0.0))).as("_psum"),
      min(when(col("rel") === 1, col("rank"))).as("_first"))
    g.select(col("q_id"), col("n_rel"),
      Exact.rnd4(when(col("n_rel") === 0, lit(0.0))
        .otherwise(col("_psum") / col("n_rel").cast("double"))).as("ap"),
      Exact.rnd4(when(col("_first").isNull, lit(0.0))
        .otherwise(lit(1.0) / col("_first").cast("double"))).as("rr"))
  }

  /** DuckDB mirror of [[mapReport]] over a `rankedCte` exposing
    * (q_id, rank, rel). Terminal CTE: `map_out`. */
  def mapOracleSql(rankedCte: String, k: Int = 10): String =
    s"""mp AS (
       |  SELECT q_id, rank, rel,
       |    sum(rel) OVER (PARTITION BY q_id ORDER BY rank ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM $rankedCte WHERE rank <= $k),
       |mg AS (
       |  SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel,
       |    CAST(sum(CAST(CASE WHEN rel = 1
       |      THEN CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE)
       |      ELSE 0.0 END AS DECIMAL(38,10))) AS DOUBLE) AS psum,
       |    min(CASE WHEN rel = 1 THEN rank END) AS frst
       |  FROM mp GROUP BY 1),
       |map_out AS (
       |  SELECT q_id, n_rel,
       |    floor((CASE WHEN n_rel = 0 THEN 0.0
       |      ELSE psum / CAST(n_rel AS DOUBLE) END) * 10000 + 0.5)
       |      / 10000.0 AS ap,
       |    floor((CASE WHEN frst IS NULL THEN 0.0
       |      ELSE 1.0 / CAST(frst AS DOUBLE) END) * 10000 + 0.5)
       |      / 10000.0 AS rr
       |  FROM mg)""".stripMargin

  /** DuckDB mirror of [[regressionReport]] as a CTE suffix over a
    * `scoredCte` exposing `score` and numeric `y`. Terminal CTE:
    * `reg_out`. */
  def regressionOracleSql(scoredCte: String): String =
    s"""regr AS (
       |  SELECT CAST(y AS DOUBLE) AS yy,
       |    CAST(y AS DOUBLE) - CAST(score AS DOUBLE) AS err
       |  FROM $scoredCte),
       |rega AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(err * err AS DECIMAL(38,10))) AS DOUBLE) AS sse,
       |    CAST(sum(CAST(abs(err) AS DECIMAL(38,10))) AS DOUBLE) AS sae,
       |    CAST(sum(CAST(yy AS DECIMAL(38,10))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(yy * yy AS DECIMAL(38,10))) AS DOUBLE) AS syy
       |  FROM regr),
       |rego AS (
       |  SELECT n, sse, sae,
       |    syy - sy * sy / CAST(n AS DOUBLE) AS sst
       |  FROM rega),
       |reg_out AS (
       |  SELECT n,
       |    floor((sse / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS mse,
       |    floor(sqrt(sse / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0
       |      AS rmse,
       |    floor((sae / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000.0 AS mae,
       |    floor((CASE WHEN sst <= 0.0 THEN 0.0
       |      ELSE 1.0 - sse / sst END) * 10000 + 0.5) / 10000.0 AS r2
       |  FROM rego)""".stripMargin
}
