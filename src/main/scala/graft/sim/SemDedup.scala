package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Exact
import graft.functions.VectorFunctions

/** SemDeDup — semantic deduplication by embedding clustering (SURVEY.md
  * §2D28; Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication").
  *
  * The method: unit-normalize embeddings (so cosine geometry becomes
  * Euclidean and k-means clusters by direction), cluster with a coarse
  * k-means, then within each cluster drop every vector that is a
  * near-duplicate (dot ≥ τ on the normalized vectors) of ANY vector
  * closer to the cluster centroid — the paper's one-pass pairwise
  * formulation (each point thresholds its max similarity to the points
  * ahead of it in the ordering; no sequential dependency on earlier
  * verdicts, so the sweep is a single parallel self-join), made
  * deterministic here by the total priority order (centroid score
  * ascending, id ascending).
  *
  * Spark-first shape, reusing the verified IVF machinery:
  *
  *  - the quantizer is [[Ann.seededCentroids]] — deterministic
  *    sample-trained k-means whose centroids become PLAN-TIME literals,
  *    so cluster assignment is an argmin of `nlist` codegen dot folds,
  *    no model object on the hot path;
  *  - the only shuffles are the cell hash-partition of the pair sweep
  *    (both sides co-partitioned on `cell`) and the verdict semi-join —
  *    candidate verification never leaves a cluster, so total pair work
  *    is O(Σ |cell|²), bounded by `nlist`, which is exactly the paper's
  *    scaling knob (they run ~10⁵ clusters at web scale; at 100 TB the
  *    cell id doubles as the table's physical partition key like
  *    [[Ann.ivfBuild]]);
  *  - every float step (normalize, centroid fold, dot) is order-pinned
  *    double arithmetic, so a DuckDB oracle replays the training AND the
  *    sweep bit-for-bit.
  *
  * Output: one row per input vector — (id, cell, cdist, kept) where
  * `cdist` is the centroid assignment score |c|² − 2·e·c (monotone in
  * distance-to-centroid; 4-decimal-rounded for the gate) and `kept`
  * is the paper's verdict.
  */
object SemDedup {

  /** Unit-normalize an embedding to array<float>: each component is
    * double(x)/‖e‖ rounded ONCE to float32 — single-rounding in any
    * engine, so the normalized vectors are bit-identical cross-engine.
    * ‖e‖ folds left-to-right in double via the native DotProduct. */
  def unitNorm(emb: Column): Column = {
    val e = emb.cast("array<float>")
    val nrm = sqrt(VectorFunctions.dot(e, e))
    transform(e, x => (x.cast("double") / nrm).cast("float"))
  }

  /** The SemDeDup sweep. `tau` is the duplicate threshold on the dot of
    * the unit-normalized vectors (the paper's cosine; norms are 1 after
    * [[unitNorm]] up to float rounding, so dot IS cosine here — one
    * fold per pair instead of three). */
  def semanticDedup(corpus: DataFrame, nlist: Int = 16, tau: Double = 0.97,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val normed = corpus.select(col(idCol).cast("long").as("id"),
      unitNorm(col(embCol)).as("_en"))
    val cents = Ann.seededCentroids(normed, nlist, idCol = "id", embCol = "_en")
    // argmin over plan-time centroid literals: struct(d, i) sorts by score
    // first, ties to the lower cell — same contract as Ann's cell assign
    val s = array_min(array(Ann.centScores(cents, col("_en")): _*))
    val members = normed.select(col("id"), col("_en"),
      s.getField("i").as("cell"), s.getField("d").as("cdist"))
    // a vector is dropped iff some cell-mate with strictly higher priority
    // (closer to the centroid; ties to the smaller id) is its near-dup —
    // first-wins along the paper's centroid-similarity order. LEFT SEMI:
    // the pair explosion collapses to the verdict inside the join.
    val earlier = members.select(col("id").as("_b_id"), col("_en").as("_eb"),
      col("cell").as("_b_cell"), col("cdist").as("_b_cdist"))
    val dropped = members.join(earlier,
      col("cell") === col("_b_cell") &&
        (col("_b_cdist") < col("cdist") ||
          (col("_b_cdist") === col("cdist") && col("_b_id") < col("id"))) &&
        VectorFunctions.dot(col("_en"), col("_eb")) >= lit(tau),
      "left_semi")
      .select(col("id"), lit(false).as("kept"))
    members
      .join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        Exact.rnd4(col("cdist")).as("cdist"),
        coalesce(col("kept"), lit(true)).as("kept"))
  }

  /** D43: semantic benchmark decontamination — the embedding-space twin
    * of the n-gram decontaminer (§2D19): a corpus vector is contaminated
    * when its cosine to ANY benchmark vector reaches `tau` (paraphrased
    * eval leakage that shares no n-grams still lands next to its source
    * in embedding space). The benchmark is O(eval-suite) small by
    * construction, so it collects to plan-time literals and the corpus
    * pays ONE map-only scan — max-sim = greatest() over codegen cosine
    * folds, zero shuffle, no join at all; max is exact (order-free), so
    * the verdict replays in any engine. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            tau: Double = 0.30,
                            idCol: String = "vec_id",
                            embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bench = benchmark
      .select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<float>").as("e"))
      .as[(Long, Array[Float])].collect().sortBy(_._1) // SCALE:semdedup-centroids
    require(bench.nonEmpty, "semanticDecontaminate: empty benchmark")
    val benchIds = bench.map(_._1).toSet
    val sims = bench.map { case (_, e) =>
      VectorFunctions.cosine(col(embCol), typedlit(e))
    }
    corpus
      .filter(!col(idCol).isin(benchIds.toSeq: _*))
      .select(col(idCol), greatest(sims: _*).as("_mx"))
      .select(col(idCol), Exact.rnd4(col("_mx")).as("max_bench_sim"),
        (col("_mx") < lit(tau)).as("kept"))
  }
}
