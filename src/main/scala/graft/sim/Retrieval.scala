package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exact
import graft.functions.TextFunctions

/** Hybrid (sparse + dense) retrieval — SURVEY.md §2D52.
  *
  * The two legs a production search stack runs side by side — the D51
  * lexical BM25-shape ranking over inverted postings and the exact-cosine
  * dense ranking — fused with reciprocal-rank fusion (Cormack, Clarke &
  * Buettcher 2009: score(d) = Σ_legs 1/(k0 + rank_leg(d)), the standard
  * rank-level combiner because it needs no score calibration between
  * incommensurable scorers). RRF reads ONLY ranks, which are integers in
  * both engines, and 1/(k0+r) over integer operands is a single IEEE
  * division — so the fusion replays bit-for-bit cross-engine on top of
  * two legs that are already hash-green.
  *
  * Scale shape: each leg prunes at its own source (term-bucketed postings
  * for the lexical leg, the IVF/PQ partition-pruned index for the dense
  * leg), so fusion sees two ≤topN-row inputs — a broadcast-sized full
  * outer join whose cost is independent of corpus size. At 100 TB the
  * legs are the index scans; the fusion is free.
  */
object Retrieval {

  /** The D51 lexical ranking as a reusable leg: BM25-shape scoring
    * (tf saturation × rational log-free idf × length normalization, the
    * exact arithmetic of `text_search_lexical`) reduced to its rank
    * order — (id, rank) for the `topN` best docs under
    * (raw score DESC, id ASC). The term IN-filter runs map-side before
    * the postings groupBy, so only the query terms' postings shuffle.
    */
  def bm25Rank(docs: DataFrame, rawTerms: Seq[String], topN: Int,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(rawTerms.nonEmpty, "bm25Rank: no query terms")
    // dedup caller terms: the fixed-order conditional sum would count a
    // repeated term twice (same contract as InvertedIndex.query)
    val terms = rawTerms.distinct
    val base = docs.select(col(idCol).as("id"),
      size(TextFunctions.tokens(col(textCol))).as("dl"),
      TextFunctions.tokens(col(textCol)).as("_t"))
    val stats = base.agg(count(lit(1)).as("n"),
      sum(col("dl").cast("long")).as("total_len"))
    val postings = base
      .select(col("id"), col("dl"), explode(col("_t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    val nD = col("n").cast("double")
    val dfD = col("df").cast("double")
    val rel = col("dl").cast("double") /
      (col("total_len").cast("double") / nD)
    val idfR = (nD - dfD + 0.5) / (dfD + 0.5)
    val sat = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * rel))
    val dfTab = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val comp = postings
      .join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"), (idfR * sat).as("c"))
    // fixed-order term sum — the pinned accumulation order the oracle
    // mirrors (left-assoc over the term list, absent terms contribute 0)
    val score = terms.map { t =>
      coalesce(sum(when(col("term") === t, col("c"))), lit(0.0))
    }.reduceLeft(_ + _)
    // distributed top-k: the scored table is O(docs matching any query
    // term) — corpus-scale for common terms — so the rank must lower to
    // TakeOrderedAndProject; the row_number window then sees only topN
    // rows (identical deterministic ties: same total order both steps)
    val w = Window.orderBy(col("_score").desc, col("id").asc) // SCALE:lexical-rank
    comp.groupBy("id").agg(score.as("_score"))
      .orderBy(col("_score").desc, col("id").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(w))
      .select(col("id"), col("rank"))
  }

  /** Reciprocal-rank fusion of named rank legs: each leg is an
    * (id, rank) DataFrame (any source — lexical, dense, a re-ranker);
    * fused score = Σ_legs 1/(k0 + rank) with a doc absent from a leg
    * contributing 0. Output: (idOut, <name> per leg — the doc's rank in
    * that leg, 0 = absent —, rrf rounded to 4dp), top `k` under
    * (raw rrf DESC, id ASC).
    *
    * The single-partition window over the fused rows is safe by
    * construction: its input is ≤ Σ topN rows (the legs already pruned),
    * never corpus-sized.
    */
  def rrfFuse(legs: Seq[(String, DataFrame)], k: Int, k0: Int = 60,
              idOut: String = "doc_id"): DataFrame = {
    require(legs.nonEmpty, "rrfFuse: no legs")
    val named = legs.zipWithIndex.map { case ((_, df), i) =>
      df.select(col("id"), col("rank").as(s"_r$i"))
    }
    val joined = named.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    // left-assoc leg sum; 1/(k0+null) is null → coalesce → 0 for absent
    val rrf = legs.indices.map { i =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"_r$i").cast("double")),
        lit(0.0))
    }.reduceLeft(_ + _)
    val rankCols = legs.zipWithIndex.map { case ((name, _), i) =>
      coalesce(col(s"_r$i"), lit(0)).as(name)
    }
    joined.select(col("id") +: rankCols :+ rrf.as("_rrf"): _*)
      .orderBy(col("_rrf").desc, col("id").asc).limit(k)
      .select(col("id").as(idOut) +: legs.map(l => col(l._1)) :+
        Exact.rnd4(col("_rrf")).as("rrf"): _*)
  }
}
