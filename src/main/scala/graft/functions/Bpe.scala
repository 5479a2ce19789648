package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{shingles, tokens}

/** Byte-pair-encoding vocabulary training over the corpus (SURVEY §2
  * D59/D60) — the tokenizer-training step of an LLM data pipeline,
  * expressed Spark-first.
  *
  * Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units") trains on the WORD-FREQUENCY table, not the
  * raw corpus: one corpus pass builds `(word, count)`, then every merge
  * iteration runs on that compact vocabulary. That is exactly the shape
  * that scales: at 100 TB the corpus pass is one shuffle to distinct
  * words (~10⁷–10⁸ rows however large the input), each of the K
  * iterations is one distributed aggregate over the vocab plus a map-side
  * rewrite, and the driver only ever sees K single-row argmax results —
  * the learned merge list, which then feeds scoring as plan literals (the
  * seeded-centroid precedent, Ann.seededCentroids).
  *
  * Cross-engine determinism: symbol sequences are spaced strings
  * (" c h a r s "), pair counts are integer sums, the winning pair is
  * argmax with a total order (count desc, pair asc), and a merge is
  * applied as TWO leftmost-non-overlapping `replace` passes of
  * `" a b " → " ab "` — the double pass catches the occurrences the first
  * pass's consumed separator hides (" a b a b " needs two). For
  * interleaved runs this picks merge sites slightly differently from the
  * canonical left-to-right greedy fold (" a a a a a " merges symbols
  * 1-2/4-5, the fold merges 1-2/3-4) — an explicitly-documented
  * deterministic variant; real BPE implementations already differ on
  * exactly these ties, and both engines compute THIS definition
  * bit-identically because replace is leftmost-non-overlapping in each.
  */
object Bpe {

  /** The spaced-symbol image of a word: " c h a r s " (sentinel spaces so
    * every symbol, first and last included, is space-delimited for the
    * replace pattern). DuckDB mirror:
    * `' ' || array_to_string(list_transform(generate_series(1, length(w)),
    *    i -> substring(w, i, 1)), ' ') || ' '`. */
  def spaced(w: Column): Column =
    concat(lit(" "), concat_ws(" ",
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))),
      lit(" "))

  /** One merge application: both passes of the documented double-replace.
    * `pair` is "a b", `merged` "ab". */
  def applyMerge(sp: Column, pair: String, merged: String): Column = {
    val pat = lit(" " + pair + " ")
    val rep = lit(" " + merged + " ")
    replace(replace(sp, pat, rep), pat, rep)
  }

  /** The word-frequency table with spaced symbols: one corpus pass.
    * Empty words (blank documents) are dropped on both sides. */
  def vocabulary(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("wd"))
      .filter(col("wd") =!= "")
      .groupBy("wd").agg(count(lit(1)).as("cnt"))
      .withColumn("sp", spaced(col("wd")))

  /** Train `k` merges. Each iteration: pair counts over the vocab (the
    * `shingles(syms, 2)` elements are already "a b" strings), argmax with
    * the total order, rewrite the vocab map-side. Returns
    * (rank, pair, merged, count) — K rows of driver state, the model. */
  def train(docs: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    var vocab = vocabulary(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    try {
      for (rank <- 1 to k) {
        val syms = split(trim(col("sp")), " ")
        val top = vocab
          .select(explode(shingles(syms, 2)).as("pr"), col("cnt"))
          .groupBy("pr").agg(sum("cnt").as("c"))
          .orderBy(col("c").desc, col("pr").asc)
          .limit(1).collect() // SCALE:bpe-best-pair
        if (top.isEmpty) return out.result()
        val pair = top(0).getString(0)
        val merged = pair.replace(" ", "")
        out += ((rank, pair, merged, top(0).getLong(1)))
        val next = vocab.withColumn("sp", applyMerge(col("sp"), pair, merged))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent iterate
        vocab.unpersist(blocking = false)
        vocab = next
      }
      out.result()
    } finally vocab.unpersist(blocking = false)
  }

  /** The learned merge list as a DataFrame (for the train query's
    * contract). */
  def merges(spark: SparkSession, ms: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    ms.toDF("merge_rank", "pair", "merged", "cnt")
  }

  /** Tokenize with a trained merge list: per document, the subword count
    * after every merge is applied to every word. The merges are plan-time
    * literals, so this is a pure map — zero shuffle, whole-stage codegen,
    * embarrassingly parallel at any corpus size. */
  def subwordCounts(docs: DataFrame,
                    ms: Seq[(Int, String, String, Long)]): DataFrame = {
    val words = filter(tokens(col("text")), w => w =!= "")
    val applied = transform(words, w =>
      ms.foldLeft(spaced(w)) { case (s, (_, pair, merged, _)) =>
        applyMerge(s, pair, merged)
      })
    val nSub = aggregate(applied, lit(0),
      (acc, s) => acc + size(split(trim(s), " ")))
    docs.select(col("doc_id"), size(words).as("n_words"),
      nSub.as("n_subwords"),
      graft.core.Exact.rnd4(nSub.cast("double") / size(words))
        .as("subwords_per_word"))
  }
}
