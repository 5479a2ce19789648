package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, Fixtures, Tables}
import graft.sim.{Ann, InvertedIndex, Retrieval, SemDedup}

/** Similarity-search queries over the `embeddings` table (SURVEY.md
  * §2D6–D7). Query set = vectors with vec_id < 20; corpus = full table.
  *
  * All three carry full DuckDB oracles (the sequential-double cosine/dot
  * folds are bit-identical across engines — verified; the LSH hyperplanes
  * are data-independent md5 literals the oracle generator recomputes, so
  * the bucket layout and multi-probe set mirror exactly). ann_ivf's
  * quantizer is [[graft.sim.Ann.seededCentroids]] — deterministic
  * md5-sampled init + fixed Lloyd iterations with order-pinned folds — so
  * the oracle REPLAYS THE TRAINING itself as unrolled SQL (one CTE block
  * per iteration, every fold a list_sum over an i- or id-ordered list,
  * DuckDB's sequential left fold ≡ the driver loop's accumulation order)
  * and lands on bit-identical centroids, cells, probe sets and ranking.
  */
object SimQueries {

  private def qset(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 20)

  /** The on-disk IVF index for `ann_ivf_probe`, built once per (JVM, sf
    * dir) — index construction is the reusable build step of the layout
    * (SURVEY §2D7c), not per-query work; Bench pre-builds it outside the
    * timed region exactly like the STAC fixtures. */
  def ivfIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"ivf_idx:$d") {
      val path = Fixtures.dir("ivf_idx")
      Ann.ivfBuild(Tables.embeddings(s, d), path, nlist = 16)
      path
    }

  /** Shared deterministic quantizers, trained once per (JVM, sf dir) —
    * the FAISS train/add separation: ann_ivf, ann_pq, ann_ivfpq and the
    * physical builds all reuse the identical coarse centroids and PQ
    * codebooks instead of re-deriving them per query. Determinism makes
    * the cache transparent: the trained arrays are a pure function of
    * the table. */
  private def coarse16(s: SparkSession, d: String): Array[Array[Double]] =
    Fixtures.once(s"coarse16:$d") {
      Ann.seededCentroids(Tables.embeddings(s, d), nlist = 16)
    }
  private def coarse128(s: SparkSession, d: String): Array[Array[Double]] =
    Fixtures.once(s"coarse128:$d") {
      Ann.seededCentroids(Tables.embeddings(s, d), nlist = 128)
    }
  private def books4x16(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] =
    Fixtures.once(s"books4x16:$d") {
      Ann.pqCodebooks(Tables.embeddings(s, d), m = 4, ksub = 16, dims = 64)
    }
  private def resBooks4x16(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] =
    Fixtures.once(s"res_books4x16:$d") {
      Ann.pqResidualCodebooks(Tables.embeddings(s, d), coarse16(s, d),
        m = 4, ksub = 16, dims = 64)
    }

  /** The on-disk IVF-PQ layout for `ann_ivfpq_probe`, built once per
    * (JVM, sf dir) like [[ivfIndex]]. */
  def ivfPqIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"ivfpq_idx:$d") {
      val path = Fixtures.dir("ivfpq_idx")
      Ann.ivfPqBuild(Tables.embeddings(s, d), path, nlist = 16,
        m = 4, ksub = 16, dims = 64)
      path
    }

  /** The stream-ingested IVF-PQ layout for `ann_ivfpq_stream` (E11
    * through the gate): quantizers trained on the day-0 snapshot (the
    * shared deterministic [[coarse16]]/[[books4x16]] — the FAISS train
    * step), the base quarter indexed one-shot, the rest micro-batched in
    * through [[graft.sim.Ann.ivfPqAdd]] with the STORED quantizers (add
    * never retrains). Cell assignment and codes are pure functions of the
    * stored quantizers, so the final layout's logical content equals the
    * one-shot [[ivfPqIndex]] exactly and the probe reuses
    * `ann_ivfpq_probe`'s hash oracle VERBATIM — batch splits and append
    * bookkeeping are hash-gated, not just spec-pinned. */
  def ivfPqStreamIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"ivfpq_stream:$d") {
      val path = Fixtures.dir("ivfpq_stream")
      val emb = Tables.embeddings(s, d)
      Ann.ivfPqBuild(emb.filter(col("vec_id") % 4 === 0), path, nlist = 16,
        m = 4, ksub = 16, dims = 64,
        coarse = Some(coarse16(s, d)), books = Some(books4x16(s, d)))
      val (arrivals, stage) = Fixtures.stage(
        emb.filter(col("vec_id") % 4 =!= 0).select(col("vec_id"), col("embedding"))
          .repartition(3, col("vec_id")))
      Fixtures.drain(arrivals.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Ann.ivfPqAdd(batch, path)
        }.start(), stage)
      path
    }

  /** Exact per-dim vector moments in ONE mergeable aggregate — count +
    * 64 exact decimal element sums ([[graft.functions.VecESum]]), the
    * state every standardization/PCA fit reads. Batch anchor of the E14
    * stream: because the aggregate is mergeable and decimal adds commute,
    * maintaining it per micro-batch lands bit-equal to one batch pass. */
  private def momentsRow(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{toColumn, toExpression}
    val sums = toColumn(graft.functions.VecESum(
      toExpression(transform(col("embedding"), x => x.cast("double"))), 64)
      .toAggregateExpression())
    emb.filter(col("embedding").isNotNull)
      .agg(count(lit(1)).as("n"), sums.as("_s"))
      .select(col("n") +: (0 until 64).map(j =>
        element_at(col("_s"), j + 1).as(s"s$j")): _*)
  }

  /** The stream-maintained moments for `embed_moments_stream` (E14
    * through the gate): the embeddings replayed into a COMPLETE-mode
    * global [[momentsRow]] aggregate — Spark partial-aggregates each
    * micro-batch and MERGES into the state store with VecESum's own
    * merge(), so the online moments reproduce `embed_moments`' hash oracle
    * verbatim (exact decimal adds commute across arbitrary batch splits).
    * The state an online standardizer or periodic PCA refresh reads
    * between batches. */
  def momentsStream(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, Fixtures.once(s"moments_stream:$d") {
      val (arrivals, stage) = Fixtures.stage(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding")).repartition(3, col("vec_id")))
      Fixtures.drainComplete(momentsRow(arrivals), "moments_out", stage)(
        identity)
    })

  /** The on-disk RESIDUAL-encoded IVF-PQ layout for
    * `ann_ivfpq_residual_probe`, built once per (JVM, sf dir) with the
    * shared deterministic quantizers — the FAISS-default encoding as the
    * at-rest index. */
  def ivfPqResIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"ivfpqres_idx:$d") {
      val path = Fixtures.dir("ivfpqres_idx")
      Ann.ivfPqResidualBuild(Tables.embeddings(s, d), path, nlist = 16,
        m = 4, ksub = 16, dims = 64,
        coarse = Some(coarse16(s, d)), books = Some(resBooks4x16(s, d)))
      path
    }

  /** The DELETE-lifecycle IVF index for `ann_ivf_delete`, built once per
    * (JVM, sf dir): build on the full table, delete ids ≡3 (mod 7), FOLD
    * that delete in via compaction (physical rewrite), then delete ids
    * ≡5 (mod 11) left as LIVE tombstones — so one probe exercises both
    * halves of the FAISS remove_ids analog at the hash gate. */
  def ivfDelIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"ivfdel_idx:$d") {
      val path = Fixtures.dir("ivfdel_idx")
      val emb = Tables.embeddings(s, d)
      Ann.ivfBuild(emb, path, nlist = 16)
      Ann.ivfDelete(s, path, emb.filter(col("vec_id") % 7 === 3))
      Ann.ivfCompactDeletes(s, path)
      Ann.ivfDelete(s, path, emb.filter(col("vec_id") % 11 === 5))
      path
    }

  /** Per-dim SQ8 stats, trained once per (JVM, sf dir) like [[coarse16]]. */
  private def sq8Stats(s: SparkSession, d: String)
      : (Array[Double], Array[Double]) =
    Fixtures.once(s"sq8:$d")(Ann.sq8Stats(Tables.embeddings(s, d)))

  /** Exact top-10 with label-match relevance — the shared ranked input of
    * the A24/A25 ranking metrics ([[graft.ml.Eval.labelRanked]]). */
  private def labelRanked(s: SparkSession, d: String): DataFrame =
    graft.ml.Eval.labelRanked(Tables.embeddings(s, d), nQueries = 20, k = 10)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "ann_topk" -> { (s, d) =>
      Ann.bruteForceTopK(qset(s, d), Tables.embeddings(s, d), k = 5)
    },

    // A24: NDCG@10 of exact retrieval against label-match relevance — the
    // ranking-quality metric for the retrieval legs; ideal ordering is the
    // reordered retrieved list (NDCG = 1 iff relevants rank first).
    "ml_eval_ndcg" -> { (s, d) =>
      graft.ml.Eval.ndcgReport(labelRanked(s, d), k = 10)
    },

    // A25: MAP@10 + MRR over the same ranked retrieval — the other half
    // of the standard ranking-metric pair.
    "ml_eval_map" -> { (s, d) =>
      graft.ml.Eval.mapReport(labelRanked(s, d), k = 10)
    },

    // D84: attribute-filtered vector search — per-query same-label top-3;
    // the predicate evaluates map-side inside the broadcast scan.
    "ann_filtered" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Ann.filteredTopK(emb.filter(col("vec_id") < 20), emb, k = 3)
    },

    // D81: MMR diversified re-ranking — exact top-8 retrieval, then the
    // greedy λ-relevance / (1−λ)-redundancy selection of 4; all sims on
    // the rnd4 grid before the MMR arithmetic so the greedy replays.
    "ann_mmr" -> { (s, d) =>
      Ann.mmrRerank(qset(s, d), Tables.embeddings(s, d))
    },

    // D83: the within-cell k-NN graph with mutual-edge flags — the
    // backbone of graph-based embedding curation. nlist = 128, NOT the
    // retrieval ops' 16: within-cell pair volume is O(n²/nlist), and the
    // graph build touches ALL pairs (measured 210 s at sf1 with nlist=16
    // vs the paper's own knob — cells must shrink as the corpus grows).
    "embed_knn_graph" -> { (s, d) =>
      Ann.knnGraph(Tables.embeddings(s, d), k = 4, nlist = 128,
        coarse = Some(coarse128(s, d)))
    },

    // D68: clustering QC — simplified silhouette against the seeded
    // k-means cells; one zero-shuffle literal-centroid map.
    "embed_silhouette" -> { (s, d) =>
      Ann.silhouette(Tables.embeddings(s, d), nlist = 16)
    },

    // D70: recall@k as a first-class measurement — the IVF(4/16) probe's
    // top-5 against the exact top-5, per query. Index QC belongs in the
    // pipeline, not just in specs: this is the query a lake runs after
    // every index rebuild. Both sides are the already-verified plans;
    // the overlap join runs on O(queries·k) rows.
    "ann_recall" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = qset(s, d)
      val exact = Ann.bruteForceTopK(qs, emb, k = 5).select("q_id", "c_id")
      val approx = Ann.ivfTopK(qs, emb, k = 5, nlist = 16, nProbe = 4,
        coarse = Some(coarse16(s, d))).select("q_id", "c_id")
      exact.join(approx.withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .withColumn("recall",
          Exact.rnd4(col("n_hit").cast("double") / col("n_true")))
    },

    // A16: k-NN classification — exact top-5 cosine neighbors vote on the
    // label (ties break on the smaller label), the lazy-learning baseline
    // of the embedding-model family. Plan: the ann_topk broadcast-scan +
    // heap prune, then the tiny neighbor table broadcasts BACK against
    // the label projection — the corpus is scanned, never shuffled; the
    // vote window runs on O(queries·labels) rows.
    "ml_knn_predict" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val nn = Ann.bruteForceTopK(qset(s, d), emb, k = 5)
      val labeled = emb.select(col("vec_id").as("c_id"), col("label"))
        .join(broadcast(nn), Seq("c_id"))
      val votes = labeled.groupBy("q_id", "label")
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("label").asc)
      val best = votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
      emb.select(col("vec_id").as("q_id"), col("label").as("true_label"))
        .join(broadcast(best), Seq("q_id"))
        .select(col("q_id"), col("label").as("pred_label"), col("votes"),
          col("true_label"),
          (col("label") === col("true_label")).as("correct"))
    },

    // D61: hash-verified PCA — top component by distributed power
    // iteration (C·v as one dims-sum aggregate per pass, never a dims²
    // moment matrix), then the all-but-the-top projection/residual per
    // vector. Fit and scoring replay bit-identically in the generated
    // CTE oracle (graft.ml.Pca.oracleSql).
    "embed_pca" -> { (s, d) =>
      graft.ml.Pca.fitProject(Tables.embeddings(s, d), dims = 64, iters = 10)
    },

    // D62: two components via deflation — the 2-D embedding map plus the
    // both-removed residual; λ₁ from a Rayleigh-quotient pass, chain 2 on
    // C − λ₁u₁u₁ᵀ with the correction as literal math. 6 iterations per
    // chain (deterministic replay needs a fixed count, not convergence).
    "embed_pca2" -> { (s, d) =>
      graft.ml.Pca.fitProject2(Tables.embeddings(s, d), dims = 64, iters = 6)
    },

    // D46: int8 scalar quantization — one byte per dimension on a uniform
    // per-dim [min, max] grid (4× smaller than float32), ranking on the
    // dequantized vectors with the same broadcast-scan heap-prune plan as
    // the exact baseline. Training is just per-dim min/max (order-free,
    // exact), so the oracle replays stats, codes, reconstructions and
    // ranks bit-for-bit.
    "ann_sq8" -> { (s, d) =>
      Ann.sq8TopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        stats = Some(sq8Stats(s, d)))
    },

    // D48: 1-bit binary quantization — 64 dims pack into ONE Long (64×
    // compression), Hamming pre-rank via bit_count(xor), exact-cosine
    // refine on the top-64 shortlist. Thresholds are the SQ8 stats'
    // midranges, so training is shared with ann_sq8 and the shortlist
    // order is pure integer math in both engines.
    "ann_binary" -> { (s, d) =>
      Ann.binaryTopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        stats = Some(sq8Stats(s, d)))
    },

    // D42: contrastive hard-negative mining — per query the top-5
    // candidates with cosine in [0.15, 0.30): informative negatives below
    // the near-dup band (the corpus median sim is ~0.005, p99 ~0.29).
    "ann_hard_negatives" -> { (s, d) =>
      Ann.hardNegatives(qset(s, d), Tables.embeddings(s, d), n = 5,
        lo = 0.15, hi = 0.30)
    },

    "ann_lsh" -> { (s, d) =>
      // multi-probe: each query also checks one-bit-flipped buckets —
      // higher recall for query-side-only extra lookups (AnnSpec measures)
      Ann.lshTopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        planes = 4, tables = 8, hammingProbes = 1)
    },

    "ann_ivf" -> { (s, d) =>
      Ann.ivfTopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        nlist = 16, nProbe = 4, coarse = Some(coarse16(s, d)))
    },

    // D56: cluster-balanced coordinated sampling — every k-means cell
    // contributes its 16 smallest-md5(id) members, so dense regions can't
    // crowd out rare modes and the draw is nested/coordinated like every
    // sampler here. Shares the ann_ivf quantizer (train once per sf dir).
    "embed_diversity_sample" -> { (s, d) =>
      Ann.diversitySample(Tables.embeddings(s, d), perCell = 16,
        nlist = 16, coarse = Some(coarse16(s, d)))
    },

    // D75: farthest-first k-center selection (Gonzalez) — the greedy
    // coverage-maximizing coreset: 8 centers, every vector assigned to
    // its nearest center with the true distance; the whole greedy
    // trajectory (seed, every argmax round) replays in the oracle.
    "embed_kcenter" -> { (s, d) =>
      graft.sim.KCenter.coverQuery(Tables.embeddings(s, d), k = 8)
    },

    // D73: Johnson-Lindenstrauss ±1 projection (Achlioptas) — 64 floats →
    // 16 doubles as a pure zero-shuffle map; signs are md5-parity plan
    // literals the oracle generator recomputes, every coordinate a
    // left-associated ±x fold. norm_ratio shows the JL distortion.
    "embed_project" -> { (s, d) =>
      graft.sim.Project.jlProject(Tables.embeddings(s, d))
    },

    // D63: embedding-space outlier scoring — diagonal-Mahalanobis norm
    // from one exact moment pass; means/stds as plan literals, zero
    // shuffle. τ=9 ≈ the 64-dim z-norm envelope.
    "embed_outlier" -> { (s, d) =>
      graft.ml.Pca.outlier(Tables.embeddings(s, d), dims = 64, tau = 9.0)
    },

    // D37: product-quantization ADC scan — 4 subspace codebooks of 16
    // codes (64 dims → 4 byte codes/vector, 64× compression), ranking
    // from codes + per-query distance tables only. Every codebook is
    // seeded-k-means, so the oracle replays all four trainings.
    "ann_pq" -> { (s, d) =>
      Ann.pqTopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        m = 4, ksub = 16, dims = 64, books = Some(books4x16(s, d)))
    },

    // D39: the composed FAISS-IVFPQ query shape — coarse cells prune the
    // scan, PQ codes rank the probed cells, exact refine on the shortlist.
    "ann_ivfpq" -> { (s, d) =>
      Ann.ivfPqTopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        nlist = 16, nProbe = 4, m = 4, ksub = 16, dims = 64,
        coarse = Some(coarse16(s, d)), books = Some(books4x16(s, d)))
    },

    // D39b: the PHYSICAL IVF-PQ layout through the gate — codes + raw
    // vectors partitioned by coarse cell on disk, probe = partition
    // IN-filter + compressed ranking + in-row refine; identical ranking
    // to the in-memory plan, so it shares the ann_ivfpq oracle.
    "ann_ivfpq_probe" -> { (s, d) =>
      Ann.ivfPqProbe(s, ivfPqIndex(s, d), qset(s, d), k = 5, nProbe = 4)
    },

    // E11 through the gate: the STREAM-INGESTED index — base quarter
    // one-shot, the rest appended per micro-batch with the stored
    // quantizers — must rank identically to the one-shot layout, so the
    // probe reuses ann_ivfpq_probe's hash oracle verbatim.
    "ann_ivfpq_stream" -> { (s, d) =>
      Ann.ivfPqProbe(s, ivfPqStreamIndex(s, d), qset(s, d), k = 5,
        nProbe = 4)
    },

    // E14 batch anchor: exact per-dim vector moments (count + 64 exact
    // decimal element sums in one mergeable aggregate) — the state every
    // standardization/PCA fit reads, hash-gated on its own.
    "embed_moments" -> { (s, d) => momentsRow(Tables.embeddings(s, d)) },

    // E14 through the gate: the moments MAINTAINED as streaming state —
    // complete-mode merge over micro-batches must reproduce the batch
    // anchor's oracle verbatim (exact decimal adds commute).
    "embed_moments_stream" -> { (s, d) => momentsStream(s, d) },

    // D39c: residual-encoded IVF-PQ (the FAISS IndexIVFPQ default) —
    // codes quantize e − cent, reconstruction = cent + r̂ with every
    // cross term a plan literal; tighter quantization than ann_ivfpq's
    // raw-space codes at the same bit budget. Full replay oracle: coarse
    // chain → float-rounded residuals → m sub-trainings → literal
    // norm/cross tables, bit-for-bit.
    "ann_ivfpq_residual" -> { (s, d) =>
      Ann.ivfPqResidualTopK(qset(s, d), Tables.embeddings(s, d), k = 5,
        nlist = 16, nProbe = 4, m = 4, ksub = 16, dims = 64,
        coarse = Some(coarse16(s, d)), books = Some(resBooks4x16(s, d)))
    },

    // D39d: the residual encoding AT REST — written through the D39b
    // physical layout (residual codes + the cross-term-baked norm inline,
    // partitionBy(cell)), probe = partition IN-filter + stored-code ADC +
    // in-row refine; identical ranking to the in-memory residual plan →
    // shares its oracle.
    "ann_ivfpq_residual_probe" -> { (s, d) =>
      Ann.ivfPqResidualProbe(s, ivfPqResIndex(s, d), qset(s, d),
        k = 5, nProbe = 4)
    },

    // D7c through the gate: the PHYSICAL index path — corpus written
    // partitionBy(cell), probe = partition IN-filter reading only the
    // probed directories — must produce the identical ranking to the
    // in-memory plan; with the deterministic quantizer both share the
    // SAME oracle, so the layout round-trip is hash-gated, not just
    // spec-asserted.
    "ann_ivf_probe" -> { (s, d) =>
      Ann.ivfProbe(s, ivfIndex(s, d), qset(s, d), k = 5, nProbe = 4)
    },

    // D86 through the gate: the FAISS remove_ids analog — one probe
    // against a layout that has BOTH a compacted delete (ids ≡3 mod 7,
    // physically rewritten out) and live tombstones (ids ≡5 mod 11,
    // anti-joined at probe time); the oracle replays the same training on
    // the FULL corpus (delete never retrains) and excludes the deleted
    // ids from the candidates — tombstone AND compaction semantics are
    // hash-verified, not just spec-pinned.
    "ann_ivf_delete" -> { (s, d) =>
      Ann.ivfProbe(s, ivfDelIndex(s, d), qset(s, d), k = 5, nProbe = 4)
    },

    // D43: semantic decontamination — corpus vs the vec_id<20 benchmark
    // set, max-cosine verdict at τ=0.30, map-only (benchmark = literals).
    "dedup_semantic_decontam" -> { (s, d) =>
      SemDedup.semanticDecontaminate(
        Tables.embeddings(s, d), qset(s, d), tau = 0.30)
    },

    // D28: SemDeDup over the planted-near-dup corpus (embeddings ∪
    // cosine-invariant 1.5×-scaled copies — the dedup_embedding fixture):
    // every scaled copy is a semantic duplicate of its original, so the
    // sweep must drop exactly one of each pair, deterministically.
    "dedup_semantic" -> { (s, d) =>
      SemDedup.semanticDedup(DedupQueries.embCorpus(s, d),
        nlist = 16, tau = 0.97)
    },

    // D52: hybrid search — the lexical BM25-shape leg (terms hash/merge/
    // window, top-20) and the dense exact-cosine leg (query = vector 0,
    // top-20) fused with reciprocal-rank fusion (k0=60). Fusion reads
    // only integer ranks, so it replays exactly on top of two legs that
    // are each hash-green on their own; the full outer join runs on two
    // ≤20-row pruned inputs — corpus-size-independent.
    "search_hybrid_rrf" -> { (s, d) =>
      val lex = Retrieval.bm25Rank(Tables.documents(s, d),
        Seq("hash", "merge", "window"), topN = 20)
      val vec = Ann.bruteForceTopK(
          Tables.embeddings(s, d).filter(col("vec_id") === 0),
          Tables.embeddings(s, d), k = 20)
        .select(col("c_id").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq("lex_rank" -> lex, "vec_rank" -> vec), k = 10)
    },

    // D89 through the gate: the PHYSICAL inverted index — postings
    // written partitionBy(term-bucket), query = bucket IN-filter reading
    // only the probed directories (spec-asserted via inputFiles) — must
    // produce the identical BM25-shape ranking to the D51 direct query,
    // so the layout round-trip shares text_search_lexical's hash oracle.
    "search_index_probe" -> { (s, d) =>
      InvertedIndex.query(s, invIndex(s, d),
        Seq("hash", "merge", "window"), topN = 20)
    },

    // D89 full lifecycle through the gate: build on ⅔ of the corpus, ADD
    // the remaining third (stored-layout append, no rewrite), DELETE every
    // doc_id % 7 == 0 (tombstones + negative stats partial), COMPACT
    // (crash-safe swap folds the tombstones), then query. The oracle is
    // the direct BM25 arithmetic over the equivalent LIVE corpus — so
    // add/delete/compact bookkeeping (stats partials included) is
    // hash-gated, not just spec-asserted.
    "search_index_lifecycle" -> { (s, d) =>
      InvertedIndex.query(s, invLifecycleIndex(s, d),
        Seq("hash", "merge", "window"), topN = 20)
    },

    // E20 through the gate: the STREAMED-ingest twin of
    // search_index_probe. A quarter of the corpus is indexed one-shot;
    // the rest arrives as a Structured Streaming file source (one file
    // per micro-batch) whose foreachBatch runs InvertedIndex.add — each
    // batch appends its postings inside the term-bucket dirs plus one
    // stats partial, never rewriting. The query path must then see one
    // homogeneous layout: this key shares text_search_lexical's hash
    // oracle VERBATIM, so the whole streamed lifecycle (batch splits,
    // append bookkeeping, stats partial merges) is hash-gated the way
    // E11b gated residual streaming add — not just spec-pinned.
    "search_index_stream" -> { (s, d) =>
      InvertedIndex.query(s, invStreamIndex(s, d),
        Seq("hash", "merge", "window"), topN = 20)
    }
  )

  /** The on-disk inverted index for `search_index_probe`, built once per
    * (JVM, sf dir) like [[ivfIndex]] — construction is the reusable build
    * step of the layout, not per-query work. */
  def invIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"inv_idx:$d") {
      val path = Fixtures.dir("inv_idx")
      InvertedIndex.build(Tables.documents(s, d), path, nBuckets = 16)
      path
    }

  /** The stream-ingested index for `search_index_stream`: base quarter
    * one-shot, the rest micro-batched in through [[InvertedIndex.add]],
    * which appends postings and one stats partial per batch and never
    * rewrites — so the final layout answers exactly like a one-shot build
    * of the whole corpus. */
  def invStreamIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"inv_stream:$d") {
      val path = Fixtures.dir("inv_stream")
      val docs = Tables.documents(s, d)
      InvertedIndex.build(docs.filter(col("doc_id") % 4 === 0), path,
        nBuckets = 16)
      val (arrivals, stage) = Fixtures.stage(
        docs.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"), col("text"))
          .repartition(3, col("doc_id")))
      Fixtures.drain(arrivals.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          InvertedIndex.add(batch, path)
        }.start(), stage)
      path
    }

  /** The add→delete→compact exercised index for `search_index_lifecycle`,
    * built once per (JVM, sf dir). */
  def invLifecycleIndex(s: SparkSession, d: String): String =
    Fixtures.once(s"inv_life:$d") {
      val path = Fixtures.dir("inv_life")
      val docs = Tables.documents(s, d)
      InvertedIndex.build(docs.filter(col("doc_id") % 3 =!= 2), path,
        nBuckets = 16)
      InvertedIndex.add(docs.filter(col("doc_id") % 3 === 2), path)
      InvertedIndex.delete(s, path,
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
      InvertedIndex.compact(s, path)
      path
    }

  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform(generate_series(1, len($a)),
       |     i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       | * sqrt(list_sum(list_transform(generate_series(1, len($b)),
       |     i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** Mirror of Dedup.lshBucket's plane signs: ±1 per (table-seed, plane,
    * component) from the SAME md5 — computed HERE at oracle-generation
    * time and inlined as literal lists, exactly as the Spark side inlines
    * them as plan-time `typedlit` literals. */
  private def lshSign(seed: String, p: Int, i: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed$p:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (hex.charAt(0) >= '8') 1 else -1
  }

  /** 4-bit sign-LSH bucket string for table `t` over column `c` —
    * same fold as the native DotProduct (verified bit-identical).
    *
    * Emitted as an UNROLLED ± scalar chain, not a
    * `list_transform`-over-literal-list form: with ±1.0 weights every
    * product is an exact IEEE negation/identity and SQL's
    * left-associative `+`/`-` chain IS `list_sum`'s sequential fold, so
    * the value is bit-identical while DuckDB evaluates pure scalar
    * arithmetic — no per-row list materialization. (The literal-list
    * form made this the one oracle that could exhaust DuckDB's memory
    * when replayed late in a long single-connection battery.) */
  private def lshBucketExpr(t: Int, c: String): String =
    (0 until 4).map { p =>
      val chain = (0 until 64).map { i =>
        val term = s"CAST($c[${i + 1}] AS DOUBLE)"
        if (i == 0) { if (lshSign(s"$t/", p, 0) > 0) term else s"-$term" }
        else { if (lshSign(s"$t/", p, i) > 0) s" + $term" else s" - $term" }
      }.mkString
      s"(CASE WHEN ($chain) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** Mirror of Ann.seededCentroids + ivfTopK as one SQL statement. The
    * training is data-dependent but DETERMINISTIC, so the oracle replays
    * it: sample = `sampleN` smallest md5(vec_id) rows; init = first
    * `nlist` in md5-rank order; each of the `iters` unrolled iteration
    * blocks scores members (|c|² − 2·e·c, both folds i-ascending), assigns
    * by (score, cell) rank-1, and re-averages per (cell, dim) with the
    * member fold pinned to ascending id — `list_sum(list(x ORDER BY id))`
    * is DuckDB's sequential left fold, the exact accumulation order of the
    * driver loop. Empty cells COALESCE to their previous centroid. The
    * final SELECT then mirrors the query plan itself: corpus cells =
    * rank-1 score, probe sets = rank ≤ nProbe, cosine + (sim DESC, c_id)
    * ranking identical to ann_topk's verified fold. */
  /** The k-means-replay CTE chain, generalized over its corpus: `ncSql`
    * must define a CTE `nc(id, e)` (id BIGINT, e a float list). Emits
    * every CTE from the md5-ranked sample through `cent(cell, c)` — the
    * trained centroids as DOUBLE lists — so both the IVF oracles (raw
    * embeddings) and the SemDeDup oracle (unit-normalized union corpus)
    * replay the identical [[graft.sim.Ann.seededCentroids]] training.
    *
    * Callers rewrite every `AS (` to `AS MATERIALIZED (`: DuckDB inlines
    * CTEs by default, and in this chain `sd`/`nc` are referenced from
    * every unrolled iteration block — inlined, the replay re-runs the
    * upstream chain per reference (35 s, or an allocator OOM with the
    * normalization lambdas); materialized it is linear (~1 s). */
  private def kmeansSql(ncSql: String, nlist: Int, sampleN: Int, iters: Int,
                        dims: Int, sfx: String = ""): String = {
    val iterBlocks = (1 to iters).map { t =>
      val prev = s"c${t - 1}$sfx"
      s"""sc$t$sfx AS (
         |  SELECT sd$sfx.id, c.cell,
         |    list_sum(list(c.cx * c.cx ORDER BY sd$sfx.i)) -
         |    2 * list_sum(list(sd$sfx.x * c.cx ORDER BY sd$sfx.i)) AS score
         |  FROM sd$sfx JOIN $prev c ON sd$sfx.i = c.i
         |  GROUP BY sd$sfx.id, c.cell),
         |a$t$sfx AS (
         |  SELECT id, cell FROM (
         |    SELECT id, cell,
         |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
         |    FROM sc$t$sfx) WHERE r = 1),
         |u$t$sfx AS (
         |  SELECT cell, i, list_sum(list(x ORDER BY id)) / count(*) AS cx
         |  FROM sd$sfx JOIN a$t$sfx USING (id) GROUP BY cell, i),
         |c$t$sfx AS (
         |  SELECT p.cell, p.i, COALESCE(n.cx, p.cx) AS cx
         |  FROM $prev p LEFT JOIN u$t$sfx n ON p.cell = n.cell AND p.i = n.i)""".stripMargin
    }.mkString(",\n")
    s"""dims$sfx AS (SELECT unnest(generate_series(1, $dims)) AS i),
       |$ncSql,
       |samp$sfx AS (
       |  SELECT id, e, rk FROM (
       |    SELECT id, e,
       |      row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rk
       |    FROM nc$sfx) WHERE rk <= $sampleN),
       |sd$sfx AS (
       |  SELECT id, i, CAST(e[i] AS DOUBLE) AS x
       |  FROM samp$sfx CROSS JOIN dims$sfx),
       |c0$sfx AS (
       |  SELECT rk - 1 AS cell, i, CAST(e[i] AS DOUBLE) AS cx
       |  FROM samp$sfx CROSS JOIN dims$sfx WHERE rk <= $nlist),
       |$iterBlocks,
       |cent$sfx AS (
       |  SELECT cell, list(cx ORDER BY i) AS c
       |  FROM c$iters$sfx GROUP BY cell)""".stripMargin
  }

  /** Assignment score vs a `cent` row: |c|² − 2·e·c, both folds
    * i-ascending — the exact fold of Ann.centScores. */
  private def assignScoreSql(e: String, dims: Int): String =
    s"""list_sum(list_transform(generate_series(1, $dims), i -> c[i] * c[i])) -
       |    2 * list_sum(list_transform(generate_series(1, $dims),
       |          i -> CAST($e[i] AS DOUBLE) * c[i]))""".stripMargin

  private def ivfOracleSql(nlist: Int, sampleN: Int, iters: Int, dims: Int,
                           k: Int, nProbe: Int,
                           exclude: Option[String] = None): String = {
    // `exclude`: a c_id predicate naming DELETED corpus ids — the mirror
    // of the layout's tombstone anti-join / compaction rewrite (training
    // replays on the FULL corpus because delete never retrains)
    val del = exclude.map(e => s" AND NOT ($e)").getOrElse("")
    s"""WITH ${kmeansSql(
         "nc AS (SELECT vec_id AS id, embedding AS e FROM embeddings)",
         nlist, sampleN, iters, dims)},
       |csc AS (
       |  SELECT nc.id AS c_id, nc.e AS ce, cent.cell,
       |    ${assignScoreSql("nc.e", dims)} AS score
       |  FROM nc CROSS JOIN cent),
       |corp AS (
       |  SELECT c_id, ce, cell FROM (
       |    SELECT c_id, ce, cell,
       |      row_number() OVER (PARTITION BY c_id ORDER BY score, cell) AS r
       |    FROM csc) WHERE r = 1),
       |qp AS (
       |  SELECT c_id AS q_id, ce AS qe, cell FROM (
       |    SELECT c_id, ce, cell,
       |      row_number() OVER (PARTITION BY c_id ORDER BY score, cell) AS r
       |    FROM csc WHERE c_id < 20) WHERE r <= $nProbe),
       |cand AS (
       |  SELECT q_id, qe, c_id, ce
       |  FROM qp JOIN corp USING (cell) WHERE q_id <> c_id$del),
       |sims AS (
       |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim FROM cand),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
       |      AS rank
       |  FROM sims)
       |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rank <= $k""".stripMargin
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** Mirror of Ann.knnGraph: the k-means replay chain, rank-1 corpus cell
    * assignment, within-cell pair sims, per-src top-k, then the mutual
    * self-join on the EDGE set. */
  private def knnGraphOracleSql(nlist: Int, sampleN: Int, iters: Int,
                                dims: Int, k: Int): String = {
    s"""WITH ${kmeansSql(
         "nc AS (SELECT vec_id AS id, embedding AS e FROM embeddings)",
         nlist, sampleN, iters, dims)},
       |csc AS (
       |  SELECT nc.id AS c_id, nc.e AS ce, cent.cell,
       |    ${assignScoreSql("nc.e", dims)} AS score
       |  FROM nc CROSS JOIN cent),
       |corp AS (
       |  SELECT c_id, ce, cell FROM (
       |    SELECT c_id, ce, cell,
       |      row_number() OVER (PARTITION BY c_id ORDER BY score, cell) AS r
       |    FROM csc) WHERE r = 1),
       |prs AS (
       |  SELECT a.c_id AS src, b.c_id AS dst,
       |    ${cosSql("a.ce", "b.ce")} AS sim
       |  FROM corp a JOIN corp b
       |    ON a.cell = b.cell AND a.c_id <> b.c_id),
       |rkd AS (
       |  SELECT src, dst, sim,
       |    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC)
       |      AS rank
       |  FROM prs),
       |eg AS (
       |  SELECT src, dst, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
       |  FROM rkd WHERE rank <= $k)
       |SELECT e.src, e.dst, e.rank, e.sim,
       |  (r.src IS NOT NULL) AS mutual
       |FROM eg e LEFT JOIN eg r ON r.src = e.dst AND r.dst = e.src"""
      .stripMargin.replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** Mirror of Ann.pqCodebooks + pqEncode + pqTopK: one suffixed k-means
    * replay chain per subspace (training on the j-th 16-dim slice of the
    * same md5-ranked sample), corpus codes = per-subspace rank-1
    * assignment, and the ADC similarity recomputed per pair from the
    * replayed centroids — Σ_j (q_subj·c_j[code_j]) is the same value the
    * Spark plan reads from its per-query distance table, every fold
    * i-ascending and every cross-subspace sum a left-associative chain,
    * so sims match bit-for-bit. */
  private def pqOracleSql(m: Int, ksub: Int, dims: Int, sampleN: Int,
                          iters: Int, k: Int, rerank: Int,
                          ivf: Option[(Int, Int)] = None): String = {
    val dsub = dims / m
    val subspaces = (0 until m).map { j =>
      val nc = s"""nc_p$j AS (
        |  SELECT vec_id AS id,
        |    list_transform(generate_series(1, $dsub),
        |      i -> embedding[${j * dsub} + i]) AS e
        |  FROM embeddings)""".stripMargin
      kmeansSql(nc, ksub, sampleN, iters, dsub, s"_p$j")
    }.mkString(",\n")
    val perBook = (0 until m).map { j =>
      s"""cn$j AS (
         |  SELECT cell, list_sum(list_transform(generate_series(1, $dsub),
         |    i -> c[i] * c[i])) AS n2
         |  FROM cent_p$j),
         |as$j AS (
         |  SELECT nc_p$j.id, cent_p$j.cell,
         |    ${assignScoreSql(s"nc_p$j.e", dsub)} AS score
         |  FROM nc_p$j CROSS JOIN cent_p$j),
         |k$j AS (
         |  SELECT id, cell FROM (
         |    SELECT id, cell,
         |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
         |    FROM as$j) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val kJoins = (0 until m).map(j =>
      s"JOIN k$j ON k$j.id = e.vec_id JOIN cn$j ON cn$j.cell = k$j.cell")
      .mkString("\n  ")
    val rn2 = (0 until m).map(j => s"cn$j.n2").reduceLeft((a, b) => s"($a + $b)")
    val kCols = (0 until m).map(j => s"k$j.cell AS k${j}c").mkString(", ")
    val centJoins = (0 until m).map(j =>
      s"JOIN cent_p$j c$j ON c$j.cell = corp.k${j}c").mkString("\n  ")
    val adot = (0 until m).map { j =>
      s"""list_sum(list_transform(generate_series(1, $dsub),
         |      i -> CAST(qe[${j * dsub} + i] AS DOUBLE) * c$j.c[i]))""".stripMargin
    }.reduceLeft((a, b) => s"($a + $b)")
    // candidate pairs: full cross product (flat PQ) or, with the IVF
    // stage, only members of the query's nProbe coarse cells — the coarse
    // training replays with its own "_c" CTE suffix alongside the m books
    val (coarseCtes, candSql) = ivf match {
      case None =>
        ("", """cand AS (
           |  SELECT q.q_id, corp.c_id FROM q CROSS JOIN corp
           |  WHERE q.q_id <> corp.c_id)""".stripMargin)
      case Some((nlist, nProbe)) =>
        val chain = kmeansSql(
          "nc_c AS (SELECT vec_id AS id, embedding AS e FROM embeddings)",
          nlist, sampleN, iters, dims, "_c")
        (s"""$chain,
           |csc_c AS (
           |  SELECT nc_c.id, cent_c.cell,
           |    ${assignScoreSql("nc_c.e", dims)} AS score
           |  FROM nc_c CROSS JOIN cent_c),
           |cc AS (
           |  SELECT id, cell FROM (
           |    SELECT id, cell,
           |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
           |    FROM csc_c) WHERE r = 1),
           |qpr AS (
           |  SELECT id AS q_id, cell FROM (
           |    SELECT id, cell,
           |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
           |    FROM csc_c WHERE id < 20) WHERE r <= $nProbe),
           |""".stripMargin,
         """cand AS (
           |  SELECT qpr.q_id, cc.id AS c_id
           |  FROM qpr JOIN cc USING (cell) WHERE qpr.q_id <> cc.id)""".stripMargin)
    }
    s"""WITH $subspaces,
       |$perBook,
       |corp AS (
       |  SELECT e.vec_id AS c_id, $kCols, $rn2 AS rn2
       |  FROM embeddings e
       |  $kJoins),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS qe,
       |    list_sum(list_transform(generate_series(1, $dims),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
       |      AS qn2
       |  FROM embeddings WHERE vec_id < 20),
       |$coarseCtes$candSql,
       |sims AS (
       |  SELECT cand.q_id, cand.c_id,
       |    $adot / (sqrt(q.qn2) * sqrt(corp.rn2)) AS sim
       |  FROM cand
       |  JOIN q ON q.q_id = cand.q_id
       |  JOIN corp ON corp.c_id = cand.c_id
       |  $centJoins),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
       |        AS rank
       |    FROM sims) WHERE rank <= $rerank),
       |rr AS (
       |  SELECT s.q_id, s.c_id, ${cosSql("q.qe", "e2.embedding")} AS sim
       |  FROM short s
       |  JOIN q ON q.q_id = s.q_id
       |  JOIN embeddings e2 ON e2.vec_id = s.c_id),
       |reranked AS (
       |  SELECT q_id, c_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
       |      AS rank
       |  FROM rr)
       |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
       |FROM reranked WHERE rank <= $k""".stripMargin
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** Mirror of Ann.ivfPqResidualTopK: the coarse k-means replays with the
    * "_c" suffix, residuals are the single float rounding
    * `CAST(CAST(e[i] AS DOUBLE) − c[i] AS FLOAT)`, each sub-book trains on
    * its residual slice, and the reconstruction-norm cross tables
    * (‖cent‖², cent_subj·codeword, ‖codeword‖²) are the same i-ascending
    * list_sum folds the Spark plan inlines as literals — composed in the
    * identical ((cn2 + 2·ΣΣcd) + Σrn) order, so sims match bit-for-bit. */
  private def pqResidualOracleSql(m: Int, ksub: Int, dims: Int, sampleN: Int,
                                  iters: Int, k: Int, rerank: Int,
                                  nlist: Int, nProbe: Int): String = {
    val dsub = dims / m
    val coarseChain = kmeansSql(
      "nc_c AS (SELECT vec_id AS id, embedding AS e FROM embeddings)",
      nlist, sampleN, iters, dims, "_c")
    val subspaces = (0 until m).map { j =>
      val nc = s"""nc_p$j AS (
        |  SELECT id,
        |    list_transform(generate_series(1, $dsub),
        |      i -> e[${j * dsub} + i]) AS e
        |  FROM res)""".stripMargin
      kmeansSql(nc, ksub, sampleN, iters, dsub, s"_p$j")
    }.mkString(",\n")
    val perBook = (0 until m).map { j =>
      s"""as$j AS (
         |  SELECT nc_p$j.id, cent_p$j.cell,
         |    ${assignScoreSql(s"nc_p$j.e", dsub)} AS score
         |  FROM nc_p$j CROSS JOIN cent_p$j),
         |k$j AS (
         |  SELECT id, cell FROM (
         |    SELECT id, cell,
         |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
         |    FROM as$j) WHERE r = 1),
         |rn$j AS (
         |  SELECT cell AS code, list_sum(list_transform(
         |    generate_series(1, $dsub), i -> c[i] * c[i])) AS n2
         |  FROM cent_p$j),
         |cd$j AS (
         |  SELECT co.cell AS ccell, cb.cell AS code,
         |    list_sum(list_transform(generate_series(1, $dsub),
         |      i -> co.c[${j * dsub} + i] * cb.c[i])) AS d
         |  FROM cent_c co CROSS JOIN cent_p$j cb)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until m).map(j =>
      s"JOIN k$j ON k$j.id = e.vec_id " +
        s"JOIN cd$j ON cd$j.ccell = cc.cell AND cd$j.code = k$j.cell " +
        s"JOIN rn$j ON rn$j.code = k$j.cell").mkString("\n  ")
    val cdSum = (0 until m).map(j => s"cd$j.d").reduceLeft((a, b) => s"($a + $b)")
    val rnSum = (0 until m).map(j => s"rn$j.n2").reduceLeft((a, b) => s"($a + $b)")
    val kCols = (0 until m).map(j => s"k$j.cell AS k${j}c").mkString(", ")
    val centJoins = (0 until m).map(j =>
      s"JOIN cent_p$j c$j ON c$j.cell = corp.k${j}c").mkString("\n  ")
    val dts = (0 until m).map { j =>
      s"""list_sum(list_transform(generate_series(1, $dsub),
         |      i -> CAST(qe[${j * dsub} + i] AS DOUBLE) * c$j.c[i]))""".stripMargin
    }
    val adot = (s"qcd.qc" +: dts).reduceLeft((a, b) => s"($a + $b)")
    s"""WITH $coarseChain,
       |csc_c AS (
       |  SELECT nc_c.id, cent_c.cell,
       |    ${assignScoreSql("nc_c.e", dims)} AS score
       |  FROM nc_c CROSS JOIN cent_c),
       |cc AS (
       |  SELECT id, cell FROM (
       |    SELECT id, cell,
       |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
       |    FROM csc_c) WHERE r = 1),
       |qpr AS (
       |  SELECT id AS q_id, cell FROM (
       |    SELECT id, cell,
       |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
       |    FROM csc_c WHERE id < 20) WHERE r <= $nProbe),
       |res AS (
       |  SELECT e.vec_id AS id,
       |    list_transform(generate_series(1, $dims),
       |      i -> CAST(CAST(e.embedding[i] AS DOUBLE) - cent_c.c[i] AS FLOAT))
       |      AS e
       |  FROM embeddings e
       |  JOIN cc ON cc.id = e.vec_id
       |  JOIN cent_c ON cent_c.cell = cc.cell),
       |$subspaces,
       |$perBook,
       |cn_c AS (
       |  SELECT cell, list_sum(list_transform(generate_series(1, $dims),
       |    i -> c[i] * c[i])) AS n2
       |  FROM cent_c),
       |corp AS (
       |  SELECT e.vec_id AS c_id, cc.cell, $kCols,
       |    ((cn_c.n2 + 2.0 * $cdSum) + $rnSum) AS rn2
       |  FROM embeddings e
       |  JOIN cc ON cc.id = e.vec_id
       |  JOIN cn_c ON cn_c.cell = cc.cell
       |  $codeJoins),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS qe,
       |    list_sum(list_transform(generate_series(1, $dims),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
       |      AS qn2
       |  FROM embeddings WHERE vec_id < 20),
       |qcd AS (
       |  SELECT qpr.q_id, qpr.cell,
       |    list_sum(list_transform(generate_series(1, $dims),
       |      i -> CAST(q.qe[i] AS DOUBLE) * cent_c.c[i])) AS qc
       |  FROM qpr
       |  JOIN q ON q.q_id = qpr.q_id
       |  JOIN cent_c ON cent_c.cell = qpr.cell),
       |cand AS (
       |  SELECT qpr.q_id, qpr.cell, cc.id AS c_id
       |  FROM qpr JOIN cc USING (cell) WHERE qpr.q_id <> cc.id),
       |sims AS (
       |  SELECT cand.q_id, cand.c_id,
       |    $adot / (sqrt(q.qn2) * sqrt(corp.rn2)) AS sim
       |  FROM cand
       |  JOIN q ON q.q_id = cand.q_id
       |  JOIN qcd ON qcd.q_id = cand.q_id AND qcd.cell = cand.cell
       |  JOIN corp ON corp.c_id = cand.c_id
       |  $centJoins),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
       |        AS rank
       |    FROM sims) WHERE rank <= $rerank),
       |rr AS (
       |  SELECT s.q_id, s.c_id, ${cosSql("q.qe", "e2.embedding")} AS sim
       |  FROM short s
       |  JOIN q ON q.q_id = s.q_id
       |  JOIN embeddings e2 ON e2.vec_id = s.c_id),
       |reranked AS (
       |  SELECT q_id, c_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
       |      AS rank
       |  FROM rr)
       |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
       |FROM reranked WHERE rank <= $k""".stripMargin
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** Mirror of SemDedup.semanticDedup over the embCorpus fixture: the
    * corpus is unit-normalized (CAST-to-float single rounding), the
    * k-means replay trains on the normalized vectors, and the sweep is
    * the same priority self-join — every float step order-pinned, so
    * cells, scores and verdicts match bit-for-bit. */
  private def semanticOracleSql(nlist: Int, sampleN: Int, iters: Int,
                                dims: Int, tau: Double): String = {
    val nc =
      s"""${DedupQueries.embCorpusSql},
         |nrm AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS nv
         |  FROM corpus),
         |nc AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding,
         |      x -> CAST(CAST(x AS DOUBLE) / nv AS FLOAT)) AS e
         |  FROM nrm)""".stripMargin
    val dot =
      s"""list_sum(list_transform(generate_series(1, $dims),
         |      i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))""".stripMargin
    s"""WITH ${kmeansSql(nc, nlist, sampleN, iters, dims)},
       |csc AS (
       |  SELECT nc.id, nc.e, cent.cell,
       |    ${assignScoreSql("nc.e", dims)} AS score
       |  FROM nc CROSS JOIN cent),
       |asn AS (
       |  SELECT id, e, cell, score FROM (
       |    SELECT id, e, cell, score,
       |      row_number() OVER (PARTITION BY id ORDER BY score, cell) AS r
       |    FROM csc) WHERE r = 1),
       |drp AS (
       |  SELECT DISTINCT a.id FROM asn a JOIN asn b ON a.cell = b.cell
       |    AND (b.score < a.score OR (b.score = a.score AND b.id < a.id))
       |    AND $dot >= CAST('$tau' AS DOUBLE))
       |SELECT asn.id AS vec_id, asn.cell,
       |  floor((asn.score) * 10000 + 0.5) / 10000.0 AS cdist,
       |  (drp.id IS NULL) AS kept
       |FROM asn LEFT JOIN drp ON asn.id = drp.id""".stripMargin
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** The exact-top-5 SQL shared by the ann_topk oracle and ann_recall's
    * ground-truth side. */
  private lazy val annTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |           WHERE vec_id < 20),
      |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
      |sims AS (
      |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim
      |  FROM q CROSS JOIN c WHERE q_id <> c_id),
      |ranked AS (
      |  SELECT q_id, c_id, sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
      |  FROM sims)
      |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** Mirror of [[Ann.mmrRerank]]: exact top-8 CTE, candidate pair sims on
    * the rnd4 grid, then the greedy unrolled round by round — each round a
    * penalty aggregate over the selections so far plus a window argmax on
    * the identical 0.75·sim − 0.25·pen DAG. MATERIALIZED: the selu chain
    * is referenced three times per round and would re-run the retrieval
    * exponentially if inlined (the k-means-replay lesson). */
  private lazy val annMmrSql: String = {
    val rounds = (2 to 4).map { r =>
      val prev = s"selu${r - 1}"
      s"""pen$r AS (
         |  SELECT p.q_id, p.c_id, t.sim, max(p.psim) AS pen
         |  FROM ps p
         |  JOIN $prev s ON s.q_id = p.q_id AND s.c_id = p.o_id
         |  JOIN top8 t ON t.q_id = p.q_id AND t.c_id = p.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s2
         |    WHERE s2.q_id = p.q_id AND s2.c_id = p.c_id)
         |  GROUP BY 1, 2, 3),
         |sel$r AS (
         |  SELECT q_id, c_id, $r AS round, sim,
         |    floor((0.75 * sim - 0.25 * pen) * 10000 + 0.5) / 10000.0 AS mmr
         |  FROM (SELECT q_id, c_id, sim, pen, row_number() OVER (
         |      PARTITION BY q_id
         |      ORDER BY 0.75 * sim - 0.25 * pen DESC, c_id ASC) AS rn
         |    FROM pen$r) WHERE rn = 1),
         |selu$r AS (
         |  SELECT * FROM $prev UNION ALL SELECT * FROM sel$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |           WHERE vec_id < 20),
      |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
      |sims AS (
      |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim
      |  FROM q CROSS JOIN c WHERE q_id <> c_id),
      |top8 AS (
      |  SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
      |  FROM (SELECT q_id, c_id, sim, row_number() OVER (
      |      PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
      |    FROM sims)
      |  WHERE rank <= 8),
      |cv AS (SELECT DISTINCT t.c_id, e.embedding AS ce
      |  FROM top8 t JOIN embeddings e ON e.vec_id = t.c_id),
      |ps AS (
      |  SELECT a.q_id, a.c_id, b.c_id AS o_id,
      |    floor((${cosSql("x.ce", "y.ce")}) * 10000 + 0.5) / 10000.0 AS psim
      |  FROM top8 a JOIN top8 b ON a.q_id = b.q_id AND a.c_id <> b.c_id
      |  JOIN cv x ON x.c_id = a.c_id JOIN cv y ON y.c_id = b.c_id),
      |selu1 AS (
      |  SELECT q_id, c_id, 1 AS round, sim,
      |    floor((0.75 * sim) * 10000 + 0.5) / 10000.0 AS mmr
      |  FROM top8 WHERE rank = 1),
      |$rounds
      |SELECT q_id, round, c_id, sim, mmr FROM selu4""".stripMargin
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** SQL twin of [[labelRanked]]: terminal CTE `top(q_id, rank, rel)`. */
  private lazy val labelRankedSql: String =
    s"""q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
      |       FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS c_id, embedding AS ce, label AS cl
      |      FROM embeddings),
      |sims AS (
      |  SELECT q_id, c_id, ql, cl, ${cosSql("qe", "ce")} AS sim
      |  FROM q CROSS JOIN c WHERE q_id <> c_id),
      |rk AS (
      |  SELECT q_id, CASE WHEN cl = ql THEN 1 ELSE 0 END AS rel,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, c_id ASC) AS rank
      |  FROM sims),
      |top AS (SELECT q_id, rank, rel FROM rk WHERE rank <= 10)""".stripMargin

  /** Shared by `embed_moments` and its streamed twin: count + 64 exact
    * decimal element sums (the VecESum mirror the PCA oracles prove). */
  private val momentsSql: String = {
    val sums = (0 until 64).map { j =>
      s"CAST(sum(CAST(CAST(embedding[${j + 1}] AS DOUBLE) " +
        s"AS DECIMAL(38,10))) AS DOUBLE) AS s$j"
    }.mkString(",\n  ")
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
      |  $sums
      |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "ann_mmr" -> annMmrSql,

    "embed_knn_graph" -> knnGraphOracleSql(nlist = 128, sampleN = 256,
      iters = 5, dims = 64, k = 4),

    // Mirror of ann_filtered: the exact-top-k chain under the same-label
    // join condition.
    "ann_filtered" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding AS ce, label AS cl
        |      FROM embeddings),
        |sims AS (
        |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim
        |  FROM q JOIN c ON q_id <> c_id AND cl = ql),
        |ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM sims)
        |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // Mirror of ml_eval_ndcg: exact top-10 with label-match relevance,
    // then the Eval ndcg chain (identical discount and decimal sums).
    "ml_eval_ndcg" ->
      s"""WITH $labelRankedSql,
        |${graft.ml.Eval.ndcgOracleSql("top", 10)}
        |SELECT q_id, n_rel, dcg, ndcg FROM ndcg_out""".stripMargin,

    // Mirror of ml_eval_map: the same ranked CTEs, then the AP/RR chain.
    "ml_eval_map" ->
      s"""WITH $labelRankedSql,
        |${graft.ml.Eval.mapOracleSql("top", 10)}
        |SELECT q_id, n_rel, ap, rr FROM map_out""".stripMargin,

    // Mirror of ann_recall: exact and IVF top-5 as subqueries (each a
    // self-contained WITH), left-join overlap, recall on the rnd4 grid.
    "ann_recall" -> {
      val ivf = ivfOracleSql(nlist = 16, sampleN = 256, iters = 5,
        dims = 64, k = 5, nProbe = 4)
      s"""WITH ex AS (SELECT q_id, c_id FROM ($annTopkSql)),
        |ap AS (SELECT q_id, c_id FROM ($ivf)),
        |ov AS (
        |  SELECT ex.q_id, count(*) AS n_true,
        |    CAST(count(ap.c_id) AS BIGINT) AS n_hit
        |  FROM ex LEFT JOIN ap
        |    ON ex.q_id = ap.q_id AND ex.c_id = ap.c_id
        |  GROUP BY ex.q_id)
        |SELECT q_id, n_true, n_hit,
        |  floor((CAST(n_hit AS DOUBLE) / n_true) * 10000 + 0.5) / 10000.0
        |    AS recall
        |FROM ov""".stripMargin
    },

    // Mirror of embed_kcenter: the greedy trajectory replayed round for
    // round (KCenter.oracleSql), then the same (score, idx) assignment.
    "embed_kcenter" ->
      s"""WITH knc AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
        |${graft.sim.KCenter.oracleSql(k = 8, dims = 64)}
        |SELECT id AS vec_id, center_idx, center_id, dist, is_center
        |FROM kc_out""".stripMargin,

    // Mirror of embed_project: the generator re-derives the md5-parity
    // signs and emits the identical left-associated ±x chains.
    "embed_project" ->
      s"""SELECT vec_id,
        |  ${graft.sim.Project.jlOracleSelect("embedding")}
        |FROM embeddings""".stripMargin,

    "embed_pca" -> graft.ml.Pca.oracleSql(dims = 64, iters = 10),
    "embed_pca2" -> graft.ml.Pca.oracleSql2(dims = 64, iters = 6),
    "embed_outlier" -> graft.ml.Pca.outlierOracleSql(dims = 64, tau = 9.0),

    // Mirrors SemDedup.semanticDedup(nlist=16, tau=0.97) with the seeded
    // quantizer's defaults — see semanticOracleSql.
    "dedup_semantic" -> semanticOracleSql(nlist = 16, sampleN = 256,
      iters = 5, dims = 64, tau = 0.97),

    // Mirrors Ann.ivfTopK(k=5, nlist=16, nProbe=4) with the seeded
    // quantizer's defaults (sampleN=256, iters=5) — see ivfOracleSql.
    "ann_ivf" -> ivfOracleSql(nlist = 16, sampleN = 256, iters = 5,
      dims = 64, k = 5, nProbe = 4),

    // Mirrors Ann.diversitySample(perCell=16, nlist=16): the same k-means
    // replay + rank-1 cell assignment as ann_ivf, then one per-cell
    // md5-rank window — integer output, no float anywhere past the assign.
    "embed_diversity_sample" ->
      s"""WITH ${kmeansSql(
           "nc AS (SELECT vec_id AS id, embedding AS e FROM embeddings)",
           16, 256, 5, 64)},
        |csc AS (
        |  SELECT nc.id AS vec_id, cent.cell,
        |    ${assignScoreSql("nc.e", 64)} AS score
        |  FROM nc CROSS JOIN cent),
        |corp AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS r
        |    FROM csc) WHERE r = 1)
        |SELECT vec_id, cell, cell_rank FROM (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell_rank
        |  FROM corp) WHERE cell_rank <= 16""".stripMargin
        .replaceAll("AS \\(", "AS MATERIALIZED ("),

    // Mirrors Ann.silhouette(nlist=16): the ann_ivf k-means replay, both
    // nearest cells per vector via the same (score, cell) ranking, then
    // d = sqrt(max(‖x‖² + score, 0)) and (b−a)/max(a,b) on the rnd4 grid.
    "embed_silhouette" ->
      s"""WITH ${kmeansSql(
           "nc AS (SELECT vec_id AS id, embedding AS e FROM embeddings)",
           16, 256, 5, 64)},
        |ee AS (
        |  SELECT vec_id, embedding AS e,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |      AS xx
        |  FROM embeddings),
        |csc AS (
        |  SELECT ee.vec_id, cent.cell,
        |    ${assignScoreSql("ee.e", 64)} AS score
        |  FROM ee CROSS JOIN cent),
        |rk AS (
        |  SELECT vec_id, cell, score,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS r
        |  FROM csc),
        |ab AS (
        |  SELECT a.vec_id, a.cell,
        |    sqrt(greatest(ee.xx + a.score, 0.0)) AS ad,
        |    sqrt(greatest(ee.xx + b.score, 0.0)) AS bd
        |  FROM rk a
        |  JOIN rk b ON a.vec_id = b.vec_id AND b.r = 2
        |  JOIN ee ON a.vec_id = ee.vec_id
        |  WHERE a.r = 1)
        |SELECT vec_id, cell,
        |  floor((ad) * 10000 + 0.5) / 10000.0 AS a_dist,
        |  floor((bd) * 10000 + 0.5) / 10000.0 AS b_dist,
        |  floor((CASE WHEN greatest(ad, bd) = 0.0 THEN 0.0
        |         ELSE (bd - ad) / greatest(ad, bd) END) * 10000 + 0.5)
        |    / 10000.0 AS sil
        |FROM ab""".stripMargin
        .replaceAll("AS \\(", "AS MATERIALIZED ("),

    // Mirrors Ann.pqTopK(k=5, m=4, ksub=16, dims=64, rerank=64) — see
    // pqOracleSql.
    "ann_pq" -> pqOracleSql(m = 4, ksub = 16, dims = 64, sampleN = 256,
      iters = 5, k = 5, rerank = 64),

    // Mirrors Ann.ivfPqTopK(k=5, nlist=16, nProbe=4, m=4, ksub=16,
    // rerank=64): same PQ replay restricted to the coarse-cell candidates.
    "ann_ivfpq" -> pqOracleSql(m = 4, ksub = 16, dims = 64, sampleN = 256,
      iters = 5, k = 5, rerank = 64, ivf = Some((16, 4))),

    // The physical layout ranks the same candidates with the same stored
    // quantizers — one oracle serves both plans (the ann_ivf_probe
    // precedent).
    "ann_ivfpq_probe" -> pqOracleSql(m = 4, ksub = 16, dims = 64,
      sampleN = 256, iters = 5, k = 5, rerank = 64, ivf = Some((16, 4))),

    // E11: add-with-stored-quantizers makes the stream-ingested layout's
    // logical content equal the one-shot build, so the streamed lifecycle
    // is checked against the same oracle verbatim.
    "ann_ivfpq_stream" -> pqOracleSql(m = 4, ksub = 16, dims = 64,
      sampleN = 256, iters = 5, k = 5, rerank = 64, ivf = Some((16, 4))),

    // E14: the exact decimal element-sum mirror the PCA oracles already
    // prove (VecESum ≡ CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) per
    // element); the streamed twin shares it verbatim.
    "embed_moments" -> momentsSql,
    "embed_moments_stream" -> momentsSql,

    // Mirrors Ann.ivfPqResidualTopK(k=5, nlist=16, nProbe=4, m=4,
    // ksub=16, rerank=64) — see pqResidualOracleSql.
    "ann_ivfpq_residual" -> pqResidualOracleSql(m = 4, ksub = 16,
      dims = 64, sampleN = 256, iters = 5, k = 5, rerank = 64,
      nlist = 16, nProbe = 4),

    // The at-rest residual layout ranks the same candidates with the
    // same stored quantizers — one oracle serves both plans (the
    // ann_ivfpq_probe precedent).
    "ann_ivfpq_residual_probe" -> pqResidualOracleSql(m = 4, ksub = 16,
      dims = 64, sampleN = 256, iters = 5, k = 5, rerank = 64,
      nlist = 16, nProbe = 4),

    // The physical-index probe ranks the same candidates with the same
    // centroids — one oracle serves both plans.
    "ann_ivf_probe" -> ivfOracleSql(nlist = 16, sampleN = 256, iters = 5,
      dims = 64, k = 5, nProbe = 4),

    // Mirror of the delete-lifecycle probe: identical training replay
    // (delete never retrains), deleted ids excluded from the candidates
    // — the union of the compacted set and the live tombstones.
    "ann_ivf_delete" -> ivfOracleSql(nlist = 16, sampleN = 256, iters = 5,
      dims = 64, k = 5, nProbe = 4,
      exclude = Some("c_id % 7 = 3 OR c_id % 11 = 5")),

    // Mirrors Ann.lshTopK(k=5, planes=4, tables=8, hammingProbes=1):
    // corpus bucketed once per table; queries probe the base bucket plus
    // every one-bit flip; candidates = bucket-mates in ANY table (DISTINCT
    // collapses multi-table collisions); exact cosine + deterministic
    // (sim DESC, c_id ASC) rank. Deterministic end-to-end because the
    // hyperplanes are data-independent md5 literals shared by generator
    // and plan.
    "ann_lsh" -> {
      val corpus = (0 until 8).map { t =>
        s"SELECT vec_id AS c_id, embedding AS ce, $t AS t, " +
          s"${lshBucketExpr(t, "embedding")} AS bucket FROM embeddings"
      }.mkString("\nUNION ALL\n")
      def flip(p: Int) =
        s"substr(base, 1, $p) || (CASE WHEN substr(base, ${p + 1}, 1) = '1' " +
          s"THEN '0' ELSE '1' END) || substr(base, ${p + 2}, ${3 - p})"
      val queriesSql = (0 until 8).map { t =>
        s"""SELECT q_id, qe, $t AS t,
           |  unnest([base, ${(0 until 4).map(flip).mkString(", ")}]) AS bucket
           |FROM (SELECT vec_id AS q_id, embedding AS qe,
           |        ${lshBucketExpr(t, "embedding")} AS base
           |      FROM embeddings WHERE vec_id < 20)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH cb AS (
         |$corpus),
         |qb AS (
         |$queriesSql),
         |cand AS (
         |  SELECT DISTINCT q_id, c_id, qe, ce
         |  FROM qb JOIN cb ON qb.t = cb.t AND qb.bucket = cb.bucket
         |  WHERE q_id <> c_id),
         |sims AS (
         |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim FROM cand),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
         |FROM ranked WHERE rank <= 5""".stripMargin
    },

    // Mirror of SemDedup.semanticDecontaminate(tau=0.30): max over the
    // same bit-identical cosine folds — max is order-free and exact.
    "dedup_semantic_decontam" ->
      s"""WITH b AS (SELECT vec_id AS b_id, embedding AS be FROM embeddings
        |           WHERE vec_id < 20),
        |c AS (SELECT vec_id, embedding AS ce FROM embeddings
        |      WHERE vec_id >= 20),
        |s AS (
        |  SELECT vec_id, max(${cosSql("ce", "be")}) AS mx
        |  FROM c CROSS JOIN b GROUP BY vec_id)
        |SELECT vec_id, floor((mx) * 10000 + 0.5) / 10000.0 AS max_bench_sim,
        |  mx < 0.30 AS kept
        |FROM s""".stripMargin,

    // Mirror of Ann.hardNegatives(n=5, lo=0.15, hi=0.30): the band filter
    // runs on the same bit-identical exact cosine, so membership matches.
    "ann_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        |           WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
        |sims AS (
        |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim
        |  FROM q CROSS JOIN c WHERE q_id <> c_id),
        |banded AS (SELECT * FROM sims WHERE sim >= 0.15 AND sim < 0.30),
        |ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM banded)
        |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "ann_topk" -> annTopkSql,

    // Mirror of ml_knn_predict: the ann_topk ranking, then integer label
    // votes with the same (votes DESC, label ASC) argmax.
    "ml_knn_predict" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding AS ce, label FROM embeddings),
        |sims AS (
        |  SELECT q_id, c_id, ${cosSql("qe", "ce")} AS sim
        |  FROM q CROSS JOIN c WHERE q_id <> c_id),
        |ranked AS (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM sims),
        |votes AS (
        |  SELECT r.q_id, c.label, CAST(count(*) AS BIGINT) AS votes
        |  FROM ranked r JOIN c ON r.c_id = c.c_id
        |  WHERE r.rank <= 5
        |  GROUP BY r.q_id, c.label),
        |best AS (
        |  SELECT q_id, label AS pred_label, votes FROM (
        |    SELECT q_id, label, votes, row_number() OVER (
        |      PARTITION BY q_id ORDER BY votes DESC, label ASC) AS rk
        |    FROM votes) WHERE rk = 1)
        |SELECT b.q_id, b.pred_label, b.votes, q.label AS true_label,
        |  b.pred_label = q.label AS correct
        |FROM best b JOIN q ON b.q_id = q.q_id""".stripMargin,

    // Mirror of Ann.sq8TopK: per-dim min/max (order-free exact aggs),
    // code = clamped round on the uniform grid, recon = mn + code·sc,
    // then the same i-ascending double folds as the Spark-native dot
    // expressions (q·r uses CAST(qe[i]) · re[i] ≡ DotProductFD; r·r is
    // all-double ≡ DotProductDD) and the pinned dot/(‖q‖·‖r‖) shape.
    "ann_sq8" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        |           WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
        |st AS (
        |  SELECT i, min(CAST(ce[i] AS DOUBLE)) AS mn,
        |         max(CAST(ce[i] AS DOUBLE)) AS mx
        |  FROM c CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
        |  GROUP BY i),
        |sc AS (SELECT i, mn, (mx - mn) / 255.0 AS s FROM st),
        |rec AS (
        |  SELECT c_id, list(mn +
        |      (CASE WHEN s = 0 THEN 0.0
        |            ELSE least(greatest(floor(
        |              (CAST(ce[i] AS DOUBLE) - mn) / s + 0.5), 0.0), 255.0)
        |       END) * s ORDER BY i) AS re
        |  FROM c CROSS JOIN sc GROUP BY c_id),
        |sims AS (
        |  SELECT q_id, c_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CAST(qe[i] AS DOUBLE) * re[i]))
        |    / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, 64),
        |         i -> re[i] * re[i])))) AS sim
        |  FROM q CROSS JOIN rec WHERE q_id <> c_id),
        |ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM sims)
        |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // Mirror of Ann.binaryTopK: per-dim midrange cut from the same
    // min/max stats as ann_sq8, Hamming = count of differing sign bits
    // (identical to bit_count(xor) on the packed Longs — pure integers,
    // no float anywhere in the pre-rank), exact-cosine re-rank of the
    // Hamming top-64 under the shared (h ASC, c_id ASC) tie-break.
    "ann_binary" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        |           WHERE vec_id < 20),
        |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
        |st AS (
        |  SELECT i, min(CAST(ce[i] AS DOUBLE)) AS mn,
        |         max(CAST(ce[i] AS DOUBLE)) AS mx
        |  FROM c CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
        |  GROUP BY i),
        |mid AS (SELECT i, (mn + mx) / 2.0 AS md FROM st),
        |bc AS (
        |  SELECT c_id, list(CASE WHEN CAST(ce[i] AS DOUBLE) > md
        |    THEN 1 ELSE 0 END ORDER BY i) AS b
        |  FROM c CROSS JOIN mid GROUP BY c_id),
        |bq AS (
        |  SELECT q_id, list(CASE WHEN CAST(qe[i] AS DOUBLE) > md
        |    THEN 1 ELSE 0 END ORDER BY i) AS b
        |  FROM q CROSS JOIN mid GROUP BY q_id),
        |ham AS (
        |  SELECT q_id, c_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> CASE WHEN bq.b[i] <> bc.b[i] THEN 1 ELSE 0 END)) AS h
        |  FROM bq CROSS JOIN bc WHERE q_id <> c_id),
        |short AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY h ASC, c_id ASC)
        |        AS rs
        |    FROM ham) WHERE rs <= 64),
        |ex AS (
        |  SELECT s.q_id, s.c_id, ${cosSql("q.qe", "c.ce")} AS sim
        |  FROM short s JOIN q ON q.q_id = s.q_id JOIN c ON c.c_id = s.c_id),
        |ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM ex)
        |SELECT q_id, c_id, rank, floor((sim) * 10000 + 0.5) / 10000.0 AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // Mirror of Retrieval.rrfFuse over bm25Rank + bruteForceTopK: the
    // lexical CTE chain is the text_search_lexical arithmetic reduced to
    // its rank order, the dense leg is the ann_topk cosine rank for
    // query vector 0, and the fusion sums 1/(60+rank) left-assoc with
    // absent-leg terms 0 — integer ranks in, one IEEE division per leg,
    // so the fused order replays bit-for-bit.
    "search_hybrid_rrf" ->
      s"""WITH base AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |    string_split(text, ' ') AS t
        |  FROM documents),
        |st AS (SELECT count(*) AS n, sum(dl) AS total_len FROM base),
        |po AS (
        |  SELECT doc_id, dl, w AS term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(t) AS w FROM base)
        |  WHERE w IN ('hash', 'merge', 'window')
        |  GROUP BY doc_id, dl, w),
        |df AS (SELECT term, count(*) AS df FROM po GROUP BY term),
        |comp AS (
        |  SELECT doc_id, term,
        |    ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |      / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * 2.2
        |       / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
        |          * (CAST(dl AS DOUBLE)
        |             / (CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE))))))
        |      AS c
        |  FROM po JOIN df USING (term) CROSS JOIN st),
        |sc AS (
        |  SELECT doc_id,
        |    COALESCE(sum(CASE WHEN term = 'hash' THEN c END), 0.0)
        |    + COALESCE(sum(CASE WHEN term = 'merge' THEN c END), 0.0)
        |    + COALESCE(sum(CASE WHEN term = 'window' THEN c END), 0.0)
        |      AS score
        |  FROM comp GROUP BY doc_id),
        |lex AS (SELECT id, r FROM (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        |  FROM sc) WHERE r <= 20),
        |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        |      WHERE vec_id = 0),
        |cv AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
        |sims AS (
        |  SELECT c_id, ${cosSql("qe", "ce")} AS sim
        |  FROM q CROSS JOIN cv WHERE q_id <> c_id),
        |vec AS (SELECT id, r FROM (
        |  SELECT c_id AS id,
        |    row_number() OVER (ORDER BY sim DESC, c_id ASC) AS r
        |  FROM sims) WHERE r <= 20),
        |f AS (
        |  SELECT COALESCE(lex.id, vec.id) AS doc_id, lex.r AS lr,
        |    vec.r AS vr
        |  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id),
        |fused AS (
        |  SELECT doc_id, COALESCE(lr, 0) AS lex_rank,
        |    COALESCE(vr, 0) AS vec_rank,
        |    COALESCE(1.0 / (60.0 + CAST(lr AS DOUBLE)), 0.0)
        |    + COALESCE(1.0 / (60.0 + CAST(vr AS DOUBLE)), 0.0) AS rrf
        |  FROM f)
        |SELECT doc_id, lex_rank, vec_rank,
        |  floor((rrf) * 10000 + 0.5) / 10000.0 AS rrf
        |FROM fused ORDER BY fused.rrf DESC, doc_id ASC LIMIT 10""".stripMargin,

    // Mirror of InvertedIndex.query over the full corpus: identical
    // arithmetic to text_search_lexical (the index round-trip must land
    // on the direct ranking bit-for-bit).
    "search_index_probe" -> lexSql("TRUE"),

    // Lifecycle mirror: the direct BM25 over the LIVE corpus (everything
    // except the deleted doc_id % 7 == 0 set) — build/add split, stats
    // partials, tombstones and compaction must all cancel out exactly.
    "search_index_lifecycle" -> lexSql("doc_id % 7 <> 0"),
    // the streamed ingest must land on the SAME ranking as the one-shot
    // index over the full corpus — text_search_lexical's oracle verbatim
    "search_index_stream" -> lexSql("TRUE")
  )

  /** The D51 BM25-shape CTE chain over `documents WHERE <live>` — the
    * shared oracle of the direct ranking and both D89 index round-trips. */
  private def lexSql(live: String): String =
    s"""WITH base AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |    string_split(text, ' ') AS t
      |  FROM documents WHERE $live),
      |st AS (SELECT count(*) AS n, sum(dl) AS total_len FROM base),
      |po AS (
      |  SELECT doc_id, dl, w AS term, count(*) AS tf FROM (
      |    SELECT doc_id, dl, unnest(t) AS w FROM base)
      |  WHERE w IN ('hash', 'merge', 'window')
      |  GROUP BY doc_id, dl, w),
      |df AS (SELECT term, count(*) AS df FROM po GROUP BY term),
      |comp AS (
      |  SELECT doc_id, term,
      |    ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |      / (CAST(df AS DOUBLE) + 0.5))
      |    * (CAST(tf AS DOUBLE) * 2.2
      |       / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
      |          * (CAST(dl AS DOUBLE)
      |             / (CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE))))))
      |      AS c
      |  FROM po JOIN df USING (term) CROSS JOIN st),
      |sc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    COALESCE(sum(CASE WHEN term = 'hash' THEN c END), 0.0)
      |    + COALESCE(sum(CASE WHEN term = 'merge' THEN c END), 0.0)
      |    + COALESCE(sum(CASE WHEN term = 'window' THEN c END), 0.0)
      |      AS score
      |  FROM comp GROUP BY doc_id)
      |SELECT doc_id, n_terms,
      |  floor((sc.score) * 10000 + 0.5) / 10000.0 AS score
      |FROM sc ORDER BY sc.score DESC, doc_id ASC LIMIT 20""".stripMargin
}
