package graft.sim

import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  StructField, StructType}

import graft.core.{Exact, Tables}
import graft.dedup.Dedup
import graft.functions.VectorFunctions

/** One (query, candidate, similarity) triple — public so Spark's generated
  * row (de)serializers can instantiate it. */
case class Scored(q_id: Long, c_id: Long, sim: Double)

/** Similarity search over embedding columns (SURVEY.md §2D6–D7).
  *
  * Brute force is the exact baseline: broadcast(queries) × corpus — the
  * corpus is never shuffled, each partition computes its own similarities
  * with the native codegen cosine and is pruned to ≤ k rows per query
  * before anything moves, so the only shuffle is O(partitions · |Q| · k)
  * pre-ranked triples. The LSH variant buckets the corpus once with
  * sign-random-hyperplane bits (reusable partitioning) and ranks only
  * bucket-mates — the 100 TB path where even one full corpus pass per
  * query batch is too much.
  *
  * The IVF family (flat, raw-space PQ and residual PQ) is one code path
  * over an [[Ann.Encoding]]: one build, add, probe and in-memory top-k,
  * and one layout marker every on-disk entry point checks.
  */
object Ann {

  /** Exact cosine top-k: for every query vector the k nearest corpus
    * vectors by cosine similarity, rank 1 = nearest, deterministic
    * tie-break on the smaller corpus id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame =
    // Per-partition prune in global order (sim desc, c_id asc) shrinks the
    // shuffle from |corpus|·|Q| to ≤ partitions·|Q|·k rows — see rankPruned.
    rankPruned(exactSims(queries, corpus, idCol, embCol), k)

  /** D81: Maximal Marginal Relevance diversified re-ranking (Carbonell &
    * Goldstein, SIGIR'98) — the retrieve-then-diversify seam of RAG/search
    * result pages: from each query's exact top-`kCand` shortlist, greedily
    * select `kOut` results maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`, so near-duplicate
    * hits can't crowd out coverage (the per-query twin of the corpus-level
    * k-center coreset D75).
    *
    * Scale shape: retrieval is the broadcast-scan [[bruteForceTopK]] (any
    * pruned ANN path can stand in); everything after runs on
    * O(|Q|·kCand²) rows — query-batch-bounded, corpus-size-independent.
    * The greedy is `kOut−1` window-argmax rounds over those rows. All
    * similarities land on the rnd4 grid BEFORE the MMR arithmetic and
    * λ = 0.75 keeps (1−λ) IEEE-exact, so selection replays bit-for-bit
    * cross-engine. The shortlist and pair-sim tables are CacheScope-pinned
    * so the greedy rounds don't rescan the corpus — CALLER CONTRACT: after
    * materializing the returned plan, release the pins via
    * [[graft.core.CacheScope.releaseAll]] (Bench/Verify do this between
    * queries) or wrap the materializing action in
    * [[graft.core.CacheScope.scoped]]; otherwise each invocation strands
    * persisted blocks in the session.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, kCand: Int = 8,
                kOut: Int = 4, lam: Double = 0.75,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    require(kOut >= 1 && kOut <= kCand, s"mmrRerank: need 1 <= kOut <= kCand")
    val top = graft.core.CacheScope.pin(
      bruteForceTopK(queries, corpus, kCand, idCol, embCol))
    val cvec = candidates(corpus, idCol, embCol)
      .join(broadcast(top.select(col("c_id")).distinct()), Seq("c_id"))
    val pairSims = top.select(col("q_id"), col("c_id"))
      .join(top.select(col("q_id"), col("c_id").as("o_id")), Seq("q_id"))
      .filter(col("c_id") =!= col("o_id"))
      .join(broadcast(cvec), Seq("c_id"))
      .join(broadcast(cvec.select(col("c_id").as("o_id"),
        col("_c_emb").as("_oe"))), Seq("o_id"))
      .select(col("q_id"), col("c_id"), col("o_id"),
        Exact.rnd4(VectorFunctions.cosine(col("_c_emb"), col("_oe")))
          .as("psim"))
    graft.core.CacheScope.pin(pairSims) // persists in place; loop reuses it
    var selected = top.filter(col("rank") === 1)
      .select(col("q_id"), col("c_id"), lit(1).as("round"), col("sim"),
        Exact.rnd4(lit(lam) * col("sim")).as("mmr"))
    var remaining = top.filter(col("rank") > 1)
      .select(col("q_id"), col("c_id"), col("sim"))
    for (r <- 2 to kOut) {
      val mraw = lit(lam) * col("sim") - lit(1.0 - lam) * col("pen")
      val w = Window.partitionBy("q_id")
        .orderBy(mraw.desc, col("c_id").asc)
      // Each round's pick is PINNED: without it `selected`/`remaining`
      // nest every previous round's plan, and any consumer re-execution
      // (a cache eviction, a retried stage) re-runs the whole pyramid —
      // the r12 battery measured exactly that (process_graph_mmr at 3607
      // cpu-s in-battery vs 26.6 solo). The pick is O(|Q|) rows (one per
      // query), so kOut−1 pins cost nothing and cap every round's plan at
      // one join over the two already-pinned leaves. Values unchanged.
      val pick = graft.core.CacheScope.pin(remaining
        .join(pairSims, Seq("q_id", "c_id"))
        .join(selected.select(col("q_id"), col("c_id").as("o_id")),
          Seq("q_id", "o_id"))
        .groupBy("q_id", "c_id", "sim")
        .agg(max(col("psim")).as("pen"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("q_id"), col("c_id"), lit(r).as("round"), col("sim"),
          Exact.rnd4(mraw).as("mmr")))
      selected = selected.unionByName(pick)
      remaining = remaining.join(pick.select("q_id", "c_id"),
        Seq("q_id", "c_id"), "left_anti")
    }
    selected.select(col("q_id"), col("round"), col("c_id"), col("sim"),
      col("mmr"))
  }

  /** D84: attribute-FILTERED vector search — the vector-DB feature every
    * retrieval stack grows next: top-k under a per-query metadata
    * constraint (here: candidate attribute must equal the query's — the
    * "same collection/tenant/language" filter). The predicate is part of
    * the broadcast-join condition, so it evaluates MAP-SIDE inside the
    * corpus scan: non-matching candidates never reach the similarity
    * fold, let alone the shuffle — at lake scale the attribute is a
    * partition/row-group column and the filter prunes storage first
    * (PushedFilters), which composes with the IVF/PQ pruned scans the
    * same way. */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   attrCol: String = "label", idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(embCol).as("_q_emb"), col(attrCol).as("_q_attr")))
    val sims = corpus.select(col(idCol).as("c_id"),
        col(embCol).as("_c_emb"), col(attrCol).as("_c_attr"))
      .join(q, col("q_id") =!= col("c_id") &&
        col("_q_attr") === col("_c_attr"))
      .select(col("q_id"), col("c_id"),
        VectorFunctions.cosine(col("_q_emb"), col("_c_emb")).as("sim"))
    rankPruned(sims, k)
  }

  /** D83: k-NN GRAPH construction over the whole corpus — the backbone
    * structure of graph-based curation (SemDeDup-style clustering, label
    * propagation, UMAP-ish layout, graph dedup): every vector gets edges
    * to its `k` nearest cell-mates under the seeded IVF quantizer, with a
    * `mutual` flag marking reciprocated edges (the mutual-kNN graph that
    * robustifies density estimates).
    *
    * This is the all-pairs twin of [[ivfTopK]]: exact cosine is confined
    * to same-cell pairs, so pair volume is O(Σ cell²) with `nlist` as the
    * scaling knob (cells grow ~n/nlist; at lake scale nlist grows with
    * the corpus and the cell id doubles as the physical partition key —
    * D7c — so the self-join and the per-source top-k window both run
    * partition-local). Cross-cell neighbors are the documented recall
    * trade, exactly the SemDeDup boundary (Abbas et al. 2023). The
    * corpus shuffles ONCE on the cell key; ranking ties break on
    * (sim DESC, dst ASC); sims land on the rnd4 grid in the output only,
    * after ranking on the raw fold (the bruteForceTopK convention).
    * The edge table is CacheScope-pinned (the plan consumes it twice) —
    * CALLER CONTRACT: release via [[graft.core.CacheScope.releaseAll]]
    * after materializing, or wrap the action in
    * [[graft.core.CacheScope.scoped]].
    */
  def knnGraph(corpus: DataFrame, k: Int = 4, nlist: Int = 16,
               idCol: String = "vec_id", embCol: String = "embedding",
               coarse: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = coarse.getOrElse(
      seededCentroids(corpus, nlist, idCol = idCol, embCol = embCol))
    val assigned = coded(corpus, cents, Encoding.Flat, idCol, embCol)
    val other = assigned.select(col("cell").as("_cellb"),
      col("c_id").as("dst"), col("_c_emb").as("_eb"))
    val sims = assigned
      .join(other, col("cell") === col("_cellb") && col("c_id") =!= col("dst"))
      .select(col("c_id").as("q_id"), col("dst").as("c_id"),
        VectorFunctions.cosine(col("_c_emb"), col("_eb")).as("sim"))
    // Pinned: the final plan consumes `edges` TWICE (forward + reversed
    // for the mutual flag), and Spark does not CSE duplicate subtrees —
    // unpinned, the O(Σ cell²) self-join and the ranking window run twice
    // per action (and N× under consumer re-execution, the r12 battery's
    // process_graph_knn amplification). Edges are O(n·k) rows — the
    // smallest materialization that caps the self-join at one run.
    val edges = graft.core.CacheScope.pin(rankPruned(sims, k)
      .select(col("q_id").as("src"), col("c_id").as("dst"), col("rank"),
        col("sim")))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("_m"))
    edges.join(rev.hint("shuffle_hash"), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rank"), col("sim"),
        coalesce(col("_m"), lit(false)).as("mutual"))
  }

  /** D42: hard-negative mining for contrastive training — per query the
    * top `n` corpus vectors whose exact cosine falls in [lo, hi): related
    * enough to be informative negatives, below the near-duplicate band
    * that would poison the loss with false negatives (the in-batch /
    * mined-negatives recipe of DPR, Karpukhin et al. 2020). Same
    * broadcast-scan + heap-prune plan as [[bruteForceTopK]] — the band
    * filter runs map-side inside the scan, so candidates outside it never
    * reach the shuffle; at lake scale the same band composes with the
    * IVF/PQ pruned scans. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, n: Int,
                    lo: Double = 0.15, hi: Double = 0.30,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    require(lo < hi, s"hardNegatives: empty band [$lo, $hi)")
    val banded = exactSims(queries, corpus, idCol, embCol)
      .where(col("sim") >= lo && col("sim") < hi)
    rankPruned(banded, n)
  }

  /** Exact cosine for every (query, candidate) pair: broadcast nested
    * loop, map-side — the corpus never shuffles. */
  private def exactSims(queries: DataFrame, corpus: DataFrame,
                        idCol: String, embCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(embCol).as("_q_emb")))
    candidates(corpus, idCol, embCol)
      .join(q, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        VectorFunctions.cosine(col("_q_emb"), col("_c_emb")).as("sim"))
  }

  /** The nlist-with-corpus convention: the coarse quantizer's cell count
    * should GROW with the corpus, or cells get linearly denser and probe
    * work (O(|Q| · nProbe · n/nlist)) silently re-approaches a scan. The
    * default 16 is sized for the sf0.1 fixtures; at sf1 (20k vectors) the
    * r10 adjudication measured nlist=64 halving scored pairs for the same
    * recall shape. 64 ≈ 2^round(log2(√20000 / 2)), so publish exactly that
    * curve: the power of two nearest √n/2, clamped to [16, 65536] (the
    * FAISS-style √n regime; the pow-2 snap keeps cell layouts stable under
    * small corpus drift instead of re-quantizing on every ingest). A 1e9
    * corpus gets 16384 cells of ~61k vectors — probe cost stays
    * O(nProbe·√n) while the at-rest layout keeps directory pruning
    * effective. Callers pass `nlist = Ann.nlistFor(corpusRows)` when the
    * corpus is not fixture-sized. */
  def nlistFor(n: Long): Int = {
    require(n > 0, s"nlistFor: corpus must be non-empty, got $n")
    val target = math.max(math.sqrt(n.toDouble) / 2.0, 16.0)
    val exp = math.round(math.log(target) / math.log(2.0)).toInt
    math.max(16, math.min(65536, 1 << exp))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nProbe` nearest cells and ranks only their members — the standard
    * billion-scale ANN layout (FAISS IVF-Flat shape), here Spark-native:
    *
    *  - centroids train once with [[seededCentroids]] (deterministic
    *    sample-trained k-means) and become PLAN-TIME literals — cell
    *    assignment is an argmin over `nlist` native dot products inside
    *    whole-stage codegen, no model UDF on the hot path (argmin of
    *    |c|² − 2·e·c ≡ nearest centroid);
    *  - the corpus is assigned once (reusable partitioning — at lake scale
    *    this is the table's physical partition key, so a probe reads only
    *    nProbe/nlist of the data);
    *  - queries broadcast with their probe list exploded; ranking work is
    *    O(|Q| · nProbe · cell size), never a corpus scan.
    *
    * The in-memory [[topK]] of the [[Encoding.Flat]] encoding: the same
    * plan [[ivfProbe]] runs over a built layout.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int = 16,
              nProbe: Int = 4, idCol: String = "vec_id",
              embCol: String = "embedding",
              coarse: Option[Array[Array[Double]]] = None): DataFrame =
    topK(queries, corpus, nlist, coarse, k, nProbe, 0, idCol, embCol)(
      (_, _) => Encoding.Flat)

  /** Deterministic sample-trained coarse quantizer: Lloyd's k-means over
    * the `sampleN` corpus vectors with the smallest `md5(id)` (a
    * data-independent pseudo-random sample — the LSH-hyperplane playbook
    * applied to sampling), initialized from the first `nlist` sample rows
    * in md5-rank order and run for a FIXED `iters` iterations with
    * order-pinned double accumulation: members fold in ascending id order,
    * dimensions left-to-right, per-member score = |c|² − 2·e·c with both
    * folds sequential, ties to the lower cell, and an empty cell keeping
    * its previous centroid. Every step is reproducible from the table
    * alone, so the DuckDB oracle replays the identical training and the
    * centroids — hence the cell layout, probe sets and final ranking —
    * match bit-for-bit across engines (the MLlib KMeans this replaces
    * depended on implementation internals no oracle could mirror).
    *
    * The collect is O(sampleN) driver metadata — the standard IVF build
    * shape: quantizer training reads a constant-size sample, never the
    * corpus (FAISS trains IVF coarse quantizers the same way).
    */
  def seededCentroids(corpus: DataFrame, nlist: Int,
                      sampleN: Int = SampleN, iters: Int = Iters,
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): Array[Array[Double]] =
    lloyd(seedSample(corpus, sampleN, idCol, embCol), nlist, iters)

  /** The trainers' default sample size and iteration count. */
  private val SampleN = 256
  private val Iters = 5

  /** The one sample collect of the driver trainers: the [[md5Sample]]
    * rows (id, e) in (md5(id), id) order, O(sampleN · dims). */
  private def seedSample(corpus: DataFrame, sampleN: Int, idCol: String,
                         embCol: String): Array[(Long, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    md5Sample(corpus, sampleN, idCol, embCol)
      .select("id", "e")
      .as[(Long, Array[Float])]
      .collect() // SCALE:ann-seed-sample
  }

  /** The driver Lloyd's of [[seededCentroids]] over a collected sample,
    * pure: init from the first `nlist` rows, members in ascending id,
    * |c|² once per centroid per iteration. */
  private def lloyd(sample: Array[(Long, Array[Float])], nlist: Int,
                    iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "seededCentroids: empty corpus")
    val k = math.min(nlist, sample.length)
    val dims = sample(0)._2.length
    var cents = sample.take(k).map(_._2.map(_.toDouble))
    val members = sample.sortBy(_._1) // accumulation order = ascending id
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      val c2 = cents.map(c => dotSeq(c, c))
      members.foreach { case (_, e) =>
        var best = 0
        var bestScore = Double.MaxValue
        var j = 0
        while (j < k) {
          val c = cents(j)
          var dp = 0.0; var i = 0
          while (i < dims) { dp += e(i).toDouble * c(i); i += 1 }
          val s = c2(j) - 2.0 * dp
          if (s < bestScore) { best = j; bestScore = s } // tie keeps lower j
          j += 1
        }
        val sb = sums(best)
        var i = 0
        while (i < dims) { sb(i) += e(i).toDouble; i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { j =>
        if (counts(j) == 0) cents(j) // empty cell keeps its centroid
        else Array.tabulate(dims)(i => sums(j)(i) / counts(j))
      }
      it += 1
    }
    cents
  }

  /** The quantizer trainers' sample: the `sampleN` rows (id, e, _r) of
    * smallest (md5(id), id) — data-independent and pseudo-random. */
  private def md5Sample(corpus: DataFrame, sampleN: Int, idCol: String,
                        embCol: String): DataFrame =
    corpus
      .select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<float>").as("e"),
        md5(col(idCol).cast("string")).as("_r"))
      .orderBy(col("_r"), col("id"))
      .limit(sampleN)

  /** The quantizer training of one IVF build or in-memory top-k: ONE
    * sample collect at the default size, shared by the coarse quantizer
    * and every PQ codebook, each a driver [[lloyd]] over the collected
    * rows (a book over their `dsub`-wide slice). The rows, their order
    * and their float values are those a collect per quantizer would
    * return, so every centroid and codeword is the same double. */
  private final class Training(corpus: DataFrame, idCol: String,
                               embCol: String) {
    private lazy val sample = seedSample(corpus, SampleN, idCol, embCol)

    def centroids(nlist: Int): Array[Array[Double]] =
      lloyd(sample, nlist, Iters)

    def books(m: Int, ksub: Int, dims: Int): Array[Array[Array[Double]]] = {
      require(dims % m == 0, s"pq: dims=$dims not divisible by m=$m")
      val dsub = dims / m
      Array.tabulate(m) { j =>
        lloyd(sample.map { case (id, e) =>
          (id, e.slice(j * dsub, (j + 1) * dsub))
        }, ksub, Iters)
      }
    }
  }

  /** Quantizer-trainer dispatch: the driver Lloyd's for small cell counts
    * (bit-compat with every existing oracle), the distributed Lloyd's
    * beyond it. The driver loop is O(iters · sampleN · nlist · dims)
    * single-threaded — fine at nlist ≤ ~1024, but [[nlistFor]] publishes a
    * 65536 ceiling where that loop is ~2.7e12 multiplies (hours); past the
    * cutover each iteration's argmin runs as the same codegen
    * [[graft.functions.NearestCentroid]] the probe path uses. */
  def trainCentroids(corpus: DataFrame, nlist: Int, sampleN: Int = 256,
                     iters: Int = 5, idCol: String = "vec_id",
                     embCol: String = "embedding"): Array[Array[Double]] = {
    if (nlist <= 1024)
      // sampleN passes through UNCHANGED on the driver branch — the
      // existing oracles all train at the caller's sampleN (256 default),
      // and inflating it here (e.g. nlist=64 -> 512) would silently move
      // every centroid and break their hash gates while this docstring
      // claimed bit-compat.
      seededCentroids(corpus, nlist, sampleN, iters, idCol, embCol)
    else
      // past the cutover there is no oracle to stay bit-compatible with
      // (no hash-gated caller trains above 1024 cells), so the sample may
      // grow to cover the cell count: 8 points per centroid is the
      // FAISS-ish training floor (its warns start under ~39·nlist)
      seededCentroidsDistributed(corpus, nlist,
        math.max(sampleN, 8 * nlist), iters, idCol, embCol)
  }

  /** The distributed twin of [[seededCentroids]] — BITWISE the same
    * centroids, because every arithmetic step is replayed exactly:
    *
    *  - the training set is the same md5-rank sample (top-`sampleN` by
    *    (md5(id), id) — a distributed TakeOrdered whose single merged
    *    partition is O(sampleN), the trainer's own working-set size);
    *  - per iteration, cell ASSIGNMENT (the O(sampleN · nlist · dims)
    *    cost that serializes the driver loop) runs distributed through
    *    the codegen [[graft.functions.NearestCentroid]], whose
    *    |c|² − 2·e·c argmin and lower-cell tie-break replicate the driver
    *    loop's comparisons operation-for-operation;
    *  - per cell, members fold into double sums in ascending-id order
    *    (mapGroups sorts each cell's sample members — bounded by the
    *    SAMPLE's cell membership, not the corpus), the driver loop's
    *    exact accumulation order, so the means match bit-for-bit;
    *  - only O(nlist · dims) fold results return per iteration.
    *
    * AnnSpec pins distributed ≡ driver on the fixture corpus; the
    * dispatcher [[trainCentroids]] picks this path when
    * iters·sampleN·nlist·dims outgrows a single thread. */
  def seededCentroidsDistributed(corpus: DataFrame, nlist: Int,
      sampleN: Int = 256, iters: Int = 5, idCol: String = "vec_id",
      embCol: String = "embedding"): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampleDf = md5Sample(corpus, sampleN, idCol, embCol)
      // TakeOrdered lands the sample in ONE partition — spread it back
      // out or every iteration's argmin runs single-task (the exact
      // serialization this trainer exists to remove)
      .repartition(math.max(spark.sparkContext.defaultParallelism, 2),
        col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSample = sampleDf.count()
    require(nSample > 0, "seededCentroidsDistributed: empty corpus")
    val k = math.min(nlist.toLong, nSample).toInt
    // init = the first k sample rows in (md5, id) order — the driver
    // trainer's `sample.take(k)`; O(k · dims) driver metadata
    var cents: Array[Array[Double]] = sampleDf
      .orderBy(col("_r"), col("id")).limit(k)
      .select("e").as[Array[Float]].collect() // SCALE:ann-lloyd-init
      .map(_.map(_.toDouble))
    val dims = cents(0).length
    val members = sampleDf.select("id", "e").as[(Long, Array[Float])]
    var it = 0
    while (it < iters) {
      val cs = cents // stable reference for the closure/expression
      val folded = members
        .select(col("id"),
          graft.functions.VectorFunctions
            .nearestCentroid(col("e"), cs).as("cell"),
          col("e"))
        .as[(Long, Int, Array[Float])]
        .groupByKey(_._2)
        .mapGroups { (cell, rows) =>
          val ms = rows.map(r => (r._1, r._3)).toArray.sortBy(_._1)
          val sums = new Array[Double](dims)
          ms.foreach { case (_, e) =>
            var i = 0
            while (i < dims) { sums(i) += e(i).toDouble; i += 1 }
          }
          (cell, sums, ms.length.toLong)
        }
        .collect() // SCALE:ann-lloyd-fold
      val sums = Array.fill(k)(null: Array[Double])
      val counts = new Array[Long](k)
      folded.foreach { case (j, s, n) => sums(j) = s; counts(j) = n }
      cents = Array.tabulate(k) { j =>
        if (counts(j) == 0) cents(j) // empty cell keeps its centroid
        else Array.tabulate(dims)(i => sums(j)(i) / counts(j))
      }
      it += 1
    }
    sampleDf.unpersist(false)
    cents
  }

  /** D56: cluster-balanced coordinated sampling — the diversity-preserving
    * subset selection step of embedding-based data curation: uniform random
    * sampling over-draws the dense regions of embedding space, so the
    * sample is drawn PER CLUSTER instead — every k-means cell contributes
    * its `perCell` smallest-md5(id) members. Mode coverage is structural
    * (every cell is represented), and the draw is coordinated + nested:
    * membership depends only on md5(id) rank within the cell, so a bigger
    * `perCell` strictly appends and two engines/runs select identical rows
    * (the D14/D31/D40 coordination convention).
    *
    * Scale: cell assignment is codegen argmin over plan-time centroid
    * literals (map-only); the only shuffle is ONE cell-partitioned window —
    * cells are independent, so the sample parallelizes by cell, and at
    * lake scale the cell is the table's physical partition key (D7c), so
    * the window runs partition-local.
    */
  def diversitySample(corpus: DataFrame, perCell: Int, nlist: Int = 16,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      coarse: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    val cents = coarse.getOrElse(
      seededCentroids(corpus, nlist, idCol = idCol, embCol = embCol))
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    corpus.select(col(idCol), cellOf(cents, col(embCol)).as("cell"))
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= perCell)
  }

  /** D68: simplified silhouette over the seeded k-means cells — the
    * clustering-QC step that validates an IVF/diversity-sample layout
    * (low mean silhouette ⇒ nlist is wrong for the corpus). Per vector:
    * a = distance to its own centroid, b = distance to the next-nearest
    * centroid, s = (b−a)/max(a,b) (Hruschka et al.'s simplified form —
    * O(n·k) instead of O(n²)).
    *
    * Scale shape: centroids are plan literals, so the whole op is ONE
    * zero-shuffle codegen map over the corpus (distance folds + an
    * array_sort over nlist structs per row). Determinism: ‖x‖² is the
    * same i-ascending double fold as the verified dot expressions;
    * d² = ‖x‖² + (|c|²−2xc) clamps at 0 before the IEEE-exact sqrt; cell
    * ties resolve (score, cell) in both engines. */
  def silhouette(corpus: DataFrame, nlist: Int = 16,
                 idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val cents = seededCentroids(corpus, nlist, idCol = idCol, embCol = embCol)
    val emb = col(embCol)
    val xx = VectorFunctions.dot(emb, emb)
    val sorted = array_sort(array(centScores(cents, emb): _*))
    val aD = sqrt(greatest(xx + element_at(sorted, 1).getField("d"), lit(0.0)))
    val bD = sqrt(greatest(xx + element_at(sorted, 2).getField("d"), lit(0.0)))
    val sil = when(greatest(aD, bD) === 0.0, lit(0.0))
      .otherwise((bD - aD) / greatest(aD, bD))
    corpus.select(col(idCol),
      element_at(sorted, 1).getField("i").as("cell"),
      Exact.rnd4(aD).as("a_dist"), Exact.rnd4(bD).as("b_dist"),
      Exact.rnd4(sil).as("sil"))
  }

  // nearest-centroid score per cell: |c|² − 2·e·c (monotone in distance);
  // |c|² folds dimension-ascending at plan time — the same sequential
  // double fold the oracle's list_sum performs over the same centroid
  def centScores(cents: Array[Array[Double]],
                 emb: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] =
    cents.zipWithIndex.map { case (c, i) =>
      struct((lit(dotSeq(c, c)) - lit(2.0) * VectorFunctions.dotFD(emb,
        typedlit(c))).as("d"), lit(i).as("i"))
    }

  /** a·b as the sequential i-ascending double fold every plan-time norm
    * and cross-term literal uses (the oracle's `list_sum` over the same
    * vectors). */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Nearest-cell assignment. Routed through the native
    * [[graft.functions.NearestCentroid]] expression (matrix as a codegen
    * reference object, one fixed-size nested loop) instead of the
    * literal-unrolled `array_min(array(centScores…))` form, whose
    * O(nlist·dims) generated source blew janino's 64 KB method limit at
    * nlist=128 (`embed_knn_graph`) and fell back to interpreted
    * evaluation. Bit-identical scoring and tie-break — parity pinned in
    * AnnSpec against the unrolled form. */
  private[sim] def cellOf(cents: Array[Array[Double]],
                     emb: org.apache.spark.sql.Column) =
    graft.functions.VectorFunctions.nearestCentroid(emb, cents)

  /** The round-9 literal-unrolled assignment form — kept as the parity
    * twin the AnnSpec pins [[cellOf]] against. */
  private[sim] def cellOfUnrolled(cents: Array[Array[Double]],
                     emb: org.apache.spark.sql.Column) =
    array_min(array(centScores(cents, emb): _*)).getField("i")

  private[sim] def probesOf(cents: Array[Array[Double]],
                       emb: org.apache.spark.sql.Column, nProbe: Int) =
    transform(slice(array_sort(array(centScores(cents, emb): _*)), 1, nProbe),
      s => s.getField("i"))

  /** An IVF encoding: one inverted-file index with pluggable codes (the
    * FAISS `IndexIVF` design). [[build]], [[add]], [[probe]] and [[topK]]
    * run the same steps for every case; the encoding supplies only what
    * differs:
    *  - `name`, the layout marker [[requireEncoding]] checks;
    *  - `books`, the PQ codebooks [[build]] writes beside the centroids;
    *  - `encode`, the stored rows (c_id, _c_emb, cell[, _code*, _rn2])
    *    from (c_id, _e, cell);
    *  - `queryCols`, the broadcast query columns from (q_id, _qe, cell);
    *  - `sim`, the similarity of a joined (query, stored row) pair. */
  private[sim] final case class Encoding(name: String,
      books: Option[Array[Array[Array[Double]]]],
      encode: DataFrame => DataFrame, queryCols: Seq[Column], sim: Column)

  private[sim] object Encoding {
    /** Raw vectors as given, exact cosine. */
    val Flat: Encoding = Encoding("flat", None,
      _.select(col("c_id"), col("_e").as("_c_emb"), col("cell")),
      Seq(col("_qe").as("_q_emb")),
      VectorFunctions.cosine(col("_q_emb"), col("_c_emb")))

    /** Raw-space PQ codes beside the float vector and the reconstruction
      * norm² `_rn2`, so a consumer scores with m+1 lookups and refines
      * from the same row; one code table serves every probe list. */
    def Pq(cbs: Array[Array[Array[Double]]]): Encoding = Encoding("pq",
      Some(cbs), pqCoded(_, cbs, "_e", pqStored: _*),
      pqQueryCols(cbs, "_qe"), adcSim(Seq.empty, cbs.length))

    /** PQ codes of the coarse residual e − cent (FAISS IndexIVFPQ), with
      * ‖cent + r̂‖² = ‖cent‖² + 2·Σ_j (cent_subj·ĉ_j) + Σ_j ‖ĉ_j‖² baked
      * into `_rn2` from plan-time literal tables, and q·cent of each
      * probed cell (an element_at over nlist literal dots) leading the ADC
      * sum. */
    def ResidualPq(cents: Array[Array[Double]],
                   cbs: Array[Array[Array[Double]]]): Encoding = {
      val (cn2, cd) = residualTables(cents, cbs)
      Encoding("residual", Some(cbs), rows =>
        pqCoded(rows.withColumn("_res",
            residualOf(cents, col("_e"), col("cell"))), cbs, "_res",
            pqStored: _*)
          .withColumn("_rn2", element_at(typedlit(cn2), col("cell") + 1) +
            lit(2.0) * cbs.indices.map(j =>
              element_at(element_at(typedlit(cd(j)), col("cell") + 1),
                col(s"_code$j") + 1)).reduceLeft(_ + _) + col("_rn2")),
        element_at(array(cents.map(c =>
            VectorFunctions.dotFD(col("_qe"), typedlit(c))): _*),
          col("cell") + 1).as("_qc") +: pqQueryCols(cbs, "_qe"),
        adcSim(Seq(col("_qc")), cbs.length))
    }

    /** Every marker: a flat probe reads any layout (it needs only
      * `_c_emb`), and deletes and compaction never touch codes. */
    val all: Seq[String] = Seq("flat", "pq", "residual")
  }

  /** What a PQ layout stores beside its codes: the vector as float. */
  private def pqStored: Seq[Column] =
    Seq(col("c_id"), col("_e").cast("array<float>").as("_c_emb"), col("cell"))

  /** The stored rows of `corpus` under `enc`: what [[build]] and [[add]]
    * write, and what [[topK]] ranks in memory. */
  private def coded(corpus: DataFrame, cents: Array[Array[Double]],
                    enc: Encoding, idCol: String, embCol: String): DataFrame =
    enc.encode(corpus.select(col(idCol).as("c_id"), col(embCol).as("_e"),
      cellOf(cents, col(embCol)).as("cell")))

  /** The one IVF ranking, over the in-memory coded corpus ([[topK]]) or
    * a layout's pruned scan ([[probe]]): queries broadcast with their
    * probe lists exploded and `enc`'s query columns, join the stored rows
    * on cell, score by `enc.sim` and rank by [[rankPruned]]. A PQ
    * encoding ranks its ADC top-`rerank` shortlist, which [[refineExact]]
    * re-scores from the raw vectors of the same `cells` rows. */
  private def rankCells(cells: DataFrame, queries: DataFrame,
                        cents: Array[Array[Double]], enc: Encoding, k: Int,
                        nProbe: Int, rerank: Int, idCol: String,
                        embCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
        col(embCol).as("_qe"),
        explode(probesOf(cents, col(embCol), nProbe)).as("cell"))
      .select(col("q_id") +: col("cell") +: enc.queryCols: _*))
    val sims = cells.join(q, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), enc.sim.as("sim"))
    if (enc.books.isEmpty) rankPruned(sims, k)
    else refineExact(queries, cells, rankPruned(sims, rerank), k, idCol,
      embCol)
  }

  /** The one in-memory IVF top-k: the coarse quantizer trains once (or
    * comes in as `coarse`), `enc` gets its codebooks from it or from the
    * same [[Training]] sample, and [[rankCells]] ranks the coded corpus. */
  private def topK(queries: DataFrame, corpus: DataFrame, nlist: Int,
                   coarse: Option[Array[Array[Double]]], k: Int,
                   nProbe: Int, rerank: Int, idCol: String, embCol: String)(
      enc: (Array[Array[Double]], Training) => Encoding): DataFrame = {
    val t = new Training(corpus, idCol, embCol)
    val cents = coarse.getOrElse(t.centroids(nlist))
    val e = enc(cents, t)
    rankCells(coded(corpus, cents, e, idCol, embCol), queries, cents, e, k,
      nProbe, rerank, idCol, embCol)
  }

  /** The schemas of the centroid and codebook sidecars. */
  private val CentroidSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType, containsNull = false))))
  private val CodebookSchema = StructType(Seq(
    StructField("book", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType, containsNull = false))))

  /** The one IVF build. A rebuild first deletes the old marker and the
    * old tombstones (ids deleted from the previous index are not deleted
    * from this one). The quantizers then train from ONE sample collect
    * ([[Training]]; a residual encoding adds the residuals' own sample),
    * and the coded corpus is written PARTITIONED BY its cell id (one
    * directory per inverted list). The centroid sidecar and a PQ
    * encoding's codebook sidecar are written on the driver
    * ([[Tables.writeSidecar]], no Spark job), and LAST the encoding
    * marker, a one-line file written through the Hadoop FileSystem API.
    * A build that dies at any point leaves no marker, and every entry
    * point refuses it. */
  private def build(corpus: DataFrame, path: String, nlist: Int,
                    coarse: Option[Array[Array[Double]]], idCol: String,
                    embCol: String)(
      enc: (Array[Array[Double]], Training) => Encoding): Unit = {
    val spark = corpus.sparkSession
    val marker = new Path(s"$path/encoding")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(marker, false)
    fs.delete(new Path(s"$path/tombstones"), true)
    val t = new Training(corpus, idCol, embCol)
    val cents = coarse.getOrElse(t.centroids(nlist))
    val e = enc(cents, t)
    writeCells(coded(corpus, cents, e, idCol, embCol), s"$path/data",
      "overwrite")
    Tables.writeSidecar(spark, s"$path/centroids", CentroidSchema,
      cents.indices.map(i => Row(i, cents(i).toSeq)))
    e.books.foreach(cbs => Tables.writeSidecar(spark, s"$path/codebooks",
      CodebookSchema, for {
        (book, j) <- cbs.toSeq.zipWithIndex
        (c, r) <- book.toSeq.zipWithIndex
      } yield Row(j, r, c.toSeq)))
    Using.resource(fs.create(marker, true))(_.write(e.name.getBytes("UTF-8")))
  }

  /** The one incremental ADD — the maintenance half of FAISS's train/add
    * contract: new vectors are encoded with the STORED quantizers (add
    * never retrains — retraining would re-key every existing code) and
    * appended as new files inside their cell directories. The probe path
    * is untouched: partition pruning, stored codes and in-row refine see
    * one homogeneous layout, so a daily ingest appends O(new) work to a
    * 100 TB index without rewriting it. */
  private def add(newVecs: DataFrame, path: String, op: String,
                  accepts: String, idCol: String, embCol: String)(
      enc: Array[Array[Double]] => Encoding): Unit = {
    val cents = open(newVecs.sparkSession, path, op, Seq(accepts))
    writeCells(coded(newVecs, cents, enc(cents), idCol, embCol),
      s"$path/data", "append")
  }

  /** The one IVF probe: refuse a layout whose marker `op` does not
    * accept, then [[rankCells]] over the pruned scan. `enc` is built only
    * after the check, from the stored centroids, so a refused layout
    * loads no codebooks. */
  private def probe(spark: SparkSession, path: String, op: String,
                    accepts: Seq[String], queries: DataFrame, k: Int,
                    nProbe: Int, rerank: Int, idCol: String, embCol: String)(
      enc: Array[Array[Double]] => Encoding): DataFrame = {
    val cents = open(spark, path, op, accepts)
    rankCells(scanCells(spark, path, queries, cents, nProbe, embCol),
      queries, cents, enc(cents), k, nProbe, rerank, idCol, embCol)
  }

  /** The clustered partitioned write of every layout write (build, add,
    * compaction): rows cluster by cell BEFORE the partitionBy(cell)
    * write. Without the shuffle every input task writes a file into every
    * cell dir (tasks x nlist small files — 8128 measured at nlist=256 on
    * the sf2 replica); clustered, the layout is ~1 file per cell and the
    * probe IN-filter opens nProbe-proportional files. File SIZE is capped
    * by spark.sql.files.maxRecordsPerFile when a cell outgrows one file
    * at lake scale. Logical content is unchanged (hash gates sort rows;
    * ranking ties are pinned), so oracles are unaffected. */
  private def writeCells(rows: DataFrame, out: String, mode: String): Unit =
    rows.repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(out)

  /** Refuse a layout whose encoding marker is missing or not one of
    * `accepts`, with an IllegalArgumentException naming both. The marker
    * is read through the Hadoop FileSystem API — no Spark job — so an
    * unfinished build, a foreign directory and a layout whose codes `op`
    * would misread are all refused before anything is read or written. */
  private def requireEncoding(spark: SparkSession, path: String, op: String,
                              accepts: Seq[String]): Unit = {
    val p = new Path(s"$path/encoding")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found =
      if (!fs.exists(p)) "none (an unfinished build or no layout)"
      else Using.resource(fs.open(p))(in =>
        new String(in.readAllBytes(), "UTF-8").trim)
    require(accepts.contains(found), s"$op reads encodings " +
      s"${accepts.mkString(", ")}; the layout at $path has encoding $found")
  }

  /** [[requireEncoding]], then the layout's stored centroids —
    * O(nlist·dims) sidecar metadata read on the driver
    * ([[Tables.readSidecar]]), so opening a layout runs no Spark job. */
  private def open(spark: SparkSession, path: String, op: String,
                   accepts: Seq[String]): Array[Array[Double]] = {
    requireEncoding(spark, path, op, accepts)
    Tables.readSidecar(spark, s"$path/centroids", CentroidSchema)
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2).toArray
  }

  /** Materialize the IVF layout on disk: the corpus written PARTITIONED BY
    * its cell id (one directory per inverted list) plus a centroid
    * sidecar — the physical realization of "the cell id is the table's
    * partition key". Build is one assignment pass; the layout is reusable
    * across every future query batch. [[build]] with the flat encoding.
    */
  def ivfBuild(corpus: DataFrame, path: String, nlist: Int = 16,
               idCol: String = "vec_id",
               embCol: String = "embedding"): Unit =
    build(corpus, path, nlist, None, idCol, embCol)((_, _) => Encoding.Flat)

  /** Materialize the full IVF-PQ layout: the corpus written PARTITIONED
    * BY coarse cell with its PQ codes and reconstruction norm INLINE in
    * each row (scan compressed, refine from the same row — no second
    * fetch), plus centroid and codebook sidecars. One assignment+encode
    * pass; every future query batch pays only the probe. This is the
    * at-rest form of [[ivfPqTopK]]'s plan — encode once, reuse always. */
  def ivfPqBuild(corpus: DataFrame, path: String, nlist: Int = 16,
                 m: Int = 4, ksub: Int = 16, dims: Int = 64,
                 idCol: String = "vec_id", embCol: String = "embedding",
                 coarse: Option[Array[Array[Double]]] = None,
                 books: Option[Array[Array[Array[Double]]]] = None): Unit =
    build(corpus, path, nlist, coarse, idCol, embCol)((_, t) => Encoding.Pq(
      books.getOrElse(t.books(m, ksub, dims))))

  /** The stored PQ codebooks of a built layout — O(m·ksub·dsub) sidecar
    * metadata read on the driver (no Spark job), the read half of the
    * train/add separation. */
  private def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Array[Double]]] =
    Tables.readSidecar(spark, s"$path/codebooks", CodebookSchema)
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray)

  /** Incremental ADD to a built IVF-PQ layout ([[add]] with raw-space
    * codes): refuses any layout not marked `pq`. Compaction of
    * accumulated small files is the same materialize-then-swap rewrite
    * the E9 claim store uses. */
  def ivfPqAdd(newVecs: DataFrame, path: String,
               idCol: String = "vec_id", embCol: String = "embedding")
      : Unit =
    add(newVecs, path, "ivfPqAdd", "pq", idCol, embCol)(
      _ => Encoding.Pq(loadCodebooks(newVecs.sparkSession, path)))

  /** Query a built IVF-PQ layout: probed cells become a partition
    * IN-filter (directory pruning — nProbe/nlist of the lake read), the
    * pruned scan ranks from its stored codes, and the refine re-scores
    * the shortlist from the raw vectors already in the scanned rows.
    * Identical ranking to [[ivfPqTopK]] (same deterministic quantizers,
    * same [[rankCells]] plan), so the layout round-trip shares its hash
    * oracle. Refuses any layout not marked `pq`. */
  def ivfPqProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, k: Int, nProbe: Int = 4,
                 rerank: Int = 64, idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame =
    probe(spark, path, "ivfPqProbe", Seq("pq"), queries, k, nProbe, rerank,
      idCol, embCol)(_ => Encoding.Pq(loadCodebooks(spark, path)))

  /** Probe a built IVF index: the probed cell ids (O(|Q|·nProbe), driver
    * side — queries are the broadcast-small side by construction) become
    * an IN-filter on the PARTITION column, so the scan reads only the
    * probed directories — nProbe/nlist of the lake, proven via inputFiles
    * in AnnSpec. Exact cosine over the stored raw vectors, so it reads a
    * layout of any encoding and equals [[ivfTopK]] on it.
    */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, path: String,
               queries: DataFrame, k: Int, nProbe: Int = 4,
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame =
    probe(spark, path, "ivfProbe", Encoding.all, queries, k, nProbe, 0,
      idCol, embCol)(_ => Encoding.Flat)

  /** The pruned corpus scan a probe performs: probed cell ids → IN-filter
    * on the partition column (directory pruning), minus any tombstoned
    * ids ([[ivfDelete]]). Every probe ([[probe]]) flows through the same
    * scan, so all three encodings honor deletes without a rewrite.
    * Public so tests can assert the file-level pruning via `inputFiles`;
    * reads a layout of any encoding. */
  def probedScan(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, cents: Array[Array[Double]], nProbe: Int,
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    requireEncoding(spark, path, "probedScan", Encoding.all)
    scanCells(spark, path, queries, cents, nProbe, embCol)
  }

  private def scanCells(spark: SparkSession, path: String, queries: DataFrame,
                        cents: Array[Array[Double]], nProbe: Int,
                        embCol: String): DataFrame = {
    val probed = queries
      .select(explode(probesOf(cents, col(embCol), nProbe)).as("cell"))
      .distinct().collect().map(_.getInt(0)) // SCALE:ann-probed-cells
    val scan = Tables.parquet(spark, s"$path/data")
      .filter(col("cell").isin(probed.toSeq: _*))
    tombstones(spark, path, "c_id").fold(scan)(t =>
      scan.join(broadcast(t), Seq("c_id"), "left_anti"))
  }

  /** FAISS `remove_ids` for the persisted layouts, lake-style: deleted
    * ids append to a tombstone sidecar — O(deleted) write, NO data
    * rewrite (the Delta/Iceberg delete-file pattern) — and every probe
    * anti-joins the (broadcast-small) tombstone set until
    * [[ivfCompactDeletes]] folds them into the data files. Completes the
    * index maintenance contract: train once, add incrementally (D39b),
    * delete incrementally, compact on maintenance windows. */
  def ivfDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                ids: DataFrame, idCol: String = "vec_id"): Unit = {
    requireEncoding(spark, path, "ivfDelete", Encoding.all)
    ids.select(col(idCol).cast("long").as("c_id")).distinct()
      .repartition(1).write.mode("append").parquet(s"$path/tombstones")
  }

  /** The tombstoned `key`s of a layout (an IVF layout's `c_id`s, an
    * [[InvertedIndex]]'s `doc_id`s), or None while it has none. */
  private[sim] def tombstones(spark: SparkSession, path: String,
                              key: String): Option[DataFrame] = {
    val p = new Path(s"$path/tombstones")
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(new Path(p, "*.parquet")) // null or empty: none yet
    Option(files).filter(_.nonEmpty)
      .map(_ => Tables.parquet(spark, p.toString).select(col(key)))
  }

  /** Maintenance rewrite: fold tombstones into the data files (drop the
    * deleted rows, keep the partitionBy(cell) layout) and clear the
    * sidecar, through [[compactTombstones]]. Materialize-then-swap like
    * the claim-store compactions — the maintenance driver is the single
    * writer. */
  def ivfCompactDeletes(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    requireEncoding(spark, path, "ivfCompactDeletes", Encoding.all)
    compactTombstones(spark, path, "c_id", "data" ->
      ((rows: DataFrame, out: String) => writeCells(rows, out, "overwrite")))
  }

  /** The one compaction of a tombstoned layout: each named directory is
    * rewritten by its writer without the tombstoned `key`s into
    * `<name>_compacting`, then swapped in. Swap order is crash-safe: the
    * live directory is renamed ASIDE (`<name>_old`) before the rewrite
    * renames into place, so a failure at any point leaves a complete
    * directory under a deterministic name (delete-then-rename would leave
    * NO directory if the process died between the two). A leftover `_old`
    * from a prior crash is cleared first. Every rename and delete is
    * checked, so a failed swap throws before the tombstones are touched
    * (an unchecked failed rename could land the rewrite INSIDE the live
    * directory and then drop the tombstones, reviving deleted ids); the
    * tombstones are deleted last, after every directory is live, so a
    * crash before that point only re-applies the anti-join. */
  private[sim] def compactTombstones(spark: SparkSession, path: String,
      key: String, dirs: (String, (DataFrame, String) => Unit)*): Unit = {
    val ts = tombstones(spark, path, key).getOrElse(return)
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    dirs.foreach { case (name, write) =>
      val live = new Path(s"$path/$name")
      val fresh = new Path(s"$path/${name}_compacting")
      val old = new Path(s"$path/${name}_old")
      write(Tables.parquet(spark, live.toString)
        .join(broadcast(ts), Seq(key), "left_anti"), fresh.toString)
      require(!fs.exists(old) || fs.delete(old, true), s"cannot clear $old")
      require(fs.rename(live, old), s"cannot move $live aside to $old")
      require(fs.rename(fresh, live), s"cannot move $fresh to $live")
      fs.delete(old, true) // a leftover is cleared by the next compaction
    }
    fs.delete(new Path(s"$path/tombstones"), true)
  }

  /** Convenience overload loading the sidecar centroids. */
  def probedScan(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, nProbe: Int): DataFrame =
    scanCells(spark, path, queries,
      open(spark, path, "probedScan", Encoding.all), nProbe, "embedding")

  /** Product-quantization codebooks: one deterministic seeded-k-means
    * codebook per contiguous `dsub`-dim subspace (m = dims / dsub books of
    * `ksub` centroids each) — the FAISS PQ training shape (Jégou et al.
    * 2011, "Product quantization for nearest neighbor search") on the
    * [[seededCentroids]] playbook, so every codebook is reproducible from
    * the table alone and the DuckDB oracle replays all m trainings
    * bit-for-bit (one suffixed k-means CTE chain per subspace). The m
    * trainings share ONE sample collect, each slicing its subvectors on
    * the driver.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, dims: Int,
                  idCol: String = "vec_id",
                  embCol: String = "embedding"): Array[Array[Array[Double]]] =
    new Training(corpus, idCol, embCol).books(m, ksub, dims)

  /** PQ-encode map-side: code_j = nearest codebook-j centroid of the j-th
    * subvector (argmin |c|² − 2·e·c, ties to the lower code — the exact
    * [[cellOf]] rule per subspace). Emits the m byte-sized codes plus the
    * reconstruction norm² Σ_j |c_j[code_j]|² (needed by the ADC cosine
    * denominator); both are plan-time-literal lookups inside one map-only
    * projection — at 100 TB this is the compression pass that shrinks each
    * vector to m codes (here 4 bytes vs 256 raw — 64×) and it never
    * shuffles.
    */
  def pqEncode(corpus: DataFrame, cbs: Array[Array[Array[Double]]],
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame =
    pqCoded(corpus, cbs, embCol, col(idCol).as("c_id"))

  /** The one PQ encode pass (of [[pqEncode]] and both PQ encodings):
    * the `keep` columns, then the m code columns `_code0.._codeM-1` of
    * `src` — per book an argmin over ksub plan-time centroid scores on the
    * sliced subvector (ties to the lower code, the [[cellOf]] rule per
    * subspace) — and `_rn2` = Σ_j |c_j[code_j]|². |c|² per (book, code)
    * is an exact sequential plan-time double fold (dims ascending — the
    * same fold the oracle's list_sum over the replayed centroid runs);
    * the Σ_j is a left-associative + chain mirrored verbatim in SQL. */
  private def pqCoded(rows: DataFrame, cbs: Array[Array[Array[Double]]],
                      src: String, keep: Column*): DataFrame = {
    val dsub = cbs(0)(0).length
    val norms = cbs.map(_.map(c => dotSeq(c, c)))
    rows.select(keep ++ cbs.indices.map { j =>
      cellOf(cbs(j), slice(col(src), j * dsub + 1, dsub)).as(s"_code$j")
    }: _*).withColumn("_rn2", cbs.indices.map { j =>
      element_at(typedlit(norms(j)), col(s"_code$j") + 1)
    }.reduceLeft(_ + _))
  }

  /** PQ asymmetric-distance top-k with exact refine (the FAISS
    * IVFPQ+refine shape): every query builds its m×ksub distance table
    * map-side (subvector·centroid dot products — broadcast with the
    * query), the WHOLE corpus is ranked from codes alone — per pair =
    * m table lookups + one divide, never a D-dim fold; approximate
    * cosine = Σ_j dt_j[code_j] / (‖q‖·‖recon‖) — and the ADC top
    * `rerank` shortlist is then re-scored with exact cosine on the raw
    * vectors (an O(|Q|·rerank) broadcast-semi-join fetch, never a second
    * corpus scan) before the final top-k. This is the compressed-domain
    * layout that matters at 100 TB: the scan reads m-byte codes (here
    * 4 bytes vs 256 raw — 64×), exact math touches only the shortlist,
    * and the per-partition heap prune keeps both shuffles at
    * O(partitions·|Q|·topN) exactly like [[bruteForceTopK]]. At lake
    * scale the codes live alongside the IVF cell key in the same
    * partitioned layout (encode once, scan compressed, probe pruned).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 4,
             ksub: Int = 16, dims: Int = 64, rerank: Int = 64,
             idCol: String = "vec_id", embCol: String = "embedding",
             books: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    // train/add separation: a pre-trained codebook set (FAISS's train()
    // step, or the ivfPqBuild sidecar) skips the in-plan training
    val cbs = books.getOrElse(pqCodebooks(corpus, m, ksub, dims, idCol, embCol))
    val coded = pqEncode(corpus, cbs, idCol, embCol)
    val q = broadcast(queries.select(
      col(idCol).as("q_id") +: pqQueryCols(cbs, embCol): _*))
    val adc = coded.join(q, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), adcSim(Seq.empty, cbs.length).as("sim"))
    refineExact(queries, candidates(corpus, idCol, embCol),
      rankPruned(adc, rerank), k, idCol, embCol)
  }

  /** IVF × PQ × refine — the full FAISS-IVFPQ query shape, Spark-native:
    * the coarse quantizer prunes to `nProbe`/`nlist` of the corpus (at
    * lake scale: partition directories, see [[ivfBuild]]), the PQ codes
    * rank the probed cells compressed-domain (m lookups per pair), and
    * only the ADC top-`rerank` shortlist is re-scored exactly. Both
    * quantizers are the deterministic seeded trainer, so one SQL oracle
    * replays coarse + all m sub-trainings and lands on identical cells,
    * codes, shortlists and final ranks. (FAISS encodes RESIDUALS e−cent
    * into the PQ codes for tighter quantization; codes here are raw-space
    * so one code table serves every probe list — see
    * [[ivfPqResidualTopK]] for the residual-encoded variant.)
    *
    * The in-memory [[topK]] of the [[Encoding.Pq]] encoding: the same
    * [[rankCells]] plan [[ivfPqProbe]] runs over a built layout.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nProbe: Int = 4, m: Int = 4, ksub: Int = 16,
                dims: Int = 64, rerank: Int = 64, idCol: String = "vec_id",
                embCol: String = "embedding",
                coarse: Option[Array[Array[Double]]] = None,
                books: Option[Array[Array[Array[Double]]]] = None): DataFrame =
    topK(queries, corpus, nlist, coarse, k, nProbe, rerank, idCol, embCol)(
      (_, t) => Encoding.Pq(books.getOrElse(t.books(m, ksub, dims))))

  /** The float-rounded coarse residual e − cent_{cell} (FAISS's encoding
    * input, faiss IndexIVFPQ::train_residual): double subtraction against
    * the plan-literal centroid of the row's `cellCol`, then ONE cast to
    * float — the single rounding the oracle mirrors with
    * `CAST(CAST(e[i] AS DOUBLE) − c[i] AS FLOAT)`. */
  private def residualOf(cents: Array[Array[Double]],
                         emb: org.apache.spark.sql.Column,
                         cellCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    zip_with(emb.cast("array<double>"),
      element_at(typedlit(cents), cellCol + 1),
      (a, b) => a - b).cast("array<float>")

  /** PQ codebooks trained on coarse residuals — FAISS's IVFPQ training
    * step: ONE shared codebook set over the residuals of every vector
    * w.r.t. its assigned coarse centroid (tighter quantization than
    * raw-space because residual norms are a fraction of vector norms).
    * Same deterministic [[seededCentroids]] trainer per subspace, so the
    * oracle replays coarse assignment → residual → all m sub-trainings. */
  def pqResidualCodebooks(corpus: DataFrame, cents: Array[Array[Double]],
                          m: Int, ksub: Int, dims: Int,
                          idCol: String = "vec_id",
                          embCol: String = "embedding")
      : Array[Array[Array[Double]]] = {
    pqCodebooks(corpus.select(col(idCol), residualOf(cents, col(embCol),
      cellOf(cents, col(embCol))).as("_res")), m, ksub, dims, idCol, "_res")
  }

  /** Residual-encoded IVF-PQ (the FAISS IndexIVFPQ default, vs
    * [[ivfPqTopK]]'s raw-space codes): codes quantize e − cent, and the
    * ADC reconstruction is cent + r̂, so
    * sim ≈ (q·cent + Σ_j dt_j[code_j]) / (‖q‖·‖cent + r̂‖) with
    * ‖cent + r̂‖² = ‖cent‖² + 2·Σ_j (cent_subj·ĉ_j) + Σ_j ‖ĉ_j‖².
    * Every cross term is a plan-time literal — ‖cent‖² per cell (nlist
    * doubles), cent_subj·codeword per (cell, book, code) (nlist·m·ksub
    * doubles, 1024 here) and ‖codeword‖² per (book, code) — so scoring
    * stays m+2 table lookups per pair plus one per-(query, probed-cell)
    * q·cent dot computed broadcast-side. Same probe pruning, per-partition
    * heap prune and exact refine as the raw-space plan; the corpus never
    * shuffles. All derived literals are i-ascending sequential folds, the
    * exact `list_sum(list_transform(...))` image the oracle replays, so
    * sims match bit-for-bit. The in-memory [[topK]] of the
    * [[Encoding.ResidualPq]] encoding.
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        nlist: Int = 16, nProbe: Int = 4, m: Int = 4,
                        ksub: Int = 16, dims: Int = 64, rerank: Int = 64,
                        idCol: String = "vec_id",
                        embCol: String = "embedding",
                        coarse: Option[Array[Array[Double]]] = None,
                        books: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame =
    topK(queries, corpus, nlist, coarse, k, nProbe, rerank, idCol, embCol)(
      (cents, _) => Encoding.ResidualPq(cents, books.getOrElse(
        pqResidualCodebooks(corpus, cents, m, ksub, dims, idCol, embCol))))

  /** The residual encoding's plan-time literal tables: ‖cent‖² per cell
    * and the cross term cent_subj·codeword per (book, cell, code) —
    * O(nlist·m·ksub) doubles, all i-ascending sequential folds (the exact
    * `list_sum(list_transform(...))` image the oracle replays). */
  private def residualTables(cents: Array[Array[Double]],
                             cbs: Array[Array[Array[Double]]])
      : (Array[Double], Array[Array[Array[Double]]]) = {
    val dsub = cbs(0)(0).length
    val cd = Array.tabulate(cbs.length) { j =>
      Array.tabulate(cents.length, cbs(j).length) { (cl, r) =>
        dotSeq(cents(cl).slice(j * dsub, (j + 1) * dsub), cbs(j)(r))
      }
    }
    (cents.map(c => dotSeq(c, c)), cd)
  }

  /** Materialize the residual-encoded IVF-PQ layout — the FAISS
    * IndexIVFPQ DEFAULT encoding, at rest through the same [[build]] as
    * [[ivfPqBuild]]: corpus partitioned by coarse cell with the residual
    * codes, the raw vector AND the cross-term-baked reconstruction norm
    * inline in each row (scan compressed, refine from the same row), plus
    * centroid/codebook sidecars and the `residual` encoding marker, so a
    * raw-space entry point refuses codes it would misread. One encode
    * pass; every future query batch pays only the probe. */
  def ivfPqResidualBuild(corpus: DataFrame, path: String, nlist: Int = 16,
                         m: Int = 4, ksub: Int = 16, dims: Int = 64,
                         idCol: String = "vec_id",
                         embCol: String = "embedding",
                         coarse: Option[Array[Array[Double]]] = None,
                         books: Option[Array[Array[Array[Double]]]] = None)
      : Unit =
    build(corpus, path, nlist, coarse, idCol, embCol)((cents, _) =>
      Encoding.ResidualPq(cents, books.getOrElse(
        pqResidualCodebooks(corpus, cents, m, ksub, dims, idCol, embCol))))

  /** Incremental ADD to a residual-encoded layout — the [[ivfPqAdd]]
    * contract with residual codes: new vectors encode against the STORED
    * coarse centroids and residual codebooks (add never retrains) and
    * append inside their cell directories; the probe sees one homogeneous
    * layout. Refuses any layout not marked `residual`. */
  def ivfPqResidualAdd(newVecs: DataFrame, path: String,
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): Unit =
    add(newVecs, path, "ivfPqResidualAdd", "residual", idCol, embCol)(
      cents => Encoding.ResidualPq(cents,
        loadCodebooks(newVecs.sparkSession, path)))

  /** Query the residual-encoded layout: probed cells → partition
    * IN-filter (directory pruning, nProbe/nlist of the lake read), ADC
    * from the stored codes + inline `_rn2` (cross terms already baked
    * into the row at build time), exact refine from the raw vectors in
    * the scanned rows. Identical ranking to [[ivfPqResidualTopK]] (same
    * deterministic quantizers), so the at-rest round-trip shares its
    * hash oracle. Honors [[ivfDelete]] tombstones via [[probedScan]].
    * Refuses any layout not marked `residual`. */
  def ivfPqResidualProbe(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, k: Int,
                         nProbe: Int = 4, rerank: Int = 64,
                         idCol: String = "vec_id",
                         embCol: String = "embedding"): DataFrame =
    probe(spark, path, "ivfPqResidualProbe", Seq("residual"), queries, k,
      nProbe, rerank, idCol, embCol)(
      cents => Encoding.ResidualPq(cents, loadCodebooks(spark, path)))

  /** The PQ query side: ADC distance tables `_dt0.._dtM-1` (dt_j[r] =
    * q_subj · c_{j,r}, the dotFD fold — m·ksub dots computed once per
    * query, broadcast with it) and ‖q‖² `_qn2`. */
  private def pqQueryCols(cbs: Array[Array[Array[Double]]],
                          embCol: String): Seq[Column] = {
    val dsub = cbs(0)(0).length
    cbs.indices.map { j =>
      array(cbs(j).indices.map { r =>
        VectorFunctions.dotFD(slice(col(embCol), j * dsub + 1, dsub),
          typedlit(cbs(j)(r)))
      }: _*).as(s"_dt$j")
    } :+ VectorFunctions.dot(col(embCol), col(embCol)).as("_qn2")
  }

  /** ADC cosine from the joined code/table columns:
    * (lead… + Σ_j dt_j[code_j]) / (‖q‖·‖recon‖), sums left-associative;
    * the residual encoding leads with q·cent. */
  private def adcSim(lead: Seq[Column], m: Int): Column = {
    val adot = (lead ++ (0 until m).map { j =>
      element_at(col(s"_dt$j"), col(s"_code$j") + 1)
    }).reduceLeft(_ + _)
    adot / (sqrt(col("_qn2")) * sqrt(col("_rn2")))
  }

  /** Per-dimension (min, max) of the corpus embeddings — the training
    * step of the int8 scalar quantizer (FAISS's SQ8): O(dims) metadata
    * collected once and inlined as plan-time literals, like the IVF
    * centroids and PQ codebooks. One partial-agg pass over the corpus
    * (the posexplode is map-side; the shuffle carries `dims` groups).
    * min/max are order-free and exact, so the oracle replays them. */
  def sq8Stats(corpus: DataFrame, embCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(embCol).cast("array<double>")))
      .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
      .orderBy("pos").collect() // SCALE:ann-sq8-stats
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Dequantized corpus vector from per-dim stats: code_j = clamped
    * round of (x_j − mn_j)/sc_j, recon_j = mn_j + code_j·sc_j. All the
    * arithmetic is exact double ops in a pinned order, so codes AND
    * reconstructions replay bit-for-bit cross-engine. */
  private def sq8ReconCol(mn: Array[Double], sc: Array[Double],
                          embCol: String): org.apache.spark.sql.Column = {
    val codeD = zip_with(
      zip_with(col(embCol).cast("array<double>"), typedlit(mn.toSeq),
        (a, m) => a - m),
      typedlit(sc.toSeq),
      (d, s0) => when(s0 === 0d, 0d)
        .otherwise(least(greatest(floor(d / s0 + lit(0.5)), lit(0d)),
          lit(255d))))
    zip_with(zip_with(codeD, typedlit(sc.toSeq), (c0, s0) => c0 * s0),
      typedlit(mn.toSeq), (v, m0) => m0 + v)
  }

  /** D46: int8 scalar-quantized top-k (the FAISS SQ8 storage path): the
    * corpus is stored as one byte per dimension (4× smaller than float32,
    * 8× smaller than the training doubles) plus 2·dims doubles of global
    * stats; ranking runs on the dequantized vectors — map-only encode +
    * the same broadcast-scan + per-partition heap prune as the exact
    * baseline, so the corpus never shuffles and the quantized scan reads
    * a quarter of the bytes. Unlike PQ (codes index learned centroids),
    * SQ quantizes each dimension independently on a uniform grid — no
    * training beyond min/max, reconstruction error ≤ sc_j/2 per dim. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", embCol: String = "embedding",
              stats: Option[(Array[Double], Array[Double])] = None)
      : DataFrame = {
    val (mn, mx) = stats.getOrElse(sq8Stats(corpus, embCol))
    val sc = mn.indices.map(j => (mx(j) - mn(j)) / 255.0).toArray
    val coded = corpus.select(col(idCol).as("c_id"),
        sq8ReconCol(mn, sc, embCol).as("_recon"))
      .withColumn("_rn2",
        VectorFunctions.dotDD(col("_recon"), col("_recon")))
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(embCol).as("_q_emb"),
      VectorFunctions.dot(col(embCol), col(embCol)).as("_qn2")))
    val sims = coded.join(q, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VectorFunctions.dotFD(col("_q_emb"), col("_recon")) /
          (sqrt(col("_qn2")) * sqrt(col("_rn2")))).as("sim"))
    rankPruned(sims, k)
  }

  /** D48: binary (1-bit) embedding quantization + Hamming pre-rank — the
    * third compression tier (float32 → SQ8 → 1 bit): each dimension
    * thresholds at its midrange (reusing the [[sq8Stats]] train step, so
    * the cut is order-free and replayable), 64 dims pack into ONE Long
    * per vector (64× smaller than float32), and the scan pre-ranks with
    * `bit_count(sig_q XOR sig_c)` — a two-instruction comparison, no
    * float math at all, so the shortlist order is integer-exact in every
    * engine. Only the Hamming top-`rerank` shortlist is re-scored with
    * exact cosine (the [[pqTopK]] refine shape). At 100 TB the signature
    * column is the scan: 8 bytes/vector against 256 for raw float32,
    * and the refine touches O(|Q|·rerank) rows. */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 rerank: Int = 64, idCol: String = "vec_id",
                 embCol: String = "embedding",
                 stats: Option[(Array[Double], Array[Double])] = None)
      : DataFrame = {
    val (mn, mx) = stats.getOrElse(sq8Stats(corpus, embCol))
    require(mn.length <= 64, s"binaryTopK packs into one Long: ≤64 dims")
    val mid = mn.indices.map(j => (mn(j) + mx(j)) / 2.0).toArray
    val pow = mn.indices.map(j => 1L << j).toArray
    def packCol(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val bits = zip_with(e.cast("array<double>"), typedlit(mid.toSeq),
        (a, m) => when(a > m, 1L).otherwise(0L))
      aggregate(zip_with(bits, typedlit(pow.toSeq), (b, p) => b * p),
        lit(0L), (acc, v) => acc + v)
    }
    val c = corpus.select(col(idCol).as("c_id"),
      packCol(col(embCol)).as("_c_sig"))
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      packCol(col(embCol)).as("_q_sig")))
    val ham = c.join(q, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (-bit_count(col("_q_sig").bitwiseXOR(col("_c_sig"))))
          .cast("double").as("sim"))
    refineExact(queries, candidates(corpus, idCol, embCol),
      rankPruned(ham, rerank), k, idCol, embCol)
  }

  /** A corpus as (c_id, _c_emb) candidate rows. */
  private def candidates(corpus: DataFrame, idCol: String,
                         embCol: String): DataFrame =
    corpus.select(col(idCol).as("c_id"), col(embCol).as("_c_emb"))

  /** Exact-cosine re-scoring of a (q_id, c_id) shortlist: raw vectors are
    * fetched from the (c_id, _c_emb) `cands` rows via a broadcast
    * semi-join (the corpus never reshuffles) and only O(|Q|·shortlist)
    * exact folds run. */
  private def refineExact(queries: DataFrame, cands: DataFrame,
                          shortlist: DataFrame, k: Int, idCol: String,
                          embCol: String): DataFrame = {
    val qRaw = broadcast(queries.select(col(idCol).as("q_id"),
      col(embCol).as("_q_emb")))
    val exact = cands.select(col("c_id"), col("_c_emb"))
      .join(broadcast(shortlist.select("q_id", "c_id")), Seq("c_id"))
      .join(qRaw, Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        VectorFunctions.cosine(col("_q_emb"), col("_c_emb")).as("sim"))
    rankPruned(exact, k)
  }

  /** The one ranking step of every top-k here: per-partition top-k prune
    * + global rank of (q_id, c_id, sim) rows. The global top-k under
    * (sim DESC, c_id ASC) is a subset of the union of per-partition top-k
    * under the same total order. */
  private[sim] def rankPruned(sims: DataFrame, k: Int): DataFrame = {
    val spark = sims.sparkSession
    import spark.implicits._
    val pruned: Dataset[Scored] = sims.as[Scored].mapPartitions { it =>
      val heaps = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.PriorityQueue[Scored]]
      val ord = Ordering.by[Scored, (Double, Long)](s => (-s.sim, s.c_id))
      it.foreach { s =>
        val h = heaps.getOrElseUpdate(s.q_id,
          new scala.collection.mutable.PriorityQueue[Scored]()(ord))
        if (h.size < k) h.enqueue(s)
        else if (ord.lt(s, h.head)) { h.dequeue(); h.enqueue(s) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    pruned.toDF()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"),
        Exact.rnd4(col("sim")).as("sim"))
  }

  /** LSH-bucketed approximate top-k with OR-amplification: `tables`
    * independent hash tables of `planes` sign-LSH bits each
    * (Dedup.lshBucket with a per-table seed); a corpus vector is a
    * candidate for a query if they share a bucket in ANY table — recall
    * ≈ 1−(1−p^planes)^tables for per-bit agreement p. Ranking runs only on
    * bucket-mates. The corpus is bucketed once (a `tables`-way explode —
    * the classic LSH space/recall trade) and that layout is reusable
    * across query batches; per-query work is bucket size, not corpus size.
    *
    * `hammingProbes = 1` turns on MULTI-PROBE: each query additionally
    * probes every bucket at Hamming distance 1 (one sign bit flipped) —
    * the standard recall lever that costs (1 + planes)× QUERY-side
    * lookups while the corpus layout stays untouched, exactly what you
    * want when the corpus is 100 TB and the query batch is small.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int = 4,
              tables: Int = 8, hammingProbes: Int = 0,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    require(hammingProbes >= 0 && hammingProbes <= 1,
      s"hammingProbes: only 0 or 1 supported, got $hammingProbes")
    def flip(b: org.apache.spark.sql.Column, p: Int) = concat(
      substring(b, 1, p),
      when(substring(b, p + 1, 1) === "1", "0").otherwise("1"),
      substring(b, p + 2, planes - p - 1))
    // Two-projection shape: the per-table base signature is computed ONCE
    // as a named column, and the flip fan-out references that column. The
    // round-9 form embedded the full base expression in every flip's
    // three substrings — tables·(1+planes)·3 sign-LSH signatures inlined
    // into ONE projection, past janino's 64 KB method limit on the query
    // side (interpreted fallback). A multiply-referenced non-cheap column
    // is exactly what CollapseProject refuses to inline, so the split
    // survives optimization and each stage codegens.
    def withBases(df: DataFrame, emb: org.apache.spark.sql.Column,
                  keep: Seq[org.apache.spark.sql.Column]) =
      df.select(keep ++ (0 until tables).map(t =>
        Dedup.lshBucket(emb, planes, seed = s"$t/").as(s"_b$t")): _*)
    def explodeBuckets(df: DataFrame, probes: Int,
                       keep: Seq[org.apache.spark.sql.Column]) = {
      val arr = array((0 until tables).flatMap { t =>
        val base = col(s"_b$t")
        val bs =
          if (probes == 0) Seq(base)
          else base +: (0 until planes).map(p => flip(base, p))
        bs.map(b => struct(lit(t).as("t"), b.as("bucket")))
      }: _*)
      df.select(keep :+ explode(arr).as("tb"): _*)
        .select(keep ++ Seq(col("tb.t"), col("tb.bucket")): _*)
    }
    val bucketed = explodeBuckets(
      withBases(corpus, col(embCol),
        Seq(col(idCol).as("c_id"), col(embCol).as("_c_emb"))),
      0, Seq(col("c_id"), col("_c_emb")))
    val q = broadcast(explodeBuckets(
      withBases(queries, col(embCol),
        Seq(col(idCol).as("q_id"), col(embCol).as("_q_emb"))),
      hammingProbes, Seq(col("q_id"), col("_q_emb"))))
    rankPruned(bucketed.join(q, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        VectorFunctions.cosine(col("_q_emb"), col("_c_emb")).as("sim"))
      .distinct(), k) // a pair colliding in several tables ranks once
  }
}
