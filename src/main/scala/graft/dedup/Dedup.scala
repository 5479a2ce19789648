package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exact
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** Deduplication operators for LLM-scale corpora (SURVEY.md §2D1–D5).
  *
  * Scale design: every candidate-generation step is a groupBy/self-join on a
  * fixed-width key (hash, band-signature, LSH bucket), so the shuffle volume
  * is O(documents), never O(documents²). Quadratic work (Jaccard, cosine
  * verification) only ever runs on bucket-mates. Hash primitive is md5 so
  * the DuckDB oracle reproduces every signature bit-for-bit.
  */
object Dedup {

  // ---- D1: exact dedup ----------------------------------------------------

  /** Exact duplicate groups after text normalization: one row per distinct
    * fingerprint with the surviving (minimum) id and the group size.
    * One map pass + one groupBy on the 32-byte fingerprint.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(md5(TextFunctions.normalize(col(textCol))).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("survivor"), count(lit(1)).as("n_dups"))

  // ---- D2: MinHash + LSH --------------------------------------------------

  /** Per-document MinHash band signatures: for each of `bands` hash families
    * the minimum 32-bit (8 hex char) hash over the document's `w`-word
    * shingles. Output is long format (id, band, sig) ready for the bucket
    * join. Map-only.
    *
    * The 8 band hashes are carved out of TWO md5 digests per shingle
    * (md5(s) ‖ md5("x:"‖s) = 64 hex chars = 8 × 8-char hashes) instead of
    * hashing each shingle once per band — 4× less hashing on the scan,
    * identical statistics, and the oracle mirrors it with the same substr.
    */
  def minhashSignatures(docs: DataFrame, bands: Int = 8, w: Int = 4,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    minhashSignaturesFrom(docs.select(col(idCol),
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w)
        .as("_shs")), bands, idCol)

  /** [[minhashSignatures]] over a pre-shingled corpus (idCol, `_shs`) — the
    * seam [[dedupEnsemble]] uses to share ONE tokenize+shingle pass across
    * its detectors. Band signatures are `array_min` over the per-shingle
    * hashes, which is duplicate-insensitive, so a distinct or non-distinct
    * shingle array yields bit-identical signatures. */
  private[graft] def minhashSignaturesFrom(shingled: DataFrame,
      bands: Int = 8, idCol: String = "doc_id"): DataFrame = {
    require(bands <= 8, s"minhash: >8 bands needs a third digest (got $bands)")
    // own projection: the 8 band expressions below all reference `_hh`, and
    // without this boundary each would re-evaluate the md5 transform
    // (expression trees aren't CSE'd across array elements)
    val hashed = shingled.select(col(idCol),
      transform(col("_shs"),
        s => concat(md5(s), md5(concat(lit("x:"), s)))).as("_hh"))
    val bandSigs = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        array_min(transform(col("_hh"), h => substring(h, j * 8 + 1, 8))).as("sig"))
    }: _*)
    hashed.select(col(idCol), explode(bandSigs).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
      // docs shorter than one shingle have no signature (array_min over an
      // empty set is null). Keep them out: groupBy would treat null as a
      // REAL key and bucket every shingle-less doc together — an equi-join
      // (and the DuckDB oracle) drops nulls instead.
      .filter(col("sig").isNotNull)
  }

  /** LSH candidate pairs: documents sharing any band signature.
    * `n_bands` = number of agreeing bands (collision strength).
    *
    * Pairs explode only within buckets, so the work is quadratic in bucket
    * size, never in corpus size. The size-guard branch does re-evaluate the
    * signature subtree (Spark does not CSE duplicate plan fragments), but
    * that branch collapses map-side to O(buckets) rows — a second pass of
    * cheap md5 column math, far cheaper than the full-corpus sort a window
    * count pays; callers who already materialize signatures (the streaming
    * path, an incremental-dedup pipeline) can hand in a persisted `sigs`
    * and pay the scan once.
    *
    * `maxBucket` is the boilerplate guard: a bucket of n docs explodes to
    * n(n−1)/2 pairs, so one boilerplate signature shared by 10⁶ docs would
    * dominate the whole job — buckets above the cap are dropped (standard
    * LSH-dedup practice: such buckets are near-certain template text, and
    * the exact/SimHash passes still catch their identical members). The
    * cardinality check is a separate `groupBy(band, sig).count()` joined
    * back on the bucket key BEFORE collect_list: map-side partial
    * aggregation collapses the size branch to O(buckets) shuffled rows, and
    * filtering ahead of the list build keeps any over-cap bucket out of a
    * collect_list buffer (a single unspillable array). The join is hinted
    * shuffle_hash — a sort-merge join would re-pay, on every signature row,
    * exactly the full-corpus sort this formulation exists to avoid (a
    * window count costs that sort; measured 3× on the round-3 bench). Both
    * join sides and the downstream groupBy share the (band, sig) hash
    * partitioning, so the guard adds only the O(buckets) size shuffle.
    */
  def minhashCandidates(sigs: DataFrame, idCol: String = "doc_id",
                        maxBucket: Int = 1024): DataFrame = {
    val sizes = sigs.groupBy("band", "sig")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBucket)
      .select(col("band"), col("sig"))
    val bounded = sigs.join(sizes.hint("shuffle_hash"), Seq("band", "sig"))
    val buckets = bounded.groupBy("band", "sig")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    buckets
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Connectivity-only candidate edges: per capped (band, sig) bucket, a
    * STAR from every member to the bucket minimum instead of the all-pairs
    * clique. A bucket's star and its clique connect the same node set, so
    * connected components — and therefore [[resolveClusters]]/[[keepBest]]/
    * [[leakSafeSplit]] — are IDENTICAL to the [[minhashCandidates]] graph
    * (which has no band-count threshold; any shared capped bucket is an
    * edge either way; null signatures drop out in the equi-join exactly as
    * they do in the pair generator).
    *
    * The point is scale: a b-member bucket emits b−1 edges, not b(b−1)/2
    * pairs. Edge volume is O(|sigs|) = O(docs · bands) REGARDLESS of
    * duplicate density, where the clique form grows quadratically with
    * cluster size — the round-6 replica corpus measured 8.8M clique edges
    * vs ≤1.2M star edges for the same components. Pair-verification ops
    * (Jaccard, n_bands evidence) still need [[minhashCandidates]]; every
    * component-only consumer should take this graph.
    */
  def minhashStarEdges(sigs: DataFrame, idCol: String = "doc_id",
                       maxBucket: Int = 1024): DataFrame = {
    val roots = sigs.groupBy("band", "sig")
      .agg(min(col(idCol)).as("doc_a"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBucket)
      .select(col("band"), col("sig"), col("doc_a"))
    sigs.join(roots.hint("shuffle_hash"), Seq("band", "sig"))
      .filter(col(idCol) =!= col("doc_a"))
      .select(col("doc_a"), col(idCol).as("doc_b"))
      .distinct()
  }

  // ---- D4: n-gram Jaccard verification ------------------------------------

  /** Exact shingle-set Jaccard for candidate pairs (verification stage —
    * only ever runs on LSH bucket-mates). |A∪B| = |A| + |B| − |A∩B| with
    * pure integer counting (cross-engine exact).
    *
    * Shingle sets stay PACKED as per-document arrays and the intersection
    * is `array_intersect` inside codegen per pair — no (doc, shingle)
    * explode, no distinct shuffle, no shingle-keyed join. Shingling is
    * map-side over the corpus scan; only the fixed-width id joins shuffle.
    *
    * `candidates` is referenced once (Spark does not CSE duplicate plan
    * subtrees, so e.g. a candidate-id semi-join here would re-run the whole
    * LSH pipeline). When candidates are a vanishing fraction of a lake-scale
    * corpus, materialize the candidate ids first and pre-filter `docs`
    * before calling — a pipeline decision, not one this plan can make.
    */
  def jaccard(docs: DataFrame, candidates: DataFrame, w: Int = 4,
              threshold: Double = 0.5, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    jaccardFrom(shingledDistinct(docs, w, idCol, textCol), candidates,
      threshold, idCol)

  /** The (idCol, `_shs` distinct shingle set) projection every verifier
    * consumes — factored so [[dedupEnsemble]] (and the gate queries) can
    * hand in a persisted pre-shingled corpus instead of re-tokenizing per
    * detector. */
  private[graft] def shingledDistinct(docs: DataFrame, w: Int = 4,
                                      idCol: String = "doc_id",
                                      textCol: String = "text"): DataFrame =
    // SORTED once per document: every pair verifier then intersects by
    // merge scan (intersect_count_sorted) — binary comparisons instead of
    // a per-PAIR HashSet build. Band mins are order-insensitive, so the
    // minhash leg reads the same column unchanged.
    docs.select(col(idCol), array_sort(array_distinct(
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w)))
      .as("_shs"))

  /** [[jaccard]] over a pre-shingled corpus (idCol, `_shs`). */
  private[graft] def jaccardFrom(sh: DataFrame, candidates: DataFrame,
      threshold: Double = 0.5, idCol: String = "doc_id"): DataFrame = {
    // one corpus pass: pairs unpivot to (pair, role, id), broadcast against
    // the packed shingle arrays, then regroup per pair — the regroup shuffle
    // is O(candidates), the corpus is scanned and shingled exactly once
    val tagged = candidates.select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    val joined = sh.select(col(idCol), col("_shs"))
      .join(broadcast(tagged), Seq(idCol))
    pairScores(joined, threshold, idCol)
  }

  /** Dense-regime twin of [[jaccard]] — use when candidate PAIRS are too
    * many to broadcast (high true-duplicate density: crawl snapshots,
    * replicated shards — the sf1 stress corpus hit 2.2M pairs). The
    * candidate-member ID SET is still small (≤ 2 longs per pair, usually
    * far fewer after dedup), so it broadcasts as a semi-join filter on the
    * corpus; the docs that survive shuffle by id against the pair list —
    * O(members + pairs), never O(corpus) — and the same regroup scores
    * each pair. Same contract, same oracle; DedupSpec pins parity.
    */
  def jaccardDense(docs: DataFrame, candidates: DataFrame, w: Int = 4,
                   threshold: Double = 0.5, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val tagged = candidates.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    val members = tagged.select(col(idCol)).distinct()
    val sh = docs.join(broadcast(members), Seq(idCol), "left_semi")
      .select(col(idCol), array_sort(array_distinct(
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w)))
        .as("_shs"))
    pairScores(sh.join(tagged.hint("shuffle_hash"), Seq(idCol)),
      threshold, idCol)
  }

  /** [[jaccardDense]] over a pre-shingled corpus (idCol, `_shs`): shingling
    * is already paid, so the member semi-join just prunes cached rows. */
  private[graft] def jaccardDenseFrom(sh: DataFrame, candidates: DataFrame,
      threshold: Double = 0.5, idCol: String = "doc_id"): DataFrame = {
    val tagged = candidates.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    val members = tagged.select(col(idCol)).distinct()
    val pruned = sh.select(col(idCol), col("_shs"))
      .join(broadcast(members), Seq(idCol), "left_semi")
    pairScores(pruned.join(tagged.hint("shuffle_hash"), Seq(idCol)),
      threshold, idCol)
  }

  /** Adaptive verification: measure the candidate-pair count (one
    * O(buckets) aggregate over the persisted candidate set) and pick the
    * plan — the broadcast-pairs form below `densePairs`, the member-semi-
    * join [[jaccardDense]] form above it. This takes the regime decision
    * [[jaccard]]'s Scaladoc leaves to "a pipeline decision" from a
    * measurement instead of a guess: at low duplicate density the pair
    * list is tiny and broadcasting it wins; on a crawl-snapshot corpus
    * (the sf1 replica crossed 4M pairs) the pair list outgrows a sane
    * broadcast while the member ID SET stays broadcastable. Both plans
    * return identical rows (parity spec-pinned), so the switch is
    * invisible to the oracle. The candidates are persisted so the count
    * and the chosen plan share one LSH pass; callers owning a longer
    * pipeline can unpersist after consuming the result.
    */
  def jaccardAuto(docs: DataFrame, candidates: DataFrame, w: Int = 4,
                  threshold: Double = 0.5, idCol: String = "doc_id",
                  textCol: String = "text",
                  densePairs: Long = 1000000L): DataFrame = {
    val pinned = graft.core.CacheScope.pin(candidates)
    val dense = pinned.count() >= densePairs
    if (dense) jaccardDense(docs, pinned, w, threshold, idCol, textCol)
    else jaccard(docs, pinned, w, threshold, idCol, textCol)
  }

  /** [[jaccardAuto]] over a pre-shingled corpus (idCol, `_shs`) — same
    * measured regime switch, same pinned-candidates contract. `pin=false`
    * skips the internal persist when the caller already pinned the
    * candidate source ([[dedupEnsemble]] — avoids caching the same pair
    * table twice). */
  private[graft] def jaccardAutoFrom(sh: DataFrame, candidates: DataFrame,
      threshold: Double = 0.5, idCol: String = "doc_id",
      densePairs: Long = 1000000L, pin: Boolean = true): DataFrame = {
    val pinned =
      if (pin) graft.core.CacheScope.pin(candidates) else candidates
    val dense = pinned.count() >= densePairs
    if (dense) jaccardDenseFrom(sh, pinned, threshold, idCol)
    else jaccardFrom(sh, pinned, threshold, idCol)
  }

  /** Shared verification tail: regroup the (pair, member-shingles) rows to
    * one row per pair and score |A∩B| / |A∪B| with integer counting. */
  private def pairScores(joined: DataFrame, threshold: Double,
                         idCol: String): DataFrame = {
    val agg = joined.groupBy("doc_a", "doc_b").agg(
      first(when(col(idCol) === col("doc_a"), col("_shs")),
        ignoreNulls = true).as("_sha"),
      first(when(col(idCol) === col("doc_b"), col("_shs")),
        ignoreNulls = true).as("_shb"))
    // native count-only intersection over the per-DOC sorted shingle
    // arrays: a pure merge scan — no intersection array materialized, no
    // per-pair HashSet, no per-pair string hashing. Bit-identical to
    // size(array_intersect(...)) on the sorted-distinct inputs every
    // caller provides (spec-pinned).
    val nInter = graft.functions.SetFunctions
      .intersectCountSorted(col("_sha"), col("_shb"))
    val j = nInter.cast("double") /
      (size(col("_sha")) + size(col("_shb")) - nInter)
    // degenerate guard: a shingle-less member makes j 0/0 = NaN, and Spark
    // orders NaN ABOVE every number, so NaN >= threshold would pass while
    // the oracle drops such pairs. Unreachable from LSH candidates (no
    // shingles → no signature → never a candidate) but load-bearing for
    // arbitrary caller-supplied pairs.
    agg.filter(size(col("_sha")) > 0 && size(col("_shb")) > 0)
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"), Exact.rnd4(j).as("jaccard"))
  }

  /** D76: asymmetric containment on the LSH candidates — C(A→B) =
    * |A∩B|/|A|. Symmetric Jaccard under-rates asymmetric duplication (a
    * tweet-length quote inside an article, a truncated mirror of a long
    * original: J can sit far below any dedup threshold while the smaller
    * side is ~fully contained), so curation pipelines score containment
    * alongside resemblance (Broder's original pair of estimators). Same
    * single-corpus-pass plan as [[jaccard]] — the pair regroup shuffle is
    * O(candidates) — emitting both directions plus Jaccard, keeping pairs
    * where either direction reaches `threshold`.
    */
  def containment(docs: DataFrame, candidates: DataFrame, w: Int = 4,
                  threshold: Double = 0.9, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    containmentFrom(shingledDistinct(docs, w, idCol, textCol), candidates,
      threshold, idCol)

  /** [[containment]] over a pre-shingled corpus (idCol, `_shs`) — lets a
    * caller share ONE tokenize+shingle pass between candidate generation
    * and verification (minhash signatures are duplicate-insensitive, so
    * both legs can consume the same distinct shingle set). */
  private[graft] def containmentFrom(sh: DataFrame, candidates: DataFrame,
      threshold: Double = 0.9, idCol: String = "doc_id"): DataFrame = {
    val tagged = candidates.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    containScores(sh.select(col(idCol), col("_shs"))
      .join(broadcast(tagged), Seq(idCol)), threshold, idCol)
  }

  /** Dense-regime twin of [[containmentFrom]] — the [[jaccardDenseFrom]]
    * plan shape applied to Broder's containment pair: when the candidate
    * PAIR list outgrows a sane broadcast (high true-duplicate density),
    * broadcast only the distinct member-ID SET as a semi-join filter on
    * the shingled corpus and shuffle the surviving members against the
    * pair list by id — O(members + pairs), never O(corpus) and never
    * O(pairs) on the driver. Same rows as the broadcast form (parity
    * spec-pinned), same oracle.
    */
  private[graft] def containmentDenseFrom(sh: DataFrame,
      candidates: DataFrame, threshold: Double = 0.9,
      idCol: String = "doc_id"): DataFrame = {
    val tagged = candidates.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    val members = tagged.select(col(idCol)).distinct()
    val pruned = sh.select(col(idCol), col("_shs"))
      .join(broadcast(members), Seq(idCol), "left_semi")
    containScores(pruned.join(tagged.hint("shuffle_hash"), Seq(idCol)),
      threshold, idCol)
  }

  /** Adaptive containment: the [[jaccardAuto]] measured regime switch for
    * [[containment]] — count the persisted candidate pairs once and route
    * below `densePairs` to the broadcast-pairs plan, above it to the
    * member-semi-join [[containmentDenseFrom]]. Both plans return
    * identical rows, so the switch is invisible to the oracle. */
  def containmentAuto(docs: DataFrame, candidates: DataFrame, w: Int = 4,
      threshold: Double = 0.9, idCol: String = "doc_id",
      textCol: String = "text", densePairs: Long = 1000000L): DataFrame =
    containmentAutoFrom(shingledDistinct(docs, w, idCol, textCol),
      candidates, threshold, idCol, densePairs)

  /** [[containmentAuto]] over a pre-shingled corpus (idCol, `_shs`) —
    * same pinned-candidates contract as [[jaccardAutoFrom]]; `pin=false`
    * when the caller already pinned the candidate source. */
  private[graft] def containmentAutoFrom(sh: DataFrame,
      candidates: DataFrame, threshold: Double = 0.9,
      idCol: String = "doc_id", densePairs: Long = 1000000L,
      pin: Boolean = true): DataFrame = {
    val pinned =
      if (pin) graft.core.CacheScope.pin(candidates) else candidates
    val dense = pinned.count() >= densePairs
    if (dense) containmentDenseFrom(sh, pinned, threshold, idCol)
    else containmentFrom(sh, pinned, threshold, idCol)
  }

  /** Shared containment tail: regroup (pair, member-shingles) rows to one
    * row per pair and score C(A→B), C(B→A), and Jaccard. */
  private def containScores(joined: DataFrame, threshold: Double,
                            idCol: String): DataFrame = {
    val agg = joined.groupBy("doc_a", "doc_b").agg(
      first(when(col(idCol) === col("doc_a"), col("_shs")),
        ignoreNulls = true).as("_sha"),
      first(when(col(idCol) === col("doc_b"), col("_shs")),
        ignoreNulls = true).as("_shb"))
    val nInter = graft.functions.SetFunctions
      .intersectCountSorted(col("_sha"), col("_shb"))
    val cAb = nInter.cast("double") / size(col("_sha"))
    val cBa = nInter.cast("double") / size(col("_shb"))
    val j = nInter.cast("double") /
      (size(col("_sha")) + size(col("_shb")) - nInter)
    // degenerate guard (same as pairScores): an empty shingle set makes
    // cAb/cBa 0/0 = NaN and Spark's NaN-greatest ordering would pass the
    // threshold while the oracle drops the pair. Unreachable from LSH
    // candidates, load-bearing for arbitrary caller-supplied pairs.
    agg.filter(size(col("_sha")) > 0 && size(col("_shb")) > 0)
      .filter(greatest(cAb, cBa) >= threshold)
      .select(col("doc_a"), col("doc_b"), nInter.as("n_inter"),
        Exact.rnd4(cAb).as("contain_ab"), Exact.rnd4(cBa).as("contain_ba"),
        Exact.rnd4(j).as("jaccard"))
  }

  /** D88: MinHash-LSH parameter planning from the MEASURED pair-similarity
    * distribution — the knob-tuning table a dedup pipeline consults before
    * re-banding a corpus. For each candidate (bands b, rows-per-band r)
    * the S-curve collision probability p(s) = 1 − (1 − s^r)^b is averaged
    * over the verified pairs' Jaccard values, split at `threshold`:
    * `exp_dup_recall` (expected fraction of ≥-threshold pairs still
    * colliding under (b, r)) and `exp_sub_suppression` (expected fraction
    * of sub-threshold candidate pairs suppressed). `threshold_approx` is
    * the classic (1/b)^{1/r} S-curve midpoint, computed DRIVER-side and
    * emitted on the rnd4 grid (so the oracle can carry the identical
    * decimal literal — fractional `pow` is not cross-engine exact, a
    * 4-decimal literal is).
    *
    * Exactness: powers unroll to literal multiplication chains (r, b are
    * small ints — no libm pow anywhere near data), the per-(b,r) sums are
    * decimal-exact, and the one aggregate row is driver-collected
    * (bounded: 2·|grid| doubles + 2 counts — the probe-fit convention)
    * before the O(|grid|) literal result is emitted. ONE pass over the
    * scored pairs regardless of grid size. */
  def lshPlan(scored: DataFrame, threshold: Double = 0.5,
              grid: Seq[(Int, Int)] = lshPlanGrid): DataFrame = {
    val j = col("jaccard")
    def pCol(b: Int, r: Int): Column = {
      val jr = (1 to r).map(_ => j).reduceLeft(_ * _)
      val q = lit(1.0) - jr
      lit(1.0) - (1 to b).map(_ => q).reduceLeft(_ * _)
    }
    // ONE array-valued exact aggregate for all 2·|grid| decimal sums
    // (graft_vec_esum — element i ≡ CAST(sum(CAST(vᵢ AS DECIMAL(38,10)))
    // AS DOUBLE), the Exact.esum path exactly) instead of 2·|grid|
    // separate decimal aggregates: one buffer, one pass, and the janino
    // stage stays small as the grid grows. Identical doubles, same
    // oracle.
    val vals = array(grid.flatMap { case (b, r) => Seq(
      when(j >= threshold, pCol(b, r)).otherwise(lit(0.0)),
      when(j < threshold, pCol(b, r)).otherwise(lit(0.0)))
    }: _*)
    def vecEsum(arr: Column, dims: Int): Column = {
      import org.apache.spark.sql.GraftBridge.{toColumn, toExpression}
      toColumn(graft.functions.VecESum(toExpression(arr), dims)
        .toAggregateExpression())
    }
    val row = scored.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(j >= threshold, 1L).otherwise(0L)).as("n_dup"),
      vecEsum(vals.cast("array<double>"), 2 * grid.size).as("sums")).head()
    val nPairs = row.getAs[Long]("n_pairs")
    val nDup = row.getAs[Long]("n_dup")
    val nSub = nPairs - nDup
    val sums = row.getSeq[Double](row.fieldIndex("sums"))
    def rnd4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val out = grid.zipWithIndex.map { case ((b, r), i) =>
      val dsum = sums(2 * i)
      val ssum = sums(2 * i + 1)
      (b, r, nDup, nSub,
        if (nDup == 0) 0.0 else rnd4(dsum / nDup),
        if (nSub == 0) 0.0 else rnd4(1.0 - ssum / nSub),
        lshMidpoint(b, r))
    }
    scored.sparkSession.createDataFrame(out).toDF(
      "bands", "rows_per_band", "n_dup_pairs", "n_sub_pairs",
      "exp_dup_recall", "exp_sub_suppression", "threshold_approx")
  }

  /** The default planning grid: every (b, r) a re-banding would consider
    * at signature budget b·r ≤ 64. */
  val lshPlanGrid: Seq[(Int, Int)] =
    Seq((2, 2), (4, 2), (4, 4), (8, 4), (8, 8), (16, 4))

  /** (1/b)^{1/r} on the rnd4 grid — a MODEL constant of the (b, r) pair,
    * shared verbatim (as a decimal literal) by plan and oracle. */
  def lshMidpoint(b: Int, r: Int): Double =
    math.floor(math.pow(1.0 / b, 1.0 / r) * 10000 + 0.5) / 10000

  /** DuckDB mirror of [[lshPlan]] as a query suffix over a `jall` CTE
    * exposing rnd4 `jaccard` per pair: the identical unrolled power
    * chains, decimal sums, one MATERIALIZED aggregate row and a UNION ALL
    * of per-(b, r) literal selects. */
  def lshPlanOracleSql(threshold: Double = 0.5,
                       grid: Seq[(Int, Int)] = lshPlanGrid): String = {
    val th = threshold.toString
    def pSql(b: Int, r: Int): String = {
      val jr = (1 to r).map(_ => "jaccard").reduceLeft((a, x) => s"($a * $x)")
      val q = s"(1.0 - $jr)"
      val qb = (1 to b).map(_ => q).reduceLeft((a, x) => s"($a * $x)")
      s"(1.0 - $qb)"
    }
    def esum(e: String) = s"CAST(sum(CAST($e AS DECIMAL(38,10))) AS DOUBLE)"
    val sums = grid.flatMap { case (b, r) => Seq(
      s"${esum(s"CASE WHEN jaccard >= $th THEN ${pSql(b, r)} ELSE 0.0 END")}" +
        s" AS d_${b}_$r",
      s"${esum(s"CASE WHEN jaccard < $th THEN ${pSql(b, r)} ELSE 0.0 END")}" +
        s" AS s_${b}_$r")
    }.mkString(",\n    ")
    val selects = grid.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  n_dup AS n_dup_pairs, n_pairs - n_dup AS n_sub_pairs,
         |  floor((CASE WHEN n_dup = 0 THEN 0.0
         |    ELSE d_${b}_$r / CAST(n_dup AS DOUBLE) END) * 10000 + 0.5)
         |    / 10000.0 AS exp_dup_recall,
         |  floor((CASE WHEN n_pairs - n_dup = 0 THEN 0.0
         |    ELSE 1.0 - s_${b}_$r / CAST(n_pairs - n_dup AS DOUBLE) END)
         |    * 10000 + 0.5) / 10000.0 AS exp_sub_suppression,
         |  ${lshMidpoint(b, r)} AS threshold_approx
         |FROM pagg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""pagg AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN jaccard >= $th THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup,
       |    $sums
       |  FROM jall)
       |$selects""".stripMargin
  }

  // ---- D23: first-wins (online) near-dedup --------------------------------

  /** First-wins near-dedup verdict per document: a document is KEPT iff it
    * is the earliest (minimum id) occupant of EVERY LSH bucket it signs
    * into — i.e. none of its band signatures was carried by any earlier
    * document. This is the ingestion-order contract a streaming dedup
    * enforces ("the first version of a near-dup cluster enters the corpus;
    * later arrivals are dropped"), stated over ids so batch and streaming
    * agree exactly: [[graft.streaming.DedupStreams]] is the incremental
    * twin, and its result over any batch split equals this whole-corpus
    * form whenever arrival order respects id order.
    *
    * Scale shape: bucket owners collapse map-side (partial min) to
    * O(buckets) shuffled rows; the verdict join is hinted shuffle_hash on
    * the same (band, sig) key (no sort), and the per-doc regroup is
    * O(docs × bands). No bucket is ever collected into memory — unlike
    * candidate generation there is no quadratic bucket explode at all, so
    * this needs no bucket cap.
    *
    * The signature derivation is CacheScope-pinned (two lazy consumers in
    * the returned plan) — CALLER CONTRACT: release via
    * [[graft.core.CacheScope.releaseAll]] after materializing the result,
    * or wrap the action in [[graft.core.CacheScope.scoped]].
    */
  def firstWinsKept(sigs0: DataFrame, idCol: String = "doc_id"): DataFrame = {
    // The plan consumes `sigs` TWICE (owner aggregate + verdict join) and
    // Spark does not CSE duplicate subtrees — unpinned, the whole
    // signature derivation (shingle → 16 md5 slices per doc) runs twice
    // per action, and composed chains over this verdict (pipeline_curate,
    // pipeline_export) amplify further under consumer re-execution (the
    // r12 battery's pipeline_curate signature). Signatures are O(docs ×
    // bands) narrow rows — the cheapest materialization that caps the
    // derivation at one pass; the caller's barrier releases the pin.
    val sigs = graft.core.CacheScope.pin(sigs0)
    val owners = sigs.groupBy("band", "sig").agg(min(col(idCol)).as("_owner"))
    sigs.join(owners.hint("shuffle_hash"), Seq("band", "sig"))
      .groupBy(col(idCol))
      .agg(max((col(idCol) =!= col("_owner")).cast("int")).as("_dup"))
      .select(col(idCol), (lit(1) - col("_dup")).as("kept"))
  }

  // ---- D27: exact substring-duplication spans -----------------------------

  /** Per-document exact substring duplication (the span-level dedup signal
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): how many of a document's `w`-token windows occur VERBATIM
    * in some other document, and what fraction of its windows that is —
    * the metric used to decide span-removal or document down-weighting.
    *
    * Scale shape: grams hash map-side to a fixed-width 16-hex key (the
    * raw w-token strings never shuffle; md5 prefix collisions are ~2⁻⁶⁴
    * and identical in the oracle, which mirrors the same hash), then ONE
    * corpus pass feeds a (doc, gram) partial-agg shuffle; cross-doc
    * occurrence is a gram-keyed aggregate (count of carrying docs — no
    * pair explode anywhere, so no bucket cap needed), joined back
    * shuffle_hash on the same gram hash partitioning. Work is O(tokens)
    * map-side + O(distinct doc-grams) shuffle — the intrinsic cost of
    * span-level exactness; there is no candidate pruning to hide behind
    * because every window is a candidate.
    */
  def dupSpans(docs: DataFrame, w: Int = 8, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol), explode(transform(
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w),
        s => substring(md5(s), 1, 16))).as("gram"))
    val perDocGram = grams.groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("_k"))
    val owners = perDocGram.groupBy("gram")
      .agg(count(lit(1)).as("_docs"))
    perDocGram.join(owners.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col(idCol))
      .agg(sum(col("_k")).as("n_grams"),
        sum(when(col("_docs") > 1, col("_k")).otherwise(lit(0L)))
          .as("n_dup_spans"))
      .select(col(idCol), col("n_grams"), col("n_dup_spans"),
        Exact.rnd4(col("n_dup_spans").cast("double") /
          col("n_grams").cast("double")).as("dup_ratio"))
  }

  /** D33: exact duplicated-span REMOVAL — the remediation step of Lee et
    * al.: rewrite each document with every token that lies inside a
    * cross-document duplicated `w`-token window dropped (token t is
    * covered iff some duplicated window starts in [t−w+1, t]). The
    * detection pipeline is [[dupSpans]]'s (map-side 16-hex gram hashing,
    * one corpus pass, gram-keyed carrier counts, no pair explode);
    * removal adds one per-doc aggregate of duplicated START positions
    * and a map-side array rebuild — coverage is evaluated with
    * higher-order functions over the document's own token array
    * (O(tokens · dup-starts) per document, document-bounded like every
    * per-doc array op here, zero extra shuffle).
    *
    * Output keeps the evidence a pipeline wants: original token count,
    * removed-token count, and the cleaned text (kept tokens re-joined —
    * the tokenizer's inverse, so an undamaged doc round-trips).
    */
  def removeDupSpans(docs: DataFrame, w: Int = 8, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val grams = docs.select(col(idCol), posexplode(transform(
        TextFunctions.shingles(toks, w),
        s => substring(md5(s), 1, 16))))
      .select(col(idCol), (col("pos") + 1).as("s"), col("col").as("gram"))
    // carriers = DISTINCT docs per gram (a window repeated only WITHIN
    // one doc is not a cross-document duplicate — dupSpans' semantics)
    val carriers = grams.select(col(idCol), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("_carriers"))
    val dupStarts = grams.join(carriers.hint("shuffle_hash"), Seq("gram"))
      .filter(col("_carriers") > 1)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("s"))).as("_starts"))
    val ds = coalesce(col("_starts"), array().cast("array<int>"))
    // the token array is the filter's argument (evaluated once per row);
    // a per-index `element_at(toks, i)` lambda would re-split the document
    // for every kept token
    val kept = filter(toks,
      (_, i) => !exists(ds, s => s <= i + 1 && i + 1 <= s + lit(w - 1)))
    docs.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), size(toks).as("n_tokens"),
        (size(toks) - size(kept)).as("n_removed"),
        concat_ws(" ", kept).as("clean_text"))
  }

  /** D55: corpus-order content novelty — for each document, what fraction
    * of its DISTINCT `w`-gram shingles is already carried by an EARLIER
    * document (smaller id = earlier in ingestion order). The running-novelty
    * signal an append-only crawl pipeline reads to decide when a source has
    * gone stale (each new dump re-crawls mostly-known content) and which
    * documents to down-weight before training.
    *
    * Same scale shape as [[dupSpans]]: grams hash map-side to a fixed-width
    * 16-hex md5 prefix (raw strings never shuffle), first-carrier is one
    * O(distinct doc-grams) aggregate, the verdict join is gram-keyed
    * shuffle_hash — no pair explode anywhere. "First seen" = min carrier id,
    * an order-free aggregate, so the result is identical however the corpus
    * is partitioned — unlike a sequential scan, this replays on any cluster.
    */
  /** Distinct 16-hex md5-prefix `w`-grams per document — the shared gram
    * image of [[noveltyScores]] and the streaming novelty store (E12). */
  private[graft] def distinctGrams(docs: DataFrame, w: Int, idCol: String,
                                   textCol: String): DataFrame =
    docs.select(col(idCol), explode(array_distinct(transform(
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w),
      s => substring(md5(s), 1, 16)))).as("gram"))

  def noveltyScores(docs: DataFrame, w: Int = 8, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val grams = distinctGrams(docs, w, idCol, textCol)
    val firstSeen = grams.groupBy("gram").agg(min(col(idCol)).as("_first"))
    grams.join(firstSeen.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_first") < col(idCol), lit(1L)).otherwise(lit(0L)))
          .as("n_seen"))
      .select(col(idCol), col("n_grams"), col("n_seen"),
        Exact.rnd4(lit(1.0) - col("n_seen").cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  // ---- D19: benchmark decontamination -------------------------------------

  /** Training-data decontamination: flag corpus documents that share any
    * `w`-gram with a benchmark/eval set (the standard guard against test
    * leakage into training corpora).
    *
    * Scale shape: the benchmark is orders of magnitude smaller than the
    * corpus, so its distinct shingles BROADCAST; corpus shingling is
    * map-side (explode costs no shuffle), the overlap join is map-side
    * against the broadcast set, and the only shuffle is the groupBy over
    * the matching (doc, shingle) rows — a vanishing fraction of the
    * corpus. One corpus pass, no corpus shuffle.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, w: Int = 8,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    def sh(df: DataFrame) = array_distinct(
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w))
    val bench = benchmark.select(explode(sh(benchmark)).as("shingle")).distinct()
    docs.select(col(idCol), explode(sh(docs)).as("shingle"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  // ---- D13: duplicate-cluster resolution ----------------------------------

  /** Resolve pairwise duplicate edges into clusters (connected components)
    * and pick one survivor per cluster — the step after ANY pair generator
    * (minhash/simhash/embedding) in a real dedup pipeline, where chains
    * a~b~c must collapse to one kept document. Exact fixpoint via
    * [[components]] (pointer-jumping label propagation, O(log diameter)
    * rounds); the component label is the smallest member id, matching the
    * oracle's recursive-reachability minimum deterministically.
    *
    * Scale: each round is O(nodes + edges) on co-partitioned joins.
    * Candidate-pair graphs are orders of magnitude smaller than the
    * corpus — only documents that collided in some LSH bucket appear.
    */
  def resolveClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    spark.createDataset(components(pairs))
      .toDF("id", "label")
      .groupBy(col("label").as("survivor"))
      .agg(count(lit(1)).as("n_members"))
  }

  /** D47: quality-aware duplicate resolution — keep the BEST member of
    * each near-dup cluster, not an arbitrary one. First-wins/min-id
    * resolution (the [[resolveClusters]] / [[firstWinsKept]] policies)
    * discards which duplicate was worth keeping; a curation pipeline
    * wants the highest-quality copy (the full document, not its
    * truncated mirror). Clusters come from the same MinHash candidate
    * graph + star-contraction components; the winner per cluster is the
    * max `quality` with a deterministic min-id tie-break. Ranking runs
    * on the SHARED rnd4 grid so the verdict replays cross-engine even
    * when raw doubles sit on a rounding boundary.
    *
    * Scale: the component map is O(candidate docs) — only documents that
    * collided in some LSH bucket — left-joined to the corpus; the only
    * corpus-sized shuffle is the per-cluster window, partitioned by
    * cluster id. */
  def keepBest(corpus: DataFrame, quality: Column): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pairs = minhashStarEdges(minhashSignatures(corpus))
    val comp = spark.createDataset(components(pairs)).toDF("doc_id", "_lbl")
    val w = Window.partitionBy("cluster")
      .orderBy(col("quality").desc, col("doc_id").asc)
    corpus.select(col("doc_id"), Exact.rnd4(quality).as("quality"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("_lbl"), col("doc_id")))
      .select(col("doc_id"), col("cluster"), col("quality"))
      .withColumn("kept", row_number().over(w) === 1)
  }

  /** D54: leakage-guarded train/val/test split — assignment by the
    * duplicate-CLUSTER root, not the document id, so near-duplicates can
    * never straddle splits (the held-out-set contamination a plain
    * per-doc hash split silently commits: a truncated mirror of a train
    * doc landing in test inflates eval). Clusters come from the same
    * MinHash candidate graph + star-contraction components as
    * [[resolveClusters]]; split = first-8-hex md5 of the root id mod 100
    * against the train/val percent cut — deterministic, engine-free, and
    * coordinated (every cluster member inherits the root's draw).
    *
    * Scale: the component map is O(candidate docs) broadcast-joined to
    * the corpus; the split itself is map-side hash math. Roots are
    * min-id-deterministic, so a GROWING corpus can re-root a cluster and
    * move it between splits — a production pipeline pins split stability
    * by persisting the (cluster → split) table alongside the corpus
    * snapshot (the E9 claim-store shape) rather than re-deriving it.
    */
  def leakSafeSplit(corpus: DataFrame, trainPct: Int = 80, valPct: Int = 10,
                    idCol: String = "doc_id"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"leakSafeSplit: bad cut $trainPct/$valPct")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pairs = minhashStarEdges(minhashSignatures(corpus))
    val comp = spark.createDataset(components(pairs)).toDF(idCol, "_lbl")
    corpus.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("_lbl"), col(idCol)))
      .withColumn("_h",
        conv(substring(md5(col("cluster").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split", when(col("_h") < trainPct, "train")
        .when(col("_h") < trainPct + valPct, "val")
        .otherwise("test"))
      .select(col(idCol), col("cluster"), col("split"))
  }

  /** Exact connected components by alternating large-star / small-star
    * edge contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") as an RDD loop with explicit per-round
    * persistence.
    *
    * Why not plain min-label propagation (GraphX `connectedComponents`):
    * labels travel ONE edge-hop per round, so rounds = graph diameter —
    * the 10×-replica stress corpus measured 54 supersteps (and a
    * pointer-jumping variant measured here did NOT help: compressing the
    * label forest cannot shorten the edge paths new minima travel).
    * Star contraction instead REWRITES the edges each round — large-star
    * hangs every node above its neighborhood minimum, small-star
    * flattens the remaining chains — shrinking path lengths geometrically:
    * O(log² n) rounds, each one groupBy over the current edge set. The
    * same corpus converges in 5 rounds.
    * Why an RDD loop and not a DataFrame loop: iterative self-joins grow
    * unbounded lineage (a prior DataFrame attempt degraded exponentially);
    * RDDs give explicit persist/unpersist and a shared partitioner.
    *
    * At the fixpoint the edge set is a union of stars whose centers are
    * the component minima (the contraction only ever re-targets nodes at
    * smaller same-component ids), matching the oracle's
    * recursive-reachability minimum exactly.
    *
    * HYBRID FINISH: once the (geometrically shrinking) edge set fits the
    * same driver-metadata budget every other bounded collect in this repo
    * uses, the remainder is solved exactly with a min-label union-find on
    * the driver — the small-graph finisher Kiveris et al. themselves
    * recommend. Each distributed round costs a fixed number of jobs
    * regardless of data volume, so paying O(log n) near-empty rounds on a
    * vanishing edge set is pure scheduling overhead (measured 8 s for
    * 3k edges on local[32]); both star operations preserve the node set,
    * so the local solve sees every node and emits the identical
    * (node → component-min) labels.
    */
  /** 64-bit avalanche mix (splitmix64 finalizer) of one edge — the summand
    * of the order-independent edge-set checksum in [[components]]. */
  private def edgeMix(u: Long, v: Long): Long = {
    var x = (u * 0x9E3779B97F4A7C15L) ^ (v + 0x632BE59BD9B4E019L)
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private[graft] def components(pairs: DataFrame,
      localThreshold: Long = 500000L)
      : org.apache.spark.rdd.RDD[(Long, Long)] = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)

    // large-star: per node u, connect every LARGER neighbor to
    // m = min(Γ(u) ∪ {u}); small-star: orient edges big→small, connect u
    // and every non-min smaller neighbor to the minimum.
    def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          val m = math.min(u, nbrs.min)
          nbrs.iterator.filter(_ > u).map(v => (v, m))
        }.distinct(part.numPartitions)

    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      e.map { case (u, v) => if (u >= v) (u, v) else (v, u) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          val m = nbrs.min
          (Iterator(u) ++ nbrs.iterator.filter(_ != m)).map(v => (v, m))
        }.distinct(part.numPartitions)

    // Fixpoint probe: both edge sets are already DISTINCT, so set equality
    // reduces to (count, order-independent checksum) equality — ONE O(edges)
    // aggregate over the freshly-persisted round result, replacing the two
    // full cogroup shuffles a `subtract`-based set difference pays per round
    // (measured ~2× of the total round cost at both bench scales). For equal
    // counts a false fixpoint needs two distinct sets whose summed 64-bit
    // avalanche mixes collide (~2⁻⁶⁴); the contraction bound below still
    // backstops the loop.
    def sig(e: RDD[(Long, Long)]): (Long, Long) =
      e.mapPartitions { it =>
        var n = 0L; var s = 0L
        it.foreach { case (u, v) => n += 1L; s += edgeMix(u, v) }
        Iterator.single((n, s))
      }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

    // localThreshold: ≤ this many edges → finish on the driver (the default
    // ≈16 MB of long pairs, the repo's standard bounded-collect budget);
    // contraction rounds above it shrink the set geometrically, so the
    // bound is reached in O(log n) rounds however large the input graph.
    // Injectable so tests can force the all-distributed path.

    // NOTE: the input may be a multiset (every later iterate is distinct by
    // construction); a multiplicity-skewed initial sig can only cost one
    // extra round, never a premature stop, so no distinct pass is spent here.
    var edges = pairs.select(col("doc_a").cast("long"),
        col("doc_b").cast("long")).as[(Long, Long)].rdd
      .filter { case (a, b) => a != b }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edgeSig = sig(edges)
    var rounds = 0
    var converged = false
    while (!converged && edgeSig._1 > localThreshold) {
      rounds += 1
      require(rounds <= 48, "components: did not converge in 48 rounds")
      val next = smallStar(largeStar(edges))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nextSig = sig(next) // also forces materialization before unpersist
      converged = nextSig == edgeSig
      if (sys.env.contains("GRAFT_CC_TRACE"))
        System.err.println(s"[components] round $rounds: " +
          s"${edgeSig._1} -> ${nextSig._1} edges, converged=$converged")
      edges.unpersist(blocking = false)
      edges = next
      edgeSig = nextSig
    }
    if (converged) {
      // stars: every non-center points at its center; centers self-map
      edges.flatMap { case (v, m) => Iterator((v, m), (m, m)) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
    } else {
      // driver finish: exact min-label union-find over the contracted set
      if (sys.env.contains("GRAFT_CC_TRACE"))
        System.err.println(s"[components] local finish at ${edgeSig._1} edges" +
          s" after $rounds rounds")
      val arr = edges.collect() // SCALE:dedup-residual-edges
      edges.unpersist(blocking = false)
      spark.sparkContext.parallelize(localComponents(arr),
        math.max(1, math.min(part.numPartitions, arr.length / 65536 + 1)))
    }
  }

  /** Exact connected components of a driver-resident edge list: union-find
    * where every union points the LARGER root at the smaller, so each
    * set's root is its minimum id and the emitted labels are identical to
    * the distributed fixpoint's (node → component-min) stars. */
  private def localComponents(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = scala.collection.mutable.LongMap.empty[Long]
    es.foreach { case (a, b) => labels(a) = find(a); labels(b) = find(b) }
    labels.iterator.map { case (n, r) => (n, r) }.toSeq
  }

  // ---- D3: SimHash --------------------------------------------------------

  /** 32-bit SimHash signature groups. Bit i of a document's signature is the
    * sign of Σ_tokens (hex digit i of md5(token) ≥ '8' ? +1 : −1) — token
    * multiplicity acts as the weight.
    *
    * The signature is a pure per-document computation, so it is built
    * MAP-SIDE with higher-order functions over the token array: one md5
    * transform per document, then 32 codegen'd filter-counts over the
    * hash array (Σ signs > 0 ⟺ 2·hits > n). The only shuffle in the whole
    * operator is the final O(docs) signature groupBy — the earlier
    * explode+groupBy formulation shuffled O(tokens), which at lake scale
    * was the dominant shuffle of the dedup suite.
    */
  def simhashGroups(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // own projection boundary: the 32 bit expressions below all reference
    // `_hs`; CollapseProject keeps non-cheap multi-referenced expressions
    // in their own projection, so the md5 transform runs once per doc
    val hashed = docs
      // token-less docs have no signature; filter BEFORE hashing so the
      // pushed filter tests the cheap split, not the md5 transform
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol),
        transform(TextFunctions.tokens(col(textCol)), t => md5(t)).as("_hs"))
    val n = size(col("_hs"))
    val sig = concat((1 to 32).map { i =>
      val hits = size(filter(col("_hs"), h => substring(h, i, 1) >= "8"))
      when(hits * 2 > n, "1").otherwise("0")
    }: _*)
    hashed.select(col(idCol), sig.as("sig"))
      .groupBy("sig")
      .agg(min(col(idCol)).as("survivor"), count(lit(1)).as("n_docs"))
  }

  // ---- D79: banded-Hamming SimHash near-dup pairs -------------------------

  /** 64-bit SimHash signature as FOUR 16-bit integer blocks (b0..b3).
    *
    * Bit (16b + j) is the sign of Σ_tokens (hex digit (16b+j+1) of
    * md5(token) ‖ md5("x:"+token) ≥ '8' ? +1 : −1) — the D3 recipe widened
    * to 64 bits via the minhash double-digest convention. Keeping the
    * signature as four small ints rather than one packed Long sidesteps
    * every signed-shift / two's-complement divergence between engines:
    * all values live in [0, 65535] and Hamming distance is
    * Σ_b bit_count(a_b XOR b_b) — pure integer math, identical everywhere.
    *
    * Map-side like D3: one double-md5 transform per document, then 64
    * codegen'd filter-counts over the hash array. Zero shuffle.
    */
  def simhashBlockSigs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    simhashBlockSigsFrom(docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks")), idCol)

  /** [[simhashBlockSigs]] over a pre-tokenized corpus (idCol, `_toks`) —
    * the [[dedupEnsemble]] shared-pass seam. Duplicates MATTER here (the
    * signature is term-frequency-weighted), so this consumes the raw token
    * array, never the distinct shingle set. */
  private[graft] def simhashBlockSigsFrom(tokd: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // Formulation note (measured at sf0.1): the D3-style map-side
    // higher-order form (64 filter-counts, or one 64-slot aggregate fold)
    // generates a single >64 KB codegen method here, and Spark's
    // interpreted fallback made the projection ~20× slower. The explode +
    // 64-conditional-sum HashAggregate fixed that but paid ~4 s of
    // Catalyst planning + janino compile per consumer for its
    // 64-expression stage; r14 collapses the 64 sums into ONE imperative
    // aggregate (graft_simhash_sums — a single 64-byte pass per digest,
    // numerically the identical long sums, see SimHashSums) so the plan
    // stays a single expression. Partial aggregation still collapses the
    // exploded rows map-side — the SHUFFLE stays O(docs), never O(tokens).
    val tok = tokd
      .filter(size(col("_toks")) > 0)
      .select(col(idCol), explode(col("_toks")).as("_t"))
      .select(col(idCol),
        concat(md5(col("_t")), md5(concat(lit("x:"), col("_t")))).as("_h"))
    def simhashSums(h: Column): Column = {
      import org.apache.spark.sql.GraftBridge.{toColumn, toExpression}
      toColumn(graft.functions.SimHashSums(toExpression(h))
        .toAggregateExpression())
    }
    def block(b: Int): Column =
      (0 until 16).map { j =>
        val i = b * 16 + j + 1 // 1-based hex-digit position
        when(element_at(col("_s"), i) > 0, lit(1 << (15 - j)))
          .otherwise(lit(0))
      }.reduce(_ + _)
    tok.groupBy(col(idCol))
      .agg(simhashSums(col("_h")).as("_s"))
      .select(col(idCol), block(0).as("b0"), block(1).as("b1"),
        block(2).as("b2"), block(3).as("b3"))
  }

  /** All document pairs within Hamming distance `maxDist` of each other's
    * 64-bit SimHash — the published SimHash near-dup algorithm (Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07; reference analog: the dedup family of SURVEY §2D). D3 groups
    * EXACT-equal signatures; real near-dups differ in a few bits, and this
    * finds them with a pigeonhole guarantee: distance ≤ 3 across 4 blocks
    * forces at least one block to match exactly, so an equi-join per block
    * is a COMPLETE candidate generator — no recall loss, unlike LSH.
    *
    * Scale shape: signatures map-side; each doc emits 4 (block, key) rows
    * (O(docs) shuffle, never O(tokens)); candidate volume is governed by
    * the 16-bit key space — expected bucket size n/2^16 per block, and at
    * lake scale the block count/width grows with the corpus (Manku's
    * permuted-table knob) while the ≤`maxBucket` guard bounds degenerate
    * boilerplate buckets exactly like D20. Verification is two-instruction
    * integer math (bit_count over XOR) on the pair rows only.
    *
    * `n_blocks` (how many of the 4 blocks agree exactly) is emitted as
    * evidence alongside the distance — both are pure functions of the two
    * signatures, so the bucket cap can drop candidates without making the
    * surviving rows ambiguous.
    */
  /** The (id, blk, key, b0..b3) block-row form of [[simhashBlockSigs]] —
    * each doc emits one row per block, carrying its full signature; the
    * shared input of the pair join (D79) and the streaming claim store
    * (E18).
    *
    * The generator explodes a LITERAL 0..3 sequence and picks the key by
    * CASE on the already-projected block columns: a
    * `posexplode(array(b0..b3))` here inlines the whole 64-bit signature
    * DAG (the md5 transform included) into the Generate input and
    * re-evaluates it per output row — measured 6.6 s vs 0.3 s on the
    * sf0.1 corpus (the bucketCounts no-CSE lesson, generator edition). */
  def simhashBlocks(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    blockRows(simhashBlockSigs(docs, idCol, textCol), idCol)

  private[graft] def simhashBlocksFrom(tokd: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    blockRows(simhashBlockSigsFrom(tokd, idCol), idCol)

  private def blockRows(sigs: DataFrame, idCol: String): DataFrame =
    sigs
      .select(col(idCol).as("id"), col("b0"), col("b1"),
        col("b2"), col("b3"),
        explode(sequence(lit(0), lit(3))).as("blk"))
      .withColumn("key",
        when(col("blk") === 0, col("b0"))
          .when(col("blk") === 1, col("b1"))
          .when(col("blk") === 2, col("b2"))
          .otherwise(col("b3")))

  def simhashHammingPairs(docs: DataFrame, maxDist: Int = 3,
                          maxBucket: Int = 1024, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    hammingPairsOf(simhashBlocks(docs, idCol, textCol), maxDist, maxBucket)

  /** [[simhashHammingPairs]] over a pre-tokenized corpus (idCol, `_toks`). */
  private[graft] def simhashHammingPairsFrom(tokd: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 1024,
      idCol: String = "doc_id"): DataFrame =
    hammingPairsOf(simhashBlocksFrom(tokd, idCol), maxDist, maxBucket)

  private def hammingPairsOf(blockRows: DataFrame, maxDist: Int,
                             maxBucket: Int): DataFrame = {
    // the block table is referenced three times below (size guard + both
    // join sides); un-persisted, each reference re-evaluates the 64-bit
    // signature DAG over the corpus, and lazily-persisted the three scans
    // of the FIRST job race the cache and still each compute it — so
    // populate eagerly, then the join reads cache. O(docs·4) int rows;
    // caller-owned (the jaccardAuto convention). Remaining fixed cost is
    // ~4 s of Catalyst planning for the 64-aggregate signature (the
    // embed_pca planning-cost phenomenon) — execution itself is ~1 s at
    // sf0.1 and is what scales with the corpus.
    val blocks = graft.core.CacheScope.pin(blockRows)
    blocks.count()
    // the D20 aggregate-count guard: sizes collapse map-side to at most
    // 4·2^16 rows regardless of corpus size; singleton buckets can't form
    // a pair and are dropped before the join ever sees them
    val sizes = blocks.groupBy("blk", "key")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBucket)
      .select(col("blk"), col("key"))
    val bounded = blocks.join(sizes.hint("shuffle_hash"), Seq("blk", "key"))
    val a = bounded.select(col("blk"), col("key"), col("id").as("doc_a"),
      col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"),
      col("b3").as("a3"))
    val b = bounded.select(col("blk").as("_blkb"), col("key").as("_keyb"),
      col("id").as("doc_b"),
      col("b0").as("v0"), col("b1").as("v1"), col("b2").as("v2"),
      col("b3").as("v3"))
    val ham = (0 until 4).map { i =>
      bit_count(col(s"a$i").bitwiseXOR(col(s"v$i")))
    }.reduce(_ + _)
    val agree = (0 until 4).map { i =>
      when(col(s"a$i") === col(s"v$i"), lit(1)).otherwise(lit(0))
    }.reduce(_ + _)
    a.join(b, col("blk") === col("_blkb") && col("key") === col("_keyb") &&
        col("doc_a") < col("doc_b"))
      // distance math FIRST, distinct after: ham/n_blocks are pure
      // functions of the pair, so filter∘distinct ≡ distinct∘filter — on
      // a low-entropy corpus the candidate volume (Σ bucket², ~4M rows at
      // sf0.1 here) dwarfs the ≤maxDist survivors, so the two-instruction
      // filter runs inside the join projection and only survivors reach
      // the dedup aggregate
      .select(col("doc_a"), col("doc_b"),
        ham.cast("int").as("hamming"), agree.cast("int").as("n_blocks"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** D87: multi-signal dedup evidence — the verdict table a curation
    * pipeline consults before DESTRUCTIVE dedup: per candidate pair, the
    * three independent detectors side by side (MinHash band collisions,
    * banded-SimHash Hamming distance, exact shingle Jaccard on the
    * MinHash candidates) and a conservative combined verdict requiring at
    * least two signals. One detector's false positive (a boilerplate
    * bucket, a SimHash saturation on short docs) cannot alone delete a
    * document.
    *
    * Absent evidence is coalesced to sentinels AFTER the signal count
    * (n_bands 0, hamming −1, jaccard 0.0 — unambiguous since verified
    * Jaccard is ≥ threshold by construction). Jaccard verification runs
    * only on MinHash candidates, so its pairs are a subset and join back
    * LEFT; the SimHash pair set is independent and joins FULL OUTER. Each
    * detector keeps its own scale shape; the ensemble adds two
    * pair-keyed joins over O(candidates) rows.
    */
  def dedupEnsemble(docs: DataFrame, jThreshold: Double = 0.5,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    // ONE tokenize+shingle pass shared by all three detectors (previously
    // each detector re-scanned and re-tokenized the corpus — the intrinsic
    // ensemble cost is three DETECTORS, not three tokenizations): simhash
    // consumes the raw token array (its signature is frequency-weighted),
    // minhash and the Jaccard verifier the DISTINCT 4-shingle set (band
    // mins are duplicate-insensitive, so signatures are bit-identical).
    // CacheScope-pinned (released at the caller's materialization barrier
    // — Verify/Bench sweep per query, a service per request); within the
    // single projection the tokens subtree is codegen-CSE'd.
    val shared = graft.core.CacheScope.pin(
      docs.select(col(idCol), tk.as("_toks"),
        array_sort(array_distinct(TextFunctions.shingles(tk, 4)))
          .as("_shs")))
    // mh is consumed twice (the evidence join below AND the Jaccard
    // verifier's candidate input) — pin, or candidate generation runs
    // twice (Spark does not CSE duplicate plan subtrees). pin=false below
    // stops jaccardAutoFrom from caching a second copy of the same pairs;
    // its regime-switch count() reads straight through this cache.
    val mh = graft.core.CacheScope.pin(
      minhashCandidates(minhashSignaturesFrom(shared, idCol = idCol)))
    val sh = simhashHammingPairsFrom(shared, idCol = idCol)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val jc = jaccardAutoFrom(shared, mh.select("doc_a", "doc_b"),
        threshold = jThreshold, idCol = idCol, pin = false)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val base = mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .join(jc, Seq("doc_a", "doc_b"), "left")
    val signals = col("n_bands").isNotNull.cast("int") +
      col("hamming").isNotNull.cast("int") +
      col("jaccard").isNotNull.cast("int")
    base.select(col("doc_a"), col("doc_b"),
      coalesce(col("n_bands"), lit(0L)).as("n_bands"),
      coalesce(col("hamming"), lit(-1)).as("hamming"),
      coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
      signals.as("n_signals"),
      (signals >= 2).as("verdict"))
  }

  /** First-wins verdict over the banded-Hamming pairs: a document is kept
    * iff NO earlier (smaller-id) document sits within Hamming distance
    * `maxDist` — the ingestion-order contract of D23/E9 applied to the
    * SimHash metric, and the whole-corpus batch anchor of the E18 stream.
    * Derived from [[simhashHammingPairs]] (pairs are emitted doc_a <
    * doc_b, so "has an earlier near-dup" = "appears as doc_b"); token-less
    * docs carry no signature, hence no dup evidence, and are kept. */
  def simhashFirstWins(docs: DataFrame, maxDist: Int = 3,
                       maxBucket: Int = 1024, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val dups = simhashHammingPairs(docs, maxDist, maxBucket, idCol, textCol)
      .select(col("doc_b").as(idCol)).distinct()
      .withColumn("_dup", lit(true))
    docs.select(col(idCol))
      .join(dups.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col("_dup").isNull.as("kept"))
  }

  // ---- D5: embedding cosine near-dup --------------------------------------

  /** Sign-LSH bucket signature for an embedding: bit p = sign of the
    * projection onto pseudo-random hyperplane p, whose ±1 components come
    * from md5 parity of (plane, dim). Map-only; the signature is the
    * bucketing key that makes near-dup detection O(n) in shuffle volume.
    *
    * The hyperplanes are deterministic constants, so they are materialized
    * at PLAN time as float-array literals and each projection is one native
    * codegen dot product — no hashing on the data path. The DuckDB oracle
    * recomputes the same md5 parities in SQL and matches bit-for-bit
    * (float ±1 products are exact in double; both folds are sequential).
    */
  def lshBucket(emb: Column, planes: Int = 16, seed: String = "",
                dims: Int = 64): Column = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def signOf(p: Int, i: Int): Float = {
      val hex = md.digest(s"$seed$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) >= '8') 1.0f else -1.0f
    }
    concat((0 until planes).map { p =>
      val plane = typedlit(Array.tabulate(dims)(i => signOf(p, i)))
      when(VectorFunctions.dot(emb, plane) > 0, "1").otherwise("0")
    }: _*)
  }

  /** Embedding near-duplicate pairs: sign-LSH bucketing for candidates, then
    * native-codegen cosine (graft.functions.CosineSimilarity) verification
    * on bucket-mates only.
    */
  def embeddingNearDups(embs: DataFrame, threshold: Double = 0.99,
                        planes: Int = 16, idCol: String = "vec_id",
                        embCol: String = "embedding",
                        maxBucket: Int = 1024): DataFrame = {
    // same boilerplate guard as minhashCandidates: a degenerate bucket
    // (e.g. all-zero embeddings) must not quadratically dominate the join.
    // The bucket key is a `planes`-bit code, so the size table has at most
    // 2^planes rows REGARDLESS of corpus size — broadcastable at any scale
    // for the sane plane counts (≤24); beyond that fall back to a
    // shuffle-hash join (never sort-merge: the window-count formulation
    // this replaces paid a full corpus sort, 1.8× on the round-3 bench).
    val bucketed = embs.select(col(idCol), col(embCol),
      lshBucket(col(embCol), planes).as("bucket"))
    val sizes0 = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket)
      .select(col("bucket"))
    val sizes = if (planes <= 24) broadcast(sizes0) else sizes0.hint("shuffle_hash")
    val withBucket = bucketed.join(sizes, Seq("bucket"))
    val a = withBucket.select(col("bucket"), col(idCol).as("id_a"),
      col(embCol).as("emb_a"))
    val b = withBucket.select(col("bucket"), col(idCol).as("id_b"),
      col(embCol).as("emb_b"))
    val cos = VectorFunctions.cosine(col("emb_a"), col("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("_cos"))
      .filter(col("_cos") >= threshold)
      .select(col("id_a"), col("id_b"), Exact.rnd4(col("_cos")).as("cos_sim"))
  }

  /** D44: cross-source corpus overlap — one MinHash signature per SOURCE
    * (component-wise min over every shingle hash the source emits) and
    * the pairwise Jaccard estimate J ≈ matching components / P, the
    * Broder 1997 resemblance estimator lifted from documents to corpora:
    * the O(P·sources) signature table replaces the shingle-set join a
    * true overlap matrix needs, which is the only way to diff two 100 TB
    * corpora (or today's crawl vs yesterday's) without co-shuffling both.
    *
    * Scale shape: `min` is order-free and mergeable, so every component
    * partial-aggregates map-side — the corpus pays ONE tokenize+hash
    * scan and shuffles 16 eight-hex strings per source, nothing else.
    * P=16 components are carved from FOUR md5 digests per shingle (the
    * [[minhashSignatures]] two-digest trick doubled); the exact-Jaccard
    * truth twin (distinct-shingle join, the thing the estimate replaces)
    * rides along for the artifact like D34/D38's exact columns.
    */
  def sourceOverlap(docs: DataFrame, w: Int = 4, comps: Int = 16,
                    srcCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    require(comps <= 16, s"sourceOverlap: >16 components needs more digests")
    val sh = TextFunctions.shingles(TextFunctions.tokens(col(textCol)), w)
    val hashed = docs
      .select(col(srcCol), explode(sh).as("g"))
      .select(col(srcCol),
        concat(md5(col("g")), md5(concat(lit("x:"), col("g"))),
          md5(concat(lit("y:"), col("g"))), md5(concat(lit("z:"), col("g"))))
          .as("_hh"))
    val sig = hashed.groupBy(srcCol)
      .agg(min(substring(col("_hh"), 1, 8)).as("c0"),
        (1 until comps).map(j =>
          min(substring(col("_hh"), j * 8 + 1, 8)).as(s"c$j")): _*)
    val ds = docs.select(col(srcCol), explode(sh).as("g")).distinct()
    val sizes = ds.groupBy(srcCol).agg(count(lit(1)).as("n"))
    val inter = ds.select(col(srcCol).as("src_a"), col("g"))
      .join(ds.select(col(srcCol).as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("i"))
    val a = sig.select(col(srcCol).as("src_a") +:
      (0 until comps).map(j => col(s"c$j").as(s"a$j")): _*)
    val b = sig.select(col(srcCol).as("src_b") +:
      (0 until comps).map(j => col(s"c$j").as(s"b$j")): _*)
    val matches = (0 until comps).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L)).reduceLeft(_ + _)
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), matches.as("sig_match"))
      .join(broadcast(sizes.select(col(srcCol).as("src_a"), col("n").as("_na"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col(srcCol).as("src_b"), col("n").as("_nb"))),
        Seq("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("sig_match"),
        Exact.rnd4(col("sig_match").cast("double") / comps)
          .as("est_jaccard"),
        Exact.rnd4(coalesce(col("i"), lit(0L)).cast("double") /
          (col("_na") + col("_nb") - coalesce(col("i"), lit(0L))))
          .as("true_jaccard"))
  }
}
