package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Fixtures, Tables}
import graft.core.Tables.{TwinShift, TwinShift2}
import graft.dedup.{Dedup, GraphRank}

/** Deduplication operators exercised on the `documents` / `embeddings`
  * tables (SURVEY.md §2D1–D5).
  *
  * The driver corpus has no duplicates, so each query dedups a corpus of
  * documents ∪ deterministic variants (case/whitespace mutation for exact,
  * truncated tail for near-dup, scaled vectors for embeddings) — the variant
  * construction is mirrored verbatim in the oracle SQL.
  */
object DedupQueries {

  /** documents ∪ case/whitespace-mutated copy — exact dups after
    * normalization. */
  private def exactCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    assertTwinHeadroom(docs, d, "doc_id")
    Tables.fanOut(docs.unionByName(docs.select(
      (col("doc_id") + TwinShift).as("doc_id"),
      concat(upper(col("text")), lit("  ")).as("text"))))
  }

  /** Past max(id) = TwinShift−1 a base document's twin collides with a
    * REAL document, silently corrupting the near-dup corpora on BOTH
    * engines at once — the hash gates would stay green on wrong
    * semantics. So every twin-id builder asserts the ceiling, once per
    * (dir, id column) per JVM: one single-column max scan. The shift
    * lives in [[graft.core.Tables.TwinShift]] (10⁹ since r14 — the r13
    * 10⁵ ceiling sat exactly at a 20× docs replica); the same ceiling is
    * documented in tools/make_sf2_docs.py. */
  private def assertTwinHeadroom(df: DataFrame, d: String, idCol: String,
                                 shift: Long = TwinShift): Unit =
    Fixtures.once(s"twin_headroom:$d#$idCol#$shift") {
      val mx = Option(df.agg(max(col(idCol))).head().get(0))
        .map(_.toString.toLong).getOrElse(-1L)
      require(mx < shift,
        s"twin-id shift $shift collides with real ids: max($idCol)=$mx in $d")
    }

  /** documents ∪ tail-truncated copy (drop last 5 words, keep ≥ 3) —
    * near-dups for MinHash/SimHash/Jaccard. */
  private def nearCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    assertTwinHeadroom(docs, d, "doc_id")
    val t = split(col("text"), " ")
    Tables.fanOut(docs.unionByName(docs.select(
      (col("doc_id") + TwinShift).as("doc_id"),
      concat_ws(" ", slice(t, lit(1), greatest(size(t) - 5, lit(3)))).as("text"))))
  }

  private val nearCorpusSql =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $TwinShift AS doc_id,
      |    array_to_string(
      |      (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 5, 3)],
      |      ' ') AS text
      |  FROM documents)""".stripMargin

  /** documents ∪ two truncation variants (drop 5 / drop 10 words) — chained
    * near-dup clusters for the component-resolution op. */
  private def clusterCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    assertTwinHeadroom(docs, d, "doc_id") // two shifts, spaced TwinShift apart
    val t = split(col("text"), " ")
    Tables.fanOut(docs
      .unionByName(docs.select((col("doc_id") + TwinShift).as("doc_id"),
        concat_ws(" ", slice(t, lit(1), greatest(size(t) - 5, lit(3)))).as("text")))
      .unionByName(docs.select((col("doc_id") + TwinShift2).as("doc_id"),
        concat_ws(" ", slice(t, lit(1), greatest(size(t) - 10, lit(3)))).as("text"))))
  }

  private val clusterCorpusSql =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $TwinShift AS doc_id,
      |    array_to_string(
      |      (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 5, 3)],
      |      ' ') AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + $TwinShift2 AS doc_id,
      |    array_to_string(
      |      (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 10, 3)],
      |      ' ') AS text
      |  FROM documents)""".stripMargin

  /** Minhash CTE chain over an inlined `corpus` CTE: 4-word shingles → 8
    * band signatures, each band an 8-hex-char slice of md5(s) ‖ md5('x:'‖s)
    * — mirrors Dedup.minhashSignatures exactly. */
  private[queries] def sigOnlySql(corpusSql: String) =
    s"""$corpusSql,
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      |sh AS (SELECT doc_id,
      |  list_transform(generate_series(1, len(t) - 3),
      |    i -> array_to_string(t[i:i+3], ' ')) AS shingles FROM toks),
      |sig AS (
      |  SELECT doc_id, j AS band,
      |    list_aggregate(list_transform(shingles,
      |      s -> substr(md5(s) || md5('x:' || s), j * 8 + 1, 8)), 'min') AS sig
      |  FROM sh CROSS JOIN generate_series(0, 7) AS g(j))""".stripMargin

  private def sigChainSql(corpusSql: String) =
    s"""${sigOnlySql(corpusSql)},
      |bsz AS (
      |  SELECT band, sig, count(*) AS n FROM sig
      |  WHERE sig IS NOT NULL GROUP BY 1, 2),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
      |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
      |    AND a.doc_id < b.doc_id
      |  JOIN bsz ON bsz.band = a.band AND bsz.sig = a.sig AND bsz.n <= 1024
      |  GROUP BY 1, 2)""".stripMargin

  private val minhashSigSql = sigChainSql(nearCorpusSql)

  /** 64-bit banded-SimHash candidate chain over the near corpus: 64 sign
    * sums over the double digest, each 16-bit block as integer arithmetic
    * with literal weights — no shifts, so signedness can never diverge
    * between engines (mirrors Dedup.simhashBlockSigs). Terminal CTE:
    * `pairs` (unfiltered block-collision candidates carrying both full
    * signatures). */
  private def simhashBandChain(p: String, withCorpus: Boolean): String = {
    val bitSums = (1 to 64).map { i =>
      s"sum(CASE WHEN substr(h, $i, 1) >= '8' THEN 1 ELSE -1 END) AS s_$i"
    }.mkString(",\n    ")
    def blockExpr(b: Int) = (0 until 16).map { j =>
      val i = b * 16 + j + 1
      s"(CASE WHEN s_$i > 0 THEN ${1 << (15 - j)} ELSE 0 END)"
    }.mkString(" + ")
    val blockCols = (0 until 4).map(b => s"${blockExpr(b)} AS b$b")
      .mkString(",\n    ")
    val head = if (withCorpus) s"$nearCorpusSql,\n" else ""
    s"""$head${p}tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
      |${p}hs AS (SELECT doc_id, md5(tok) || md5('x:' || tok) AS h FROM ${p}tok),
      |${p}bits AS (
      |  SELECT doc_id,
      |    $bitSums
      |  FROM ${p}hs GROUP BY 1),
      |${p}sigs AS (
      |  SELECT doc_id,
      |    $blockCols
      |  FROM ${p}bits),
      |${p}blk AS (
      |  SELECT doc_id, b0, b1, b2, b3, g.j AS blk,
      |    CASE g.j WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS key
      |  FROM ${p}sigs CROSS JOIN generate_series(0, 3) AS g(j)),
      |${p}bsz AS (
      |  SELECT blk, key, count(*) AS n FROM ${p}blk GROUP BY 1, 2),
      |${p}pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
      |    b.b0 AS v0, b.b1 AS v1, b.b2 AS v2, b.b3 AS v3
      |  FROM ${p}blk a JOIN ${p}blk b ON a.blk = b.blk AND a.key = b.key
      |    AND a.doc_id < b.doc_id
      |  JOIN ${p}bsz ON ${p}bsz.blk = a.blk AND ${p}bsz.key = a.key
      |    AND ${p}bsz.n > 1 AND ${p}bsz.n <= 1024)""".stripMargin
  }

  private val simhashBandChainSql: String = simhashBandChain("", true)

  /** The [[nearCorpusSlice]] mirror — every 20th document + its truncated
    * twin, the cap-free corpus the E18 stream gate key replays on. */
  private val slicedNearCorpusSql =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + $TwinShift AS doc_id,
      |    array_to_string(
      |      (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 5, 3)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  private val simhashHamSql = (0 until 4)
    .map(i => s"bit_count(xor(CAST(a$i AS BIGINT), CAST(v$i AS BIGINT)))")
    .mkString(" + ")

  private val simhashAgreeSql = (0 until 4)
    .map(i => s"(CASE WHEN a$i = v$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** embeddings ∪ 1.5×-scaled copy (cosine-invariant scaling → near-dups
    * with similarity ≈ 1). Float multiply is single-rounding in both
    * engines, so the variant vectors are bit-identical. */
  private[queries] def embCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    assertTwinHeadroom(e, d, "vec_id")
    e.unionByName(e.select(
      (col("vec_id") + TwinShift).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
  }

  private[queries] val embCorpusSql =
    s"""corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + $TwinShift AS vec_id,
      |    list_transform(embedding, x -> x * CAST(1.5 AS FLOAT)) AS embedding
      |  FROM embeddings)""".stripMargin

  /** DuckDB mirror of Dedup.lshBucket (16 sign-LSH bits). */
  private val lshBucketSql: String = (0 until 16).map { p =>
    s"""CASE WHEN list_sum(list_transform(generate_series(0, 63),
       |  i -> CAST(embedding[i + 1] AS DOUBLE) *
       |       (CASE WHEN substr(md5('$p:' || CAST(i AS VARCHAR)), 1, 1) >= '8'
       |             THEN 1.0 ELSE -1.0 END))) > 0 THEN '1' ELSE '0' END""".stripMargin
  }.mkString(" || ")

  /** DuckDB mirror of the native CosineSimilarity expression (sequential
    * double fold — verified bit-identical). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |/ (sqrt(list_sum(list_transform(generate_series(1, len($a)),
       |     i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       | * sqrt(list_sum(list_transform(generate_series(1, len($b)),
       |     i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** The shared lifecycle of the id-ordered stream keys (E9, E12, E18):
    * `corpus` arrives as 4 contiguous doc_id-range files, one per trigger,
    * into the store-backed stream `start(arrivals, storeDir, outDir)`.
    * Id-ordered arrival is the precondition under which each store-backed
    * stream equals its batch anchor, and `compactEvery = 2` over the 4
    * batches puts a mid-stream store compaction inside the hash gate.
    * Returns `outDir`. */
  private def idOrderedStream(name: String, corpus: DataFrame)(
      start: (DataFrame, String, String) => StreamingQuery): String = {
    val (arrivals, stage) =
      Fixtures.stage(corpus.repartitionByRange(4, col("doc_id")))
    val store = Fixtures.dir(s"${name}_store")
    val out = Fixtures.dir(s"${name}_out")
    Fixtures.drain(start(arrivals, store, out), stage, store)
    out
  }

  /** The streamed first-wins verdicts for `dedup_online_stream` (E9
    * through the gate): the near-dup corpus through
    * [[graft.streaming.DedupStreams.nearDupStream]]'s claim store, with a
    * mid-stream [[graft.streaming.DedupStreams.compactClaims]] rewrite.
    * Under id-ordered arrival the stream equals batch
    * [[graft.dedup.Dedup.firstWinsKept]], so this key reuses
    * `dedup_online`'s oracle VERBATIM — the whole streamed lifecycle
    * (batch splits, claim appends, compaction swap) is hash-gated. */
  def onlineStreamVerdicts(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, Fixtures.once(s"online_stream:$d") {
      idOrderedStream("online",
          nearCorpus(s, d).select(col("doc_id"), col("text"))) {
        graft.streaming.DedupStreams.nearDupStream(_, _, _, compactEvery = 2)
      }
    })

  /** The streamed novelty scores for `text_novelty_stream` (E12 through
    * the gate): the near corpus through
    * [[graft.streaming.DedupStreams.noveltyStream]]'s gram store, with a
    * mid-stream [[graft.streaming.DedupStreams.compactGrams]] rewrite.
    * Under id-ordered arrival the incremental min-carrier scores equal
    * batch [[graft.dedup.Dedup.noveltyScores]] exactly, so this key reuses
    * `text_novelty`'s oracle VERBATIM. */
  def noveltyStreamScores(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, Fixtures.once(s"novelty_stream:$d") {
      idOrderedStream("novelty",
          nearCorpus(s, d).select(col("doc_id"), col("text"))) {
        graft.streaming.DedupStreams.noveltyStream(_, _, _, w = 8,
          compactEvery = 2)
      }
    })

  /** E18 slice corpus: every 20th document plus its tail-truncated twin —
    * [[nearCorpus]] restricted so no (blk, key) SimHash bucket can approach
    * the batch anchor's `maxBucket` = 1024 guard (the full corpus measured
    * 771/1024 at sf0.1 and BINDS at sf1). The cap is a GLOBAL bucket-size
    * statistic a causal stream cannot consult, so stream ≡ batch parity is
    * only a theorem on cap-free corpora — this slice is such a corpus at
    * every tested scale, and [[simhashStreamVerdicts]] `require`s it
    * loudly rather than letting a bind surface as a hash mismatch. */
  private def nearCorpusSlice(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text"))
    assertTwinHeadroom(docs, d, "doc_id")
    val t = split(col("text"), " ")
    Tables.fanOut(docs.unionByName(docs.select(
      (col("doc_id") + TwinShift).as("doc_id"),
      concat_ws(" ", slice(t, lit(1), greatest(size(t) - 5, lit(3)))).as("text"))))
  }

  /** The streamed first-wins SimHash verdicts for `dedup_simhash_stream`
    * (E18 through the gate): the cap-free slice corpus through
    * [[graft.streaming.DedupStreams.simhashDedupStream]]'s signature
    * store, with a mid-stream [[graft.streaming.DedupStreams
    * .compactShStore]] rewrite. On a corpus where the batch anchor's
    * `maxBucket` guard never binds (required loudly below), the causal
    * store consultation IS the banded-Hamming pair set, so this key reuses
    * `dedup_simhash_online`'s oracle RESTRICTED to the slice. */
  def simhashStreamVerdicts(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, Fixtures.once(s"simhash_stream:$d") {
      val corpus = nearCorpusSlice(s, d)
      val mb = Dedup.simhashBlocks(corpus).groupBy("blk", "key")
        .agg(count(lit(1)).as("_n")).agg(max(col("_n"))).head()
      val maxBucket = if (mb.isNullAt(0)) 0L else mb.getLong(0)
      require(maxBucket <= 1024,
        s"simhash stream slice: largest (blk, key) bucket $maxBucket " +
          "exceeds the batch anchor's maxBucket=1024 — stream/batch parity " +
          "does not hold on capped corpora; widen the slice modulus")
      idOrderedStream("simhash", corpus) {
        graft.streaming.DedupStreams.simhashDedupStream(_, _, _,
          maxDist = 3, compactEvery = 2)
      }
    })

  /** E18 capped-mode flood fixture: `SimhashFloodK` copies of one fixed
    * template sentence at ids ≥ TwinShift2 (after every slice doc), so all
    * four of the template signature's (blk, key) buckets saturate the
    * `SimhashStreamCap` guard mid-flood — the boilerplate-flooded-bucket
    * regime [[graft.streaming.DedupStreams.simhashStepCapped]] exists for. */
  private val SimhashStreamCap = 1024
  private val SimhashFloodK = 1152
  private val SimhashFloodTemplate =
    "standard boilerplate navigation header copyright terms privacy " +
      "contact subscribe login search menu footer sitemap"

  private def cappedStreamCorpus(s: SparkSession, d: String): DataFrame =
    nearCorpusSlice(s, d).unionByName(
      s.range(SimhashFloodK).select((col("id") + TwinShift2).as("doc_id"),
        lit(SimhashFloodTemplate).as("text")))

  private val cappedStreamCorpusSql =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + $TwinShift AS doc_id,
      |    array_to_string(
      |      (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 5, 3)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT $TwinShift2 + i AS doc_id,
      |    '$SimhashFloodTemplate' AS text
      |  FROM generate_series(0, ${SimhashFloodK - 1}) AS gs(i))""".stripMargin

  /** The streamed CAPPED-mode SimHash verdicts for
    * `dedup_simhash_stream_capped` (the `maxBucket > 0` path of
    * [[graft.streaming.DedupStreams.simhashDedupStream]] through the gate —
    * the one r13 semantics the hash gate did not key). Same id-ordered
    * lifecycle as [[simhashStreamVerdicts]], but on the flood
    * corpus with `maxBucket = SimhashStreamCap`, so saturation BINDS and
    * the quarantine bookkeeping is exercised for real.
    *
    * Why the oracle is exact and batch-boundary-free on THIS corpus (it is
    * not in general — same-batch arrivals count pessimistically, earlier-
    * batch quarantined arrivals not at all):
    *  - every slice doc precedes every flood doc (ids), and slice bucket
    *    sizes stay ≤ cap (required loudly below), so no slice doc ever
    *    quarantines and every early bucket occupant is DECIDED;
    *  - flood docs share all four signature buckets, so with b_i slice
    *    members in flood bucket i, arrival f quarantines iff
    *    f ≥ cap − max_i(b_i) — counting decided occupants alone reaches
    *    the cap, and pessimism can only re-flag already-flagged docs.
    * Both cases collapse to: quarantined iff arrival rank in SOME bucket
    * exceeds the cap, over ALL corpus members of that bucket in id order —
    * one window + HAVING in the oracle. Decided verdicts then equal the
    * cap-free first-wins anchor restricted to the decided subset (the
    * simhashStepCapped contract, spec-pinned in StreamingSpec). */
  def simhashStreamCappedVerdicts(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, Fixtures.once(s"simhash_capped_stream:$d") {
      val slice = nearCorpusSlice(s, d)
      val mb = Dedup.simhashBlocks(slice).groupBy("blk", "key")
        .agg(count(lit(1)).as("_n")).agg(max(col("_n"))).head()
      val sliceMax = if (mb.isNullAt(0)) 0L else mb.getLong(0)
      require(sliceMax <= SimhashStreamCap,
        s"simhash capped stream: largest slice (blk, key) bucket $sliceMax " +
          s"exceeds cap $SimhashStreamCap — slice docs would quarantine and " +
          "the boundary-free oracle derivation no longer holds; widen the " +
          "slice modulus or the cap")
      val out = idOrderedStream("simhash_cap", cappedStreamCorpus(s, d)) {
        graft.streaming.DedupStreams.simhashDedupStream(_, _, _,
          maxDist = 3, compactEvery = 2, maxBucket = SimhashStreamCap)
      }
      val nq = Tables.parquet(s, out).filter(col("quarantined")).count()
      require(nq > 0, "simhash capped stream: cap never bound — the " +
        "fixture must exercise the quarantine path (flood too small?)")
      out
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_exact" -> { (s, d) => Dedup.exactGroups(exactCorpus(s, d)) },

    "dedup_minhash" -> { (s, d) =>
      Dedup.minhashCandidates(Dedup.minhashSignatures(nearCorpus(s, d)))
    },

    // D44: cross-source overlap matrix — per-source MinHash signatures
    // (P=16), Jaccard estimate vs the exact distinct-shingle truth twin.
    "dedup_source_overlap" -> { (s, d) =>
      Dedup.sourceOverlap(Tables.documents(s, d))
    },

    // Verification routes through jaccardAuto: the candidate-pair count
    // (persisted, one LSH pass) picks broadcast-pairs vs the dense
    // member-semi-join plan — identical rows either way (parity pinned),
    // so the regime switch is invisible to the oracle. The corpus is
    // shingled ONCE (persisted, caller-owned) and both the minhash leg
    // and the verifier consume it — band mins are duplicate-insensitive,
    // so signatures off the distinct set are bit-identical.
    "dedup_jaccard" -> { (s, d) =>
      val shared = graft.core.CacheScope.pin(
        Dedup.shingledDistinct(nearCorpus(s, d)))
      Dedup.jaccardAutoFrom(shared,
        Dedup.minhashCandidates(Dedup.minhashSignaturesFrom(shared))
          .select("doc_a", "doc_b"))
    },

    // D76: asymmetric containment — the truncated variants are ~fully
    // contained in their originals even where symmetric Jaccard dips, the
    // quote/truncation signal a resemblance threshold alone misses.
    // Same single shingle pass as dedup_jaccard; verification routes
    // through containmentAuto (the jaccardAuto measured regime switch —
    // the sf1 replica's ~4M pairs pick the dense member-semi-join plan
    // instead of broadcasting 2 tagged rows per pair).
    "dedup_containment" -> { (s, d) =>
      val shared = graft.core.CacheScope.pin(
        Dedup.shingledDistinct(nearCorpus(s, d)))
      Dedup.containmentAutoFrom(shared,
        Dedup.minhashCandidates(Dedup.minhashSignaturesFrom(shared))
          .select("doc_a", "doc_b"))
    },

    // D88: LSH parameter planning over the measured candidate-pair
    // similarity distribution — all candidate pairs scored (threshold 0),
    // then the (b, r) S-curve expectation table. Shares the single
    // shingle pass with the jaccard/containment queries.
    "dedup_lsh_plan" -> { (s, d) =>
      val shared = graft.core.CacheScope.pin(
        Dedup.shingledDistinct(nearCorpus(s, d)))
      val scored = Dedup.jaccardAutoFrom(shared,
        Dedup.minhashCandidates(Dedup.minhashSignaturesFrom(shared))
          .select("doc_a", "doc_b"),
        threshold = 0.0)
      Dedup.lshPlan(scored, threshold = 0.5)
    },

    // D23: the per-document first-wins verdict (the streaming contract in
    // its whole-corpus batch form; DedupStreams is the incremental twin,
    // batch≡stream pinned in StreamingSpec).
    "dedup_online" -> { (s, d) =>
      Dedup.firstWinsKept(Dedup.minhashSignatures(nearCorpus(s, d)))
    },

    // E9 through the gate: the STREAMED twin of dedup_online — the corpus
    // arrives as a real micro-batched file-source stream in id order,
    // verdicts come out of the claim-store foreachBatch (through a
    // mid-stream compaction), and must reproduce the batch oracle
    // verbatim, the way E20/E21 gated postings/manifest.
    "dedup_online_stream" -> { (s, d) => onlineStreamVerdicts(s, d) },

    "dedup_simhash" -> { (s, d) => Dedup.simhashGroups(nearCorpus(s, d)) },

    // D79: banded-Hamming SimHash pairs (Manku WWW'07) — the truncated
    // variants land a few bits from their originals, so the distance ≤ 3
    // battery finds them where D3's exact-signature grouping cannot.
    "dedup_simhash_band" -> { (s, d) =>
      Dedup.simhashHammingPairs(nearCorpus(s, d))
    },

    // E18 batch anchor: the per-document first-wins verdict under the
    // SimHash metric — kept iff no smaller-id doc within Hamming 3.
    "dedup_simhash_online" -> { (s, d) =>
      Dedup.simhashFirstWins(nearCorpus(s, d))
    },

    // E18: the causal signature-store STREAM on the cap-free slice corpus —
    // verdicts come out of [[simhashStreamVerdicts]]' foreachBatch
    // (including a mid-stream store compaction) and hash-match the batch
    // anchor's first-wins oracle restricted to the slice.
    "dedup_simhash_stream" -> { (s, d) => simhashStreamVerdicts(s, d) },

    // E18 capped mode: the same causal stream on the FLOODED corpus with
    // maxBucket binding — saturated-bucket arrivals come back quarantined
    // (kept NULL), decided verdicts hash-match the cap-free anchor
    // restricted to the decided subset.
    "dedup_simhash_stream_capped" -> { (s, d) =>
      simhashStreamCappedVerdicts(s, d)
    },

    // D87: the three detectors side by side per pair + the ≥2-signal
    // conservative verdict — the evidence table consulted before
    // destructive dedup.
    "dedup_ensemble" -> { (s, d) =>
      Dedup.dedupEnsemble(nearCorpus(s, d))
    },

    // D27: span-level exact duplication — the truncated variants share
    // their whole prefix with their originals, so their 8-token windows
    // are flagged nearly wall-to-wall.
    "dedup_spans" -> { (s, d) => Dedup.dupSpans(nearCorpus(s, d), w = 8) },

    // D55: corpus-order novelty — the truncated mirrors (id+TwinShift) carry
    // almost no first-seen content, so their novelty collapses toward 0
    // while the base documents stay near 1.
    "text_novelty" -> { (s, d) =>
      Dedup.noveltyScores(nearCorpus(s, d), w = 8)
    },

    // E12 through the gate: the STREAMED twin of text_novelty — the
    // corpus arrives as a real micro-batched file-source stream in id
    // order, per-document scores come out of the gram-store foreachBatch
    // (through a mid-stream compaction), and must reproduce the batch
    // oracle verbatim, the way E9/E20/E21 gated their lifecycles.
    "text_novelty_stream" -> { (s, d) => noveltyStreamScores(s, d) },

    // D33: the remediation — duplicated spans cut out of the text itself.
    "dedup_span_removal" -> { (s, d) =>
      Dedup.removeDupSpans(nearCorpus(s, d), w = 8)
    },

    // Components run on the STAR candidate graph (member → bucket min):
    // identical clusters to the all-pairs clique at O(docs · bands) edges
    // instead of O(Σ bucket²) — the density-proof input the contraction
    // loop needs (8.8M clique edges vs ≤1.2M stars on the sf1 replica).
    "dedup_clusters" -> { (s, d) =>
      Dedup.resolveClusters(
        Dedup.minhashStarEdges(Dedup.minhashSignatures(clusterCorpus(s, d))))
    },

    // D74: PageRank centrality over the near-dup candidate graph — the
    // most-connected member of a duplication neighborhood is its
    // canonical carrier (the graph twin of keep-best); fixed-iteration
    // power method with exact per-node sums, output = r·N on the rnd4
    // grid.
    "dedup_graph_rank" -> { (s, d) =>
      val corpus = nearCorpus(s, d)
      GraphRank.pageRank(corpus.select("doc_id"),
        Dedup.minhashCandidates(Dedup.minhashSignatures(corpus))
          .select("doc_a", "doc_b"))
    },

    // D82: triangle counts + clustering coefficients over the candidate
    // graph — the chained variant corpus closes base↔v1↔v2 triangles, so
    // mirror cliques read clustering 1.0 while chain-only links read 0.
    "dedup_graph_triangles" -> { (s, d) =>
      GraphRank.triangleStats(
        Dedup.minhashCandidates(Dedup.minhashSignatures(clusterCorpus(s, d)))
          .select("doc_a", "doc_b"))
    },

    // D54: leakage-guarded split — split assignment hashes the CLUSTER
    // root, not the doc id, so a truncated mirror of a train doc can
    // never land in test (held-out contamination). Same component map as
    // dedup_clusters; the split is map-side md5 math on the root.
    "dedup_leak_split" -> { (s, d) =>
      Dedup.leakSafeSplit(clusterCorpus(s, d))
    },

    // D47: quality-aware keep-best resolution — the same near-dup cluster
    // graph, but the survivor is the HIGHEST-QUALITY member (the full
    // base document outranks its truncated variants on the D9 quality
    // signals), not the arbitrary min-id. Tie-break: smaller doc_id.
    "dedup_keep_best" -> { (s, d) =>
      val t = split(col("text"), " ")
      val nWords = size(t)
      val stopRatio = graft.functions.TextFunctions.stopHits(t,
        Seq("the", "a", "of", "and", "to", "in", "is")).cast("double") / nWords
      val avgWlen = length(regexp_replace(col("text"), " ", ""))
        .cast("double") / nWords
      val score =
        lit(0.4) * least(stopRatio * 5.0, lit(1.0)) +
        lit(0.3) * least(avgWlen / 8.0, lit(1.0)) +
        lit(0.3) * when(nWords.between(20, 1000), 1.0).otherwise(0.0)
      Dedup.keepBest(clusterCorpus(s, d), score)
    },

    "dedup_embedding" -> { (s, d) => Dedup.embeddingNearDups(embCorpus(s, d)) },

    // D19: decontamination — the truncated variants stand in for a training
    // corpus that absorbed benchmark text; every 50th base doc is the
    // "benchmark" and its variant must be flagged by 8-gram overlap.
    "text_decontaminate" -> { (s, d) =>
      val corpus = nearCorpus(s, d)
      val bench = corpus.filter(col("doc_id") < TwinShift &&
        col("doc_id") % 50 === 0)
      val train = corpus.filter(col("doc_id") >= TwinShift)
      Dedup.decontaminate(train, bench, w = 8)
    }
  )

  /** Shared by `dedup_online` and its streamed twin `dedup_online_stream`. */
  private val onlineKeptSql =
    s"""WITH ${sigOnlySql(nearCorpusSql)},
      |s AS (SELECT doc_id, band, sig FROM sig WHERE sig IS NOT NULL),
      |owners AS (
      |  SELECT band, sig, min(doc_id) AS owner FROM s GROUP BY 1, 2)
      |SELECT s.doc_id,
      |  1 - max(CASE WHEN s.doc_id <> o.owner THEN 1 ELSE 0 END) AS kept
      |FROM s JOIN owners o ON s.band = o.band AND s.sig = o.sig
      |GROUP BY s.doc_id""".stripMargin

  /** Shared by `text_novelty` and its streamed twin `text_novelty_stream`:
    * distinct md5-prefix grams per doc, first carrier = min doc_id
    * (order-free), novelty = 1 − seen/total. */
  private val noveltySql =
    s"""WITH $nearCorpusSql,
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      |grams AS (
      |  SELECT DISTINCT doc_id, substr(md5(g), 1, 16) AS gram FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(t) - 7),
      |      i -> array_to_string(t[i:i+7], ' '))) AS g
      |    FROM toks)),
      |fs AS (SELECT gram, min(doc_id) AS first FROM grams GROUP BY 1)
      |SELECT g.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN fs.first < g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_seen,
      |  floor((CAST(1 AS DOUBLE)
      |         - CAST(sum(CASE WHEN fs.first < g.doc_id THEN 1 ELSE 0 END)
      |                AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |        * 10000 + 0.5) / 10000.0 AS novelty
      |FROM grams g JOIN fs USING (gram)
      |GROUP BY 1""".stripMargin

  val oracle: Map[String, String] = Map(

    "dedup_exact" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $TwinShift AS doc_id, upper(text) || '  ' AS text
        |  FROM documents)
        |SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
        |  min(doc_id) AS survivor, count(*) AS n_dups
        |FROM corpus GROUP BY 1""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $minhashSigSql
        |SELECT doc_a, doc_b, n_bands FROM cand""".stripMargin,

    // Mirror of Dedup.sourceOverlap(w=4, comps=16): same four-digest
    // hash concat, same component mins (order-free), same exact truth.
    "dedup_source_overlap" -> {
      val sigCols = (0 until 16).map(j =>
        s"min(substr(h, ${j * 8 + 1}, 8)) AS c$j").mkString(", ")
      val matchSum = (0 until 16).map(j =>
        s"(CASE WHEN a.c$j = b.c$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS tk
        |           FROM documents),
        |g0 AS (
        |  SELECT source, unnest(list_transform(
        |    generate_series(1, len(tk) - 3),
        |    i -> array_to_string(tk[i:i+3], ' '))) AS g
        |  FROM t WHERE len(tk) >= 4),
        |hh AS (
        |  SELECT source,
        |    md5(g) || md5('x:' || g) || md5('y:' || g) || md5('z:' || g) AS h
        |  FROM g0),
        |sig AS (SELECT source, $sigCols FROM hh GROUP BY source),
        |ds AS (SELECT DISTINCT source, g FROM g0),
        |sizes AS (SELECT source, count(*) AS n FROM ds GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
        |  FROM ds a JOIN ds b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST($matchSum AS BIGINT) AS sig_match
        |  FROM sig a JOIN sig b ON a.source < b.source)
        |SELECT p.src_a, p.src_b, p.sig_match,
        |  floor((p.sig_match / 16.0) * 10000 + 0.5) / 10000.0 AS est_jaccard,
        |  floor((COALESCE(inter.i, 0) /
        |    CAST(sa.n + sb.n - COALESCE(inter.i, 0) AS DOUBLE))
        |    * 10000 + 0.5) / 10000.0 AS true_jaccard
        |FROM p
        |JOIN sizes sa ON sa.source = p.src_a
        |JOIN sizes sb ON sb.source = p.src_b
        |LEFT JOIN inter ON inter.src_a = p.src_a AND inter.src_b = p.src_b"""
        .stripMargin
    },

    // owner = min doc_id per bucket; kept iff the doc owns every one of
    // its buckets (mirrors Dedup.firstWinsKept; no bucket cap by design —
    // there is no pair explode in this op)
    "dedup_online" -> onlineKeptSql,

    // E9: the id-ordered stream equals the whole-corpus batch form, so
    // the streamed lifecycle is checked against the SAME oracle verbatim.
    "dedup_online_stream" -> onlineKeptSql,

    // Mirror of dedup_graph_rank: the same candidate chain, then the
    // unrolled fixed-iteration PageRank replay (GraphRank.oracleSql).
    "dedup_graph_rank" ->
      s"""WITH $minhashSigSql,
        |${GraphRank.oracleSql()}
        |SELECT doc_id, deg, rank_score FROM pr_out""".stripMargin,

    // exact components via a recursive reachability CTE (min label over
    // everything reachable = component minimum) — the Spark side converges
    // to the same fixpoint by min-label propagation
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${sigChainSql(clusterCorpusSql)},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
        |SELECT cluster AS survivor, count(*) AS n_members
        |FROM comp GROUP BY 1""".stripMargin,

    // Mirror of Dedup.keepBest: same component minimum as dedup_clusters,
    // the text_quality score replayed over the cluster corpus, winner =
    // row 1 under (rnd4 quality DESC, doc_id ASC) — ranking on the shared
    // rounding grid keeps the verdict engine-independent.
    "dedup_keep_best" ->
      s"""WITH RECURSIVE ${sigChainSql(clusterCorpusSql)},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |    floor((0.4 * least(
        |        CAST(len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
        |          AS DOUBLE) / len(string_split(text, ' ')) * 5.0, 1.0)
        |      + 0.3 * least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |          / len(string_split(text, ' ')) / 8.0, 1.0)
        |      + 0.3 * (CASE WHEN len(string_split(text, ' '))
        |          BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END))
        |      * 10000 + 0.5) / 10000.0 AS quality
        |  FROM corpus),
        |j AS (
        |  SELECT q.doc_id, coalesce(c.cluster, q.doc_id) AS cluster,
        |    q.quality
        |  FROM q LEFT JOIN comp c ON c.id = q.doc_id)
        |SELECT doc_id, cluster, quality,
        |  row_number() OVER (PARTITION BY cluster
        |    ORDER BY quality DESC, doc_id ASC) = 1 AS kept
        |FROM j""".stripMargin,

    // Mirror of Dedup.leakSafeSplit(80/10): same component minimum as
    // dedup_clusters, cluster = coalesce(component, doc_id), and the split
    // bucket = first-8-hex of md5 of the root id's decimal string, mod 100
    // (integer digit fold — ≤ 16⁸ holds exactly in a double, so both
    // engines land the same bucket).
    "dedup_leak_split" -> {
      def hexFold(expr: String): String =
        s"""CAST(list_sum(list_transform(generate_series(1, 8), i ->
           |    (strpos('0123456789abcdef', substr(md5($expr), i, 1)) - 1)
           |    * power(16.0, 8 - i))) AS BIGINT)""".stripMargin
      s"""WITH RECURSIVE ${sigChainSql(clusterCorpusSql)},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
        |j AS (
        |  SELECT c0.doc_id, coalesce(c.cluster, c0.doc_id) AS cluster
        |  FROM corpus c0 LEFT JOIN comp c ON c.id = c0.doc_id),
        |h AS (SELECT doc_id, cluster,
        |  ${hexFold("CAST(cluster AS VARCHAR)")} % 100 AS hv FROM j)
        |SELECT doc_id, cluster,
        |  CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin
    },

    "dedup_jaccard" ->
      s"""WITH $minhashSigSql,
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN dsh a ON a.doc_id = c.doc_a
        |  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |  floor((CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter))
        |        * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5""".stripMargin,

    // Mirror of dedup_lsh_plan: the jaccard chain WITHOUT a threshold
    // (all candidate pairs), then Dedup.lshPlanOracleSql's unrolled
    // power-chain expectation table.
    "dedup_lsh_plan" ->
      s"""WITH $minhashSigSql,
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN dsh a ON a.doc_id = c.doc_a
        |  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |jall AS MATERIALIZED (
        |  -- LEFT join from cand: at threshold 0 Spark keeps candidate
        |  -- pairs with ZERO shared shingles (j = 0), so the mirror must
        |  -- not drop them through an inner shingle join
        |  SELECT c.doc_a, c.doc_b,
        |    floor((CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        |          / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)))
        |          * 10000 + 0.5) / 10000.0 AS jaccard
        |  FROM cand c
        |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        |  JOIN sizes sa ON sa.doc_id = c.doc_a
        |  JOIN sizes sb ON sb.doc_id = c.doc_b),
        |${Dedup.lshPlanOracleSql(threshold = 0.5)}""".stripMargin,

    // Mirror of dedup_containment: same shingle sets and intersection,
    // both directed ratios plus Jaccard, greatest() threshold.
    "dedup_containment" ->
      s"""WITH $minhashSigSql,
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN dsh a ON a.doc_id = c.doc_a
        |  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, CAST(n_inter AS INTEGER) AS n_inter,
        |  floor((CAST(n_inter AS DOUBLE) / sa.n_sh) * 10000 + 0.5)
        |    / 10000.0 AS contain_ab,
        |  floor((CAST(n_inter AS DOUBLE) / sb.n_sh) * 10000 + 0.5)
        |    / 10000.0 AS contain_ba,
        |  floor((CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter))
        |        * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n_sh,
        |               CAST(n_inter AS DOUBLE) / sb.n_sh) >= 0.9""".stripMargin,

    // Mirrors Dedup.dupSpans(w=8): the same md5-prefix gram hash, per
    // (doc, gram) multiplicities, cross-doc carrier counts, and the
    // integer-exact dup-token tally. Integer counts hash exactly; the
    // ratio is one double division on both sides.
    "dedup_spans" ->
      s"""WITH $nearCorpusSql,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |grams AS (
        |  SELECT doc_id, substr(md5(g), 1, 16) AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(t) - 7),
        |      i -> array_to_string(t[i:i+7], ' '))) AS g
        |    FROM toks)),
        |pdg AS (
        |  SELECT doc_id, gram, count(*) AS k FROM grams GROUP BY 1, 2),
        |own AS (SELECT gram, count(*) AS docs FROM pdg GROUP BY 1)
        |SELECT doc_id,
        |  CAST(sum(k) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN docs > 1 THEN k ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  floor((CAST(sum(CASE WHEN docs > 1 THEN k ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(k) AS DOUBLE)) * 10000 + 0.5) / 10000.0
        |    AS dup_ratio
        |FROM pdg JOIN own USING (gram)
        |GROUP BY 1""".stripMargin,

    // Mirrors Dedup.noveltyScores(w=8): distinct md5-prefix grams per doc,
    // first carrier = min doc_id (order-free), novelty = 1 − seen/total.
    // Integer counts hash exactly; one double division + rnd4 on both sides.
    "text_novelty" -> noveltySql,

    // E12: the id-ordered stream equals the whole-corpus batch form, so
    // the streamed gram-store lifecycle is checked against the SAME
    // oracle verbatim (the E9 dedup_online_stream convention).
    "text_novelty_stream" -> noveltySql,

    // Mirror of Dedup.removeDupSpans(w=8): same gram hashing, distinct
    // carrier counts, and the coverage rebuild over kept token indices.
    "dedup_span_removal" ->
      s"""WITH $nearCorpusSql,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |grams AS (
        |  SELECT doc_id, k AS s,
        |    substr(md5(array_to_string(t[k:k+7], ' ')), 1, 16) AS gram
        |  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS g(k)),
        |car AS (
        |  SELECT gram, count(*) AS carriers
        |  FROM (SELECT DISTINCT doc_id, gram FROM grams) GROUP BY 1),
        |ds AS (
        |  SELECT g.doc_id, list(g.s ORDER BY g.s) AS starts
        |  FROM grams g JOIN car USING (gram) WHERE carriers > 1
        |  GROUP BY 1),
        |cov AS (
        |  SELECT toks.doc_id, t,
        |    list_filter(generate_series(1, len(t)), i ->
        |      len(list_filter(COALESCE(starts, CAST([] AS BIGINT[])),
        |        s -> s <= i AND i <= s + 7)) = 0) AS kept
        |  FROM toks LEFT JOIN ds USING (doc_id))
        |SELECT doc_id,
        |  CAST(len(t) AS INT) AS n_tokens,
        |  CAST(len(t) - len(kept) AS INT) AS n_removed,
        |  COALESCE(array_to_string(list_transform(kept, i -> t[i]), ' '), '')
        |    AS clean_text
        |FROM cov""".stripMargin,

    "dedup_simhash" -> {
      val bitSums = (1 to 32).map { i =>
        s"sum(CASE WHEN substr(h, $i, 1) >= '8' THEN 1 ELSE -1 END) AS s_$i"
      }.mkString(",\n    ")
      val sigExpr = (1 to 32).map { i =>
        s"(CASE WHEN s_$i > 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      s"""WITH $nearCorpusSql,
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
        |hs AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id,
        |    $bitSums
        |  FROM hs GROUP BY 1),
        |sigs AS (SELECT doc_id, $sigExpr AS sig FROM bits)
        |SELECT sig, min(doc_id) AS survivor, count(*) AS n_docs
        |FROM sigs GROUP BY 1""".stripMargin
    },

    "dedup_simhash_band" ->
      s"""WITH $simhashBandChainSql
        |SELECT doc_a, doc_b,
        |  CAST($simhashHamSql AS INT) AS hamming,
        |  CAST($simhashAgreeSql AS INT) AS n_blocks
        |FROM pairs
        |WHERE $simhashHamSql <= 3""".stripMargin,

    // Mirror of dedup_ensemble: the minhash candidate chain, the jaccard
    // verification tail, and the sh-prefixed banded-simhash chain in ONE
    // WITH; signals counted on the pre-coalesce nullable columns exactly
    // like the Spark plan.
    "dedup_ensemble" -> {
      val shChain = simhashBandChain("sh_", withCorpus = false)
      s"""WITH $minhashSigSql,
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
        |jsizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
        |jinter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN dsh a ON a.doc_id = c.doc_a
        |  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |jacc AS (
        |  SELECT i.doc_a, i.doc_b,
        |    floor((CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter))
        |          * 10000 + 0.5) / 10000.0 AS jaccard
        |  FROM jinter i
        |  JOIN jsizes sa ON sa.doc_id = i.doc_a
        |  JOIN jsizes sb ON sb.doc_id = i.doc_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        |    >= 0.5),
        |$shChain,
        |shp AS (
        |  SELECT doc_a, doc_b,
        |    CAST($simhashHamSql AS INT) AS hamming
        |  FROM sh_pairs WHERE $simhashHamSql <= 3),
        |ensb AS (
        |  SELECT COALESCE(m.doc_a, s.doc_a) AS doc_a,
        |    COALESCE(m.doc_b, s.doc_b) AS doc_b,
        |    m.n_bands, s.hamming
        |  FROM cand m FULL OUTER JOIN shp s
        |    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b)
        |SELECT e.doc_a, e.doc_b,
        |  CAST(COALESCE(e.n_bands, 0) AS BIGINT) AS n_bands,
        |  CAST(COALESCE(e.hamming, -1) AS INT) AS hamming,
        |  COALESCE(j.jaccard, 0.0) AS jaccard,
        |  CAST((CASE WHEN e.n_bands IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN e.hamming IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN j.jaccard IS NOT NULL THEN 1 ELSE 0 END) AS INT)
        |    AS n_signals,
        |  ((CASE WHEN e.n_bands IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN e.hamming IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN j.jaccard IS NOT NULL THEN 1 ELSE 0 END)) >= 2
        |    AS verdict
        |FROM ensb e LEFT JOIN jacc j
        |  ON e.doc_a = j.doc_a AND e.doc_b = j.doc_b""".stripMargin
    },

    // Mirror of dedup_simhash_online (the E18 batch anchor): kept iff no
    // smaller-id doc within Hamming 3 — "has an earlier near-dup" is
    // exactly "appears as doc_b in a surviving pair".
    "dedup_simhash_online" ->
      s"""WITH $simhashBandChainSql,
        |dupd AS (
        |  SELECT DISTINCT doc_b FROM pairs WHERE $simhashHamSql <= 3)
        |SELECT c.doc_id,
        |  (dupd.doc_b IS NULL) AS kept
        |FROM corpus c LEFT JOIN dupd ON c.doc_id = dupd.doc_b""".stripMargin,

    // E18: the batch anchor's replay restricted to the cap-free slice
    // corpus (every 20th document + its truncated twin) — the corpus the
    // causal stream provably equals the batch on, because no (blk, key)
    // bucket reaches the anchor's maxBucket guard there.
    "dedup_simhash_stream" ->
      s"""WITH $slicedNearCorpusSql,
        |${simhashBandChain("", false)},
        |dupd AS (
        |  SELECT DISTINCT doc_b FROM pairs WHERE $simhashHamSql <= 3)
        |SELECT c.doc_id,
        |  (dupd.doc_b IS NULL) AS kept
        |FROM corpus c LEFT JOIN dupd ON c.doc_id = dupd.doc_b""".stripMargin,

    // E18 capped mode: quarantine = arrival rank in SOME (blk, key) bucket
    // exceeds the cap (exact on this fixture — see
    // simhashStreamCappedVerdicts' derivation); decided verdicts = the
    // cap-free banded-Hamming first-wins anchor over the decided subset.
    // The chain's own full-corpus `pairs`/`bsz` CTEs are unused — decided
    // pairs are rebuilt from `blk` restricted to non-quarantined docs.
    "dedup_simhash_stream_capped" ->
      s"""WITH $cappedStreamCorpusSql,
        |${simhashBandChain("", false)},
        |rnk AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY blk, key ORDER BY doc_id) AS r
        |  FROM blk),
        |quar AS (
        |  SELECT doc_id FROM rnk GROUP BY doc_id
        |  HAVING max(r) > $SimhashStreamCap),
        |dblk AS (
        |  SELECT b.* FROM blk b LEFT JOIN quar q ON b.doc_id = q.doc_id
        |  WHERE q.doc_id IS NULL),
        |dbsz AS (SELECT blk, key, count(*) AS n FROM dblk GROUP BY 1, 2),
        |dpairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
        |    b.b0 AS v0, b.b1 AS v1, b.b2 AS v2, b.b3 AS v3
        |  FROM dblk a JOIN dblk b ON a.blk = b.blk AND a.key = b.key
        |    AND a.doc_id < b.doc_id
        |  JOIN dbsz ON dbsz.blk = a.blk AND dbsz.key = a.key
        |    AND dbsz.n > 1),
        |dupd AS (
        |  SELECT DISTINCT doc_b FROM dpairs WHERE $simhashHamSql <= 3)
        |SELECT c.doc_id,
        |  CASE WHEN q.doc_id IS NOT NULL THEN NULL
        |       ELSE (dupd.doc_b IS NULL) END AS kept,
        |  (q.doc_id IS NOT NULL) AS quarantined
        |FROM corpus c
        |LEFT JOIN dupd ON c.doc_id = dupd.doc_b
        |LEFT JOIN quar q ON c.doc_id = q.doc_id""".stripMargin,

    // Mirror of dedup_graph_triangles: the same candidate chain, then the
    // a<b<c id-ordered three-way join — counts the identical triangle set
    // the degree-oriented Spark plan finds (set equality is
    // algorithm-independent).
    "dedup_graph_triangles" ->
      s"""WITH ${sigChainSql(clusterCorpusSql)},
        |e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM cand),
        |dg AS (SELECT v, count(*) AS deg FROM
        |  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT v, count(*) AS n_tri FROM (
        |  SELECT x AS v FROM tri UNION ALL SELECT v AS v FROM tri
        |  UNION ALL SELECT w AS v FROM tri) GROUP BY 1)
        |SELECT dg.v AS doc_id, CAST(dg.deg AS BIGINT) AS degree,
        |  CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  floor((CASE WHEN dg.deg < 2 THEN 0.0
        |    ELSE (2.0 * CAST(COALESCE(tc.n_tri, 0) AS DOUBLE))
        |      / (CAST(dg.deg AS DOUBLE) * (CAST(dg.deg AS DOUBLE) - 1.0))
        |    END) * 10000 + 0.5) / 10000.0 AS clustering
        |FROM dg LEFT JOIN tc ON dg.v = tc.v""".stripMargin,

    "text_decontaminate" ->
      s"""WITH $nearCorpusSql,
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, len(t) - 7),
        |      i -> array_to_string(t[i:i+7], ' ')))) AS shingle
        |  FROM tok WHERE len(t) >= 8),
        |bench AS (
        |  SELECT DISTINCT shingle FROM sh
        |  WHERE doc_id < $TwinShift AND doc_id % 50 = 0)
        |SELECT s.doc_id, count(*) AS n_hits
        |FROM sh s JOIN bench USING (shingle)
        |WHERE s.doc_id >= $TwinShift
        |GROUP BY 1""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $embCorpusSql,
        |bk AS (SELECT vec_id, embedding, $lshBucketSql AS bucket FROM corpus),
        |bsz AS (SELECT bucket, count(*) AS n FROM bk GROUP BY 1),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosSql("a.embedding", "b.embedding")} AS c
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  JOIN bsz ON bsz.bucket = a.bucket AND bsz.n <= 1024)
        |SELECT id_a, id_b, floor((c) * 10000 + 0.5) / 10000.0 AS cos_sim
        |FROM pairs WHERE c >= 0.99""".stripMargin
  )
}
