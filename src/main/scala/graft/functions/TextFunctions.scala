package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline operators
  * (SURVEY.md §2D8–D11). Everything is `org.apache.spark.sql.functions`
  * composition — no UDFs — so the whole pipeline stays inside whole-stage
  * codegen and each helper has an exact DuckDB mirror for the oracle gate.
  *
  * Hash primitive is md5 (hex string): bit-identical in Spark and DuckDB,
  * and uniform enough for min-hash / sign-bit tricks.
  */
object TextFunctions {

  /** Whitespace tokens (single-space corpus; split keeps both engines'
    * semantics identical: DuckDB mirror `string_split(text, ' ')`).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword count: runs of ≤4 letters, single digits, single
    * non-alphanumeric marks. DuckDB mirror:
    * `len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]'))`.
    */
  def bpeCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"), lit(0)))

  /** `f(x)` with `x` evaluated once per row. Spark evaluates a lambda body
    * once per element and never hoists a subexpression that does not use
    * the lambda variable, so an array captured from outside a lambda is
    * rebuilt on every iteration; a higher-order function's ARGUMENT is
    * evaluated once. Here `x` is the argument of a one-element
    * `transform`, and `f` sees it as a lambda variable — a reference, not
    * a re-evaluation, in every lambda nested inside `f`. */
  private[graft] def let(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** Word w-shingles ("w consecutive tokens joined by space"). For n tokens
    * produces n-w+1 shingles. DuckDB mirror:
    * `list_transform(generate_series(1, len(toks)-w+1),
    *    i -> array_to_string(toks[i:i+w-1], ' '))`.
    *
    * `toks` is bound once through [[let]]: captured directly inside the
    * per-shingle lambda, the whole token expression (a `split` of the
    * document, or a normalize-then-split) would re-run once per shingle.
    */
  def shingles(toks: Column, w: Int): Column =
    // short docs: sequence(0, negative) counts DOWN in Spark (DuckDB's
    // generate_series is empty) — guard to an empty shingle set explicitly
    let(toks)(t => when(size(t) < w, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(t) - w),
        i => concat_ws(" ", slice(t, i + 1, lit(w))))))

  /** Repeated-word fraction (Gopher-style repetition signal): the share of
    * tokens that repeat an earlier token. Map-only. DuckDB mirror:
    * `(len(t) - len(list_distinct(t))) / CAST(len(t) AS DOUBLE)`. */
  def dupWordFraction(toks: Column): Column =
    (size(toks) - size(array_distinct(toks))).cast("double") / size(toks)

  /** Top-n-gram fraction (Gopher-style): occurrences of the most frequent
    * n-gram over all n-grams — high values flag templated/repetitive text.
    * Per-document higher-order functions only, zero shuffle: ONE fold over
    * the sorted grams, whose accumulator carries the previous gram, the
    * current run and the best run — O(n log n) per document.
    *
    * The gram array is bound once through [[let]] and the sort is the
    * fold's argument. A per-distinct-gram `filter(grams, _ === g)` count
    * would capture `grams` inside a lambda and rebuild the whole shingle
    * array for every distinct gram: O(distinct · total · doc length).
    * Equal grams are adjacent after the sort and the counts are exact
    * integers, so the double is the same; the DuckDB mirror keeps its
    * per-gram count form. */
  def topNgramFraction(toks: Column, n: Int): Column =
    let(shingles(toks, n)) { grams =>
      val zero = struct(lit(null).cast("string").as("prev"),
        lit(0).as("run"), lit(0).as("best"))
      val best = aggregate(array_sort(grams), zero, (acc, g) => {
        val run = when(acc("prev") === g, acc("run") + 1).otherwise(lit(1))
        struct(g.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      }, acc => acc("best"))
      when(size(grams) > 0, best.cast("double") / size(grams)).otherwise(lit(0.0))
    }

  /** Count of tokens found in `stop` (case-sensitive — corpus is
    * lower-case). DuckDB mirror: `len(list_filter(toks, t -> t IN (...)))`.
    */
  def stopHits(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, t => t.isin(stop.map(lit(_)): _*)))

  /** Per-language stop-word tables for the language-ID heuristic.
    * Scoring is hit-count of the language's function words; ties resolve by
    * the declared order, all-zero scores → "und".
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "von", "mit", "ist"),
    "es" -> Seq("el", "la", "de", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "une", "du"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和")
  )

  /** D8 language prediction as one expression: per-language stop-word hit
    * counts, deterministic argmax (declared order breaks ties, all-zero →
    * "und"). The exact expression `text_langid` and the curation pipeline
    * share — one definition, one oracle mirror. */
  def langPredict(toks: Column): Column = {
    val scores = langStopwords.map { case (lang, words) =>
      lang -> stopHits(toks, words)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lang).otherwise(acc)
    }
  }

  /** D9 quality score as one expression: stop-word ratio, mean word
    * length, and a length-band signal, weighted 0.4/0.3/0.3 — shared by
    * `text_quality`, keep-best ranking and the curation pipeline. */
  def qualityScore(text: Column): Column = {
    val t = tokens(text)
    val nWords = size(t)
    val stopRatio = stopHits(t, langStopwords.head._2).cast("double") / nWords
    val avgWlen = length(regexp_replace(text, " ", "")).cast("double") / nWords
    lit(0.4) * least(stopRatio * 5.0, lit(1.0)) +
      lit(0.3) * least(avgWlen / 8.0, lit(1.0)) +
      lit(0.3) * when(nWords.between(20, 1000), 1.0).otherwise(0.0)
  }

  /** Deterministic Bernoulli sampling predicate: keep a row iff the
    * `hexDigits`-char md5 prefix of its key is below the rate threshold —
    * a reproducible, engine-independent coin flip per key (the same key
    * always lands on the same side, across runs, engines and cluster
    * sizes, unlike `df.sample`). Map-only; the comparison is lexicographic
    * on lowercase hex, which is monotone in the numeric value, so no hex→
    * int parsing is needed on either engine.
    * DuckDB mirror: `substr(md5(CAST(k AS VARCHAR)), 1, 8) < '<thr>'`.
    */
  def hashSampleKeep(key: Column, rate: Double, hexDigits: Int = 8): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
    if (rate >= 1.0) lit(true)
    else {
      val thr = ("%0" + hexDigits + "x")
        .format(math.floor(rate * math.pow(16.0, hexDigits)).toLong)
      substring(md5(key.cast("string")), 1, hexDigits) < lit(thr)
    }
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken's MOSS
    * algorithm, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): hash the k-gram sequence, then in every window of `w`
    * consecutive hashes keep the RIGHTMOST minimum; the distinct selected
    * positions are the document's fingerprints. Guarantees every exact
    * match of length ≥ w+k−1 shares a fingerprint, at ~2/(w+1) density —
    * the provenance/plagiarism primitive between per-doc hashing (D11)
    * and full span dedup (D27).
    *
    * Map-only higher-order column math over materialized gram hashes;
    * returns array<struct<pos int, fp bigint>>. DuckDB mirror: the same
    * list_transform over window starts with list_min/list_max slices. */
  def winnowFingerprints(hs: Column, w: Int): Column = {
    // the window minimum is bound once per window: captured inside the
    // position filter, its slice would be rebuilt once per position
    val sel = transform(sequence(lit(0), size(hs) - w), i =>
      let(array_min(slice(hs, i + 1, lit(w))))(m =>
        array_max(filter(sequence(i, i + w - 1),
          p => element_at(hs, p + 1) === m))))
    val dedup = array_distinct(sel)
    when(size(hs) < w, array().cast("array<struct<pos:int,fp:bigint>>"))
      .otherwise(transform(dedup, p =>
        struct(p.as("pos"), element_at(hs, p + 1).as("fp"))))
  }

  /** 8-hex-digit md5 prefix of each gram as a bigint — the gram-hash
    * sequence winnowing selects from. DuckDB mirror: the standard
    * strpos-fold over `substr(md5(g), i, 1)`. */
  def gramHashes(grams: Column): Column =
    transform(grams, g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))

  /** Stratified variant: per-stratum rates with a default — the training-
    * data "rebalance by language/source" primitive. Still map-only. */
  def stratifiedSampleKeep(key: Column, stratum: Column,
                           rates: Seq[(String, Double)],
                           defaultRate: Double): Column =
    rates.foldRight(hashSampleKeep(key, defaultRate)) {
      case ((s, r), acc) => when(stratum === s, hashSampleKeep(key, r))
        .otherwise(acc)
    }

  /** PII redaction: emails → `<EMAIL>`, long digit runs → `<NUM>`. Both
    * patterns stay in the Java∩RE2 common dialect so the DuckDB mirror
    * (`regexp_replace(..., 'g')`) rewrites identically. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")

  /** Normalization for fingerprinting: lower-case, strip non-alphanumerics
    * (keeping spaces), collapse whitespace runs, trim. DuckDB mirror:
    * `trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]','','g'),
    *       ' +',' ','g'))`.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** D57: token-bucket count embedding — a `dims`-dimensional bag-of-words
    * vector where dimension j counts the tokens whose md5 first hex digit
    * lands in bucket j (the hashing-trick feature map of
    * [[hashedLinearScore]], shaped as a dense vector instead of a scalar
    * fold). Integer counts → every coordinate is exact in any engine, so
    * downstream cosine ranking replays bit-for-bit. A trained encoder
    * (e.g. the graft-mlp asset) slots in 1:1 wherever this is used — the
    * retrieval plumbing, not the featurizer, is the tested contract.
    * DuckDB mirror: `list_transform(generate_series(0, dims-1), j ->
    * CAST(len(list_filter(toks, tk ->
    *   strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1 = j)) AS
    * DOUBLE))` (dims ≤ 16 uses only the first hex digit).
    */
  def bucketCounts(toks: Column, dims: Int): Column = {
    require(dims > 0 && dims <= 16, s"bucketCounts: need dims in [1,16], got $dims")
    // One md5 per feature: the bucket-id array is aggregate's ARGUMENT, so
    // it is evaluated once per row; the fold then pays dims cheap int ops
    // per feature. The per-bucket filter-count form re-evaluates the md5
    // (and the bigram string build feeding it) once PER BUCKET — Catalyst
    // higher-order lambdas don't CSE across invocations, which made the
    // sf0.1 chunk-embedding pass ~16x more expensive than the hash work
    // actually requires. Counts are exact integers either way, so the
    // DuckDB mirror keeps its per-bucket list_filter form.
    val ids = transform(toks, t =>
      conv(substring(md5(t), 1, 1), 16, 10).cast("int") % dims)
    aggregate(ids, array_repeat(lit(0.0), dims),
      (acc, b) => zip_with(acc, sequence(lit(0), lit(dims - 1)),
        (c, j) => when(j === b, c + lit(1.0)).otherwise(c)))
  }

  /** D25: document chunking — split each document into fixed-size token
    * windows with overlap (the chunk-for-embedding/RAG preprocessing step).
    * Chunk starts step by `size - overlap`; the final window may be short
    * but is never empty; documents shorter than one window yield exactly
    * one chunk. Map-side explode — no shuffle; chunk text is rebuilt with
    * single spaces (the tokenizer's inverse), deterministic across engines.
    */
  def chunk(toks: Column, width: Int, overlap: Int): Column = {
    require(width > 0 && overlap >= 0 && overlap < width,
      s"chunk: need 0 <= overlap < width, got width=$width overlap=$overlap")
    val step = width - overlap
    // starts 0, step, 2*step, … until a window REACHES the end: the last
    // start is the smallest k*step with k*step + width >= n, so
    // n_chunks = ceil(max(n - width, 0) / step) + 1 — no redundant tail
    // window beyond one that already covers the final token. `toks` is
    // bound once ([[let]]), not re-split per chunk
    let(toks) { t =>
      val nChunks = ceil(greatest(size(t) - width, lit(0)).cast("double")
        / step).cast("int") + 1
      transform(sequence(lit(0), nChunks - 1), k =>
        struct((k * step).as("start"),
          concat_ws(" ", slice(t, k * step + 1, lit(width))).as("text")))
    }
  }

  /** Gopher's document-quality stop-word list (Rae et al. 2021, A1.1). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** D29: the full Gopher quality-rule battery (Rae et al. 2021,
    * Appendix A1.1) as one struct of per-document signals plus the
    * combined verdict — the standard pre-training heuristic filter set:
    *
    *  - word count in [50, 100 000]
    *  - mean word length in [3, 10] characters
    *  - symbol-to-word ratio ('#' or '…'-as-'...') ≤ 0.1
    *  - ≤ 90 % of lines start with a bullet, ≤ 30 % end with an ellipsis
    *  - ≥ 80 % of words contain an alphabetic character
    *  - ≥ 2 distinct Gopher stop words present
    *
    * Map-only higher-order column math (scan → project, no shuffle, no
    * UDF). Every ratio is a single double division of integer-exact
    * counts, so the signals — and therefore the boolean verdict — are
    * bit-identical cross-engine; occurrence counts use non-regex
    * `replace` length deltas (leftmost non-overlapping in both engines).
    */
  def gopherSignals(text: Column): Column = {
    val toks = tokens(text)
    val nWords = size(toks)
    val lines = split(text, "\n")
    val nLines = size(lines)
    val meanWlen = length(regexp_replace(text, " ", "")).cast("double") / nWords
    val nHash = length(text) - length(replace(text, lit("#"), lit("")))
    val nEll = (length(text) - length(replace(text, lit("..."), lit(""))))
      .cast("double") / 3.0
    val symbolRatio = (nHash + nEll) / nWords
    val bulletFrac = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nLines
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / nWords
    val stopHits = size(filter(array_distinct(toks),
      t => t.isin(gopherStopwords.map(lit(_)): _*)))
    struct(
      nWords.as("n_words"),
      meanWlen.as("mean_wlen"),
      symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      alphaFrac.as("alpha_frac"),
      stopHits.as("stop_hits"),
      (nWords.between(50, 100000) && meanWlen.between(3.0, 10.0) &&
        symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
        alphaFrac >= 0.8 && stopHits >= 2).as("pass"))
  }

  /** D24: sequence packing — assign each document to a fixed token-budget
    * pack within its source (the "pack documents into ~N-token training
    * sequences" step that precedes batching in an LLM data pipeline).
    * Contiguous greedy packing in deterministic (source, doc_id) order:
    * pack_id = floor(tokens-before-this-doc / budget), so a document that
    * straddles a budget boundary belongs to the pack it started filling
    * (simple overflow packing; no doc is split).
    *
    * Scale shape: ONE window partitioned by source — a hash shuffle on
    * source plus a per-source sort, no global ordering anywhere. At lake
    * scale the order inside a source is whatever the pipeline fixes
    * (here doc_id); sources are independent, so skewed sources can be
    * salted into sub-sources upstream without changing the contract.
    */
  def packBySource(docs: org.apache.spark.sql.DataFrame, budget: Long,
                   srcCol: String = "source", idCol: String = "doc_id",
                   textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"packBySource: budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(srcCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col(idCol), col(srcCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col(srcCol), col("n_tokens"),
        (col("_before") / budget).cast("long").as("pack_id"))
  }

  /** D31: corpus mixing to a token budget — the "data mixture" step of
    * LLM training (The Pile / DoReMi-style source weights): each source
    * gets `floor(weight × totalBudget)` tokens, filled greedily by
    * documents in a deterministic pseudo-random epoch order (md5 of the
    * id — the [[hashSampleKeep]] trick applied to ordering, so the mix
    * is reproducible across engines, runs and cluster sizes, and a
    * budget increase only APPENDS documents, never reshuffles the
    * prefix). A document that straddles its source's boundary is kept
    * (overflow fill, like [[packBySource]]); a zero-weight source is
    * excluded entirely.
    *
    * Scale shape: ONE window partitioned by source (hash shuffle +
    * per-source sort) — sources are independent, so the mix of a 100 TB
    * corpus parallelizes across sources and skewed sources can be
    * salted upstream. Per-source budgets are plan-time literals.
    */
  def mixToBudget(docs: org.apache.spark.sql.DataFrame,
                  weights: Seq[(String, Double)], defaultWeight: Double,
                  totalBudget: Long, srcCol: String = "source",
                  idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(totalBudget > 0, s"mixToBudget: budget must be positive")
    require((weights.map(_._2) :+ defaultWeight).forall(_ >= 0.0),
      "mixToBudget: weights must be non-negative")
    val budget = weights.foldRight(
      lit(math.floor(defaultWeight * totalBudget).toLong)) {
      case ((s, w), acc) => when(col(srcCol) === s,
        lit(math.floor(w * totalBudget).toLong)).otherwise(acc)
    }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(srcCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col(idCol), col(srcCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(win), lit(0L)))
      .filter(col("tokens_before") < budget)
      .select(col(idCol), col(srcCol), col("n_tokens"), col("tokens_before"))
  }

  /** D41: temperature-based source rebalancing (the multilingual
    * pretraining sampler of Conneau & Lample 2019 / mT5): per-source
    * selection quota ∝ n_s^τ — τ=1 keeps natural proportions, τ→0
    * flattens toward uniform, upsampling rare sources relative to their
    * share. τ is fixed at 0.5 so the weight is an IEEE `sqrt` (identical
    * bit-for-bit in every engine, unlike pow whose libm varies); the
    * normalizer Σ_s √n_s folds over sources in ascending source order (a
    * 5-element plan-side fold — order-pinned so the DuckDB oracle lands
    * on the same double); quota_s = max(1, ⌊budget·√n_s / Σ⌋) with the
    * multiply-then-divide association fixed left-to-right. Selection is
    * the coordinated md5(id) rank (the same order [[mixToBudget]] and the
    * bottom-k sample use), so a budget increase only appends rows and
    * samples for different budgets stay nested.
    *
    * Scale shape: the quota table is O(sources) driver-free broadcast;
    * the corpus pays ONE source-partitioned window — embarrassingly
    * parallel across sources, same as mixToBudget.
    */
  def temperatureSample(docs: org.apache.spark.sql.DataFrame, budget: Long,
                        srcCol: String = "source", idCol: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    require(budget > 0, "temperatureSample: budget must be positive")
    val w = docs.groupBy(srcCol)
      .agg(count(lit(1)).as("n"))
      .select(col(srcCol), sqrt(col("n").cast("double")).as("_w"))
    val tot = w.agg(aggregate(
      sort_array(collect_list(struct(col(srcCol), col("_w")))),
      lit(0.0), (acc, x) => acc + x.getField("_w")).as("_tot"))
    val quotas = w.crossJoin(broadcast(tot))
      .select(col(srcCol),
        greatest(lit(1L),
          floor(lit(budget.toDouble) * col("_w") / col("_tot")).cast("long"))
          .as("quota"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(srcCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs
      .select(col(idCol), col(srcCol))
      .withColumn("samp_rank", row_number().over(win).cast("long"))
      .join(broadcast(quotas), Seq(srcCol))
      .filter(col("samp_rank") <= col("quota"))
      .select(col(idCol), col(srcCol), col("samp_rank"), col("quota"))
  }

  /** D32: tf-idf keyword extraction — the top-k most characteristic
    * terms per document (smoothed idf, sklearn-style
    * `ln((N+1)/(df+1)) + 1`), the classic retrieval/tagging primitive a
    * curation pipeline uses for topic tagging and near-topic grouping.
    *
    * Shape: per-doc term counts in one (doc, term) partial-agg shuffle;
    * document frequency is a window count over THOSE aggregated rows
    * (an O(doc-terms) shuffle on term — the corpus is scanned and
    * tokenized exactly once; a separate df table would re-derive the
    * whole aggregate for its build side); the only other shuffle is the
    * per-doc top-k window. Ties rank by term ascending, so the output
    * is deterministic cross-engine.
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, k: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, "tfidfTopTerms: k must be positive")
    val nDocs = docs.count()
    val tc = docs
      .select(col(idCol), size(tokens(col(textCol))).as("n"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("n"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val dfWin = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val idf = log(lit(nDocs.toDouble + 1.0) /
      (col("df").cast("double") + 1.0)) + 1.0
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    tc.withColumn("df", count(lit(1)).over(dfWin))
      .select(col(idCol), col("term"),
        ((col("cnt").cast("double") / col("n")) * idf).as("score"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"),
        graft.core.Exact.rnd4(col("score")).as("score"))
  }

  /** D30: unigram language-model fluency score — the KenLM-perplexity
    * quality filter of CCNet-style curation pipelines, reduced to the
    * model that needs no external artifact: the corpus's own unigram
    * distribution. Two passes:
    *
    *  1. train: one token count aggregate (partial-agg shuffle keyed on
    *     token, O(vocab) result); tokens below `minCount` fall out of the
    *     vocabulary. The corpus token total is the only driver scalar.
    *  2. score: tokens re-join the vocabulary BROADCAST (map-side; the
    *     vocabulary is the bounded artifact, the corpus never reshuffles
    *     for the lookup), p(tok) = cnt/total with out-of-vocabulary
    *     tokens at 1/total, and each document aggregates
    *     mean(−ln p) + OOV rate in ONE groupBy(doc).
    *
    * The per-document mean uses the Exact decimal-sum playbook, so it is
    * order-independent — no positional sort is needed and the DuckDB
    * mirror is a plain aggregate. High scores = improbable token streams
    * (boilerplate, noise, wrong language); the threshold consumers cut on.
    */
  def unigramLmScore(docs: org.apache.spark.sql.DataFrame, minCount: Long = 2,
                     idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"unigramLmScore: minCount must be >= 1")
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val counted = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // total spans the WHOLE corpus (vocab + OOV occurrences): the sum of
    // per-token counts before the minCount cut — one O(1) driver scalar
    val total = counted.agg(sum("cnt")).head().getLong(0)
    val vocab = counted.filter(col("cnt") >= minCount)
    val p = coalesce(col("cnt"), lit(1L)).cast("double") / lit(total.toDouble)
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .select(col(idCol), (-log(p)).as("_lp"), col("cnt").isNull.as("_oov"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        graft.core.Exact.rnd4(
          sum(col("_oov").cast("int")).cast("double") / count(lit(1)))
          .as("oov_rate"),
        graft.core.Exact.rnd4(graft.core.Exact.eavg(col("_lp")))
          .as("lm_score"))
  }

  /** D80: interpolated bigram language-model fluency score — the D30
    * unigram filter upgraded to the KenLM shape CCNet actually ships:
    * p(wᵢ | wᵢ₋₁) = λ·c(wᵢ₋₁wᵢ)/c(wᵢ₋₁) + (1−λ)·c(wᵢ)/T, with the
    * unigram OOV floor at 1/T and a document's first token scored by the
    * context-free unigram term alone. Unseen bigrams (or OOV context)
    * back off to the unigram leg with p_bi = 0 — plain Jelinek-Mercer
    * interpolation, no external artifact needed.
    *
    * Scale shape: the bigram stream is built MAP-SIDE (zip_with over the
    * token array against its shifted self — no positional window, no
    * per-doc sort); unigram vocabulary and context totals are the bounded
    * O(vocab) artifacts and broadcast; the bigram count table is O(distinct
    * bigrams) — too big to broadcast at lake scale — so the stream joins
    * it with a shuffle_hash keyed on (prev, cur): ONE bigram-keyed corpus
    * shuffle, the same cost class as tf-idf's doc-term aggregation. The
    * per-document mean is a decimal-exact sum, so no order anywhere.
    */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame, minCount: Long = 2,
                    lambda: Double = 0.75, idCol: String = "doc_id",
                    textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(minCount >= 1 && lambda > 0.0 && lambda < 1.0,
      s"bigramLmScore: need minCount >= 1 and 0 < lambda < 1")
    val toks = tokens(col(textCol))
    val prevArr = concat(array(lit(null).cast("string")),
      slice(toks, lit(1), size(toks) - 1))
    val pairs = docs.filter(size(toks) > 0)
      .select(col(idCol), explode(zip_with(toks, prevArr,
        (c, p) => struct(c.as("cur"), p.as("prev")))).as("_bg"))
      .select(col(idCol), col("_bg.cur").as("cur"), col("_bg.prev").as("prev"))
    val uni = pairs.groupBy("cur").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum("cu")).head().getLong(0)
    val vocab = uni.filter(col("cu") >= minCount)
    val ctx = vocab.select(col("cur").as("prev"), col("cu").as("cp"))
    val bc = pairs.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    val pUni = coalesce(col("cu"), lit(1L)).cast("double") /
      lit(total.toDouble)
    val pBi = when(col("cb").isNotNull && col("cp").isNotNull,
      col("cb").cast("double") / col("cp").cast("double")).otherwise(lit(0.0))
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(lambda) * pBi + lit(1.0 - lambda) * pUni)
    pairs
      .join(broadcast(vocab), Seq("cur"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .join(bc.hint("shuffle_hash"), Seq("prev", "cur"), "left")
      .select(col(idCol), (-log(p)).as("_lp"), col("cu").isNull.as("_oov"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        graft.core.Exact.rnd4(
          sum(col("_oov").cast("int")).cast("double") / count(lit(1)))
          .as("oov_rate"),
        graft.core.Exact.rnd4(graft.core.Exact.eavg(col("_lp")))
          .as("lm_score"))
  }

  /** D85: per-source distribution drift — Jensen-Shannon divergence of
    * each source's unigram distribution against the whole corpus, the
    * drift monitor a curation pipeline reads to spot a source gone stale,
    * templated, or off-language (and, run crawl-over-crawl, the data-drift
    * alarm between snapshots). JS rather than KL: symmetric-bounded
    * (≤ ln 2), and zero-count terms contribute 0 to their own KL half, so
    * no smoothing is needed.
    *
    * Scale shape: one O(tokens) explode collapsed map-side to the
    * O(vocab·sources) per-source count table; the JS grid is the corpus
    * vocabulary cross-joined with the O(sources) totals (the intrinsic
    * cost — every corpus term contributes to every source's q-half);
    * per-source sums are decimal-exact so the single row per source is
    * partition-invariant. ln evaluates in-engine on identical pinned
    * ratios (the D30 precedent).
    */
  def sourceDrift(docs: org.apache.spark.sql.DataFrame,
                  srcCol: String = "source", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(srcCol).as("src"),
      explode(tokens(col(textCol))).as("tok"))
    val cs = tok.groupBy("src", "tok").agg(count(lit(1)).as("c"))
    val totS = cs.groupBy("src").agg(sum("c").as("ns"))
    val ct = cs.groupBy("tok").agg(sum("c").as("ctot"))
    val nAll = ct.agg(sum("ctot")).head().getLong(0)
    val grid = ct.crossJoin(broadcast(totS))
      .join(cs.hint("shuffle_hash"), Seq("src", "tok"), "left")
    val p = coalesce(col("c"), lit(0L)).cast("double") /
      col("ns").cast("double")
    val q = col("ctot").cast("double") / lit(nAll.toDouble)
    val m = (p + q) / lit(2.0)
    val term = when(p > lit(0.0), lit(0.5) * (p * log(p / m)))
      .otherwise(lit(0.0)) + lit(0.5) * (q * log(q / m))
    grid.groupBy("src")
      .agg(max(col("ns")).as("n_tokens"),
        graft.core.Exact.rnd4(graft.core.Exact.esum(term)).as("js_div"))
      .select(col("src").as("source"), col("n_tokens"), col("js_div"))
  }

  /** D35: DSIR-style importance weighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"), reduced
    * to the unigram feature space: score each document by how much more
    * likely its tokens are under a TARGET-domain language model than
    * under the whole-corpus model,
    *
    *   score(d) = Σ_tok ln p_t(tok)/p_c(tok)
    *            = Σ_tok ln (cnt_t+1)/(cnt_c+1)  +  |d|·ln (N_c+V)/(N_t+V)
    *
    * with add-one smoothing over the joint vocabulary (V = corpus
    * distinct tokens; the corpus model covers every token by
    * construction, so only the target side needs the zero-count floor).
    *
    * Shape: two token-count aggregates (one corpus-wide, one filtered to
    * the target slice — both O(vocab) results off a single tokenize
    * pass), the merged vocabulary re-joins the corpus BROADCAST
    * (map-side lookup, the corpus never reshuffles), per-doc decimal-sum
    * so the score is order-independent, then ONE per-source window for
    * the stratified top-k selection — sources are independent, so the
    * selection is embarrassingly parallel at lake scale (no global
    * sort). The smoothing constants are driver scalars, O(1).
    */
  def dsirScore(docs: org.apache.spark.sql.DataFrame,
                targetSource: String = "src0", perSourceK: Int = 5,
                idCol: String = "doc_id", textCol: String = "text",
                srcCol: String = "source")
      : org.apache.spark.sql.DataFrame = {
    require(perSourceK > 0, "dsirScore: perSourceK must be positive")
    val tok = docs.select(col(idCol), col(srcCol),
      explode(tokens(col(textCol))).as("tok"))
    val corpusCnt = tok.groupBy("tok").agg(count(lit(1)).as("c_cnt"))
    val targetCnt = tok.filter(col(srcCol) === targetSource)
      .groupBy("tok").agg(count(lit(1)).as("t_cnt"))
    val head = corpusCnt.agg(count(lit(1)), sum("c_cnt")).head()
    val (v, cTot) = (head.getLong(0), head.getLong(1))
    val tTot = targetCnt.agg(coalesce(sum("t_cnt"), lit(0L))).head().getLong(0)
    val lnK = math.log((cTot + v).toDouble / (tTot + v).toDouble)
    val vocab = corpusCnt.join(targetCnt, Seq("tok"), "left")
    val lp = log((coalesce(col("t_cnt"), lit(0L)) + 1L).cast("double") /
      (col("c_cnt") + 1L).cast("double"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(srcCol).orderBy(col("score").desc, col(idCol).asc)
    tok.join(broadcast(vocab), Seq("tok"))
      .select(col(idCol), col(srcCol), lp.as("_lp"))
      .groupBy(col(srcCol), col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        graft.core.Exact.esum(col("_lp")).as("_raw"))
      .withColumn("score", col("_raw") + col("n_tokens") * lit(lnK))
      .withColumn("rk", row_number().over(win))
      .select(col(srcCol), col(idCol), col("n_tokens"),
        graft.core.Exact.rnd4(col("score")).as("dsir_score"),
        col("rk"), (col("rk") <= perSourceK).as("selected"))
  }

  /** D36: hashed-feature linear text scorer — the fastText / DCLM-classifier
    * SHAPE (Joulin et al. 2016; the model-based quality filter of
    * DCLM/fineweb-edu pipelines): unigram + bigram features hashed into a
    * fixed 16-bit bucket space (the hashing trick — collisions and all),
    * one weight per bucket, score = mean feature weight, probability
    * through a sigmoid. Entirely map-only higher-order column math: at
    * 100 TB this is scan → project, zero shuffle, linear in executors.
    *
    * The weight vector is the same artifact convention as the LSH
    * hyperplanes (Dedup.scala): data-independent md5-seeded values
    * (`w(b) = fold32(md5("w:" + b))/2³² − ½`) that a trained artifact
    * would replace 1:1 — the pipeline (hash → lookup → fold → sigmoid
    * → threshold) is the real, tested part, and because md5 is the
    * shared cross-engine primitive the WHOLE model replays in DuckDB.
    * The per-doc fold is a strict left fold in feature order (tokens
    * then bigrams) in both engines, so `feat_score` is bit-identical and
    * the label threshold needs no rounding guard.
    */
  def hashedLinearScore(docs: org.apache.spark.sql.DataFrame,
                        idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val feats = concat(toks, shingles(toks, 2))
    def bucket(f: Column): Column =
      conv(substring(md5(f), 1, 4), 16, 10).cast("long")
    def weight(b: Column): Column =
      conv(substring(md5(concat(lit("w:"), b.cast("string"))), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0) - lit(0.5)
    val ws = transform(feats, f => weight(bucket(f)))
    val m = aggregate(ws, lit(0.0), (acc, x) => acc + x) / size(ws)
    docs.select(col(idCol), size(feats).as("n_feats"),
      graft.core.Exact.rnd4(m).as("feat_score"),
      graft.core.Exact.rnd4(
        lit(1.0) / (lit(1.0) + exp(lit(-20.0) * m))).as("quality_prob"),
      (m > 0.0).as("label"))
  }
}
