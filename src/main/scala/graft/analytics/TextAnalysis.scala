package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All pure `Column`
  * builders (codegen'd, no UDFs) so they run inside whole-stage codegen over
  * 100 TB of documents.
  */
object TextAnalysis {

  /** Whitespace tokenization (single-space contract shared with the DuckDB
    * oracles; empty tokens from runs of spaces are preserved identically). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: word-or-punct regex matches plus a char/4 term
    * for long words, a standard cheap proxy for subword tokenizers. */
  def tokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("""\w+|[^\w\s]"""), lit(0))) +
      floor(length(text) / 16).cast("int")

  // Deterministic, engine-portable stopword lists. Shared terms across
  // languages are fine: the same lists drive both Spark and the oracle.
  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "that")
  val FrStop: Seq[String] = Seq("le", "la", "les", "et", "un", "une", "est", "dans")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht")
  val EsStop: Seq[String] = Seq("el", "los", "las", "y", "es", "por", "con", "para")

  private def hits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words: _*)))

  /** N-gram-heuristic language ID: count stopword hits per language, take the
    * argmax with a fixed tie order (en, fr, de, es); CJK characters short-
    * circuit to `zh`; no hits → `und`. Deterministic and exactly mirrored by
    * the DuckDB oracle SQL. */
  def langId(text: Column): Column = {
    val en = hits(text, EnStop); val fr = hits(text, FrStop)
    val de = hits(text, DeStop); val es = hits(text, EsStop)
    val mx = greatest(en, fr, de, es)
    when(text.rlike("[一-鿿]"), lit("zh"))
      .when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(fr === mx, lit("fr"))
      .when(de === mx, lit("de"))
      .otherwise(lit("es"))
  }

  /** Quality features: length, punctuation ratio, stopword ratio, mean token
    * length. Combine downstream into filter thresholds (e.g. Gopher-style
    * rules). */
  def punctRatio(text: Column): Column =
    round((length(text) - length(regexp_replace(text, "[.,;:!?]", ""))) /
      greatest(length(text), lit(1)), 6)

  def stopwordRatio(text: Column): Column =
    round(hits(text, EnStop) / greatest(tokenCount(text), lit(1)).cast("double"), 6)

  /** Distinct-token fraction — low values flag repetitive/boilerplate docs
    * (the Gopher-style repetition signal). */
  def repetitionRatio(text: Column): Column =
    round(size(array_distinct(tokens(text))) /
      greatest(tokenCount(text), lit(1)).cast("double"), 6)

  /** Gopher-ish keep/drop quality gate over the features above. */
  def qualityKeep(text: Column, minTokens: Int = 5, maxTokens: Int = 100000,
                  maxPunctRatio: Double = 0.3): Column =
    tokenCount(text).between(minTokens, maxTokens) &&
      punctRatio(text) <= maxPunctRatio

  /** Shannon entropy (bits) of a symbol array — the compressibility
    * proxy quality filters use where a real deflate ratio isn't
    * portable: low-entropy docs are repetitive/template spam, implausibly
    * high entropy flags encrypted/binary junk. H = log2 N − (Σ n_c ln
    * n_c)/(N ln 2), computed per doc as a pure projection: distinct
    * symbols sort first so the fold order is deterministic, and ln(2)
    * is the same 17-digit literal in both engines, so the 4-decimal
    * round is engine-exact. O(distinct × len) per doc, zero shuffle,
    * stream-safe. */
  def symbolEntropy(symbols: Column): Column =
    graft.functions.HashExpressions.symbolEntropyBits(symbols)

  /** The composed HOF form of `symbolEntropy` — O(distinct × len)
    * interpreted lambdas per row; kept ONLY to pin bit-equality with
    * the native single-pass expression (TextAnalysisSpec). */
  private[analytics] def symbolEntropyHof(symbols: Column): Column = {
    val n = greatest(size(symbols), lit(1)).cast("double")
    val counts = transform(array_sort(array_distinct(symbols)),
      c => size(filter(symbols, x => x === c)).cast("double"))
    val sumNlogN = aggregate(counts, lit(0.0), (a, x) => a + x * log(x))
    round((log(n) - sumNlogN / n) / lit(0.6931471805599453), 4)
  }

  /** Character-level entropy of the text (split on ""). */
  def charEntropy(text: Column): Column =
    symbolEntropy(split(text, ""))

  /** Word-level (unigram) entropy of the lowercased token stream. */
  def wordEntropy(text: Column): Column =
    symbolEntropy(tokens(lower(text)))

  /** Full Gopher-style rule bundle (Rae et al. 2021, Appendix A): the
    * per-rule boolean flags a curation pipeline reports before gating,
    * not just the final keep bit — you tune thresholds by watching which
    * rule fires, so the flags are the product. Every rule is an INTEGER
    * comparison (ratio thresholds are cross-multiplied: punct/len < 5% is
    * `punct*100 < len*5`), so the flags are engine-exact by construction
    * — no float threshold can straddle a rounding difference. Bounds
    * default to corpus-calibrated knobs, not the paper's web-scale ones.
    * All five rules are projections over one token split — zero shuffle,
    * stream-safe, and the scan stays whole-stage-codegen. */
  def gopherRules(text: Column, minTokens: Int = 20, maxTokens: Int = 80,
                  minMwl: Int = 4, maxMwl: Int = 5, maxPunctPct: Int = 5,
                  minAlphaPct: Int = 80, minStops: Int = 2)
      : Seq[(String, Column)] = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val chars = length(regexp_replace(text, " ", "")).cast("long")
    val punct =
      (length(text) - length(regexp_replace(text, "[.,;:!?]", "")))
        .cast("long")
    val alphaW = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val stops = size(array_intersect(array_distinct(tokens(lower(text))),
      array(EnStop.map(lit): _*))).cast("long")
    Seq(
      "r_word_count" -> (n >= minTokens && n <= maxTokens),
      "r_mean_word_len" ->
        (chars >= lit(minMwl.toLong) * n && chars <= lit(maxMwl.toLong) * n),
      "r_punct_ratio" ->
        (punct * 100 < length(text).cast("long") * maxPunctPct),
      "r_alpha_words" -> (alphaW * 100 >= n * minAlphaPct),
      "r_stopwords" -> (stops >= minStops))
  }

  /** Document fingerprint: md5 over the sorted distinct lowercase token set —
    * an order-insensitive content signature for exact-ish dedup across
    * reorderings. Native single-pass expression
    * (graft.functions.TokenSetFingerprint); matches
    * `md5(array_to_string(list_sort(list_distinct(...))))` in DuckDB
    * bit-for-bit. */
  def fingerprint(text: Column): Column =
    graft.functions.HashExpressions.tokenSetFingerprint(lower(text))

  /** BM25 relevance of a document against literal query `terms`
    * (k1=1.2, b=0.75): the standard keyword scorer a training pipeline
    * uses for topical filtering / relevance-weighted sampling. Needs the
    * corpus stats as columns: `df` per term (documents containing it),
    * `nDocs`, `avgdl` — computed once per corpus by the caller and
    * broadcast-joined (see the `text_bm25` query). All inputs are exact
    * ints plus one exact ratio, so the score is engine-portable. */
  def bm25Term(tokens: Column, term: String, df: Column, nDocs: Column,
               avgdl: Column, k1: Double = 1.2, b: Double = 0.75): Column = {
    val tf = size(filter(tokens, t => t === term)).cast("double")
    val idf = log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * size(tokens) / avgdl))
  }

  /** Batch BM25 top-k retrieval via an inverted-index join — the sparse
    * sibling of the ANN read path: many queries at once against posting
    * lists, NOT a per-query corpus scan. `units` is the per-document
    * array of index units (tokens, n-grams, subword pieces — the caller
    * picks the granularity; bigrams keep posting lists short on
    * small-vocabulary corpora); `queries` is (q_id, term) exploded.
    * Returns (q_id, rank, doc_id, bm25) with rank <= k.
    *
    * Plan shape (the part that must survive 100 TB):
    *  - postings (term, doc_id, dl, tf) are ONE corpus explode +
    *    aggregate — build-once state, the inverted index;
    *  - `maxDfFrac` drops stopword-grade terms BEFORE the retrieval
    *    join (same hot-key lesson as the blocked-containment df cap: a
    *    term in 30% of all documents contributes ~zero idf but fans
    *    out |queries using it| × 0.3·N rows); BM25's idf would score
    *    them near 0 anyway, the cap keeps them from being JOINED;
    *  - retrieval cost is Σ df(query terms) posting rows through one
    *    term-keyed shuffle join, then a (q_id, doc_id) aggregate and a
    *    per-query top-k window — all key-partitioned, nothing global.
    *
    * Determinism: per-term contributions quantize to integer MICROS
    * before the (query, doc) sum, so the fold is an order-free int64
    * aggregate — partial-aggregatable map-side like every other sum in
    * the engine, where the earlier term-sorted double fold needed a
    * collect_list + array_sort per (q, doc) group (measured ~15% of the
    * retrieval row's wall). Contributions are non-negative (the +1
    * inside the ln caps the IDF at ≥ 0), so HALF_UP and half-away
    * rounding agree and the micro values are engine-identical; ranking
    * is on the 4-decimal-rounded micro sum with doc_id as the
    * total-order tie-break. */
  def bm25Retrieve(docs: org.apache.spark.sql.DataFrame, docId: Column,
                   units: Column, queries: org.apache.spark.sql.DataFrame,
                   k: Int, maxDfFrac: Double = 0.25,
                   excludeSelf: Boolean = false,
                   k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    // persisted: the tokenized frame feeds the stats aggregate AND the
    // posting explode — the unit computation (n-gram assembly) is the
    // dominant scan cost and must not run twice
    val t = Caches.persist(
      docs.select(docId.as("doc_id"), units.as("toks")))
    val stats = t.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    // ONE posting build; df rides a term-keyed window on it instead of a
    // second aggregate subtree (one corpus scan, and the window's
    // hash(term) partitioning is exactly what the retrieval join needs,
    // so the posting side shuffles once total). The df cap prunes hot
    // posting lists BEFORE the join — the cap must bound the join's
    // per-key fan-out, so it cannot live after it. The query side is
    // the SHUFFLE_HASH build side: postings are corpus-scale and must
    // never broadcast, and queries need no sort.
    //
    // QUERY-VOCABULARY prune (r15, the answer-preserving cut): batch
    // retrieval knows its term set up front, so postings for terms NO
    // query uses never reach the tf aggregate, the df window, or the
    // join — they could only ever contribute zero rows downstream, and
    // df per surviving term is computed over the same full corpus
    // explode, so every score is bit-identical (hash-pinned). This
    // moves the heavy ops from |all postings| to Σ df(query vocab): at
    // the 10× fixed-query soak that is ~9× less shuffled state. The
    // query vocab broadcasts by the batch-retrieval contract (queries
    // are the small side); a corpus-scale query set should flip this
    // semi join to shuffle — documented, not auto-detected.
    val qVocab = queries.select(col("term")).distinct()
    val postings = t
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term") =!= "")
      .join(broadcast(qVocab), Seq("term"), "left_semi")
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term")))
        .cast("double"))
    val hits = postings
      .crossJoin(broadcast(stats))
      .filter(col("df") <= col("n_docs") * lit(maxDfFrac))
      .join(queries.hint("SHUFFLE_HASH"), Seq("term"))
      .filter(if (excludeSelf) col("doc_id") =!= col("q_id") else lit(true))
      .withColumn("c",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1)
            * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val scored = hits
      .withColumn("cm", round(col("c") * 1e6, 0).cast("long"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("cm")).cast("long").as("raw"))
      .withColumn("bm25", round(col("raw").cast("double") / 1e6, 4))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("bm25"))
  }

  /** TextRank keyword scoring (Mihalcea & Tarau EMNLP 2004): weighted
    * PageRank over the word co-occurrence graph — nodes are words,
    * edges are adjacent-bigram counts, and `iters` power iterations
    * spread rank mass along co-occurrence weight. The graph is
    * VOCABULARY-scale (distinct bigrams), so iterating is a
    * vocabulary-scale join + aggregate regardless of corpus size — the
    * corpus is touched once to count edges.
    *
    * Arithmetic is INTEGER throughout (the determinism contract every
    * trainer in this engine honors): ranks live in 1e9-scale longs,
    * damping 0.85 is `(85 · x) div 100`, and per-edge contributions are
    * `(r_u · w_uv) div W_u` — floor division on non-negative longs,
    * identical in both engines, and integer sums are order-independent
    * where float sums are not. Nodes with no out-edges leak their
    * damped mass (the standard "leaky" simplification — ranking is the
    * product, not the exact stationary distribution); nodes with no
    * IN-edges settle at the base term. Max operand: r ≤ ~1e9·|V|,
    * w ≤ corpus bigrams — products stay far under 2^62 for any
    * realistic vocabulary. Returns (word, rank_micro). */
  def textRank(docs: org.apache.spark.sql.DataFrame, text: Column,
               iters: Int = 8): org.apache.spark.sql.DataFrame = {
    val base = 150000000L // (1 - 0.85) * 1e9, exact
    val sp = split(col("g"), " ")
    val edges = docs.select(explode(ngrams(text, 2)).as("g"))
      .filter(size(sp) === 2)
      .select(sp.getItem(0).as("u"), sp.getItem(1).as("v"))
      .filter(col("u") =!= "" && col("v") =!= "")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("w"))
      .localCheckpoint(false)
    // the out-weight total rides each edge row, materialized ONCE —
    // every iteration then pays one rank join + one aggregate instead of
    // re-running the outW aggregate and its edge join per round (the
    // Graph.pageRank "outdeg rides the edge" discipline)
    val e2 = edges
      .join(edges.groupBy(col("u")).agg(sum(col("w")).cast("long")
        .as("tw")), Seq("u"))
      .localCheckpoint(false)
    val nodes = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node"))).distinct()
      .localCheckpoint(false)
    var r = nodes.withColumn("r", lit(1000000000L))
    var i = 0
    while (i < iters) {
      val contrib = e2
        .join(r.select(col("node").as("u"), col("r")), Seq("u"))
        .select(col("v").as("node"), expr("(r * w) div tw").as("m"))
        .groupBy(col("node")).agg(sum(col("m")).as("m"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), (lit(base)
          + expr("(85 * coalesce(m, 0)) div 100")).as("r"))
      i += 1
      // plan-depth bound, not a semantics change: checkpoint every 4th
      // and the final round instead of all 8 — values are identical,
      // the rank frame just materializes 2x instead of 8x
      if (i % 4 == 0 || i == iters) r = r.localCheckpoint(false)
    }
    r.select(col("node").as("word"), col("r").as("rank_micro"))
  }

  /** Overlapping token-window chunking (context-window preparation for
    * training): windows of `size` tokens every `stride` tokens, the last
    * window truncating at the document end. Chunk count =
    * 1 + ceil(max(n-size, 0) / stride) with integer arithmetic, so both
    * engines enumerate identical windows. Returns an array of
    * (chunk_id, chunk_text) structs the caller explodes. */
  def tokenChunks(tokens: Column, size: Int, stride: Int): Column = {
    require(size >= 1 && stride >= 1 && stride <= size)
    val n = org.apache.spark.sql.functions.size(tokens)
    val nChunks = lit(1) +
      floor((greatest(n - size, lit(0)) + stride - 1) / stride).cast("int")
    transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.cast("long").as("chunk_id"),
        concat_ws(" ", slice(tokens, i * stride + 1, lit(size)))
          .as("chunk_text")))
  }

  /** Exact next-fit-decreasing sequence packing (the training-batch
    * assembly step: fill fixed-capacity context windows with whole
    * documents, longest first, open a new bin when the next doc no
    * longer fits). Unlike `tokenChunks` (which SPLITS one document into
    * windows) this PACKS many documents per window — the step that
    * decides padding waste for a training run, so the utilization
    * readout is the metric the operator is run for.
    *
    * Packing is inherently sequential per stratum (each decision needs
    * the running bin fill), so this is the engine's one justified
    * `mapPartitions` fold: rows hash-partition by stratum and sort
    * (stratum, size desc, id) within partitions, then a single forward
    * pass assigns bins — exact next-fit-decreasing, deterministic, one
    * shuffle. Parallelism = strata; a single giant stratum at 100 TB
    * pre-shards by a hash of id (pack within shard — identical
    * utilization bound, since NFD's guarantee is per-run) before the
    * fold. An item larger than the capacity gets a bin of its own
    * (utilization > 1e6 micro — surfaced, not clamped).
    *
    * Output: one row per (stratum, bin): `(src, bin, n_docs, tokens)`.
    * The DuckDB oracle replays the fold as a per-stratum recursive CTE
    * in the same (size desc, id) order — bin-for-bin identical. */
  def nextFitPack(df: org.apache.spark.sql.DataFrame, stratum: Column,
                  id: Column, size: Column, capacity: Long)
      : org.apache.spark.sql.DataFrame = {
    require(capacity >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(stratum.cast("string").as("src"), id.cast("long").as("id"),
        size.cast("long").as("sz"))
      .repartition(col("src"))
      .sortWithinPartitions(col("src"), col("sz").desc, col("id"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // forward fold; strata are contiguous after the within-partition
        // sort, so state resets exactly at stratum boundaries. An
        // explicit first-row flag, NOT a null sentinel: a null stratum
        // value would compare equal to the sentinel and inherit bin 0
        // instead of opening bin 1
        var first = true
        var cur: String = null
        var bin = 0L
        var cum = 0L
        it.map { case (s, i, z) =>
          if (first || s != cur) { first = false; cur = s; bin = 1L; cum = z }
          else if (cum + z <= capacity) { cum += z }
          else { bin += 1L; cum = z }
          (s, bin, i, z)
        }
      }
      .toDF("src", "bin", "id", "sz")
      .groupBy(col("src"), col("bin"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("sz")).cast("long").as("tokens"))
  }

  /** Canonical text normalization for corpus preparation: Unicode NFC
    * (native expression — Spark has no builtin), lowercase, collapse
    * whitespace runs, trim. Run this before fingerprinting/dedup so
    * composed-vs-decomposed encodings of the same text hash identically.
    * Every step mirrors one DuckDB function (`nfc_normalize`, `lower`,
    * `regexp_replace(..., 'g')`, `trim`), so normalized pipelines stay
    * oracle-checkable end-to-end. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      lower(graft.functions.FormatExpressions.unicodeNormalize(text, "NFC")),
      "\\s+", " "))

  // PII patterns restricted to the Java-regex ∩ RE2 common subset (no
  // backreferences or lookaround) so the DuckDB oracle replays them exactly.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{8,15}"

  /** PII redaction (emails, IPv4s, E.164-ish phone numbers → fixed tags) —
    * the scrub pass a training pipeline runs before anything else retains
    * text. Pure codegen'd `regexp_replace` chain, no UDFs. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII matches for `pattern` — audit metric alongside the scrub. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Non-distinct word n-grams in document order — repetition metrics need
    * multiplicity, unlike `shingles`' distinct set. Docs shorter than n
    * tokens yield one truncated gram; NULL text null-propagates (same
    * edge contract as the shingle oracles — without the explicit guard,
    * `greatest(null - 1, 1)` skips the null and the doc would fabricate
    * one empty gram where DuckDB's unnest emits no row). Pure array
    * builder: no shuffle until the caller aggregates. */
  /** Ordered, non-distinct word n-grams (tf-preserving — the BM25 index
    * grain). Native single-pass expression (graft.functions.WordNgrams):
    * the composed transform/slice form evaluated an interpreted lambda
    * per position and was 19.3 s of a 20 s 10×-corpus retrieval;
    * semantics are pinned identical in HashExpressionsSpec. */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1)
    graft.functions.HashExpressions.wordNgrams(lower(text), n)
  }

  /** Distinct word n-gram shingles, the input to Jaccard/MinHash dedup.
    * Docs shorter than n tokens yield one whole-doc shingle. Native
    * single-pass expression (graft.functions.WordShingles) — the composed
    * transform/slice version evaluates interpreted lambdas per token. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.HashExpressions.wordShingles(lower(text), n)

  /** Hashed bag-of-words linear classifier score — the fastText-style
    * quality-classifier pattern (token → hash bucket → weight, summed over
    * the doc): how a pipeline applies a trained quality/toxicity filter
    * model at corpus scale. Buckets come from the engine-portable
    * md5-derived hash; each of `buckets` buckets maps to an INTEGER
    * centi-weight, so the document sum is exact integer arithmetic — FP
    * addition order can never flip a score — and only the final
    * normalized logit divides. Swap the derived weights for a trained
    * table (a broadcast map literal) without changing the plan.
    *
    * ZERO-shuffle scoring: tokens never explode — the native
    * `HashedBowLogit` expression (one pass per doc, RefEvalCodegen so the
    * stage stays fused) tokenizes/hashes/sums in a single traversal; the
    * composed `aggregate(transform(...))` equivalent evaluates two
    * interpreted lambdas per token (bit-identity pinned in
    * GraftFunctionsSpec). Returns the mean centi-weight logit rounded to
    * 6 (apply `sigmoid` downstream for a probability; the logit itself is
    * the engine-portable comparable). */
  def classifierLogit(text: Column, buckets: Int = 64): Column =
    round(graft.functions.HashExpressions
      .hashedBowLogit(lower(text), buckets), 6)

  /** The composed Column-API form of `classifierLogit` (interpreted
    * lambdas) — kept as the differential-testing reference for the native
    * expression. */
  private[graft] def classifierLogitComposed(text: Column,
                                             buckets: Int = 64): Column = {
    val toks = tokens(lower(text))
    val s = aggregate(
      transform(toks, t =>
        pmod(pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
          lit(buckets)) * 37, lit(101)) - 50),
      lit(0L), (acc, x) => acc + x)
    round(s / (lit(100.0) * greatest(size(toks), lit(1))), 6)
  }

  /** Vowel-group syllable estimate (the classic readability heuristic):
    * one maximal `[aeiouy]+` run ≈ one syllable, and a vowel-less word
    * (an acronym, a number) still costs 1. Counted GLOBALLY — vowel runs
    * cannot span the space separator, so one regexp pass over the whole
    * lowered text plus one vowel-less-word filter equals the per-word
    * sum without a nested per-word regex HOF. */
  def syllableCount(text: Column): Column = {
    val lo = lower(text)
    size(regexp_extract_all(lo, lit("[aeiouy]+"), lit(0))) +
      size(filter(tokens(lo), w => !w.rlike("[aeiouy]")))
  }

  /** Sentence count as maximal terminal-punctuation runs (`[.!?]+` so an
    * ellipsis or "?!" ends ONE sentence), floored at 1 so fragment-only
    * docs don't divide by zero. */
  def sentenceCount(text: Column): Column =
    greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))

  /** Flesch reading-ease in integer MICRO-points:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`, each
    * ratio floor-divided in micro-units (int64 `div`) so both engines
    * replay the score with pure integer arithmetic. Words use the
    * single-space token contract. Low/negative scores flag dense or
    * garbled text; pipelines bucket on this next to the perplexity and
    * Gopher gates. */
  def fleschMicro(words: Column, sentences: Column,
                  syllables: Column): Column = {
    // exact int64 floor-div for nonnegative operands: the numerator is a
    // multiple of the divisor, so the double divide is exact ≤ 2^53
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val w = greatest(words.cast("long"), lit(1L))
    lit(206835000L) -
      idiv(lit(1015000L) * words.cast("long"), sentences.cast("long")) -
      idiv(lit(84600000L) * syllables.cast("long"), w)
  }

  /** Per-class precision / recall / F1 over an (actual, predicted) label
    * pair, plus one trailing `~macro` row carrying the unweighted macro
    * averages (the row name's `~` sorts after every `[a-z]` class in both
    * engines' bytewise string order, so one ORDER BY class totals the
    * output). All three metrics live in integer MICRO-units
    * (`floor(value × 1e6)`, int64 `div`) so both engines replay them with
    * pure integer arithmetic — no floating-point rounding anywhere, the
    * same idiom as the LR trainer and PageRank. Zero denominators (a
    * class never predicted, or predicted but absent from the actuals —
    * e.g. `und` from the lang-ID heuristic) score 0, the scikit-style
    * convention.
    *
    * Shape at scale: ONE partial-aggregatable groupBy over the corpus
    * builds the confusion matrix (≤ |classes|² rows); the per-class fold,
    * the full-outer class join, and the macro fold all run on that tiny
    * matrix, never the corpus — the matrix groupBy is the only shuffle
    * whose width tracks the data.
    */
  def classifierEval(df: org.apache.spark.sql.DataFrame, actual: Column,
                     predicted: Column): org.apache.spark.sql.DataFrame = {
    val m = df.groupBy(actual.as("act"), predicted.as("pred"))
      .agg(count(lit(1)).as("n"))
    val byAct = m.groupBy(col("act").as("class"))
      .agg(sum(col("n")).as("n_actual"),
        sum(when(col("pred") === col("act"), col("n")).otherwise(lit(0L)))
          .as("tp"))
    val byPred = m.groupBy(col("pred").as("class"))
      .agg(sum(col("n")).as("n_predicted"))
    val perClass = byAct.join(byPred, Seq("class"), "full_outer")
      .select(col("class"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_micro", when(col("n_predicted") === 0, lit(0L))
        .otherwise(expr("(tp * 1000000L) div n_predicted")))
      .withColumn("recall_micro", when(col("n_actual") === 0, lit(0L))
        .otherwise(expr("(tp * 1000000L) div n_actual")))
      .withColumn("f1_micro",
        when(col("precision_micro") + col("recall_micro") === 0, lit(0L))
          .otherwise(expr("(2L * precision_micro * recall_micro) div " +
            "(precision_micro + recall_micro)")))
    val macroRow = perClass.agg(
      sum(col("n_actual")).as("n_actual"),
      sum(col("n_predicted")).as("n_predicted"),
      sum(col("tp")).as("tp"),
      expr("sum(precision_micro) div count(*)").as("precision_micro"),
      expr("sum(recall_micro) div count(*)").as("recall_micro"),
      expr("sum(f1_micro) div count(*)").as("f1_micro"))
      .select(lit("~macro").as("class"), col("n_actual"),
        col("n_predicted"), col("tp"), col("precision_micro"),
        col("recall_micro"), col("f1_micro"))
    perClass.unionByName(macroRow).orderBy(col("class"))
  }

  /** Unigram language-model quality scoring: fit the corpus's own unigram
    * distribution (add-one smoothing), then score every document by its
    * mean per-token negative log2 probability — bits per token, the KenLM-
    * class perplexity filter (high bits/token ⇒ unusual/garbled text;
    * CCNet buckets the corpus by exactly this). Returns
    * `(doc_id, n_tokens, bits_per_token)`.
    *
    * Cross-engine determinism: each token's bit cost rounds to integer
    * MICRO-bits before the per-doc sum, so the aggregate is exact integer
    * arithmetic — Spark's partial-aggregation order vs the oracle's
    * sequential sum cannot diverge. Only the final mean divides.
    *
    * Scale: two hash aggregates over one exploded scan (token counts +
    * corpus totals) and one equi-join of tokens against the count table —
    * all shuffles key on the token string; the count table is corpus
    * vocabulary, which a 100 TB run keys-salts only if a token is
    * pathologically hot (the join is a plain equi-join, AQE skew-split
    * handles Zipf heads). No driver-side model object: the "model" stays
    * a distributed table. */
  def unigramBits(docs: org.apache.spark.sql.DataFrame, id: Column,
                  text: Column): org.apache.spark.sql.DataFrame = {
    val tok = Caches.persist(
      docs.select(id.as("doc_id"),
        explode(tokens(lower(text))).as("token")))
    val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val totals = tok.agg(count(lit(1)).as("n_total"),
      countDistinct(col("token")).as("vocab"))
    tok.join(counts.hint("SHUFFLE_HASH"), Seq("token"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        round(-log2((col("c") + 1).cast("double") /
          (col("n_total") + col("vocab"))) * 1e6, 0).cast("long")
          .as("micro_bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro_bits")).as("_s"))
      // integer floor-division to micro-bits-per-token, THEN the 6-decimal
      // display divide: every step is exact integer arithmetic or an
      // exactly-representable 6-decimal value, so no rounding boundary
      // can flip between engines at any scale (a round(sum/n/1e6, 4)
      // double-rounds and did flip dsir by one ulp at sf0.1)
      .select(col("doc_id"), col("n_tokens"),
        round(expr("_s div n_tokens") / 1e6, 6).as("bits_per_token"))
  }

  /** A frozen unigram LM: the smoothed per-token bit-cost table (a
    * distributed, vocabulary-sized DataFrame — never a driver object) and
    * the out-of-vocabulary cost (the add-one smoothing floor). The
    * offline-train half of the `unigramBits` train/serve split — fit once
    * on a reference corpus, score every micro-batch against it. */
  final case class UnigramModel(costs: org.apache.spark.sql.DataFrame,
                                oovMicroBits: Long)

  /** Fit a `UnigramModel` on a reference corpus — same smoothing and
    * micro-bit rounding as `unigramBits`, but the model FREEZES: scoring
    * a new document does not shift the distribution (the property a
    * streaming gate needs for batch/stream equivalence). The only driver
    * transfer is the 1-row totals aggregate. */
  def fitUnigramModel(docs: org.apache.spark.sql.DataFrame,
                      text: Column): UnigramModel = {
    val tok = Caches.persist(
      docs.select(explode(tokens(lower(text))).as("token")))
    val t = tok.agg(count(lit(1)).as("n_total"),
      countDistinct(col("token")).as("vocab")).head
    val (nTotal, vocab) = (t.getLong(0), t.getLong(1))
    val costs = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .select(col("token"),
        round(-log2((col("c") + 1).cast("double") / (nTotal + vocab))
          * 1e6, 0).cast("long").as("micro_bits"))
    UnigramModel(Caches.persist(costs),
      math.round(-math.log(1.0 / (nTotal + vocab)) / math.log(2.0) * 1e6))
  }

  /** Score a frame against a frozen `UnigramModel`: mean bits/token with
    * unseen tokens at the OOV cost. Same exact-integer-arithmetic
    * contract as `unigramBits` (micro-bit longs sum, one floor-divide,
    * one display divide). One exploded scan + one LEFT equi-join against
    * the cost table per call — the per-micro-batch serve cost. */
  def unigramBitsAgainst(docs: org.apache.spark.sql.DataFrame, id: Column,
                         text: Column,
                         model: UnigramModel): org.apache.spark.sql.DataFrame =
    docs.select(id.as("doc_id"), explode(tokens(lower(text))).as("token"))
      .join(model.costs, Seq("token"), "left")
      .select(col("doc_id"),
        coalesce(col("micro_bits"), lit(model.oovMicroBits))
          .as("micro_bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro_bits")).as("_s"))
      .select(col("doc_id"), col("n_tokens"),
        round(expr("_s div n_tokens") / 1e6, 6).as("bits_per_token"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the log-likelihood ratio of a TARGET-domain hashed unigram model
    * against the full-corpus model — documents that look like the target
    * slice get high weights, and a pipeline resamples by them to tilt the
    * training mix toward the domain. Features are md5-hashed token
    * buckets (the paper's hashed-n-gram generative model: fixed `buckets`
    * cardinality regardless of vocabulary), both models use add-one
    * smoothing, and the per-bucket log2 ratio precomputes ONCE into the
    * bucket table as integer micro-bits — each doc's weight is then an
    * exact integer sum, engine-portable.
    *
    * Returns `(doc_id, n_tokens, dsir_logw)` (total log2 ratio, NOT
    * per-token — resampling weights length-weighted documents, as the
    * paper does).
    *
    * Scale: the bucket-ratio table is `buckets` rows — it broadcasts, so
    * scoring is one exploded scan + one broadcast join + one doc-keyed
    * aggregate; the model "training" is two hash aggregates over the
    * same scan. No driver-side model object. */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame, id: Column,
                  text: Column, isTarget: Column,
                  buckets: Int = 1024): org.apache.spark.sql.DataFrame =
    dsirScore(
      docs.select(id.as("doc_id"), isTarget.as("is_t"),
        explode(tokens(lower(text))).as("feat")),
      buckets, countName = "n_tokens")

  /** DSIR with the paper's ACTUAL feature space — hashed n-grams, i.e.
    * unigrams AND bigrams of the token stream (Xie et al. 2023 §2.2 use
    * hashed uni+bi-gram counts; `dsirWeights` above is the unigram-only
    * simplification). Feature volume roughly doubles (n unigrams + n-1
    * bigrams per doc); the model stays a `buckets`-row broadcast table
    * and the plan shape is unchanged — explode, broadcast join, one
    * doc-keyed aggregate. Returns `(doc_id, n_feats, dsir_logw)`. */
  def dsirWeightsNgram(docs: org.apache.spark.sql.DataFrame, id: Column,
                       text: Column, isTarget: Column,
                       buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    val base = docs.select(id.as("doc_id"), isTarget.as("is_t"),
      tokens(lower(text)).as("ts"))
    val uni = base.select(col("doc_id"), col("is_t"),
      explode(col("ts")).as("feat"))
    // bigrams: pairwise zip of the token list against itself shifted by
    // one — empty for single-token docs (greatest guards slice length)
    val nBi = greatest(size(col("ts")) - 1, lit(0))
    val bi = base.select(col("doc_id"), col("is_t"),
      explode(zip_with(
        slice(col("ts"), lit(1), nBi), slice(col("ts"), lit(2), nBi),
        (a, b) => concat(a, lit(" "), b))).as("feat"))
    dsirScore(uni.union(bi), buckets, countName = "n_feats")
  }

  /** The shared DSIR model+score pass over a `(doc_id, is_t, feat)`
    * feature stream: hash features into `buckets`, fit the smoothed
    * target-vs-corpus bucket ratio table (broadcast, `buckets` rows),
    * and sum each doc's micro-bit log-likelihood ratios exactly. */
  private def dsirScore(feats: org.apache.spark.sql.DataFrame, buckets: Int,
                        countName: String): org.apache.spark.sql.DataFrame = {
    val tok = Caches.persist(feats
      .withColumn("b",
        pmod(conv(substring(md5(col("feat")), 1, 15), 16, 10)
          .cast("long"), lit(buckets.toLong))))
    val perBucket = tok.groupBy(col("b"))
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
    val totals = tok.agg(count(lit(1)).as("n_all"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("n_t"))
    // per-bucket micro-bit ratio: log2 p_target(b) - log2 p_all(b)
    val ratio = perBucket.crossJoin(broadcast(totals))
      .select(col("b"),
        round((log2((col("c_t") + 1).cast("double") /
            (col("n_t") + buckets)) -
          log2((col("c_all") + 1).cast("double") /
            (col("n_all") + buckets))) * 1e6, 0).cast("long")
          .as("micro_lr"))
    // round to 6, not fewer: sum/1e6 has AT MOST 6 decimals, so the
    // 6-decimal round never sits on a half boundary — a coarser round
    // would double-round and flip by one ulp between engines on exact
    // x.xxxx5 sums (observed at sf0.1)
    tok.join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(countName),
        round(sum(col("micro_lr")) / 1e6, 6).as("dsir_logw"))
  }

  /** First-iteration BPE pair statistics (Sennrich et al., ACL 2016 §3.2):
    * adjacent CHARACTER-pair frequencies weighted by word frequency — the
    * signal the first merge of BPE tokenizer training maximizes.
    *
    * The classic BPE scale trick, relationally: pairs explode over the
    * DISTINCT-WORD table (vocabulary size) weighted by the word counts,
    * never over the corpus token stream — one corpus-scan word-frequency
    * aggregate (map-side partial), then vocabulary-scale work, then
    * TakeOrdered for the top-k. */
  def bpePairStats(docs: org.apache.spark.sql.DataFrame,
                   text: Column): org.apache.spark.sql.DataFrame = {
    val wf = docs.select(explode(tokens(lower(text))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    wf.select(col("f"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("n"))
  }

  /** One greedy left-to-right BPE merge of the pair `(l, r)` over a
    * symbol array, as a pure `Column` fold: merge iff the accumulator's
    * last symbol is `l` and the current is `r`. A just-merged symbol can
    * never re-match as `l` in the same pass (`l+r == l` is impossible
    * for nonempty `r`), so the fold IS the left-to-right greedy scan.
    * Shared verbatim by the trainer (one freshly-argmaxed pair per
    * round) and `bpeApply` (a frozen merge table replayed in rank
    * order) — train and apply cannot drift apart. */
  def bpeMergeOnce(symbols: Column, l: String, r: String): Column =
    aggregate(symbols, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Apply a FROZEN merge table (rank order) to one word — the serving
    * half of BPE, split from training so it is oracle-checkable on its
    * own: replaying a fixed table is deterministic, while the trainer's
    * argmax loop is not SQL-expressible. Pure `Column` — zero shuffle,
    * zero join, streams as-is.
    *
    * The folds evaluate interpreted (higher-order functions do not
    * codegen), so apply this per DISTINCT word where volume matters —
    * `bpeApplyDocs` below does exactly that for corpus tokenization
    * (measured 9× on the sf0.1 bench). */
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeExpressions.bpeApplyMerges(split(word, ""), merges)

  /** The composed interpreted-fold form of `bpeApply` — kept as the
    * equivalence reference for the native expression (bit-identical by
    * construction; `TextAnalysisSpec` asserts it). Do not use on a hot
    * path: one nested `aggregate` lambda per merge. */
  def bpeApplyComposed(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(word, "")) {
      case (s, (l, r)) => bpeMergeOnce(s, l, r)
    }

  /** Corpus BPE tokenization under a frozen merge table, the
    * vocabulary-scale shape (the SAME trick the trainer and
    * `bpePairStats` use): tokenize, fold the merges over the DISTINCT
    * word set only, broadcast the tiny word→subwords table back onto
    * the positional token stream, and aggregate per doc. Fold
    * evaluations scale with |vocabulary|, not corpus tokens — on a
    * 100 TB corpus that is the difference between millions and
    * billions of interpreted fold runs.
    *
    * Output per doc: `(doc_id, n_words, n_subwords, fp)` where `fp` is
    * an md5-derived fingerprint of the full tokenization (subwords
    * joined by \u0001 within words, \u0002 between words, in document
    * order). */
  def bpeApplyDocs(docs: org.apache.spark.sql.DataFrame, id: Column,
                   text: Column, merges: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(id.as("doc_id"),
        posexplode(tokens(lower(text))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val vocab = toks.select(col("w")).distinct()
      .select(col("w"), bpeApply(col("w"), merges).as("subs"))
    // no broadcast() hint: a natural-text vocabulary is corpus-growing
    // (Heaps' law — billions of distinct raw tokens at 100 TB) and NOT
    // broadcast-safe in general. AQE picks the broadcast at runtime
    // when the actual vocab is small (it is, on every tested corpus)
    // and falls back to a shuffled join when it is not.
    toks.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("subs"))).cast("long").as("n_subwords"),
        conv(substring(md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"),
            array_join(col("subs"), "\u0001").as("sw")))),
          x => x.getField("sw")), "\u0002")), 1, 15), 16, 10)
          .cast("long").as("fp"))
  }

  /** Iterative BPE merge training (Sennrich et al., ACL 2016): start from
    * per-word character symbols, repeatedly find the globally most
    * frequent adjacent symbol pair (ties broken by pair text, a total
    * order) and merge its occurrences greedily left-to-right — the merge
    * LIST is the trained tokenizer.
    *
    * Distribution: the vocabulary stays a DataFrame; each round is one
    * vocabulary-scale aggregate (pair counts, map-side partial) of which
    * ONE row reaches the driver, plus a pure-`Column` rewrite — the
    * greedy merge is a `functions.aggregate` fold over the symbol array
    * (merge iff the accumulator's last symbol is `l` and the current is
    * `r`; a just-merged symbol can never re-match as `l` since
    * `l+r == l` is impossible, so the fold IS the left-to-right greedy
    * scan). Rounds `localCheckpoint` so the per-merge plans don't
    * compound (same rationale as the dedup clustering loops). The
    * no-end-marker simplification is deliberate and documented — merges
    * may cross what a word-final-marker variant would keep apart.
    *
    * Output: `(rank, left, right, n)`, one row per merge in order. */

  /** Shared trainer seed: the word-type vocabulary (symbols, f),
    * checkpointed once, plus the loop partition count every per-round
    * vocabulary-scale frame pins to. Size-adaptive partitioning
    * rationale is round 16's (leaving the per-round frames at
    * shuffle.partitions = cores put 3×cores near-empty checkpoint +
    * aggregate tasks into every one of the O(vocab/width) rounds); the
    * COUNT BASIS is round 17's (r16 advice): the corpus-byte estimate
    * overshoots vocabulary-scale frames by orders of magnitude at large
    * corpora — Heaps' law, vocab ~ sqrt(corpus) — so p now comes from
    * the MATERIALIZED type count (~64 B/row: short symbol array +
    * count), one cheap action over the checkpoint the trainer needs
    * anyway. */
  private def initialVocab(docs: org.apache.spark.sql.DataFrame,
                           text: Column)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val v0 = docs.select(explode(tokens(lower(text))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(split(col("w"), "").as("symbols"), col("f"))
      .localCheckpoint(false)
    val p = graft.analytics.Tuning.loopPartitionsForRows(
      docs.sparkSession, v0.count(), 64)
    (v0.repartition(p).localCheckpoint(false), p)
  }

  def bpeTrain(docs: org.apache.spark.sql.DataFrame, text: Column,
               merges: Int): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab0, p) = initialVocab(docs, text)
    var vocab = vocab0
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var done = false
    while (out.length < merges && !done) {
      val nPairs = greatest(size(col("symbols")) - 1, lit(0))
      val top = vocab.select(col("f"), explode(zip_with(
          slice(col("symbols"), lit(1), nPairs),
          slice(col("symbols"), lit(2), nPairs),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("f"))
        .repartition(p, col("l"), col("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        out += ((out.length + 1, l, r, n))
        vocab = vocab.select(
          bpeMergeOnce(col("symbols"), l, r).as("symbols"), col("f"))
          .localCheckpoint(false)
      }
    }
    out.toSeq.toDF("rank", "left", "right", "n")
  }

  /** WordPiece-objective training (Wu et al. 2016; Schuster & Nakajima
    * 2012): the same merge loop as `bpeTrain`, but each round's winner
    * maximizes the LIKELIHOOD score count(l,r) / (count(l)·count(r)) —
    * the pair whose merge most improves a unigram LM over the symbol
    * stream — instead of the raw pair count. BPE greedily compresses;
    * WordPiece greedily de-correlates: a pair that always co-occurs
    * (count(l,r) ≈ count(l) ≈ count(r)) wins at any frequency, which is
    * why WordPiece vocabularies pick up rare-but-fused units earlier.
    *
    * The score is emitted as an exact-deterministic integer
    * (`score_nano` = round(n·1e9 / (c(l)·c(r)))): every operand is an
    * exactly-representable integer and the division is one correctly-
    * rounded IEEE op, so DuckDB replays it bit-for-bit — the argmax
    * total order is (score_nano desc, l, r) in BOTH engines.
    *
    * Scale: identical to `bpeTrain` — per round, one vocabulary-scale
    * pair aggregate plus one vocabulary-scale symbol-count aggregate
    * (the scoring joins are symbol-keyed, model-scale), ONE row to the
    * driver, and the pure-Column greedy rewrite. The batched admission
    * machinery is NOT reused: its count-stability proof bounds created
    * pair COUNTS, but the WordPiece argmax also moves with the
    * denominator symbol counts, which every merge in a batch changes —
    * per-round argmax is the correct-by-construction form. */
  def wordpieceTrain(docs: org.apache.spark.sql.DataFrame, text: Column,
                     merges: Int): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab0, p) = initialVocab(docs, text)
    var vocab = vocab0
    val out =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    var done = false
    while (out.length < merges && !done) {
      val nPairs = greatest(size(col("symbols")) - 1, lit(0))
      val pairs = vocab.select(col("f"), explode(zip_with(
          slice(col("symbols"), lit(1), nPairs),
          slice(col("symbols"), lit(2), nPairs),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("f"))
        .repartition(p, col("l"), col("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("f")).as("n"))
      val syms = vocab.select(col("f"), explode(col("symbols")).as("sym"))
        .repartition(p, col("sym"))
        .groupBy(col("sym")).agg(sum(col("f")).as("c"))
      val top = pairs
        .join(syms.select(col("sym").as("l"), col("c").as("cl")), Seq("l"))
        .join(syms.select(col("sym").as("r"), col("c").as("cr")), Seq("r"))
        .withColumn("score_nano",
          round(col("n").cast("double") * lit(1e9)
            / (col("cl").cast("double") * col("cr").cast("double")), 0)
            .cast("long"))
        .orderBy(col("score_nano").desc, col("l"), col("r")).limit(1)
        .select(col("l"), col("r"), col("n"), col("score_nano"))
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, n, s) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2), top(0).getLong(3))
        out += ((out.length + 1, l, r, n, s))
        vocab = vocab.select(
          bpeMergeOnce(col("symbols"), l, r).as("symbols"), col("f"))
          .localCheckpoint(false)
      }
    }
    out.toSeq.toDF("rank", "left", "right", "n", "score_nano")
  }

  /** Exact-deterministic unigram piece score: cost ≈ -log2(T/c) in
    * 100k-micro units, computed WITHOUT any float log — the log2 bucket
    * is the binary-digit count `length(bin(x))`, exact integer string
    * arithmetic both engines share. `-50_000` keeps c == T negative.
    * Coarse (1-bit buckets) by design: exactness is the oracle
    * contract, and the Viterbi tie-break (longer piece wins) resolves
    * the plateaus the bucketing creates. */
  def unigramScoreMicro(cnt: Column, total: Column): Column =
    -(lit(100000L) * (length(bin(total)) - length(bin(cnt))).cast("long")
      + lit(50000L))

  /** Out-of-vocabulary per-character penalty paired with
    * `unigramScoreMicro`: worse than any scorable piece (the score
    * floor is -(100000·63 + 50000)). */
  val unigramOovScore: Long = -50000000L

  /** Unigram-LM vocabulary training by Viterbi hard-EM (the
    * SentencePiece unigram model family — Kudo ACL 2018 — with the
    * E-step hardened to the Viterbi path and the M-step to the exact
    * integer bucket score above, so every round is deterministic and a
    * SQL oracle can retrain it):
    *
    *  1. SEED: every word substring of length 1..maxLen, counted with
    *     corpus multiplicity; the top `seedTop` multi-char pieces by
    *     (count desc, piece asc) plus ALL single characters (the
    *     completeness floor — with singles present every word
    *     segments; '?'-bearing pieces are excluded, '?' is the OOV
    *     marker).
    *  2. Per round: Viterbi-segment the corpus under the current
    *     scores (the native `UnigramSegment` DP — vocab rides as
    *     literal expression state), count how often each piece is
    *     actually USED, drop multi-char pieces used < pruneMin, keep
    *     singles unconditionally (floor count 1), and re-score from
    *     the used counts.
    *
    * Scale: all per-word work runs over word TYPES weighted by
    * frequency (vocabulary-scale, not corpus-scale — one corpus
    * aggregate up front); per round, one vocabulary-scale explode of
    * the segmentations and ONE model-scale vocab collect to the
    * driver (≤ seedTop + alphabet rows, same discipline as
    * `bpeTrain`'s merge list). `localCheckpoint` pins each round's
    * lineage. Returns (piece, cnt, score_micro) after `rounds`
    * refinements, ordered by piece. */
  def unigramTrain(docs: org.apache.spark.sql.DataFrame, text: Column,
                   rounds: Int = 2, maxLen: Int = 4, seedTop: Int = 256,
                   pruneMin: Int = 2): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val types = docs
      .select(explode(tokens(lower(text))).as("wrd"))
      .filter(col("wrd") =!= "")
      .groupBy(col("wrd")).agg(count(lit(1)).as("wc"))
      .localCheckpoint(false)
    // substring seed: one explode over (position, length) pairs
    val seedCounts = types
      .select(col("wc"),
        explode(flatten(transform(sequence(lit(1), length(col("wrd"))),
          i => filter(transform(sequence(lit(1), lit(maxLen)),
            l => when(i + l - lit(1) <= length(col("wrd")),
              col("wrd").substr(i, l))),
            p => p.isNotNull)))).as("piece"))
      .filter(!col("piece").contains("?"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
      .localCheckpoint(false)
    val singles = seedCounts.filter(length(col("piece")) === 1)
    val multis = seedCounts.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(seedTop)
    var vocabDf = singles.unionByName(multis).localCheckpoint(false)
    var r = 0
    while (r < rounds) {
      val total = vocabDf.agg(sum(col("cnt")).cast("long")).head.getLong(0)
      val scored = vocabDf.select(col("piece"),
        unigramScoreMicro(col("cnt"), lit(total)).as("sc"))
        .orderBy(col("piece"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toSeq
      val used = types
        .select(col("wc"), explode(graft.functions.BpeExpressions
          .unigramSegment(col("wrd"), scored, unigramOovScore))
          .as("piece"))
        .filter(!col("piece").startsWith("?"))
        .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
      // singles keep a floor count of 1 even when unused (completeness)
      vocabDf = vocabDf.select(col("piece"), length(col("piece")).as("len"))
        .join(used, Seq("piece"), "left")
        .filter(col("len") === 1 || coalesce(col("cnt"), lit(0L))
          >= pruneMin)
        .select(col("piece"),
          when(col("len") === 1, greatest(coalesce(col("cnt"), lit(0L)),
            lit(1L))).otherwise(col("cnt")).as("cnt"))
        .localCheckpoint(false)
      r += 1
    }
    val total = vocabDf.agg(sum(col("cnt")).cast("long")).head.getLong(0)
    vocabDf.select(col("piece"), col("cnt").cast("long").as("cnt"),
      unigramScoreMicro(col("cnt"), lit(total)).cast("long")
        .as("score_micro"))
      .orderBy(col("piece"))
  }

  /** Batched BPE training: the EXACT merge list of `bpeTrain`, with up
    * to `maxBatch` merges committed per Spark round — the fix for the
    * one-job-per-merge driver loop at production vocab sizes (a 32k
    * vocabulary means 32k sequential vocabulary-scale jobs; batching
    * divides the round count by the achieved batch width).
    *
    * Equivalence is PROVED per batch, not assumed. Scanning candidates
    * in sequential-greedy order (count desc, then pair text), a
    * candidate joins the batch only while:
    *  - its symbols are disjoint from every earlier batch member's
    *    `{l, r, l+r}` — so no earlier merge can destroy one of its
    *    occurrences (that would need a shared symbol) or absorb it into
    *    a new symbol, i.e. its count is provably unchanged; and
    *  - its count strictly exceeds an upper bound on every pair an
    *    earlier batch merge can CREATE: a created `(x, l·r)` adjacency
    *    maps to a distinct original TRIPLE occurrence `(x, l, r)`, a
    *    created `(l·r, y)` to `(l, r, y)`, and the run case `(l·r, l·r)`
    *    to `(l, r, l)` — so `max(tri(·,l,r), tri(l,r,·))`, aggregated
    *    over the full vocabulary for the candidate middles, dominates
    *    all created counts (cross-member creations are covered too: the
    *    quadruple `l1 r1 l2 r2` contains the triple `(l1, r1, l2)`).
    *    Triple counts are far below the pair-adjacency counts a looser
    *    bound would use (tri(x,l,r) <= pair(x,l)), which is what buys
    *    batch width. Strict inequality also rules out a created pair
    *    winning a tie on the text order, which we cannot know without
    *    materializing it.
    * One collision case needs a third guard: if a member's merged STRING
    * `l+r` already exists as a symbol (a re-merge of an earlier round's
    * pair, or two different merges concatenating to the same text), its
    * created pair tuples can coincide with pairs that still hold old
    * count — counts then ADD and the max-bound argument breaks. The
    * driver knows every symbol string ever in play (initial alphabet +
    * every merge recorded), so such a member simply CLOSES its batch;
    * fresh merged strings guarantee created tuples are brand-new and
    * purely bounded.
    * The scan STOPS at the first failure (never skips): the batch is a
    * contiguous prefix of the greedy order, so by induction sequential
    * greedy would select exactly these pairs with exactly these counts.
    * Worst case (adversarial tiny alphabets) every batch has width 1
    * and this degrades to `bpeTrain` plus three cheap model-scale
    * lookups per round; natural corpora get wide batches.
    *
    * Returns (merge list, rounds executed) — the round count is the
    * scale diagnostic a production run monitors. */
  def bpeTrainBatchedWithRounds(docs: org.apache.spark.sql.DataFrame,
      text: Column, merges: Int, maxBatch: Int = 64)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab0, p) = initialVocab(docs, text)
    var vocab = vocab0
    // every symbol string that has ever existed: initial alphabet plus
    // each recorded merge — the collision guard's superset (symbols
    // that later vanish from the vocab stay in, which is conservative)
    var symbolSet = vocab.select(explode(col("symbols")).as("s"))
      .distinct().as[String].collect().toSet
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rounds = 0
    var done = false
    while (out.length < merges && !done) {
      rounds += 1
      val nPairs = greatest(size(col("symbols")) - 1, lit(0))
      // referenced three times below (top-K + the two bound aggregates):
      // checkpoint so the vocabulary pair explode runs once per round
      val pairCounts = vocab.select(col("f"), explode(zip_with(
          slice(col("symbols"), lit(1), nPairs),
          slice(col("symbols"), lit(2), nPairs),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("f"))
        .repartition(p, col("l"), col("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("f")).as("n"))
        .localCheckpoint(false)
      val top = pairCounts.orderBy(col("n").desc, col("l"), col("r"))
        .limit(maxBatch)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) done = true
      else {
        // Created-pair bound from TRIPLE counts, not pair-adjacency
        // counts: merging (l,r)→lr creates only pairs (x,lr) / (lr,y) /
        // (lr,lr), and every such adjacency maps to a distinct original
        // triple occurrence (x,l,r) / (l,r,y) / (l,r,l) — so
        // max(tri(·,l,r), tri(l,r,·)) upper-bounds every count that can
        // INCREASE under the merge. tri(x,l,r) <= pair(x,l) always, so
        // this is strictly tighter than the former max(maxRight(l),
        // maxLeft(r)) and admits materially wider batches (measured
        // 2.4 → 6+ on the bigram-derived scale corpus) while keeping the
        // same equivalence argument; cost is one filtered triple
        // aggregate over the vocabulary per round (candidate middles
        // only). Cross-member creations ((l1r1, l2r2) from l1 r1 l2 r2)
        // are covered: the quadruple contains the triple (l1,r1,l2).
        val sep = "\u0000"
        val mids = top.map(t => t._1 + sep + t._2).toSeq
        val triAgg = vocab.filter(size(col("symbols")) >= 3)
          .select(col("f"), explode(transform(
            sequence(lit(1), size(col("symbols")) - 2), i =>
              struct(element_at(col("symbols"), i).as("a"),
                element_at(col("symbols"), i + 1).as("b"),
                element_at(col("symbols"), i + 2).as("c")))).as("t"))
          .select(col("f"), col("t.a").as("a"), col("t.b").as("b"),
            col("t.c").as("c"))
          .filter(concat_ws(sep, col("b"), col("c")).isin(mids: _*) ||
            concat_ws(sep, col("a"), col("b")).isin(mids: _*))
          .repartition(p, col("a"), col("b"), col("c"))
          .groupBy(col("a"), col("b"), col("c")).agg(sum(col("f")).as("n"))
          .localCheckpoint(false)
        // Full per-context triple maps for the candidate pairs:
        // triMid((l,r)) = x → tri(x,l,r) (left extensions),
        // triLft((l,r)) = y → tri(l,r,y) (right extensions). Collected
        // rows are bounded by |candidates| × |alphabet| — model-scale.
        val triRows = triAgg.as[(String, String, String, Long)].collect()
        val triMid = triRows.groupBy(t => (t._2, t._3))
          .map { case (k, rs) => k -> rs.map(t => t._1 -> t._4).toMap }
        val triLft = triRows.groupBy(t => (t._1, t._2))
          .map { case (k, rs) => k -> rs.map(t => t._3 -> t._4).toMap }
        // Incremental-exact admission: tracked candidates carry EXACTLY
        // updated counts. Merging a pristine member m=(l,r) (symbols
        // untouched by earlier members, own count unchanged) destroys
        // exactly tri(x,l,r) occurrences of each (x,l) and tri(l,r,y)
        // of each (r,y) — every (l,r) adjacency merges when l != r and
        // no run pattern exists (both guarded below) — so shared-symbol
        // candidates stay admissible with their true post-merge counts
        // instead of closing the batch (the former blocked-set rule,
        // which the round-9 diagnostic showed was the dominant width
        // limiter). Where exactness is lost (stale context: member
        // disturbed, or the candidate's outer symbol already absorbed),
        // the candidate keeps its old count as an upper bound and can
        // never be admitted — argmax landing on it stops the batch.
        final case class Cand(l: String, r: String, var n: Long,
                              var exact: Boolean = true,
                              var merged: Boolean = false,
                              var changed: Boolean = false)
        val tracked = top.map(t => Cand(t._1, t._2, t._3))
        // everything beyond top-K only ever decreases, so the K-th
        // original count is its permanent ceiling (0 when all tracked)
        val ceiling = if (top.length == maxBatch) top.last._3 else 0L
        var createdMax = 0L
        var absorbed = Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var stop = false
        while (!stop && out.length + batch.length < merges) {
          val open = tracked.filter(c => !c.merged && c.n > 0)
          if (open.isEmpty) stop = true
          else {
            // greedy order over live candidates: count desc, text asc
            val next = open.minBy(c => (-c.n, c.l, c.r))
            val first = batch.isEmpty
            if (!next.exact ||
                (!first && (next.n <= createdMax || next.n <= ceiling))) {
              if (sys.env.contains("GRAFT_BPE_DEBUG"))
                System.err.println(s"[bpe] stop n=${next.n} " +
                  s"exact=${next.exact} createdMax=$createdMax " +
                  s"ceiling=$ceiling pair=(${next.l},${next.r})")
              stop = true
            } else {
              val (l, r) = (next.l, next.r)
              next.merged = true
              batch += ((l, r, next.n))
              val mid = triMid.getOrElse((l, r), Map.empty)
              val lft = triLft.getOrElse((l, r), Map.empty)
              createdMax = math.max(createdMax,
                (mid.values ++ lft.values).foldLeft(0L)(math.max))
              // batch-ending members are committed, then close the
              // batch: a re-merge alias (created tuples can coincide
              // with live ones) or a self-pair l==r (the left-to-right
              // overlap rewrite breaks adjacency accounting entirely)
              if (symbolSet(l + r) || l == r) stop = true
              else {
                // a DISTURBED member (own count already decremented, or
                // symbols touched by earlier members) has stale triple
                // contexts: its destructions are real but unquantified,
                // so affected candidates keep their old counts as upper
                // bounds and become inadmissible, instead of closing
                // the whole batch
                val pristine = !next.changed && !absorbed(l) &&
                  !absorbed(r)
                tracked.foreach { q =>
                  if (!q.merged) {
                    if (q.r == l && q.l == r) {
                      // the bridging pair (r,l): destroyed from BOTH
                      // sides (patterns l·r·l and r·l·r); the sum
                      // double-counts l·r·l·r quadruples, so it is
                      // exact only when one side is zero
                      val d1 = mid.getOrElse(r, 0L)
                      val d2 = lft.getOrElse(l, 0L)
                      if (d1 > 0 && d2 > 0) q.exact = false
                      else if (d1 + d2 > 0) {
                        if (!pristine || absorbed(l) || absorbed(r))
                          q.exact = false
                        else { q.n -= d1 + d2; q.changed = true }
                      }
                    } else if (q.r == l) {
                      val d = mid.getOrElse(q.l, 0L)
                      if (d > 0) {
                        if (!pristine || absorbed(q.l)) q.exact = false
                        else { q.n -= d; q.changed = true }
                      }
                    } else if (q.l == r) {
                      val d = lft.getOrElse(q.r, 0L)
                      if (d > 0) {
                        if (!pristine || absorbed(q.r)) q.exact = false
                        else { q.n -= d; q.changed = true }
                      }
                    }
                  }
                }
              }
              absorbed = absorbed + l + r
              symbolSet += (l + r)
            }
          }
        }
        batch.foreach { case (l, r, n) =>
          out += ((out.length + 1, l, r, n)) }
        // one vocabulary pass applies the whole batch through the
        // native single-expression rewrite (constant plan depth — the
        // composed bpeMergeOnce fold nests one interpreted lambda per
        // merge and overflows task deserialization when batches go wide)
        vocab = vocab.select(graft.functions.BpeExpressions
            .bpeApplyMerges(col("symbols"),
              batch.toSeq.map(t => (t._1, t._2))).as("symbols"),
          col("f")).localCheckpoint(false)
      }
    }
    (out.toSeq.toDF("rank", "left", "right", "n"), rounds)
  }

  /** `bpeTrainBatchedWithRounds` without the diagnostic. */
  def bpeTrainBatched(docs: org.apache.spark.sql.DataFrame, text: Column,
      merges: Int, maxBatch: Int = 64): org.apache.spark.sql.DataFrame =
    bpeTrainBatchedWithRounds(docs, text, merges, maxBatch)._1

  // --------------------------------------- logistic-regression trainer

  /** The quality-feature vector shared by the logistic trainer/scorer:
    * bias, bounded length, punct ratio, EN-stopword ratio, repetition
    * ratio — the exact `text_quality` formulas, all rounded to 6 dp so
    * both engines hold the identical nearest-double. */
  /** The single feature definition behind BOTH the trainer and the
    * scorer (only the DuckDB oracle keeps a second copy): an optional
    * id column rides along for the scorer without a second projection. */
  private def lrFeatures(docs: org.apache.spark.sql.DataFrame,
                         text: Column, label: Column,
                         id: Option[(String, Column)] = None)
      : org.apache.spark.sql.DataFrame =
    docs.select(id.toSeq.map { case (nm, c) => c.as(nm) } ++ Seq(
      label.cast("int").as("y"),
      lit(1.0).as("x0"),
      round(least(tokenCount(text) / lit(64.0), lit(1.0)), 6).as("x1"),
      punctRatio(text).as("x2"),
      stopwordRatio(text).as("x3"),
      repetitionRatio(text).as("x4")): _*)

  /** Spark-round-compatible 6-dp driver rounding (`BigDecimal.valueOf` =
    * the shortest-decimal HALF_UP path Spark's `Round` takes on
    * doubles), so a weight computed on the driver equals the one the
    * same `round(expr, 6)` would produce distributed. */
  private def rnd6(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Batch-gradient logistic-regression TRAINER over the text_quality
    * features — the in-engine counterpart of fitting the shallow linear
    * quality/language filter the CCNet/fastText-style pipelines put in
    * front of LM corpora (Joulin et al., EACL 2017's model class; here
    * full-batch gradient steps so the fit is replayable). The registered
    * query learns `lang = 'en'`, which the EN-stopword feature genuinely
    * predicts — the trajectory is signal, not noise-fitting.
    *
    * Cross-engine determinism (the perplexity trick applied to
    * training): features and weights are 6-dp doubles (identical bit
    * patterns in both engines), every per-doc gradient contribution
    * rounds to INTEGER MICROS before the sum, so each gradient is an
    * exact integer both engines agree on bit-for-bit; the only libm in
    * the loop is the sigmoid's exp, whose last-ulp differences sit ~1e9
    * below the micro threshold. The weight update then divides two
    * identical exact numbers — identical IEEE result.
    *
    * Scale: the model is 5 doubles of driver state (the k-means
    * precedent); each iteration is ONE map-side-partial hash aggregate
    * over the persisted 6-column feature frame, collecting 5 longs.
    * Corpus traffic = `iters` scans of that projection; no shuffle at
    * all (the aggregate is global, partials merge on the driver).
    * Returns the weight trajectory after each step, oldest first. */
  def logisticFit(docs: org.apache.spark.sql.DataFrame, text: Column,
                  label: Column, iters: Int = 3,
                  lr: Double = 0.5): Seq[Array[Double]] = {
    val f = Caches.persist(lrFeatures(docs, text, label))
    val n = f.count().toDouble
    var w = Array.fill(5)(0.0)
    val traj = Seq.newBuilder[Array[Double]]
    for (_ <- 1 to iters) {
      // z reproduces the oracle's left-assoc literal sum exactly
      val z = (0 until 5).map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)
      val sig = lit(1.0) / (lit(1.0) + exp(-z))
      val gs = (0 until 5).map(j =>
        sum(round((col("y") - sig) * col(s"x$j") * lit(1000000.0), 0)
          .cast("long")).as(s"g$j"))
      val row = f.agg(gs.head, gs.tail: _*).collect()(0)
      w = Array.tabulate(5)(j =>
        rnd6(w(j) + lr * row.getLong(j) / (n * 1000000.0)))
      traj += w
    }
    traj.result()
  }

  /** The trajectory as a DataFrame `(iter, w_bias, w_len, w_punct,
    * w_stop, w_rep)` — model-scale rows, built on the driver. */
  def logisticFitTrajectory(docs: org.apache.spark.sql.DataFrame,
                            text: Column, label: Column, iters: Int = 3,
                            lr: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    logisticFit(docs, text, label, iters, lr).zipWithIndex
      .map { case (w, i) => (i + 1, w(0), w(1), w(2), w(3), w(4)) }
      .toDF("iter", "w_bias", "w_len", "w_punct", "w_stop", "w_rep")
  }

  /** Score every document under a frozen weight vector: logit,
    * probability, predicted label, and whether the prediction was right
    * — the apply side of `logisticFit`, a pure zero-shuffle projection
    * (weights ride as literals, the fastText-filter read path at
    * 100 TB).
    *
    * The logit is computed in integer PICOS: each w_j·x_j is an exact
    * 12-dp decimal (6-dp weight × 6-dp feature), so ·1e12 is
    * integer-valued and `round(,0)` sits ~1e-5 from any boundary — a
    * plain `round(z, 6)` would instead hit EXACT .5 ties (12-dp decimals
    * truncated to 6) where the engines' rounding modes disagree at an
    * ulp. The emitted logit divides the identical integer by 1e12 in
    * both engines — identical IEEE double. */
  def logisticScore(docs: org.apache.spark.sql.DataFrame, id: Column,
                    text: Column, label: Column,
                    w: Array[Double]): org.apache.spark.sql.DataFrame = {
    val feats = lrFeatures(docs, text, label, Some("doc_id" -> id))
    val zPico = (0 until 5).map(j =>
      round(lit(w(j)) * col(s"x$j") * lit(1000000000000.0), 0)
        .cast("long")).reduce(_ + _)
    feats.withColumn("lp", zPico)
      .select(col("doc_id"), col("y"),
        (col("lp") / lit(1000000000000.0)).as("logit"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(col("lp") / lit(1000000000000.0)))), 6).as("p"),
        (col("lp") >= 0).cast("int").as("pred"))
      .withColumn("correct",
        (col("pred") === col("y")).cast("int"))
  }

  /** Corpus-level bigram collocation mining (Church & Hanks, CL 1990):
    * the adjacent word pairs whose co-occurrence most exceeds chance,
    * ranked by pointwise mutual information. The fixed-phrase detector a
    * curation pipeline runs to find boilerplate n-grams, named entities
    * and template fragments worth whitelisting or stripping.
    *
    * Scoring is the PMI exponand held in integer micros —
    * `lift_micro = (c_xy · 1e6 · N) div (c_x · c_y)` with N the corpus
    * token count and both unigram and bigram probabilities over the same
    * denominator N (the standard #pairs ≈ #tokens simplification). PMI =
    * ln(lift), strictly monotone, so ranking by `lift_micro` IS the PMI
    * ranking while every emitted value stays pure int64 arithmetic that
    * the oracle replays bit-for-bit — no runtime log, no float sum. The
    * product is bounded by c_xy·N·1e6, fine up to N ≈ 2e6 corpus tokens
    * under ANSI int64; beyond that stage the division or widen to
    * decimal(38) (both engines carry int128 there).
    *
    * Shape at scale: ONE tokenized pass persisted (unigram and bigram
    * counts share it), two partial-aggregatable hash counts, a
    * `minCount` filter that prunes the pair table BEFORE any join (the
    * classic PMI rare-pair mitigation doubling as the fan-out bound),
    * two vocabulary-keyed equi-joins, and a global top-N that plans as
    * `TakeOrderedAndProject` (per-partition top-N, no global sort).
    * Nothing is ever all-pairs: candidates are observed adjacencies
    * only, linear in corpus tokens. */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, text: Column,
                      minCount: Int = 5, topN: Int = 100)
      : org.apache.spark.sql.DataFrame = {
    val t = Caches.persist(docs.select(tokens(lower(text)).as("w")))
    val uni = Caches.persist(
      t.select(explode(col("w")).as("tok")).filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val nTok = uni.agg(sum(col("c")).as("n"))
    // adjacent pairs from the SAME persisted token arrays; grams with
    // fewer than two tokens (short docs, empty-token edges) carry no
    // space and are filtered before counting
    val big = t.select(explode(when(size(col("w")) >= 2, transform(
          sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", slice(col("w"), i, lit(2)))))
        .otherwise(array().cast("array<string>"))).as("g"))
      .filter(instr(col("g"), " ") > 0 &&
        substring_index(col("g"), " ", 1) =!= "" &&
        substring_index(col("g"), " ", -1) =!= "")
      .groupBy(col("g")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val ux = uni.select(col("tok").as("xw"), col("c").as("cx"))
    val uy = uni.select(col("tok").as("yw"), col("c").as("cy"))
    big.join(ux, substring_index(col("g"), " ", 1) === col("xw"))
      .join(uy, substring_index(col("g"), " ", -1) === col("yw"))
      .crossJoin(broadcast(nTok))
      .select(col("g").as("gram"), col("cxy").as("c_pair"),
        col("cx").as("c_left"), col("cy").as("c_right"),
        expr("(cxy * 1000000L * n) div (cx * cy)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("gram"))
      .limit(topN)
  }
}
