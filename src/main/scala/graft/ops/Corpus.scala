package graft.ops

import graft.Tables
import graft.functions.PortableStringHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Corpus-curation operators (round-4 extension of the §2.9
  * LLM-training-data set): the filters and transforms a production
  * pretraining pipeline runs BETWEEN dedup and tokenization.
  *
  *  - [[repetitionProfile]]: Gopher-style repetition filters (Rae et
  *    al. 2021 §A1.1) adapted to the word/bigram level — fraction of
  *    duplicate words, top-word fraction, top-bigram fraction, and a
  *    composite flag. All-narrow: per-document arithmetic (mode
  *    counts via the native `array_top_count` expression), zero
  *    shuffles before the presentation sort.
  *  - [[decontaminate]]: benchmark decontamination by word-n-gram
  *    overlap (the GPT-3 appendix-C method: any document sharing an
  *    n-gram with the eval set is contaminated). The benchmark side of
  *    the join is small by construction (eval suites are MBs) → one
  *    broadcast join, corpus never shuffles.
  *  - [[vocabMask]]: vocabulary truncation — replace every token
  *    outside the top-V corpus vocabulary with `<unk>`, rebuilding the
  *    document in token order (classic closed-vocab preprocessing).
  *  - [[sampleTemperature]]: temperature-based language mixing
  *    (multilingual-LM style, rate ∝ p^(α−1) with α=0.5): per-language
  *    keep-rates DERIVED from the corpus itself, then the same
  *    deterministic key-hash Bernoulli draw as `q_sample` — rates land
  *    in a broadcast dim, the draw is a pushable scan predicate,
  *    reproducible across engines and cluster sizes.
  *  - [[mixEpochs]]: epoch-based mixture UPSAMPLING — the complement
  *    of [[sampleTemperature]]'s downsampling: every language is
  *    replicated up to the majority language's expected row count,
  *    whole epochs as integer copies plus a deterministic key-hash
  *    Bernoulli draw for the fractional epoch (how LLM data recipes
  *    express "2.4 epochs of books"). Pure integer rate math, so both
  *    engines derive bit-identical copy counts.
  *  - [[invertedIndex]]: term → (document frequency, sorted posting
  *    list) — the search-index build. One shuffle on the term key; at
  *    100 TB posting lists are the thing you'd segment (delta-encoded
  *    chunks per term-shard), which is a layout decision downstream of
  *    this exact dataflow.
  *  - [[dedupIncremental]]: dedup an arriving delta batch against the
  *    ingested corpus by probing maintained hash/band indexes —
  *    O(delta) per batch, never O(corpus).
  *  - [[packSequences]]: deterministic per-source sequence packing
  *    into fixed-capacity training bins.
  *
  * No reference analog (the reference has no text pipeline); these
  * extend `ops/Text.scala` and follow its conventions: raw
  * single-space `split` tokenization matching DuckDB `string_split`,
  * fractions rounded to 6 places on both engines, presentation
  * `orderBy` because the driver's oracle hash-compares total order.
  */
object Corpus {

  /** Tokens are projected into a bound attribute column FIRST so HOF
    * lambdas capture an attribute, not the `split` expression —
    * lambda bodies re-evaluate captured expressions per element
    * (the round-1 hash-embed lesson). */
  private def withWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))

  private val emptyStrings = array().cast(ArrayType(StringType))

  /** Word n-grams as joined strings, 1-based to mirror DuckDB list
    * indexing; empty (not a runtime error) below n words — the
    * empty-doc `sequence` crash class from the round-3 advice. */
  private def wordGrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
      .otherwise(emptyStrings)

  /** Count of the most frequent element of `xs`. Narrow by design:
    * per-doc compute, zero shuffles — the alternative explode + count
    * + window-max materializes an O(total tokens) relation and pays
    * two shuffles for the same numbers. Rendered by the native
    * [[graft.functions.ArrayTopCount]] (one hash-count pass per row);
    * the O(distinct·n) interpreted-HOF rendering it replaced
    * ([[topCountHof]]) dominated q_repetition's sf0.1 profile. */
  private def topCount(xs: Column): Column =
    graft.functions.ArrayTopCount.arrayTopCount(xs)

  /** The HOF rendering topCount replaced; kept as the semantic
    * specification the native expression is spec-pinned against
    * (CorpusSpec property test), same contract as Text.charHashHof. */
  private[graft] def topCountHof(xs: Column): Column =
    array_max(transform(array_distinct(xs), w =>
      size(filter(xs, x => x === w))))

  /** Gopher-style repetition profile per document (T14).
    * `flagged` uses the ROUNDED fractions so the threshold compare
    * sees bit-identical values on both engines. */
  def repetitionProfile(docs: DataFrame): DataFrame = {
    val staged = withWords(docs)
      .select(col("doc_id"), col("ws"), wordGrams(col("ws"), 2).as("bs"))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        round(lit(1.0) - size(array_distinct(col("ws"))) /
          size(col("ws")).cast("double"), 6).as("dup_word_frac"),
        round(topCount(col("ws")) / size(col("ws")).cast("double"), 6)
          .as("top_word_frac"),
        round(topCount(col("bs")) / size(col("bs")).cast("double"), 6)
          .as("top_bigram_frac"))
    staged
      .withColumn("flagged",
        col("dup_word_frac") > 0.6 || col("top_word_frac") > 0.2 ||
          col("top_bigram_frac") > 0.1)
      .orderBy(col("doc_id"))
  }

  /** Which documents count as the held-out eval set: a fixed 5% id
    * slice (stand-in for a real benchmark table, which would arrive as
    * its own small relation). */
  private val BenchSlice: Column => Column = id => id % 20 === 7

  /** Decontamination n-gram width. 5 words is deliberately below the
    * published 8–13 range so the harness corpus (30-word vocabulary)
    * exhibits real collisions; the operator is width-agnostic. */
  private val DecontamGramWords = 5

  /** Benchmark decontamination (T15): per non-benchmark document, how
    * many of its distinct word-5-grams also occur in the benchmark
    * slice. The distinct benchmark gram set is broadcast — the corpus
    * side stays partition-local, so the scan never shuffles and the
    * probe is map-side. Documents shorter than the gram width drop out
    * on both engines (no grams → no row). */
  def decontaminate(docs: DataFrame): DataFrame = {
    def grams(of: DataFrame): DataFrame = withWords(of)
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("ws"), DecontamGramWords))).as("g"))
    val bench = grams(docs.filter(BenchSlice(col("doc_id"))))
      .select(col("g").as("bg")).distinct()
    grams(docs.filter(!BenchSlice(col("doc_id"))))
      .join(broadcast(bench), col("g") === col("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_grams"),
        count(col("bg")).cast("int").as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
      .orderBy(col("doc_id"))
  }

  /** Top-V vocabulary size for [[vocabMask]]. */
  private val VocabSize = 20

  /** Vocabulary truncation (T16): corpus word frequencies → top-V
    * vocabulary (count desc, word asc — deterministic under ties) →
    * every out-of-vocabulary token becomes `<unk>`, document rebuilt
    * in token order. The vocabulary relation is bounded by V, so the
    * token→vocab join broadcasts; the only full shuffle is the
    * groupBy(doc_id) reassembly. Top-V selection is the `q_topk`
    * TakeOrderedAndProject shape (r12, guide §2): the r11 plan ranked
    * with an UNPARTITIONED row_number window, which moves the entire
    * distinct-word relation — corpus-vocabulary-sized, easily 10⁸ rows
    * at 100 TB — through one task; orderBy+limit keeps per-partition
    * top-V heaps and merges only V·partitions rows on the driver. Same
    * rows: row_number() ≤ V under a total order IS the limit-V prefix
    * of that order. */
  def vocabMask(docs: DataFrame): DataFrame = {
    val tokens = withWords(docs)
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
    val vocab = tokens.groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(VocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    tokens.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("in_vocab").isNotNull, col("w")).otherwise(lit("<unk>")).as("mw"),
        col("in_vocab"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("int").as("n_unk"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("mw")))),
            x => x.getField("mw")), " ").as("masked_text"))
      .select(col("doc_id"), col("n_tokens"), col("n_unk"),
        round(col("n_unk") * lit(1.0) / col("n_tokens"), 6).as("unk_frac"),
        col("masked_text"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-mixing α and the derived per-language keep-rate:
    * rate_l ∝ p_l^(α−1), normalized so the smallest language keeps
    * everything — with α = 0.5 that collapses to √(n_min/n_l).
    * floor(√·1000) is safe cross-engine: IEEE division, sqrt and
    * multiply are each correctly rounded, so both engines floor the
    * same double. */
  private def keepPermille(nDocs: Column, minDocs: Column): Column =
    floor(sqrt(minDocs.cast("double") / nDocs) * 1000).cast("int")

  /** Temperature-based language mixing (T17): per-language keep-rates
    * derived from the corpus (upsample-nothing normalization), applied
    * as the engine's standard deterministic key-hash Bernoulli draw.
    * The rate dim is #languages rows → broadcast; the draw predicate
    * references only doc_id and the joined rate, stays pushable, and
    * reproduces exactly on any engine or cluster size (unlike
    * `df.sample`'s partition-local RNG). */
  def sampleTemperature(docs: DataFrame): DataFrame = {
    // the global min attaches by folding the |lang|-row rollup through
    // ONE aggregate row and exploding back (r12, guide §2), not an
    // unpartitioned window: the window form serialized the rollup
    // through a single WindowExec task and warned on every run, and
    // the obvious crossJoin(agg(min)) re-scans the corpus because the
    // join branch carries an inferred isnotnull(lang) the aggregate
    // branch lacks — canonical inequality, no ReusedExchange. The fold
    // keeps one corpus scan and the funnel row is |lang|-bounded.
    val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .agg(min(col("n_docs")).as("min_docs"),
        collect_list(struct(col("lang"), col("n_docs"))).as("ls"))
      .select(col("min_docs"), explode(col("ls")).as("x"))
      .select(col("x.lang").as("lang"),
        keepPermille(col("x.n_docs"), col("min_docs")).as("keep_permille"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(((col("doc_id") * 31 + 11) % 1000003L) % 1000 < col("keep_permille"))
      .select(col("doc_id"), col("lang"), col("keep_permille"))
      .orderBy(col("doc_id"))
  }

  /** Epoch-based mixture upsampling (T21): replicate each language up
    * to the majority language's expected count. Rates are integer
    * permille — `max_docs * 1000 div n_docs` — so the whole-epoch copy
    * count (`permille div 1000`) and the fractional-epoch draw
    * (`permille % 1000` vs the key-hash) involve no floats anywhere;
    * both engines compute identical copy counts from identical
    * integers. The rate dim is #languages rows → broadcast; the
    * replication is a narrow `explode(sequence(...))` (no shuffle at
    * all before the presentation sort) — at scale this is the shape
    * that feeds a training shuffle: copies materialize in the scan
    * stage's own tasks, never concentrated on a driver or a reducer.
    * Every doc keeps ≥ 1 copy (permille ≥ 1000 by construction), so
    * `sequence(1, copies)` can never hit the empty-range crash the
    * chunker guards against. */
  def mixEpochs(docs: DataFrame): DataFrame = {
    // global max via the fold-through-one-row attach, same rewrite
    // (and rationale) as sampleTemperature's min (r12, §2)
    val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .agg(max(col("n_docs")).as("max_docs"),
        collect_list(struct(col("lang"), col("n_docs"))).as("ls"))
      .select(col("max_docs"), explode(col("ls")).as("x"))
      .select(col("x.lang").as("lang"),
        expr("max_docs * 1000 div x.n_docs").as("permille"))
    docs.join(broadcast(rates), Seq("lang"))
      .withColumn("copies",
        expr("permille div 1000") +
          when(((col("doc_id") * 31 + 11) % 1000003L) % 1000 < col("permille") % 1000,
            1L).otherwise(0L))
      .select(col("doc_id"), col("lang"), col("permille"),
        explode(sequence(lit(1L), col("copies"))).as("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  /** Inverted index (T18): term → document frequency + comma-joined
    * numerically-sorted posting list. Distinct (term, doc) pairs
    * shuffle once on the term key; postings sort numerically BEFORE
    * the string render (lexicographic '10' < '2' would diverge from
    * the oracle's ORDER BY doc_id). */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
      .groupBy(col("word"))
      .agg(
        count(lit(1)).as("df"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("postings"))
      .orderBy(col("word"))

  /** Which documents form the already-ingested history (80%); the
    * rest arrive as the delta batch. Id-keyed so the split is
    * deterministic at every scale factor. */
  private val HistPred: Column => Column = id => id % 10 < 8

  /** Incremental dedup (T19): dedup an arriving delta batch against
    * the ingested corpus WITHOUT re-clustering the corpus — the
    * steady-state shape of a production ingestion pipeline, where the
    * full-corpus closure ([[Text.minhashClustersClosure]]) runs once
    * and every later batch only probes.
    *
    *  - exact: delta content hashes (sha2-256) probed against the
    *    distinct history hash set — hashing first means the join
    *    never shuffles full document texts (the oracle joins on raw
    *    text: same verdicts, collision-free either way).
    *  - near: the delta's MinHash band signatures probed against the
    *    DISTINCT history band set ([[Text.minhashBands]]). At scale
    *    the history bands are a precomputed index maintained once per
    *    ingest, so per-batch cost is O(delta), never O(corpus).
    *
    * Both probes are equi-joins on (band, sig)/hash keys; the band
    * relation is checkpointed once for its two consumers. */
  def dedupIncremental(docs: DataFrame): DataFrame = {
    // a leaf, not a bare checkpoint: deterministic stats keep the
    // probe joins' plan fixed across runs (see Iterate.leaf)
    val bands = Iterate.leaf(Text.minhashBands(docs))
    val hist = bands.filter(HistPred(col("doc_id")))
      .select(col("band").as("hb"), col("band_sig").as("hs")).distinct()
    val hits = bands.filter(!HistPred(col("doc_id")))
      .join(hist, col("band") === col("hb") && col("band_sig") === col("hs"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hb")).cast("int").as("n_band_hits"))
    val histHash = docs.filter(HistPred(col("doc_id")))
      .select(sha2(col("text"), 256).as("hh")).distinct()
    val exact = docs.filter(!HistPred(col("doc_id")))
      .join(histHash, sha2(col("text"), 256) === col("hh"), "left")
      .groupBy(col("doc_id"))
      .agg((count(col("hh")) > 0).as("dup_exact"))
    hits.join(exact, Seq("doc_id"))
      .select(col("doc_id"), col("n_band_hits"), col("dup_exact"),
        (col("n_band_hits") > 0 || col("dup_exact")).as("dup_near"))
      .orderBy(col("doc_id"))
  }

  /** Packing bin capacity in whitespace tokens (T20). */
  private val PackCapacity = 128

  /** Sequence packing (T20): assign documents to fixed-capacity
    * training bins by greedy CONTIGUOUS packing — bin = exclusive
    * running token total ÷ capacity, per source, in doc_id order.
    * Deterministic on any engine or cluster size (unlike first-fit
    * heuristics whose output depends on partition visit order), and
    * the window partitions by `source`, so packing parallelizes
    * per-shard — the unpartitioned variant would serialize the corpus
    * through one task, the single-partition window trap at 100 TB.
    * A doc whose tokens straddle a boundary belongs to the bin its
    * first token falls in (documents stay whole; capacity is a soft
    * target, the standard pack-then-truncate prep). */
  def packSequences(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("cum_before") / (PackCapacity * 1.0)).cast("int").as("bin"))
      .orderBy(col("doc_id"))
  }

  /** Split-assignment hash constants: Knuth's 2^32/φ multiplier with
    * a mod-prime mix BEFORE the mod-100 bucket — a bare affine
    * (A·id + C) mod 100 is periodic in id mod 100, which ALIASES
    * against any id-periodic attribute (this corpus assigns source =
    * id mod 20, and the straight LCG put every source wholly inside
    * one split — the exact leakage failure q_split's report exists to
    * catch). Same % 1000003 discipline as [[sampleTemperature]]'s
    * Bernoulli draw. doc_id·A stays under 2^63 up to ~3.4×10^9 docs;
    * beyond that swap in a split-multiply 128-bit mix. */
  private val SplitA = 2654435761L
  private val SplitC = 12345L
  private val SplitP = 1000003L

  /** Deterministic train/val/test split (T29, r4): bucket =
    * ((doc_id·A + C) mod P) mod 100 → 80/10/10. The assignment is
    * pure key arithmetic — a pushable scan predicate, no shuffle,
    * reproducible across engines, runs, and cluster sizes (the
    * property that makes a split auditable: any engine can re-derive
    * membership from the key alone, no persisted assignment table
    * needed). The report aggregates per (split, source) with each
    * split's share of its source — the leakage check that catches a
    * split correlated with a confound — plus a checksum over bucket
    * values so the oracle compare pins the assignment itself, not
    * just the counts. */
  def splitAssign(docs: DataFrame): DataFrame = {
    val bucket = (((col("doc_id") % SplitP) * SplitA + SplitC) % SplitP) % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise(lit("test"))
    docs.select(col("doc_id"), col("source"), col("n_chars"), bucket.as("bucket"),
        split.as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("bucket")).as("bucket_checksum"))
      .withColumn("source_frac",
        round(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy(col("source"))), 6))
      .orderBy(col("split"), col("source"))
  }

  /** Train/val/test leakage audit — the check every pipeline should
    * run after splitting and most don't (Lewis et al. 2021 found
    * 30%+ of popular QA test sets leaked from train): near-duplicate
    * pairs that CROSS split boundaries make eval scores lies, because
    * random document-level splits put clones of the same page on both
    * sides. Splits are [[splitAssign]]'s own hash buckets (the same
    * draw the user ships), near-dup candidates are the
    * MinHash-LSH band buckets (T3's declared at-scale mechanics) —
    * two docs leak if they share any band bucket and sit in different
    * splits. Output: one row per ordered split pair (train→val,
    * train→test, val→test): candidate pair count, distinct
    * contaminated eval-side docs, and the contamination rate in
    * exact permille. Zero-leak pairs still emit their row (a clean
    * audit is a result, not an absence).
    *
    * Scale: the band self-join is bucket-bounded (never all-pairs —
    * the LSH guarantee), splits ride as a broadcast-joinable narrow
    * column, and the rollup is 3 rows at any corpus size. On the sf1
    * clone corpus this query is the punchline: ~10 clones of every
    * doc scattered over an 80/10/10 split leak nearly every val/test
    * doc — exactly what it exists to catch. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val bucket = (((col("doc_id") % SplitP) * SplitA + SplitC) % SplitP) % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val")
      .otherwise(lit("test"))
    val rank = when(col("split") === "train", 0)
      .when(col("split") === "val", 1).otherwise(2)
    val assigned = docs.select(col("doc_id"), split.as("split"))
      .withColumn("rk", rank)
    val sizes = assigned.groupBy(col("split"), col("rk"))
      .agg(count(lit(1)).as("n_docs"))
    val b = Text.minhashBands(docs)
      .join(assigned, Seq("doc_id"))
    val l = b.select(col("band"), col("band_sig"),
      col("doc_id").as("da"), col("split").as("split_a"), col("rk").as("ra"))
    val r = b.select(col("band"), col("band_sig"),
      col("doc_id").as("db"), col("split").as("split_b"), col("rk").as("rb"))
    val pairs = l.join(r, Seq("band", "band_sig"))
      .filter(col("ra") < col("rb"))
      .select(col("split_a"), col("split_b"), col("da"), col("db"))
      .distinct()
    val agg = pairs.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("np"), countDistinct(col("db")).as("nl"))
    // the three ordered split pairs come from a LITERAL relation, not
    // a crossJoin of the observed per-split sizes — an empty split
    // (tiny corpora) now still emits its zero rows, making the "zero-
    // leak pairs still emit their row" contract true unconditionally
    // (r8, ADVICE); sizes left-join on, n_docs_b coalesces to 0
    val pairFrame = docs.sparkSession
      .createDataFrame(Seq(("train", "val"), ("train", "test"), ("val", "test")))
      .toDF("split_a", "split_b")
    pairFrame
      .join(sizes.select(col("split").as("split_b"), col("n_docs")),
        Seq("split_b"), "left")
      .join(agg, Seq("split_a", "split_b"), "left")
      .withColumn("n_pairs", coalesce(col("np"), lit(0L)))
      .withColumn("n_leaked_docs", coalesce(col("nl"), lit(0L)))
      .withColumn("n_docs_b", coalesce(col("n_docs"), lit(0L)))
      .withColumn("leaked_permille",
        expr("CASE WHEN n_docs_b = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_leaked_docs * 1000) div n_docs_b END"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_leaked_docs"), col("n_docs_b"), col("leaked_permille"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Fixed-k per-group deterministic sample (r5 wave 14): k = 10 docs
    * per source by hash-rank — the eval-slice draw ("give me 10
    * representative docs from every shard to eyeball / hold out").
    * Rank = row_number over the SAME mixed-hash key family as
    * [[splitAssign]] (Knuth multiplier + mod-prime, so the draw can't
    * alias against id-periodic attributes), ties broken by doc_id —
    * reproducible across engines, runs, and cluster sizes, unlike
    * `df.sample`'s partition-local RNG. One (source)-partitioned rank
    * window is the only wide op; at 100 TB that is the per-shard
    * parallel window discipline, never a global sort. */
  def samplePerGroup(docs: DataFrame, k: Int = 10): DataFrame = {
    val hkey = (((col("doc_id") % SplitP) * SplitA + 54321L) % SplitP).as("hkey")
    val w = Window.partitionBy(col("source")).orderBy(col("hkey"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"), hkey)
      .withColumn("draw_rank", row_number().over(w))
      .filter(col("draw_rank") <= k)
      .orderBy(col("source"), col("draw_rank"))
  }

  /** Weighted reservoir sample (T54, r6; Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): k = 10 docs per
    * source with inclusion probability ∝ n_chars — the draw a
    * token-budgeted curation actually wants ("sample by mass, not by
    * document"), where [[samplePerGroup]] is the uniform special
    * case. A-Res mechanics: each item draws u ∈ (0,1) and ranks by
    * u^(1/w); ranking by ln(u)/w is order-identical and avoids the
    * pow. u comes from the module's mixed-hash family (Knuth
    * multiplier + mod-prime, shifted to (0,1] — never 0, so ln is
    * total), making the draw reproducible across engines, runs, and
    * cluster sizes, unlike partition-local RNG. The key itself never
    * leaves the plan (ln's last ULP is libm-specific; two DISTINCT
    * (u, w) pairs colliding within one ULP is measure-zero, but a key
    * COLUMN would make that risk an output contract — rank ties still
    * break by doc_id). Same shape as the uniform draw: one
    * (source)-partitioned rank window, per-shard parallel at any
    * scale. */
  def sampleWeighted(docs: DataFrame, k: Int = 10): DataFrame = {
    val u = ((((col("doc_id") % SplitP) * SplitA + 99991L) % SplitP) + 1L)
      .cast("double") / (SplitP + 1L).toDouble
    val key = log(u) / col("n_chars")
    val w = Window.partitionBy(col("source")).orderBy(key.desc, col("doc_id"))
    docs.filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("draw_rank", row_number().over(w))
      .filter(col("draw_rank") <= k)
      .orderBy(col("source"), col("draw_rank"))
  }

  /** Hashed-feature bucket count for [[dsirWeights]]. */
  private[ops] val DsirBuckets = 256L

  /** DSIR-style importance weighting (T45, r5 wave 18; Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its
    * hashed-unigram features are under a TARGET distribution (here:
    * the `src0` slice standing in for "high-quality reference data")
    * than under the raw corpus. log w(doc) = Σ_tokens [ln p_tgt(b) −
    * ln p_raw(b)] over B=256 hash buckets with +1 smoothing; docs
    * with positive log-weight resemble the target more than the
    * average corpus doc and survive the resampling gate.
    *
    * The scale story IS the bucket table: both distributions compress
    * to B=256 rows regardless of corpus size, so the expensive half
    * is one token-bucket aggregate (map-side combinable) and the
    * bucket table broadcasts back onto the token stream — the corpus
    * text itself never shuffles; the only per-doc wide op is the
    * final doc_id rollup. Every ln sees an integer-valued operand
    * (counts + smoothing constants), so both engines feed identical
    * doubles into identical ln calls (the PMI/entropy precedent). */
  def dsirWeights(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("b", Text.charHash(col("w")) % DsirBuckets)
    val buckets = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("raw_c"),
        count(when(col("source") === "src0", 1)).as("tgt_c"))
    val totals = toks.agg(count(lit(1)).as("n_raw"),
      count(when(col("source") === "src0", 1)).as("n_tgt"))
    toks.join(broadcast(buckets), "b")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(
          log(col("tgt_c") + lit(1.0)) - log(col("n_tgt") + lit(DsirBuckets.toDouble)) -
            log(col("raw_c") + lit(1.0)) + log(col("n_raw") + lit(DsirBuckets.toDouble))), 4)
          .as("logw"))
      .withColumn("keep", col("logw") > 0.0)
      .orderBy(col("doc_id"))
  }

  /** Curriculum batching (T46, r5 wave 21; Bengio et al. ICML 2009
    * applied to corpus prep): order each source's documents easy →
    * hard by a difficulty proxy (mean word length in exact integer
    * millis — `n_chars·1000 div n_tokens`) and cut the ordering into
    * contiguous 32-doc batches, reporting per-batch difficulty bounds
    * and token mass. The curriculum is PER SOURCE on purpose: the
    * ordering window partitions by source, so at 100 TB each shard
    * sorts independently — a single global curriculum would be one
    * unpartitioned window (the exact shape the plan-counter audit
    * exists to forbid). Batch difficulty must be monotone within a
    * source by construction — CorpusSpec pins it. */
  def curriculum(docs: DataFrame, batchSize: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("diff_milli").asc, col("doc_id").asc)
    docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("diff_milli", expr("(n_chars * 1000) div n_tokens"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", expr(s"(rn - 1) div $batchSize"))
      .groupBy(col("source"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("diff_milli")).as("min_diff"),
        max(col("diff_milli")).as("max_diff"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("source"), col("batch"))
  }

  /** Merge rounds for [[bpeMerges]] — fixed count so the result is a
    * deterministic function of the corpus (the LpaRounds convention),
    * matched by the oracle's unroll. */
  val BpeRounds = 8

  /** BPE merge induction (T51, r6): the first `BpeRounds` byte-pair
    * merges a BPE tokenizer trainer would learn from this corpus —
    * the TRAINING half of the tokenizer story (T7/T38 consume a
    * tokenizer; this builds one), i.e. Sennrich et al. 2016's
    * algorithm in its production staging: train on the WORD-FREQUENCY
    * table, never the raw corpus. The corpus is touched exactly once
    * (the word rollup); every merge round then runs over the
    * |V|-row vocab state — at 100 TB that is the difference between
    * an O(corpus) and an O(vocab) iteration, and it is how real
    * trainers (subword-nmt, HF tokenizers) are built.
    *
    * Mechanics, engine-portable by construction: words become
    * separator-prefixed symbol strings ("the" → "~t~h~e"); each round
    * counts adjacent symbol pairs weighted by word frequency
    * (positional enumeration over the split — the q_kn_bigram
    * pattern), takes the argmax under the (freq desc, left, right)
    * TOTAL order as a 1-row relation (TakeOrderedAndProject — never a
    * collect), and applies the merge with one `replace` of
    * "~l~r" → "~lr": left-to-right non-overlapping replacement has
    * identical semantics in Spark and DuckDB and reproduces the
    * greedy leftmost-first merge fold ("aaa" + (a,a) → [aa, a]).
    * All statistics are exact integers; there is no float anywhere.
    * Loop state is the vocab relation, cut by [[Iterate.leaf]] per
    * round (each vocab feeds both the next round's pair count and the
    * replace, and an uncut chain would recompute 2^rounds subplans);
    * the loop stays hand-written because each round's rule is cut
    * too and outlives the loop. Words are guarded to ^[a-z]+$ (both
    * engines) so the separator can never collide with a symbol. */
  def bpeMerges(docs: DataFrame, rounds: Int = BpeRounds): DataFrame =
    bpeMergesFromFreq(docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq")), rounds)

  /** Induction core over a prepared (word, freq) table — split out so
    * [[bpeEncode]] can train and segment off ONE corpus tokenization
    * (it re-aggregates its per-source rollup into the training
    * frequencies instead of exploding the text a second time). */
  private def bpeMergesFromFreq(wordFreq: DataFrame, rounds: Int): DataFrame = {
    var vocab = Iterate.leaf(wordFreq
      .select(regexp_replace(col("word"), "(.)", "~$1").as("ws"), col("freq")))
    var rules: DataFrame = null
    for (round <- 1 to rounds) {
      val rule = Iterate.leaf(vocab
        .select(col("freq"),
          expr("filter(split(ws, '~'), s -> s != '')").as("symbols"))
        // fully-merged (1-symbol) words have no pairs; without the
        // guard Spark's sequence(1, 0) counts DOWN and explodes to
        // invalid indices
        .filter(size(col("symbols")) >= 2)
        .select(col("freq"), col("symbols"),
          explode(sequence(lit(1), size(col("symbols")) - 1)).as("i"))
        .select(col("freq"),
          element_at(col("symbols"), col("i")).as("l"),
          element_at(col("symbols"), col("i") + 1).as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("f"))
        .orderBy(col("f").desc, col("l"), col("r")).limit(1)
        .select(lit(round).as("round"), col("l"), col("r"), col("f")))
      rules = if (rules == null) rule else rules.unionByName(rule)
      // LEFT join on true, not a cross join: when the corpus exhausts
      // learnable pairs before `rounds` (rule relation EMPTY), a cross
      // join would annihilate the vocab state; the left join keeps it
      // unchanged (null rule → identity apply), so later rounds see
      // the real vocab and the loop is a no-op instead of a wipe.
      vocab = Iterate.leaf(vocab.join(broadcast(rule), lit(true), "left")
        .select(when(col("l").isNull, col("ws"))
            .otherwise(replace(col("ws"),
              concat(lit("~"), col("l"), lit("~"), col("r")),
              concat(lit("~"), col("l"), col("r")))).as("ws"),
          col("freq")))
    }
    rules
      .select(col("round"), col("l").as("merge_left"),
        col("r").as("merge_right"), col("f").as("pair_freq"))
      .orderBy(col("round"))
  }

  /** BPE encode (T52, r6): APPLY the merges [[bpeMerges]] induces —
    * the serving half of the tokenizer loop (T51 trains, this
    * segments). Per source: corpus word/token/char volume and the
    * fertility ratios a data-mixture designer reads off a tokenizer
    * (tokens per 1000 words, milli-chars per token).
    *
    * Staging is the production one: the corpus is tokenized ONCE into
    * a (source, word, cnt) rollup; the 8 learned merges then apply to
    * the DISTINCT vocabulary only (each merge is one broadcast of a
    * 1-row rule + one `replace` over the |V|-row relation), and the
    * encoded token counts join back to the rollup by word. At 100 TB
    * the corpus never re-moves per merge round — only vocab-sized
    * state does, exactly how subword tokenizers segment in practice
    * (encode the vocab, look up the pieces). Every output is an exact
    * integer (div ratios), so the oracle unrolls the same 8 replaces
    * in SQL with no float anywhere. */
  def bpeEncode(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    // tokenize ONCE: the per-source rollup re-aggregates into the
    // corpus-wide training frequencies (identical integers), so the
    // raw text is exploded a single time for train AND apply
    val words = Iterate.leaf(docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt")))
    val rules = bpeMergesFromFreq( // 1 row per round, checkpoint-backed
      words.groupBy(col("word")).agg(sum(col("cnt")).as("freq")), rounds)
    var vocab = words.select(col("word")).distinct()
      .select(col("word"), regexp_replace(col("word"), "(.)", "~$1").as("ws"))
    for (k <- 1 to rounds) {
      val rule = rules.filter(col("round") === k)
        .select(col("merge_left").as("l"), col("merge_right").as("r"))
      // LEFT join on true (r6 ADVICE): if round k learned no rule (the
      // corpus exhausted learnable pairs early), a cross join with the
      // empty rule relation annihilated the whole vocab and the query
      // returned ZERO rows; the left join applies the identity instead,
      // so the encode runs under exactly the merges actually learned.
      vocab = vocab.join(broadcast(rule), lit(true), "left")
        .select(col("word"),
          when(col("l").isNull, col("ws"))
            .otherwise(replace(col("ws"),
              concat(lit("~"), col("l"), lit("~"), col("r")),
              concat(lit("~"), col("l"), col("r")))).as("ws"))
    }
    val encoded = vocab.select(col("word"),
      size(expr("filter(split(ws, '~'), s -> s != '')")).cast("long").as("n_tok"))
    words.join(encoded, Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_tok")).as("n_tokens"),
        sum(col("cnt") * length(col("word"))).as("n_chars"))
      .withColumn("tokens_per_kword", expr("(n_tokens * 1000) div n_words"))
      .withColumn("chars_per_token_milli", expr("(n_chars * 1000) div n_tokens"))
      .orderBy(col("source"))
  }

  /** k-anonymity / l-diversity audit — the governance check a
    * training-data pipeline runs BEFORE releasing or retaining a
    * corpus slice (Sweeney 2002, k-anonymity; Machanavajjhala et al.
    * 2007, l-diversity): group rows by their quasi-identifier tuple
    * and ask whether each equivalence class is large enough (≥ k) to
    * hide an individual, and diverse enough (≥ l distinct sensitive
    * values) that membership doesn't leak the sensitive attribute.
    * Quasi-identifiers here: (source, n_chars div 100) — the
    * release-metadata columns a re-identification join would use;
    * sensitive stand-in: lang. k = 5, l = 2.
    *
    * Scale: one rollup keyed by the quasi-identifier tuple (map-side
    * combinable counts + a distinct-count), output one row per
    * equivalence class — |classes| rows regardless of corpus size;
    * the doc-level suppression verdict is the class flag joined back
    * on the same key (not materialized here — the class table IS the
    * audit artifact). Everything is exact integer counting: nothing
    * to round, nothing engine-specific. */
  /** Audit thresholds — interpolated into both the plan and the
    * oracle so the flags can't drift. */
  private val AnonK = 5
  private val DiversityL = 2

  def kAnonymity(docs: DataFrame): DataFrame =
    docs.select(col("source"), expr("n_chars div 100").as("len_bucket"),
        col("lang"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("source"), col("len_bucket"), col("class_size"), col("n_langs"),
        (col("class_size") >= AnonK).as("k_anonymous"),
        (col("n_langs") >= DiversityL).as("l_diverse"))
      .orderBy(col("source"), col("len_bucket"))

  /** Curation filter funnel — the waterfall table every corpus tech
    * report publishes (C4, Gopher, RefinedWeb, FineWeb all lead with
    * one): how many documents survive each curation stage applied
    * CUMULATIVELY, so reviewers can see which filter does the
    * cutting. Stages here are the standard cheap gates in their
    * conventional order: token-length bounds → top-word repetition
    * cap (the Gopher §A1.1 headline filter) → mean-word-length
    * quality band → exact-dedup survivorship. Every verdict is
    * integer arithmetic (`max_wc·5 ≤ n_tokens`, `3n ≤ Σlen ≤ 12n`),
    * so both engines agree without a rounding contract.
    *
    * Scale: per-doc features come from one (doc_id, word) rollup;
    * survivorship is the digest-keyed min-id window (32-byte
    * fingerprints shuffle, text never does); the funnel itself is ONE
    * global aggregate emitting 5 rows regardless of corpus size. */
  /** Dataset release card — the one-row summary table every corpus
    * release ships (HF dataset cards, C4/Pile/FineWeb tech-report
    * table 1): sizes, composition, duplication, and central tendency
    * in one artifact. Every statistic is exact-integer or
    * deterministic-discrete so the card is reproducible to the bit:
    * token counts are exact sums, the mean is an integer div, the
    * median is the DISCRETE order statistic at rank (n+1) div 2 via
    * the histogram method (no interpolation contract to disagree on),
    * duplication is the exact-dedup survivor count, and the dominant
    * source breaks count ties REVERSE-alphabetically — max(struct(sd,
    * source)) picks the lexicographically last source, mirrored by
    * the oracle's (sd DESC, source DESC) order.
    *
    * Scale: one token rollup, one digest rollup, and the median's
    * cumulative scan folds over the (n_chars, count) HISTOGRAM
    * collected into one row — |distinct lengths| array elements, never
    * the corpus (the single-task window over raw input the plan gates
    * ban); everything else is map-side aggregates → ONE output row. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val dups = docs.groupBy(sha2(col("text"), 256).as("fp"))
      .agg(count(lit(1)).as("k"))
      .agg(sum(col("k") - 1).as("dup_docs"))
    // the cumulative scan over the (n_chars, count) histogram runs as
    // an in-row fold over the SORTED histogram collected into one row
    // (r12, guide §2): the r11 shape was two unpartitioned windows
    // (running sum + total), which serialize the histogram through a
    // single WindowExec task and warn on every run; the fold does the
    // identical first-cell-with-cum≥rk selection — |distinct lengths|
    // array elements, never the corpus — after a map-side-partial
    // aggregation, no Exchange-to-one-task anywhere
    val med = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .agg(sort_array(collect_list(struct(col("n_chars"), col("c")))).as("h"),
        sum(col("c")).as("n"))
      .select(expr(
        """aggregate(h,
             named_struct('cum', cast(0 as bigint), 'med', cast(null as bigint)),
             (acc, x) -> named_struct(
               'cum', acc.cum + x.c,
               'med', if(acc.med is null and acc.cum + x.c >= (n + 1) div 2,
                         x.n_chars, acc.med))
           ).med""").as("median_chars"))
    val topSrc = docs.groupBy(col("source")).agg(count(lit(1)).as("sd"))
      .agg(max(struct(col("sd"), col("source"))).as("t"))
      .select(col("t.source").as("top_source"), col("t.sd").as("top_source_docs"))
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"))
    val tokTot = toks.agg(sum(col("n_tok")).as("n_tokens"))
    base.crossJoin(broadcast(tokTot)).crossJoin(broadcast(dups))
      .crossJoin(broadcast(med)).crossJoin(broadcast(topSrc))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_tokens"), col("total_chars"),
        expr("n_tokens div n_docs").as("mean_tokens_per_doc"),
        col("median_chars"),
        col("dup_docs"),
        expr("(dup_docs * 1000) div n_docs").as("dup_permille"),
        col("top_source"), col("top_source_docs"))
  }

  /** Funnel gate constants — interpolated into both the plan and the
    * oracle so the verdicts can't drift. */
  private val FunnelMinTok = 25
  private val FunnelMaxTok = 1000
  private val FunnelTopWordDen = 5    // max_wc * 5 <= n  ==  top-word <= 20%
  private val FunnelLenLo = 3
  private val FunnelLenHi = 12

  def filterFunnel(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val perWord = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val feats = perWord.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("max_wc"),
        sum(col("c") * length(col("w"))).as("sum_len"))
    val surv = docs.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .select(col("doc_id"),
        (col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("fp")))).as("keep"))
    val f1 = col("n_tokens").between(FunnelMinTok, FunnelMaxTok)
    val f2 = col("max_wc") * FunnelTopWordDen <= col("n_tokens")
    val f3 = col("sum_len") >= col("n_tokens") * FunnelLenLo &&
      col("sum_len") <= col("n_tokens") * FunnelLenHi
    // cumulative verdicts in one pass over the per-doc features
    val cum = surv.join(feats, Seq("doc_id"), "left")
      .select(
        coalesce(f1, lit(false)).as("c1"),
        coalesce(f1 && f2, lit(false)).as("c2"),
        coalesce(f1 && f2 && f3, lit(false)).as("c3"),
        (coalesce(f1 && f2 && f3, lit(false)) && col("keep")).as("c4"))
      .agg(count(lit(1)).as("n0"),
        sum(when(col("c1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("c2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("c3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("c4"), 1L).otherwise(0L)).as("n4"))
    cum.select(expr(
        """stack(5,
             0, 'all',        n0, n0,
             1, 'length',     n0, n1,
             2, 'repetition', n1, n2,
             3, 'quality',    n2, n3,
             4, 'dedup',      n3, n4) AS (stage, stage_name, n_in, n_out)"""))
      .withColumn("kept_permille", expr("(n_out * 1000) div n_in"))
      .orderBy(col("stage"))
  }

  /** Differentially-private release counts (Dwork et al., TCC 2006:
    * the Laplace mechanism) — the other half of the governance tier
    * ([[kAnonymity]] audits; this RELEASES): per-(lang, source) class
    * counts with Laplace(1/ε) noise at ε = 1 (count queries have
    * sensitivity 1). A pipeline publishing corpus composition stats
    * releases exactly this table.
    *
    * Harness rendering: the noise draw derives from the portable
    * string hash of the group key (the module's hash-uniform family)
    * through the standard inverse CDF — u ∈ (0, 1) maps to
    * sign(u−½)·ln of the folded tail. That makes the draw
    * REPRODUCIBLE cross-engine (what the oracle gate needs) — a
    * production release would draw real randomness and publish ONLY
    * the noisy column; the mechanism arithmetic, scale shape, and ε
    * accounting are identical. Exact counts ride along here so the
    * oracle can pin both sides. Because the "noise" is a deterministic
    * function of the PUBLIC group key and the exact count is emitted
    * beside it, this table provides ZERO actual privacy — the output
    * column is therefore named `noisy_docs_sim` (simulated draw) so
    * the harness-only nature is visible in the released schema itself,
    * not just here. Do not copy this pattern into a real DP release.
    *
    * Scale: one map-side-combinable rollup to |classes| rows; the
    * noise is a per-row scalar on the tiny output relation. */
  def dpCounts(docs: DataFrame): DataFrame = {
    val key = concat(lit("dp#"), col("lang"), lit("#"), col("source"))
    val u = (Text.charHash(key) + lit(1L))
      .cast("double") / (Text.HashMod + 1L).toDouble
    val noise = when(u < 0.5, log(lit(2.0) * u))
      .otherwise(-log(lit(2.0) * (lit(1.0) - u)))
    docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("source"), col("n_docs"),
        round(col("n_docs") + noise, 4).as("noisy_docs_sim"))
      .orderBy(col("lang"), col("source"))
  }

  /** Composed governance release flagship (r8) — the r7 governance
    * family chained end-to-end the way a real corpus release runs it,
    * as ONE oracle-checked query (the T23/E26 composition convention):
    * (1) the [[filterFunnel]] gates applied as a doc-level verdict
    * (length band → Gopher repetition cap → quality band → exact-dedup
    * survivorship); (2) the [[kAnonymity]] gate over the SURVIVORS'
    * quasi-identifier classes (source, n_chars div 100) — every doc in
    * a class smaller than k = [[AnonK]] is suppressed, so no released
    * class can hide fewer than k individuals; (3) the released
    * composition table per (lang, source) with the [[dpCounts]]
    * simulated-Laplace column (key prefix `rel#`, so the draw is this
    * release's own, and the same zero-actual-privacy caveat — see
    * [[dpCounts]]); (4) card-style context: raw class size and the
    * exact released permille. Suppressed-to-zero classes still emit
    * their row (n_released = 0), so suppression is visible, not
    * silent. CorpusSpec pins that a planted k<5 class is suppressed
    * end-to-end.
    *
    * Scale: one (doc_id, word) rollup for the funnel features, one
    * digest-keyed window for survivorship, one |classes|-row rollup +
    * left-semi join for the k-gate (never a class-partitioned window
    * over docs — a dominant class would be one task), and two
    * map-side-combinable count rollups to |lang × source| rows. Text
    * never shuffles; the noise is a per-row scalar on the tiny output
    * relation. */
  def releasePipeline(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val feats = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("max_wc"),
        sum(col("c") * length(col("w"))).as("sum_len"))
    val surv = docs.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .select(col("doc_id"),
        (col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("fp")))).as("keep"))
    val gate = coalesce(
      col("n_tokens").between(FunnelMinTok, FunnelMaxTok) &&
        col("max_wc") * FunnelTopWordDen <= col("n_tokens") &&
        col("sum_len") >= col("n_tokens") * FunnelLenLo &&
        col("sum_len") <= col("n_tokens") * FunnelLenHi, lit(false)) &&
      col("keep")
    val pass = docs.select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .join(surv, Seq("doc_id"))
      .join(feats, Seq("doc_id"), "left")
      .filter(gate)
      .select(col("lang"), col("source"), col("len_bucket"))
    val bigClasses = pass.groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("class_size"))
      .filter(col("class_size") >= AnonK)
      .select(col("source"), col("len_bucket"))
    val released = pass.join(bigClasses, Seq("source", "len_bucket"), "left_semi")
    val relCounts = released.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("nr"))
    val raw = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_raw"))
    val key = concat(lit("rel#"), col("lang"), lit("#"), col("source"))
    val u = (Text.charHash(key) + lit(1L))
      .cast("double") / (Text.HashMod + 1L).toDouble
    val noise = when(u < 0.5, log(lit(2.0) * u))
      .otherwise(-log(lit(2.0) * (lit(1.0) - u)))
    raw.join(relCounts, Seq("lang", "source"), "left")
      .withColumn("n_released", coalesce(col("nr"), lit(0L)))
      .select(col("lang"), col("source"), col("n_raw"), col("n_released"),
        expr("(n_released * 1000) div n_raw").as("released_permille"),
        round(col("n_released") + noise, 4).as("noisy_released_sim"))
      .orderBy(col("lang"), col("source"))
  }

  /** Masking rate for [[spanCorrupt]]: hash(doc, pos) mod 20 < 3 —
    * 15%, the T5 default corruption rate. */
  private val SpanMaskMod = 20L
  private val SpanMaskKeep = 3L

  /** T5-style span corruption (r8; Raffel et al., JMLR 2020 §3.1.4 —
    * the denoising objective every encoder-decoder pretrain uses):
    * mask ~15% of word positions, MERGE adjacent masked words into
    * spans, emit per document the input (spans replaced by one
    * `<X{k}>` sentinel each) and the target (each sentinel followed by
    * the words it hid) — training-example SYNTHESIS as a declared
    * query, the step between curation and tokenization that pipelines
    * usually hide in loader code.
    *
    * Masking is the portable hash of (doc_id, position) — position-
    * stable, so the draw is reproducible across engines, runs, AND
    * shards (a ScaleUp clone of a doc gets a different doc_id and
    * therefore its own independent mask, like independent epochs).
    * Span starts come from one lag window per document (bounded by
    * document length), span numbering from a running count over the
    * same window; assembly is the house ordered-struct collect. Per
    * document: two bounded windows + one rollup — nothing
    * corpus-sized in any task, output mass = input mass. */
  def spanCorrupt(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      posexplode(filter(split(col("text"), " "), w => w =!= "")).as(Seq("pos", "w")))
    val masked = words.withColumn("m",
      Text.charHash(concat(lit("span#"), col("doc_id").cast("string"), lit("#"),
        col("pos").cast("string"))) % SpanMaskMod < SpanMaskKeep)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withSpans = masked
      .withColumn("start", col("m") &&
        !coalesce(lag(col("m"), 1).over(byPos), lit(false)))
      .withColumn("span", sum(when(col("start"), 1L).otherwise(0L)).over(byPos))
    val sentinel = concat(lit("<X"), (col("span") - 1).cast("string"), lit(">"))
    val inputTok = when(!col("m"), col("w")).when(col("start"), sentinel)
    val targetTok = when(col("m") && col("start"), concat(sentinel, lit(" "), col("w")))
      .when(col("m"), col("w"))
    withSpans.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_words"),
        max(col("span")).as("n_spans"),
        array_join(transform(sort_array(collect_list(
          when(inputTok.isNotNull, struct(col("pos"), inputTok.as("t"))))),
          t => t("t")), " ").as("input_text"),
        array_join(transform(sort_array(collect_list(
          when(targetTok.isNotNull, struct(col("pos"), targetTok.as("t"))))),
          t => t("t")), " ").as("target_text"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE chain for the BPE family: the word-frequency
    * training table (wc/w0) and `BpeRounds` induction steps, each
    * producing the round's pair counts (pK), the argmax rule (rK) and
    * the merged vocab state (wK). q_bpe_merges reads r1..rN;
    * q_bpe_encode additionally re-applies r1..rN to the corpus vocab. */
  private val BpeOracleTrainCtes: String = {
    val steps = (1 to BpeRounds).map { k =>
      s""",
         p$k AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS f FROM (
             SELECT freq, symbols[i] AS l, symbols[i + 1] AS r FROM (
               SELECT freq, symbols, unnest(generate_series(1, len(symbols) - 1)) AS i
               FROM (SELECT freq, string_split(substr(ws, 2), '~') AS symbols FROM w${k - 1})))
           GROUP BY l, r),
         r$k AS (SELECT $k AS round, l, r, f FROM p$k ORDER BY f DESC, l, r LIMIT 1),
         w$k AS (SELECT CASE WHEN r.l IS NULL THEN w.ws
                   ELSE replace(w.ws, '~' || r.l || '~' || r.r, '~' || r.l || r.r) END AS ws, w.freq
                 FROM w${k - 1} w LEFT JOIN r$k r ON TRUE)"""
    }.mkString
    s"""wc AS (SELECT w AS word, count(*) AS freq FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
           WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY w),
         w0 AS (SELECT regexp_replace(word, '(.)', '~\\1', 'g') AS ws, freq FROM wc)
         $steps"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_merges" -> ((s: SparkSession, d: String) =>
      bpeMerges(Tables.documents(s, d))),
    "q_bpe_encode" -> ((s: SparkSession, d: String) =>
      bpeEncode(Tables.documents(s, d))),
    "q_curriculum" -> ((s: SparkSession, d: String) =>
      curriculum(Tables.documents(s, d))),
    "q_dsir_weights" -> ((s: SparkSession, d: String) =>
      dsirWeights(Tables.documents(s, d))),
    "q_sample_per_group" -> ((s: SparkSession, d: String) =>
      samplePerGroup(Tables.documents(s, d))),
    "q_sample_weighted" -> ((s: SparkSession, d: String) =>
      sampleWeighted(Tables.documents(s, d))),
    "q_split" -> ((s: SparkSession, d: String) =>
      splitAssign(Tables.documents(s, d))),
    "q_pack_sequences" -> ((s: SparkSession, d: String) =>
      packSequences(Tables.documents(s, d))),
    "q_dedup_incremental" -> ((s: SparkSession, d: String) =>
      dedupIncremental(Tables.documents(s, d))),
    "q_repetition" -> ((s: SparkSession, d: String) =>
      repetitionProfile(Tables.documents(s, d))),
    "q_decontam" -> ((s: SparkSession, d: String) =>
      decontaminate(Tables.documents(s, d))),
    "q_vocab_mask" -> ((s: SparkSession, d: String) =>
      vocabMask(Tables.documents(s, d))),
    "q_sample_temperature" -> ((s: SparkSession, d: String) =>
      sampleTemperature(Tables.documents(s, d))),
    "q_mix_epochs" -> ((s: SparkSession, d: String) =>
      mixEpochs(Tables.documents(s, d))),
    "q_inverted_index" -> ((s: SparkSession, d: String) =>
      invertedIndex(Tables.documents(s, d))),
    "q_k_anonymity" -> ((s: SparkSession, d: String) =>
      kAnonymity(Tables.documents(s, d))),
    "q_dp_counts" -> ((s: SparkSession, d: String) =>
      dpCounts(Tables.documents(s, d))),
    "q_filter_funnel" -> ((s: SparkSession, d: String) =>
      filterFunnel(Tables.documents(s, d))),
    "q_split_leakage" -> ((s: SparkSession, d: String) =>
      splitLeakage(Tables.documents(s, d))),
    "q_dataset_card" -> ((s: SparkSession, d: String) =>
      datasetCard(Tables.documents(s, d))),
    "q_pipeline_release" -> ((s: SparkSession, d: String) =>
      releasePipeline(Tables.documents(s, d))),
    "q_span_corrupt" -> ((s: SparkSession, d: String) =>
      spanCorrupt(Tables.documents(s, d))),
  )

  val oracles: Map[String, String] = Map(
    // exact integers throughout; the median is the same discrete
    // histogram order statistic, the top source the same max(struct)
    "q_dataset_card" ->
      """WITH tk AS (SELECT doc_id, count(*) AS n_tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE w != '' GROUP BY doc_id),
         tt AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM tk),
         dp AS (SELECT CAST(sum(k - 1) AS BIGINT) AS dup_docs FROM (
             SELECT count(*) AS k FROM documents GROUP BY sha256(text))),
         h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
         hh AS (SELECT n_chars, c,
                  sum(c) OVER (ORDER BY n_chars) AS cum,
                  sum(c) OVER () AS n FROM h),
         md AS (SELECT n_chars AS median_chars FROM hh
                WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum),
         ts AS (SELECT source AS top_source,
                  CAST(sd AS BIGINT) AS top_source_docs FROM (
                    SELECT source, count(*) AS sd FROM documents GROUP BY source)
                ORDER BY sd DESC, source DESC LIMIT 1),
         b AS (SELECT count(*) AS n_docs,
                 count(DISTINCT source) AS n_sources,
                 count(DISTINCT lang) AS n_langs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars
               FROM documents)
         SELECT n_docs, n_sources, n_langs, n_tokens, total_chars,
                n_tokens // n_docs AS mean_tokens_per_doc,
                median_chars, dup_docs,
                (dup_docs * 1000) // n_docs AS dup_permille,
                top_source, top_source_docs
         FROM b CROSS JOIN tt CROSS JOIN dp CROSS JOIN md CROSS JOIN ts
         ORDER BY n_docs""",
    // the same split hash buckets and the same portable band buckets;
    // leak counting is pure integer arithmetic on the distinct pairs
    "q_split_leakage" -> {
      s"""WITH ${Text.minhashBandsCte},
         s AS (SELECT doc_id,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 CASE WHEN b < 80 THEN 0 WHEN b < 90 THEN 1 ELSE 2 END AS rk
               FROM (SELECT doc_id,
                       (((doc_id % $SplitP) * $SplitA + $SplitC) % $SplitP) % 100 AS b
                     FROM documents)),
         sz AS (SELECT split, rk, count(*) AS n_docs FROM s GROUP BY 1, 2),
         pr AS (SELECT DISTINCT la.split AS split_a, lb.split AS split_b,
                  a.doc_id AS da, b.doc_id AS db
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_sig = b.band_sig
                JOIN s la ON la.doc_id = a.doc_id
                JOIN s lb ON lb.doc_id = b.doc_id
                WHERE la.rk < lb.rk),
         ag AS (SELECT split_a, split_b, count(*) AS np,
                  count(DISTINCT db) AS nl FROM pr GROUP BY 1, 2),
         pp AS (SELECT * FROM (VALUES ('train', 'val'), ('train', 'test'),
                  ('val', 'test')) t(split_a, split_b))
         SELECT pp.split_a, pp.split_b,
           CAST(coalesce(np, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(nl, 0) AS BIGINT) AS n_leaked_docs,
           CAST(coalesce(hi.n_docs, 0) AS BIGINT) AS n_docs_b,
           CASE WHEN coalesce(hi.n_docs, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE (CAST(coalesce(nl, 0) AS BIGINT) * 1000) // hi.n_docs
           END AS leaked_permille
         FROM pp
         LEFT JOIN sz hi ON hi.split = pp.split_b
         LEFT JOIN ag ON ag.split_a = pp.split_a AND ag.split_b = pp.split_b
         ORDER BY pp.split_a, pp.split_b"""
    },
    // same integer verdicts (length bounds, max_wc*5 <= n, 3n <= sum_len
    // <= 12n, digest-keyed min-id survivor) folded cumulatively
    "q_filter_funnel" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         tt AS (SELECT doc_id, w FROM t WHERE w != ''),
         pw AS (SELECT doc_id, w, count(*) AS c FROM tt GROUP BY 1, 2),
         f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(max(c) AS BIGINT) AS max_wc,
                 CAST(sum(c * length(w)) AS BIGINT) AS sum_len
               FROM pw GROUP BY 1),
         sv AS (SELECT doc_id,
                  doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
                FROM documents),
         j AS (SELECT
                 coalesce(n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok, FALSE) AS c1,
                 coalesce(n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok
                   AND max_wc * $FunnelTopWordDen <= n_tokens, FALSE) AS c2,
                 coalesce(n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok
                   AND max_wc * $FunnelTopWordDen <= n_tokens
                   AND sum_len >= n_tokens * $FunnelLenLo
                   AND sum_len <= n_tokens * $FunnelLenHi, FALSE) AS c3,
                 coalesce(n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok
                   AND max_wc * $FunnelTopWordDen <= n_tokens
                   AND sum_len >= n_tokens * $FunnelLenLo
                   AND sum_len <= n_tokens * $FunnelLenHi, FALSE) AND keep AS c4
               FROM sv LEFT JOIN f USING (doc_id)),
         a AS (SELECT count(*) AS n0,
                 CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                 CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
               FROM j)
         SELECT stage, stage_name, n_in, n_out,
                (n_out * 1000) // n_in AS kept_permille
         FROM (
           SELECT CAST(0 AS INT) AS stage, 'all' AS stage_name,
                  n0 AS n_in, n0 AS n_out FROM a
           UNION ALL SELECT 1, 'length', n0, n1 FROM a
           UNION ALL SELECT 2, 'repetition', n1, n2 FROM a
           UNION ALL SELECT 3, 'quality', n2, n3 FROM a
           UNION ALL SELECT 4, 'dedup', n3, n4 FROM a)
         ORDER BY stage""",
    // same portable-hash fold into the same inverse-CDF Laplace draw;
    // the ln operand is one division of exact integers on both sides
    "q_dp_counts" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n_docs
                    FROM documents GROUP BY 1, 2),
         u AS (SELECT lang, source, n_docs,
                 (${PortableStringHash.duckdbSql("'dp#' || lang || '#' || source", Text.HashMod)} + 1)
                 / CAST(${Text.HashMod + 1} AS DOUBLE) AS u
               FROM g)
         SELECT lang, source, n_docs,
                round(n_docs + CASE WHEN u < 0.5 THEN ln(2.0 * u)
                                    ELSE -ln(2.0 * (1.0 - u)) END, 4) AS noisy_docs_sim
         FROM u ORDER BY lang, source""",
    // the same funnel verdicts → survivor-class k-gate → released
    // composition; the noise draw replays the rel#-prefixed portable
    // hash fold; every other statistic is exact-integer
    "q_pipeline_release" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         tt AS (SELECT doc_id, w FROM t WHERE w != ''),
         pw AS (SELECT doc_id, w, count(*) AS c FROM tt GROUP BY 1, 2),
         f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(max(c) AS BIGINT) AS max_wc,
                 CAST(sum(c * length(w)) AS BIGINT) AS sum_len
               FROM pw GROUP BY 1),
         sv AS (SELECT doc_id,
                  doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
                FROM documents),
         pass AS (SELECT d.lang, d.source, d.n_chars // 100 AS len_bucket
                  FROM documents d JOIN sv USING (doc_id)
                  LEFT JOIN f USING (doc_id)
                  WHERE coalesce(n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok
                    AND max_wc * $FunnelTopWordDen <= n_tokens
                    AND sum_len >= n_tokens * $FunnelLenLo
                    AND sum_len <= n_tokens * $FunnelLenHi, FALSE) AND keep),
         big AS (SELECT source, len_bucket FROM pass
                 GROUP BY 1, 2 HAVING count(*) >= $AnonK),
         rel AS (SELECT p.lang, p.source FROM pass p
                 JOIN big USING (source, len_bucket)),
         rc AS (SELECT lang, source, count(*) AS nr FROM rel GROUP BY 1, 2),
         raw AS (SELECT lang, source, count(*) AS n_raw
                 FROM documents GROUP BY 1, 2),
         u AS (SELECT raw.lang, raw.source, n_raw,
                 CAST(coalesce(nr, 0) AS BIGINT) AS n_released,
                 (${PortableStringHash.duckdbSql("'rel#' || raw.lang || '#' || raw.source", Text.HashMod)} + 1)
                 / CAST(${Text.HashMod + 1} AS DOUBLE) AS u
               FROM raw LEFT JOIN rc
                 ON rc.lang = raw.lang AND rc.source = raw.source)
         SELECT lang, source, CAST(n_raw AS BIGINT) AS n_raw, n_released,
                (n_released * 1000) // n_raw AS released_permille,
                round(n_released + CASE WHEN u < 0.5 THEN ln(2.0 * u)
                                        ELSE -ln(2.0 * (1.0 - u)) END, 4)
                  AS noisy_released_sim
         FROM u ORDER BY lang, source""",
    // the span#-prefixed portable-hash mask, the lag-window span
    // starts, the running span count, and string_agg ORDER BY pos
    // replaying the ordered-struct assembly
    "q_span_corrupt" ->
      s"""WITH w AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w FROM (
             SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM (
               SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents) s0) s1),
         m AS (SELECT doc_id, pos, w,
             ${PortableStringHash.duckdbSql("'span#' || CAST(doc_id AS VARCHAR) || '#' || CAST(pos AS VARCHAR)", Text.HashMod)} % $SpanMaskMod < $SpanMaskKeep AS m
             FROM w),
         sp AS (SELECT *, m AND NOT coalesce(
               lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS start
             FROM m),
         sn AS (SELECT *, sum(CASE WHEN start THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS span
             FROM sp),
         tok AS (SELECT doc_id, pos, span,
             CASE WHEN NOT m THEN w
                  WHEN start THEN '<X' || CAST(span - 1 AS VARCHAR) || '>' END AS itok,
             CASE WHEN m AND start THEN '<X' || CAST(span - 1 AS VARCHAR) || '> ' || w
                  WHEN m THEN w END AS ttok
             FROM sn)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(max(span) AS BIGINT) AS n_spans,
                coalesce(string_agg(itok, ' ' ORDER BY pos), '') AS input_text,
                coalesce(string_agg(ttok, ' ' ORDER BY pos), '') AS target_text
         FROM tok GROUP BY doc_id ORDER BY doc_id""",
    // pure integer counting over the same quasi-identifier rollup
    "q_k_anonymity" ->
      s"""SELECT source, n_chars // 100 AS len_bucket,
                count(*) AS class_size,
                count(DISTINCT lang) AS n_langs,
                count(*) >= $AnonK AS k_anonymous,
                count(DISTINCT lang) >= $DiversityL AS l_diverse
         FROM documents GROUP BY 1, 2 ORDER BY source, len_bucket""",
    // same word-frequency training table, same separator-prefixed
    // symbol strings, same (freq desc, l, r) argmax, same
    // left-to-right non-overlapping replace per round — every
    // statistic an exact integer
    "q_bpe_merges" -> {
      val union = (1 to BpeRounds).map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")
      s"""WITH $BpeOracleTrainCtes
         SELECT round, l AS merge_left, r AS merge_right, f AS pair_freq
         FROM ($union) ORDER BY round"""
    },
    // same induction chain (r1..r8), then the same 8 replaces applied
    // to the DISTINCT vocab and joined back to the per-source rollup —
    // every statistic an exact integer, ratios by floor division
    "q_bpe_encode" -> {
      val applies = (1 to BpeRounds).map { k =>
        s""",
         v$k AS (SELECT word, CASE WHEN r.l IS NULL THEN v.ws
                   ELSE replace(v.ws, '~' || r.l || '~' || r.r, '~' || r.l || r.r) END AS ws
                 FROM v${k - 1} v LEFT JOIN r$k r ON TRUE)"""
      }.mkString
      s"""WITH $BpeOracleTrainCtes,
         wv AS (SELECT source, w AS word, count(*) AS cnt FROM
           (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
           WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY source, w),
         v0 AS (SELECT word, regexp_replace(word, '(.)', '~\\1', 'g') AS ws
                FROM (SELECT DISTINCT word FROM wv))
         $applies,
         e AS (SELECT word, CAST(len(string_split(substr(ws, 2), '~')) AS BIGINT) AS n_tok
               FROM v$BpeRounds)
         SELECT source, count(*) AS n_vocab,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * length(word)) AS BIGINT) AS n_chars,
           (CAST(sum(cnt * n_tok) AS BIGINT) * 1000) // CAST(sum(cnt) AS BIGINT)
             AS tokens_per_kword,
           (CAST(sum(cnt * length(word)) AS BIGINT) * 1000)
             // CAST(sum(cnt * n_tok) AS BIGINT) AS chars_per_token_milli
         FROM wv JOIN e USING (word)
         GROUP BY source ORDER BY source"""
    },
    // same integer difficulty proxy and contiguous 32-doc cuts
    "q_curriculum" ->
      """WITH t AS (SELECT doc_id, source, n_chars,
           len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         r AS (SELECT *, (n_chars * 1000) // n_tokens AS diff_milli FROM t),
         b AS (SELECT *, (row_number() OVER (PARTITION BY source
                 ORDER BY diff_milli, doc_id) - 1) // 32 AS batch FROM r)
         SELECT source, batch, count(*) AS n_docs,
           min(diff_milli) AS min_diff, max(diff_milli) AS max_diff,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM b GROUP BY source, batch ORDER BY source, batch""",
    // +1-smoothed bucket ratios; every ln operand is integer-valued
    "q_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, source,
           ${PortableStringHash.duckdbSql("w", 1000003L)} % 256 AS b
           FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE w != ''),
         bc AS (SELECT b, CAST(count(*) AS BIGINT) AS raw_c,
                  CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS tgt_c
                FROM t GROUP BY b),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_raw,
                 CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS n_tgt
               FROM t)
         SELECT doc_id, count(*) AS n_tokens,
           round(sum(ln(tgt_c + 1.0) - ln(n_tgt + 256.0)
                     - ln(raw_c + 1.0) + ln(n_raw + 256.0)), 4) AS logw,
           round(sum(ln(tgt_c + 1.0) - ln(n_tgt + 256.0)
                     - ln(raw_c + 1.0) + ln(n_raw + 256.0)), 4) > 0.0 AS keep
         FROM t JOIN bc USING (b) CROSS JOIN g
         GROUP BY doc_id ORDER BY doc_id""",
    // same (0,1]-shifted hash uniform, same ln(u)/w A-Res key, same
    // doc_id tiebreak; the key never appears in the output
    "q_sample_weighted" ->
      """WITH h AS (SELECT doc_id, source, n_chars,
           ((((doc_id % 1000003) * 2654435761 + 99991) % 1000003) + 1)
             / CAST(1000004 AS DOUBLE) AS u
           FROM documents WHERE n_chars > 0),
         r AS (SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (PARTITION BY source
             ORDER BY ln(u) / n_chars DESC, doc_id) AS INT) AS draw_rank
           FROM h)
         SELECT doc_id, source, n_chars, draw_rank
         FROM r WHERE draw_rank <= 10 ORDER BY source, draw_rank""",
    // same mixed-hash rank, same doc_id tiebreak
    "q_sample_per_group" ->
      """WITH h AS (SELECT doc_id, source, n_chars,
           ((doc_id % 1000003) * 2654435761 + 54321) % 1000003 AS hkey FROM documents),
         r AS (SELECT *, CAST(row_number() OVER (
             PARTITION BY source ORDER BY hkey, doc_id) AS INT) AS draw_rank
           FROM h)
         SELECT doc_id, source, n_chars, hkey, draw_rank
         FROM r WHERE draw_rank <= 10 ORDER BY source, draw_rank""",
    "q_split" ->
      """WITH a AS (SELECT doc_id, source, n_chars,
           (((doc_id % 1000003) * 2654435761 + 12345) % 1000003) % 100 AS bucket FROM documents),
         s AS (SELECT doc_id, source, n_chars, bucket,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           FROM a),
         g AS (SELECT split, source, CAST(count(*) AS INT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(bucket) AS BIGINT) AS bucket_checksum
           FROM s GROUP BY split, source)
         SELECT split, source, n_docs, sum_chars, bucket_checksum,
           round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY source), 6) AS source_frac
         FROM g ORDER BY split, source""",
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM t)
         SELECT doc_id, source, n_tokens,
           CAST(floor(cum_before / 128.0) AS INT) AS bin
         FROM c ORDER BY doc_id""",
    "q_dedup_incremental" ->
      s"""WITH ${Text.minhashBandsCte},
         hist AS (SELECT DISTINCT band, band_sig FROM bands WHERE doc_id % 10 < 8),
         delta AS (SELECT doc_id, band, band_sig FROM bands WHERE doc_id % 10 >= 8),
         hits AS (SELECT delta.doc_id, CAST(count(hist.band) AS INT) AS n_band_hits
                  FROM delta LEFT JOIN hist
                    ON delta.band = hist.band AND delta.band_sig = hist.band_sig
                  GROUP BY delta.doc_id),
         ex AS (SELECT d.doc_id, count(h.text) > 0 AS dup_exact
                FROM (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8) d
                LEFT JOIN (SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 8) h
                  ON d.text = h.text
                GROUP BY d.doc_id)
         SELECT hits.doc_id, n_band_hits, dup_exact, (n_band_hits > 0 OR dup_exact) AS dup_near
         FROM hits JOIN ex ON hits.doc_id = ex.doc_id
         ORDER BY hits.doc_id""",
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         s AS (SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct,
           list_max(list_transform(list_distinct(ws), w -> len(list_filter(ws, x -> x = w)))) AS top_cnt,
           CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                ELSE CAST([] AS VARCHAR[]) END AS bs
           FROM d),
         f AS (SELECT doc_id, CAST(n_words AS INT) AS n_words,
           round(1.0 - n_distinct * 1.0 / n_words, 6) AS dup_word_frac,
           round(top_cnt * 1.0 / n_words, 6) AS top_word_frac,
           round(list_max(list_transform(list_distinct(bs), g -> len(list_filter(bs, x -> x = g)))) * 1.0 / len(bs), 6) AS top_bigram_frac
           FROM s)
         SELECT doc_id, n_words, dup_word_frac, top_word_frac, top_bigram_frac,
           dup_word_frac > 0.6 OR top_word_frac > 0.2 OR top_bigram_frac > 0.1 AS flagged
         FROM f ORDER BY doc_id""",
    "q_decontam" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM d) x),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 7)
         SELECT dg.doc_id, CAST(count(*) AS INT) AS n_grams, CAST(count(b.g) AS INT) AS n_overlap,
                count(b.g) > 0 AS contaminated
         FROM (SELECT doc_id, g FROM g WHERE doc_id % 20 != 7) dg
         LEFT JOIN bench b USING (g)
         GROUP BY dg.doc_id ORDER BY dg.doc_id""",
    "q_vocab_mask" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t AS (SELECT doc_id, pos, ws[pos] AS w
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM d) x),
         counts AS (SELECT w, count(*) AS c FROM t GROUP BY w),
         vocab AS (SELECT w FROM (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM counts) r WHERE rn <= 20)
         SELECT t.doc_id, CAST(count(*) AS INT) AS n_tokens,
           CAST(count(*) FILTER (v.w IS NULL) AS INT) AS n_unk,
           round(count(*) FILTER (v.w IS NULL) * 1.0 / count(*), 6) AS unk_frac,
           string_agg(coalesce(v.w, '<unk>'), ' ' ORDER BY pos) AS masked_text
         FROM t LEFT JOIN vocab v USING (w)
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    // epoch ≤ 64 static bound: the true max is ceil(max/n)+1 ≈ 4 here
    // (DuckDB's range() can't take lateral column bounds, so the
    // explode is a bounded inequality join instead)
    "q_mix_epochs" ->
      """WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         r AS (SELECT lang, (SELECT max(n_docs) FROM n) * 1000 // n_docs AS permille FROM n)
         SELECT d.doc_id, d.lang, r.permille, t.epoch
         FROM documents d
         JOIN r USING (lang)
         JOIN range(1, 64) t(epoch)
           ON t.epoch <= r.permille // 1000
                + (CASE WHEN ((d.doc_id * 31 + 11) % 1000003) % 1000 < r.permille % 1000
                        THEN 1 ELSE 0 END)
         ORDER BY d.doc_id, t.epoch""",
    "q_sample_temperature" ->
      """WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         r AS (SELECT lang, CAST(floor(sqrt((SELECT min(n_docs) FROM n) * 1.0 / n_docs) * 1000) AS INT) AS keep_permille FROM n)
         SELECT d.doc_id, d.lang, r.keep_permille
         FROM documents d JOIN r USING (lang)
         WHERE ((d.doc_id * 31 + 11) % 1000003) % 1000 < r.keep_permille
         ORDER BY d.doc_id""",
    "q_inverted_index" ->
      """WITH t AS (SELECT DISTINCT doc_id, w
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) x)
         SELECT w AS word, CAST(count(*) AS BIGINT) AS df,
                string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM t GROUP BY w ORDER BY word""",
  )
}
