package graft.ops

import graft.Tables
import graft.functions.{PortableHash64, PortableStringHash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis + document deduplication (SURVEY.md §2.9 and the
  * north-star LLM-training-data operators): wordcount, TF-IDF, exact
  * and near dedup (n-gram Jaccard; MinHash-LSH and SimHash as the
  * scale path, keyed on the portable 64-bit hash
  * [[graft.functions.PortableHash64]], so banding, bucket reps,
  * transitive-closure CC, and the vote→sign→bit simhash are each
  * DuckDB-oracle-checked), language ID heuristic, quality
  * scoring, token counting, length-bucket histograms, and
  * rolling-hash fingerprinting.
  *
  * The wordcount explode→groupBy is the DataFrame rendering of the
  * canonical `flatMap`+`reduceByKey` shape the reference's PageRank
  * loop uses (`assignment1/part3/task1/task1.py:51-52`).
  *
  * Scale notes: every operator is a constant number of shuffles over
  * exploded token/shingle rows — no driver-side state, no collect.
  * The shared-shingle candidate join (n-gram Jaccard) is quadratic in
  * docs-per-shingle; at 100 TB you first drop stop-shingles (document
  * frequency cap), which is one extra groupBy — the MinHash banding
  * path bounds candidates by construction and is the preferred
  * at-scale dedup.
  */
object Text {

  private def words(c: Column): Column = split(c, " ")

  /** Engine-portable polynomial character hash: fold of
    * 31·acc + ascii(char) mod [[HashMod]]. Expressible identically in
    * DuckDB (`list_reduce` over `string_split`) because the 0-init
    * first step `(0·31 + c₁) mod M ≡ c₁` matches an init-less fold.
    * Keys the small-range hashes that cross the oracle boundary (CMS
    * cells, feature buckets, samples); the near-dup family needs all
    * 64 bits mixed and keys on [[PortableHash64]]. Rendered by the
    * native [[graft.functions.PortableStringHash]] expression — the
    * equivalent HOF fold ([[charHashHof]]) walks an interpreted tree
    * per character and dominated q_hash_embed's profile. */
  private[ops] val HashMod = 1000003L
  private[ops] def charHash(c: Column): Column =
    PortableStringHash.portableHash(c, HashMod)

  /** The HOF rendering charHash replaced; kept as the semantic
    * specification the native expression is spec-pinned against. */
  private[graft] def charHashHof(c: Column): Column =
    aggregate(split(c, ""), lit(0L), (a, ch) => (a * 31L + ascii(ch)) % HashMod)

  /** Count-min sketch geometry: depth (independent hash rows) ×
    * width (counters per row). 4×256 keeps the sketch at 1 KiB of
    * longs — the point of the operator is that this size is FIXED as
    * the corpus grows. */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Count-min sketch vs exact heavy hitters: estimate the top-20
    * word frequencies from a 4×256 sketch and report each estimate
    * next to its exact count (overcount ≥ 0 is the CMS guarantee —
    * PropertySpec-style invariant carried in the output itself).
    *
    * Scale shape: the sketch is built from the per-WORD exact rollup
    * (hash each distinct word 4×, sum counts into cells), not by
    * hashing every token instance — same cells, vocabulary-sized
    * input. The 1024-cell sketch then broadcasts into the 20-row
    * probe join. At 100 TB the sketch stays 1 KiB while exact
    * per-word counting pays a full vocabulary shuffle — the output
    * quantifies exactly what that buys (overcount) against what it
    * costs. Hash rows are salted renderings of the engine-portable
    * [[charHash]], so the oracle reproduces every cell bit-for-bit. */
  def cmsTopk(s: SparkSession, d: String): DataFrame =
    cmsTopkCore(Tables.documents(s, d))

  private[graft] def cmsTopkCore(docs: DataFrame): DataFrame = {
    def cellOf(r: Int): Column =
      pmod(charHash(concat(lit(s"cms$r#"), col("word"))), lit(CmsWidth))
        .cast("int")
    val hashCols = array((0 until CmsDepth).map(cellOf): _*)
    val exact = docs
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
    val cells = exact
      .select(col("n_exact"), posexplode(hashCols).as(Seq("r", "c")))
      .groupBy(col("r"), col("c")).agg(sum(col("n_exact")).as("cell_n"))
    exact.orderBy(col("n_exact").desc, col("word")).limit(20)
      .select(col("word"), col("n_exact"),
        posexplode(hashCols).as(Seq("r", "c")))
      .join(broadcast(cells), Seq("r", "c"))
      .groupBy(col("word"), col("n_exact"))
      .agg(min(col("cell_n")).as("n_cms"))
      .withColumn("overcount", col("n_cms") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("word"))
  }

  /** KWIC (key-word-in-context) concordance: every occurrence of the
    * target word in a deterministic 1-in-50 doc shard, with ±2 words
    * of context. The shape a corpus-inspection service runs at scale:
    * tokenize → posexplode → match → slice the token array around the
    * match position — all narrow per-row operations (the array rides
    * along with each exploded position, so no self-join back to the
    * document), one final order. The doc shard is key arithmetic, not
    * a sample(): reproducible across engines and runs. */
  def kwic(s: SparkSession, d: String): DataFrame =
    kwicCore(Tables.documents(s, d).filter(col("doc_id") % 50 === 0),
      "merge", 2)

  private[graft] def kwicCore(docs: DataFrame, target: String,
      ctx: Int): DataFrame = {
    val left = least(col("pos"), lit(ctx))
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(col("ws")).as(Seq("pos", "w")))
      .filter(col("w") === target)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          slice(col("ws"), (col("pos") + 1 - left).cast("int"),
            left.cast("int"))).as("left_ctx"),
        concat_ws(" ",
          slice(col("ws"), (col("pos") + 2).cast("int"), lit(ctx))).as("right_ctx"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Tokenize + count (T1): total and per-doc frequencies per word. */
  def wordcount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("word"))

  /** TF-IDF (T2): tf per (doc, term) × ln(N/df). N rides along as a
    * broadcast 1-row aggregate — no collect, no driver scalar. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    // tf is already one row per (doc, word): df falls out of it as a
    // window count over the word partition — ONE consumer of tf, so
    // nothing needs caching, and one shuffle on word does the work of
    // an aggregate and its join-back.
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    tf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("word"))
  }

  /** BM25 query terms — fixed, like q_vector_topk's literal query
    * vector: a search engine's per-request term set is never data. */
  private val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 top-20 (T28, r4): the Okapi ranking function (Robertson &
    * Zaragoza 2009) — what a curation pipeline uses to mine
    * query-relevant training documents at corpus scale. Doc length
    * is `size(split(...))` — narrow arithmetic, no explode — so the
    * only exploded relation is ALREADY filtered to the ≤3 query
    * terms (`array_contains` pushes the filter inside the scan
    * projection; the corpus-wide token stream never shuffles). Term
    * df and the (N, avgdl) corpus stats are tiny aggregates →
    * broadcast. Per-doc term scores land in fixed columns via
    * singleton max-pivot, so the ≤3-term sum happens in ONE
    * deterministic expression order on both engines — a groupBy
    * sum over doubles would fold in partition order and could differ
    * in the last ulp. Top-k = TakeOrderedAndProject on the rounded
    * score, never a global sort. */
  def bm25(s: SparkSession, d: String): DataFrame =
    bm25Core(Tables.documents(s, d))

  /** BM25 over any `(doc_id, text)` relation — DataFrame-
    * parameterized so TextSpec can pin the Okapi closed form on a
    * hand-scored 3-doc fixture. */
  def bm25Core(input: DataFrame): DataFrame = {
    val docs = input
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val hits = docs
      .select(col("doc_id"), col("dl"), explode(
        filter(col("ws"), w => w.isInCollection(Bm25Terms))).as("word"))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = hits.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = hits
      .join(broadcast(df), Seq("word"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("word"),
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("ts"))
    val perTerm = Bm25Terms.map(t =>
      max(when(col("word") === t, col("ts"))).as(s"s_$t"))
    val pivoted = scored.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
    pivoted
      .select(col("doc_id"),
        round(Bm25Terms.map(t => coalesce(col(s"s_$t"), lit(0.0))).reduce(_ + _), 6)
          .as("bm25"),
        Bm25Terms.map(t => col(s"s_$t").isNotNull.cast("int")).reduce(_ + _)
          .as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
  }

  /** Exact dedup (T3): content-hash grouping; survivor = min doc_id.
    * sha2-256 matches DuckDB's sha256 hex. One shuffle on the hash. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** Soft dedup by downweighting (T44, r5 wave 18): instead of
    * DELETING duplicate documents, weight every copy by 1/k where k is
    * its text's global copy count — the repetition-aware sampling
    * weight pipelines use when duplicates carry signal (popular ≠
    * redundant) but must not dominate the token budget. Weights are
    * EXACT integer millionths (`1000000 div k` — no double division
    * whose sum order could diverge cross-engine), reported per source
    * as effective vs raw document mass. Shape: one digest-keyed window
    * count (32-byte fingerprints shuffle, text never does) + one
    * source rollup. */
  def dedupSoft(s: SparkSession, d: String): DataFrame =
    dedupSoftCore(Tables.documents(s, d))

  /** Downweighting over any `(doc_id, source, text)` relation —
    * DataFrame-parameterized so TextSpec can pin the 1/k arithmetic on
    * planted duplicate groups (the harness corpus is all-singleton). */
  private[graft] def dedupSoftCore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("fp"))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .withColumn("w_millionths", expr("1000000L div n_copies"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        sum(col("w_millionths")).as("eff_millionths"))
      .orderBy(col("source"))

  /** Normalization-then-hash exact dedup (T41, r5 wave 13): the
    * "fuzzy exact" pass every pretraining recipe runs between strict
    * sha2 (T3) and MinHash (J7) — lowercase, strip non-alphanumerics,
    * collapse whitespace, THEN hash, so docs differing only in case /
    * punctuation / spacing collapse. Pure per-row codegen'd regex +
    * hash (the PII-redaction posture: touches every byte, shuffles
    * only the 32-byte digest); groups key on the digest, never the
    * text. Patterns spell character classes as `[^a-z0-9 ]` so Java
    * and RE2-family engines read them identically (the T25 lesson). */
  def dedupNormalized(s: SparkSession, d: String): DataFrame =
    dedupNormalizedCore(Tables.documents(s, d))

  /** Normalize-hash grouping over any `(doc_id, text)` relation —
    * DataFrame-parameterized because the harness corpus has no
    * case/punctuation variants (all 500 groups stay singletons), so
    * the collapse behavior is only observable on TextSpec's planted
    * variants. */
  private[graft] def dedupNormalizedCore(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          "  +", " ")), 256).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** Segment width (words) for the line-level dedup below. */
  private val LineSegWords = 16

  /** C4-style line-level dedup WITH text reconstruction (T43, r5 wave
    * 15; Raffel et al. 2020 §2.2 dedup three-sentence spans across
    * the corpus): the corpus is cut into fixed 16-word segments (this
    * corpus has no sentence punctuation), every segment occurrence
    * except the GLOBAL first — by (doc_id, seg_idx) — is removed, and
    * each doc's text is REBUILT from its surviving segments in
    * order. T35 scores/flag docs; this one actually edits them, the
    * missing half of the substring-dedup story. Within-doc repeats
    * dedup too (only the first occurrence anywhere survives).
    *
    * Shape: narrow non-overlapping segment explode (≤ tokens/16 rows
    * per doc) → ONE segment-keyed window (min struct — no sort, no
    * self-join) → doc rollup whose collect_list is bounded by the
    * doc's own segment count. Same single gram-shuffle class as T35;
    * the rebuild is the q_vocab_mask ordered-struct reassembly.
    * collect_list drops the un-kept NULLs on Spark; the oracle says
    * FILTER explicitly because DuckDB's list() keeps them (the
    * rolling-median lesson). */
  def dedupLines(s: SparkSession, d: String): DataFrame =
    dedupLinesCore(Tables.documents(s, d))

  /** Segment dedup over any `(doc_id, text)` relation —
    * DataFrame-parameterized so TextSpec can pin global-first keep,
    * within-doc repeat removal, and the rebuilt text by hand. */
  private[graft] def dedupLinesCore(docs: DataFrame): DataFrame = {
    val bySeg = Window.partitionBy(col("seg"))
    docs
      .select(col("doc_id"), filter(words(col("text")), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(ws) - 1) div $LineSegWords), " +
          s"i -> concat_ws(' ', slice(ws, i * $LineSegWords + 1, $LineSegWords)))"))
        .as(Seq("seg_idx", "seg")))
      .withColumn("first", min(struct(col("doc_id"), col("seg_idx"))).over(bySeg))
      .withColumn("keep",
        col("first.doc_id") === col("doc_id") && col("first.seg_idx") === col("seg_idx"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("keep"), 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("seg_idx"), col("seg"))))),
          st => st("seg"))).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Oracle-coupled constant: the IDF cap used by BOTH the Spark
    * query and its DuckDB oracle (interpolated into the SQL). */
  val NgramMaxDf = 20

  /** Distinct 3-word shingles per document. Docs under 3 words yield
    * none; without the guard sequence(1, size-2) runs DESCENDING into
    * element_at(ws, 0), which throws. */
  private def docShingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 2), i -> " +
          "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))"))
        .as("g"))
      .distinct()

  /** Shared-shingle candidate pairs with exact Jaccard:
    * `(da, db, na, nb, inter, jac)`, jac ≥ `minJac`.
    *
    * The shingle relation feeds no cache: per-doc set sizes ride along
    * as a window count over the doc_id partition, and the self-join's
    * two sides are the *identical* subplan shuffled on the same key,
    * which Spark's ReuseExchange collapses into one computed exchange
    * (PlanSpec pins `ReusedExchange`) — the tokenize+shuffle pipeline
    * runs once. */
  private def jaccardPairs(shRaw: DataFrame, minJac: Double): DataFrame = {
    val sh = shRaw.withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac",
        col("inter") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jac") >= minJac)
  }

  /** N-gram Jaccard near-dup (T3/J7): distinct 3-word shingles,
    * shared-shingle candidate pairs, exact Jaccard ≥ 0.1. */
  /** Pre-sort verified relation of [[dedupNgram]] — exposed so
    * PlanSpec can pin the single-pass window + exchange-reuse
    * contract on the subplan the materialize-before-sort hides from
    * the declared plan (the nearDupEdges precedent). */
  private[graft] def ngramVerified(s: SparkSession, d: String): DataFrame =
    jaccardPairs(
        docShingles(FanOut(Tables.documents(s, d), col("doc_id"))), 0.1)
      .select(col("da"), col("db"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"), col("jac"))

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    // FanOut + materialize-before-sort (r12 second pass): the shingle
    // self-join inherited a 3-4-task ceiling from the one-row-group
    // documents scan, and the presentation sort's range-bounds sample
    // re-ran the agg+jaccard segment (profiled as twin stages) — the
    // dedupPrefix treatment
    Iterate.leaf(ngramVerified(s, d))
      .orderBy(col("da"), col("db"))

  /** IDF-filtered n-gram Jaccard (the at-scale variant of
    * [[dedupNgram]]): shingles whose document frequency exceeds
    * [[NgramMaxDf]] are dropped from the shingle UNIVERSE before any
    * join — stop-shingles are what make shared-shingle candidate
    * generation quadratic on real corpora (every doc shares "in the
    * end" with every other). Jaccard is then exact over the filtered
    * sets; the oracle interpolates the same cap, so results stay
    * hash-comparable. */
  /** Pre-sort verified relation of [[dedupNgramIdf]] — the
    * [[ngramVerified]] exposure, IDF-capped variant. */
  private[graft] def ngramIdfVerified(s: SparkSession, d: String): DataFrame = {
    // the df cap is a window count over the shingle partition: one
    // pass, no df aggregate joined back
    val sh = docShingles(FanOut(Tables.documents(s, d), col("doc_id")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= NgramMaxDf)
      .select("doc_id", "g")
    jaccardPairs(sh, 0.1)
      .select(col("da"), col("db"), col("inter"), col("jac"))
  }

  def dedupNgramIdf(s: SparkSession, d: String): DataFrame =
    // same FanOut + materialize-before-sort rationale as [[dedupNgram]]
    Iterate.leaf(ngramIdfVerified(s, d))
      .orderBy(col("da"), col("db"))

  /** Prefix-filtered exact Jaccard (the LOSSLESS at-scale rendering of
    * [[dedupNgram]], completing the family's third algorithm class):
    * shared-shingle joins are quadratic on stop-shingles, the IDF cap
    * fixes that by CHANGING the universe — prefix filtering (Bayardo
    * et al., WWW 2007 "Scaling Up All Pairs Similarity Search") keeps
    * exact semantics. Order every doc's shingles by global rarity
    * (df asc, shingle asc); for J ≥ 4/5 (the near-dup regime prefix
    * filtering is built for — pruning strength is 1−t, so a low
    * threshold would expose most of every doc) any qualifying pair
    * must overlap in ≥ ceil(4n/5) shingles, so each doc exposes only
    * its first n − ceil(4n/5) + 1 ≈ n/5 rarest shingles to the
    * candidate join — the frequent shingles that drive the quadratic
    * blow-up never enter it (TextSpec pins both losslessness and real
    * pruning against an in-spec naive enumeration). The prefix bound
    * uses integer ceil (`(4n + 4) div 5`) — a float `0.8 * n` could
    * round above an integer and silently shorten the prefix into
    * false negatives. Verification then intersects the candidate
    * pairs' full sorted shingle arrays — linear in candidates, one
    * array build per doc, never a second shingle self-join. On this
    * corpus the ≥ 4/5 pairs are exactly the planted near-duplicates
    * (28/25/256 pairs across the three SFs). */
  def dedupPrefix(s: SparkSession, d: String): DataFrame = {
    // parallelism floor (r12 second pass, FanOut rationale): the
    // shingle windows and the prefix self-join are CPU-per-row stages
    // that inherited a 4-5-task ceiling from the single-row-group
    // documents scan; the doc_id repartition also satisfies the n/rn
    // windows' distribution, so it is the ONE extra exchange
    val docs = FanOut(Tables.documents(s, d), col("doc_id"))
    val cand = prefixCandidates(docs)
    val sets = docShingles(docs)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs"), count(lit(1)).as("n"))
    val verified = cand
      .join(sets.select(col("doc_id").as("da"), col("gs").as("ga"), col("n").as("na")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("gs").as("gb"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jac", col("inter") / col("uni").cast("double"))
      .filter(col("jac") >= lit(PrefixJacNum.toDouble / PrefixJacDen))
      .select(col("da"), col("db"), col("inter"), col("uni"), col("jac"))
    // materialize the tiny verified relation once (F3): the
    // presentation sort's range-bounds sample otherwise re-runs the
    // candidate + intersect segment — profiled as twin ~3.5 s-task
    // stages
    Iterate.leaf(verified)
      .orderBy(col("da"), col("db"))
  }

  /** Sorted-neighborhood dedup blocking (T3 family, r4): sort each
    * language block by text and compare every document only to its
    * w = 2 sorted predecessors — the Hernández–Stolfo merge/purge
    * method (SIGMOD 1995). O(n·w) comparisons instead of O(n²), with
    * ZERO self-join: neighbors arrive via lag() over the
    * (lang)-partitioned sort, the two candidates explode in place,
    * and word-set Jaccard runs only on those. The deterministic
    * complement to the LSH families — exact recall inside the
    * neighborhood, blind across blocks by construction (production
    * runs multiple passes with different block keys; this pass keys
    * on lang + text order). At 100 TB the sort is a range-partitioned
    * shuffle per block; nothing here is quadratic in anything. */
  def dedupSorted(s: SparkSession, d: String): DataFrame =
    dedupSortedCore(Tables.documents(s, d))

  /** Neighborhood pass over any `(doc_id, lang, text)` relation —
    * DataFrame-parameterized so TextSpec can pin pair emission,
    * the w=2 horizon, and block isolation on a hand-sorted fixture. */
  def dedupSortedCore(docs: DataFrame): DataFrame = {
    val grp = Window.partitionBy(col("lang")).orderBy(col("text"), col("doc_id"))
    val staged = docs
      .select(col("doc_id"), col("lang"), col("text"),
        array_distinct(split(col("text"), " ")).as("ws"))
      .withColumn("p1_id", lag(col("doc_id"), 1).over(grp))
      .withColumn("p1_ws", lag(col("ws"), 1).over(grp))
      .withColumn("p2_id", lag(col("doc_id"), 2).over(grp))
      .withColumn("p2_ws", lag(col("ws"), 2).over(grp))
    staged
      .select(col("lang"), col("doc_id"), col("ws"),
        explode(array(
          struct(col("p1_id").as("a_id"), col("p1_ws").as("a_ws")),
          struct(col("p2_id").as("a_id"), col("p2_ws").as("a_ws")))).as("c"))
      .filter(col("c.a_id").isNotNull)
      .select(col("lang"), col("c.a_id").as("doc_a"), col("doc_id").as("doc_b"),
        size(array_intersect(col("c.a_ws"), col("ws"))).cast("long").as("inter"),
        size(array_union(col("c.a_ws"), col("ws"))).cast("long").as("uni"))
      .withColumn("jac", round(col("inter") / col("uni").cast("double"), 6))
      .filter(col("jac") >= 0.5)
      .orderBy(col("lang"), col("doc_a"), col("doc_b"))
  }

  /** Substring-level exact dedup (T-family): the fixed-width-window
    * rendering of Lee et al.'s suffix-array substring dedup
    * ("Deduplicating Training Data Makes Language Models Better",
    * ACL 2022) — every 8-token window of every document, flagged when
    * the identical window also occurs in ANOTHER document, rolled up
    * to a per-doc duplicated-window fraction that drives the removal
    * gate. Catches copied passages inside otherwise-distinct documents
    * that doc-level hashing (exact/MinHash/SimHash) can never see.
    *
    * Shape at 100 TB: windows are built narrowly (transform over a
    * position sequence — no join, no per-token explode-then-regroup),
    * then ONE hash shuffle keyed on the window resolves cross-doc
    * occurrence via min≠max over doc_id (a window pair sharing one
    * WindowExec — cheaper than count(distinct)), and one groupBy
    * rolls up per doc. ~8× token volume through the gram shuffle; a
    * hashed window key ([[PortableHash64]], still oracle-comparable)
    * would shrink shuffle bytes to 8/window; the string key here is
    * collision-free. */
  def dedupSubstring(s: SparkSession, d: String): DataFrame =
    dedupSubstringCore(Tables.documents(s, d), gram = 8, floor = 0.2)

  /** Window-dedup over any `(doc_id, text)` relation, parameterized by
    * gram width and removal floor so TextSpec can pin planted shared
    * passages on a fixture corpus. */
  private[graft] def dedupSubstringCore(docs: DataFrame, gram: Int, floor: Double): DataFrame = {
    val byGram = Window.partitionBy(col("g"))
    docs
      .select(col("doc_id"),
        filter(words(col("text")), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= gram)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - gram),
          i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(gram))))).as("g"))
      .withColumn("dup",
        min(col("doc_id")).over(byGram) =!= max(col("doc_id")).over(byGram))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("dup"), 1)).as("dup_windows"))
      .withColumn("dup_frac",
        round(col("dup_windows") / col("n_windows").cast("double"), 6))
      .withColumn("drop_doc", col("dup_frac") >= floor)
      .orderBy(col("doc_id"))
  }

  /** PMI collocation mining (T22, r4): which word pairs co-occur in
    * documents more than independence predicts —
    * pmi(a,b) = ln(P(a,b) / (P(a)·P(b))) over document-level
    * occurrence. The corpus-analytics primitive behind phrase
    * detection and topic seeding. Candidate pairs come from a per-doc
    * self-join on the doc key: bounded by (distinct words per doc)²
    * per document — linear in the corpus, never vocab² — and the
    * support floor (`c_ab ≥ 5`) is applied at aggregation, before any
    * ln. All counts are integers; the PMI argument is one exact
    * integer ratio cast to double, so the only cross-engine surface
    * is `ln` itself (the q_tfidf precedent: round at 6). The doc
    * count rides in as a 1-row broadcast scalar. */
  def pmi(s: SparkSession, d: String): DataFrame =
    pmiCore(Tables.documents(s, d), minSupport = 5)

  /** PMI over any `(doc_id, text)` relation — DataFrame-parameterized
    * (with the support floor exposed) so AnalyticsSpec can pin
    * hand-computed PMI values on a fixture corpus. */
  private[graft] def pmiCore(docs: DataFrame, minSupport: Int): DataFrame = {
    val w = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .distinct()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = w.as("a").join(w.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("wa"), col("b.w").as("wb"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    val dfs = w.groupBy(col("w")).agg(count(lit(1)).as("c"))
    pairs
      .join(dfs.select(col("w").as("wa"), col("c").as("c_a")), Seq("wa"))
      .join(dfs.select(col("w").as("wb"), col("c").as("c_b")), Seq("wb"))
      .crossJoin(broadcast(nDocs))
      .select(col("wa"), col("wb"), col("c_ab"),
        round(log((col("c_ab") * col("n_docs")).cast("double")
          / (col("c_a") * col("c_b")).cast("double")), 6).as("pmi"))
      .orderBy(col("wa"), col("wb"))
  }

  /** Edit-distance confirmation (T23, r4): the final verification
    * stage of a production dedup pipeline — candidates (prefix
    * filter) → set similarity (Jaccard ≥ 4/5) → CHARACTER-level
    * confirm. Levenshtein is O(len²) per pair, so the staging is the
    * whole point: it runs only on the few set-verified pairs
    * (28/25/256 here), never on candidates, never all-pairs. Distance
    * and lengths are exact integers on both engines (the DP has one
    * definition), and the normalized similarity is one exact integer
    * ratio — the strongest cross-engine determinism class, no
    * rounding contract needed beyond presentation. */
  def dedupEdit(s: SparkSession, d: String): DataFrame = {
    val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // parallelism floor before the O(len²) DP (r12, FanOut): AQE
    // coalesces the verified-pair stage by BYTES (a few MB → ~5
    // tasks) while its cost is CPU per pair; the explicit repartition
    // fans the DP out to the core count — identity at real scale,
    // where the pair relation is wide already
    val scored = FanOut.when(texts)(
      dedupPrefix(s, d).select(col("da"), col("db"))
        .join(texts.select(col("doc_id").as("da"), col("text").as("ta")), Seq("da"))
        .join(texts.select(col("doc_id").as("db"), col("text").as("tb")), Seq("db")),
      col("da"), col("db"))
      .select(col("da"), col("db"),
        // identity short-circuit (r7): on a clone-heavy corpus most
        // verified pairs are byte-identical (edit_dist 0 by definition)
        // — one equality guard skips the O(len²) DP exactly where it's
        // provably zero. Measured at the 10× point: the guard removes
        // the majority of q_dedup_edit's CPU (clone pairs dominate the
        // pair list under replication). CaseWhen evaluates lazily in
        // codegen, so the guarded branch never runs the DP.
        when(col("ta") === col("tb"), lit(0L))
          .otherwise(levenshtein(col("ta"), col("tb")).cast("long")).as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("max_len"))
      .withColumn("edit_sim",
        round(lit(1.0) - col("edit_dist") / col("max_len").cast("double"), 6))
    // materialize the tiny scored relation once (r12): the
    // presentation sort's range-bounds sample otherwise re-runs the
    // whole DP segment — profiled as twin ~1 s stages
    Iterate.leaf(scored)
      .orderBy(col("da"), col("db"))
  }

  /** Jaccard floor of [[dedupPrefix]] as an exact rational (4/5) — the
    * integer prefix-length ceil, the Spark threshold literal, and the
    * oracle SQL all derive from the same pair (lockstep-constant
    * rule), and 4.0/5 parses to the identical double in both
    * engines. */
  private val PrefixJacNum = 4
  private val PrefixJacDen = 5

  /** Candidate pair relation behind [[dedupPrefix]], exposed so
    * TextSpec can pin the prefix-filter guarantees (superset of true
    * pairs, subset of the shared-shingle candidates). */
  private[graft] def prefixCandidates(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
    val rn = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g")))
    val prefix = sh.withColumn("rn", rn)
      .filter(col("rn") <=
        col("n") - expr(s"($PrefixJacNum * n + ${PrefixJacDen - 1}) div $PrefixJacDen") + 1)
      .select(col("doc_id"), col("g"))
    prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Feature-hashed document embeddings (the hashing trick): each
    * word maps to one of 64 buckets via a polynomial character hash
    * chosen to be expressible identically in any engine (fold of
    * 31·acc + ascii(char) mod 1000003, then mod 64 — xxhash would be
    * engine-specific); the document vector is the bucket-count
    * histogram. Nested higher-order functions only — no explode, no
    * shuffle: embedding generation is a narrow map, the shape that
    * matters when the corpus is 100 TB. */
  /** Histogram as ONE fold over the bucket array. The tempting shape —
    * `transform(sequence(0,63), i -> size(filter(buckets, _ === i)))` —
    * re-evaluates the bucket-hash expression for every output dim even
    * when `buckets` is a named column (a lambda body re-evaluates its
    * captured expression per element, and CollapseProject inlines
    * single-textual-reference columns): that shape benched at 34 s for
    * 5000 docs. `aggregate` evaluates its input array exactly once and
    * folds counts into a 64-slot accumulator. */
  private[ops] def withHashedVec(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      // empty tokens (double spaces) are dropped BEFORE hashing: Spark
      // would fold them to bucket 0 while DuckDB's init-less
      // list_reduce errors on the empty char list
      .withColumn("buckets",
        transform(filter(words(col(textCol)), w => w =!= ""), w =>
          pmod(charHash(w), lit(64L)).cast("int")))
      .withColumn("vec",
        aggregate(col("buckets"), array_repeat(lit(0.0), 64),
          (acc, b) => transform(acc, (v, j) => when(j === b, v + 1.0).otherwise(v))))

  /** Declared rendering: the vec counts are integral doubles, joined
    * as int strings so the driver's pandas compare (which can't hash
    * ndarray cells) sees a scalar column; the array-typed vec stays
    * the operator surface (see [[docSim]]). */
  def hashEmbed(s: SparkSession, d: String): DataFrame =
    withHashedVec(Tables.documents(s, d))
      .select(col("doc_id"),
        array_join(transform(col("vec"), v => v.cast("int").cast("string")), "|").as("vec"))
      .orderBy(col("doc_id"))

  /** Document similarity through the hashed vectors: cosine of every
    * doc against the query document (doc 0), via the native
    * cosine_sim expression; the query vector rides along as a 1-row
    * broadcast, never collected. Text → vector → ANN in one plan. */
  def docSim(s: SparkSession, d: String): DataFrame = {
    val vecs = withHashedVec(Tables.documents(s, d)).select(col("doc_id"), col("vec"))
    val query = vecs.filter(col("doc_id") === 0).select(col("vec").as("qvec"))
    vecs.crossJoin(broadcast(query))
      .select(col("doc_id"),
        graft.functions.CosineSimilarity.cosineSim(col("vec"), col("qvec")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Heuristic language ID (north star): marker-word scores with a
    * deterministic argmax. On the synthetic corpus everything is
    * English-ish word soup, so the operator mostly answers 'en' /
    * 'und' — the mechanics (explode-free list intersection, fixed
    * tie-break) are what matters. */
  def langId(s: SparkSession, d: String): DataFrame = {
    // tokenize once into a multi-referenced column; scoring per lang
    // over the same array (inlining words() per score would re-split
    // the text 4× through interpreted HOF lambdas)
    def score(markers: Seq[String]): Column =
      size(filter(col("ws"),
        w => markers.foldLeft(lit(false))((acc, m) => acc || w === m)))
    val sEn = score(Seq("the", "a", "of", "and"))
    val sDe = score(Seq("der", "die", "das", "und"))
    val sFr = score(Seq("le", "la", "et", "les"))
    val sEs = score(Seq("el", "los", "que", "y"))
    Tables.documents(s, d)
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("predicted",
        when(greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")) === 0, "und")
          .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring (north star): length, lexical diversity, stopword
    * ratio → composite score. Pure double arithmetic on both engines —
    * identical operations, bit-identical results, no rounding. */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(ws).as("n_words"),
        size(array_distinct(ws)).as("n_distinct"),
        size(filter(ws, w => w === "the" || w === "a" || w === "of")).as("n_stop"),
        aggregate(transform(ws, w => length(w)), lit(0), (a, x) => a + x).as("sum_word_len"))
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("n_distinct"),
        (col("n_distinct") / col("n_words").cast("double")).as("ttr"),
        (col("n_stop") / col("n_words").cast("double")).as("stop_ratio"),
        (col("sum_word_len") / col("n_words").cast("double")).as("avg_word_len"))
      .withColumn("quality",
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(lit(1.0), col("n_words") / lit(50.0)))
      .orderBy(col("doc_id"))

  }

  /** Model-based quality gate (T-family): a fixed-weight logistic
    * classifier over the [[textQuality]] signal set — the engine
    * rendering of the fastText/linear quality classifiers used to gate
    * web corpora (the weights would come from offline training; here
    * they are pinned constants, which is exactly how a trained model
    * deploys into the pipeline). Score = σ(z) with
    * z = -1 + 3·ttr − 2·stop_ratio + 0.5·ln(n_words/10). The keep
    * decision is taken on z > 0 (pure rational arithmetic, exact on
    * both engines) rather than σ(z) ≥ 0.5, so the one transcendental
    * (exp) only ever appears in the ROUNDED score column — the
    * q_tfidf ln-precedent, applied to the gate's decision boundary.
    * Zero shuffles before the output sort: a 100 TB corpus streams
    * through this entirely map-side. */
  def qualityLogistic(s: SparkSession, d: String): DataFrame =
    qualityLogisticCore(Tables.documents(s, d))

  /** The gate over any `(doc_id, text)` relation — DataFrame-
    * parameterized so TextSpec can pin z/score/keep arithmetic on
    * hand-computed fixtures. */
  private[graft] def qualityLogisticCore(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    docs
      .select(col("doc_id"),
        size(ws).cast("double").as("n_words"),
        (size(array_distinct(ws)) / size(ws).cast("double")).as("ttr"),
        (size(filter(ws, w => w === "the" || w === "a" || w === "of")) /
          size(ws).cast("double")).as("stop_ratio"))
      .withColumn("z",
        lit(-1.0) + lit(3.0) * col("ttr") - lit(2.0) * col("stop_ratio") +
          lit(0.5) * log(col("n_words") / lit(10.0)))
      .select(col("doc_id"),
        round(col("ttr"), 6).as("ttr"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"),
        (col("z") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Token counting (north star): whitespace tokens, a chars/4 BPE
    * estimate, and a regex token family count. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(words(col("text"))).as("n_ws_tokens"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("n_bpe_est"),
        regexp_count(col("text"), lit("[aeiou]+")).as("n_vowel_runs"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("n_word_tokens"))
      .orderBy(col("doc_id"))

  /** Tokenizer fertility stats per source (T38, r5 wave 11): bytes
    * and chars per whitespace token plus the BPE-estimate fertility
    * ratio — the readout that decides whether a tokenizer is a good
    * fit for a corpus slice before committing a training run. All
    * sums are exact integers (octet/char/token counts) into single
    * final divisions, so both engines divide identical operands; one
    * rollup shuffle over ~|sources| keys, map-side combinable. */
  def tokenizerStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        octet_length(col("text")).cast("long").as("bytes"),
        length(col("text")).cast("long").as("chars"),
        size(filter(words(col("text")), w => w =!= "")).cast("long").as("toks"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("bpe"))
      .filter(col("toks") > 0)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        round(sum(col("bytes")) / sum(col("toks")).cast("double"), 4).as("bytes_per_token"),
        round(sum(col("chars")) / sum(col("toks")).cast("double"), 4).as("chars_per_token"),
        round(sum(col("bpe")) / sum(col("toks")).cast("double"), 4).as("bpe_fertility"))
      .orderBy(col("source"))

  /** Zipf-law fit per source (T39, r5 wave 11): OLS of ln(count) on
    * ln(rank) over each source's top-100 words — the corpus-health
    * diagnostic (natural text slopes ≈ −1; synthetic/templated text
    * drifts). Ranks come from INTEGER word counts with a (count desc,
    * word) total order, so both engines rank identical values and ln
    * sees identical integers; the OLS moments then follow the
    * q_regression lockstep contract (averages rounded at 6 before the
    * closed form). Token volume shuffles once into the (source, word)
    * rollup; the rank window partitions by source; the fit sees ≤ 100
    * rows per source. */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val bySource = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("word"))
    val ranked = Tables.documents(s, d)
      .select(col("source"), explode(filter(words(col("text")), w => w =!= "")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(bySource))
      .filter(col("rank") <= 100)
      .select(col("source"), log(col("rank")).as("x"), log(col("cnt")).as("y"))
    val m = ranked.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      round(avg(col("x")), 6).as("mx"), round(avg(col("y")), 6).as("my"),
      round(avg(col("x") * col("y")), 6).as("mxy"),
      round(avg(col("x") * col("x")), 6).as("mxx"),
      round(avg(col("y") * col("y")), 6).as("myy"))
    val cov = col("mxy") - col("mx") * col("my")
    val varx = col("mxx") - col("mx") * col("mx")
    val vary = col("myy") - col("my") * col("my")
    val slope = when(varx =!= 0.0, cov / varx)
    m.select(col("source"), col("n"),
        round(slope, 6).as("zipf_slope"),
        round(col("my") - slope * col("mx"), 6).as("intercept"),
        round(when(varx =!= 0.0 && vary =!= 0.0,
          cov * cov / (varx * vary)), 6).as("r2"))
      .orderBy(col("source"))
  }

  /** N-gram novelty vs earlier documents (T40, r5 wave 11): for each
    * doc, the fraction of its DISTINCT 5-grams never seen in any
    * LOWER-id document — the directional contamination/staleness
    * readout over an ordered corpus (T35's substring dedup flags
    * sharing symmetrically; novelty says who copied whom under the id
    * order). First-occurrence rides as a min(doc_id) window over the
    * gram partition — the same single gram shuffle as T35, no
    * self-join, then one doc rollup. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyCore(Tables.documents(s, d), 5)

  /** Novelty over any `(doc_id, text)` relation — parameterized so
    * TextSpec can pin the who-copied-whom direction on planted docs. */
  private[graft] def ngramNoveltyCore(docs: DataFrame, gram: Int): DataFrame = {
    val byGram = Window.partitionBy(col("g"))
    docs
      .select(col("doc_id"), filter(words(col("text")), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= gram)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(0), size(col("ws")) - gram),
          i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(gram)))))).as("g"))
      .withColumn("seen_earlier", min(col("doc_id")).over(byGram) < col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("seen_earlier"), 1)).as("n_seen"))
      .withColumn("novelty",
        round((col("n_grams") - col("n_seen")) / col("n_grams").cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash document fingerprint (north star): left fold of
    * (31·acc + ascii(w) + len(w)) mod 1e9+7 over the word stream.
    * The fold starts at 0 so Spark's `aggregate` and DuckDB's
    * init-less `list_reduce` agree (0·31 + v₁ ≡ v₁). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        aggregate(
          transform(words(col("text")), w => (ascii(w) + length(w)).cast("long")),
          lit(0L),
          (acc, v) => (acc * 31L + v) % 1000000007L).as("fp"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // MinHash-LSH and SimHash: the at-scale near-dup path. Every hash
  // here is the portable 64-bit [[PortableHash64]], which DuckDB
  // reproduces bit for bit, so each query is oracle-compared.
  // ---------------------------------------------------------------

  val MinhashPerms = 16
  val MinhashBands = 8

  /** MinHash slot modulus, the Mersenne prime 2³¹−1. */
  private val SlotP = 2147483647L

  /** Slot i's permutation x ↦ (aᵢ·x + bᵢ) mod [[SlotP]] of a shingle's
    * 31 low hash bits: the 2-universal family, with every product
    * below 2⁶² so neither engine overflows. Coefficients come from
    * the splitmix64 finalizer of 2i+1 and 2i+2. */
  private val slotCoefs: Seq[(Long, Long)] = (0 until MinhashPerms).map { i =>
    (1 + Math.floorMod(PortableHash64.mix(2L * i + 1), SlotP - 1),
      Math.floorMod(PortableHash64.mix(2L * i + 2), SlotP))
  }

  /** Per-doc MinHash signature over `(doc_id, g)` shingle rows: one
    * hash per shingle, 16 slot permutations of it as 16 aggregate
    * columns `mh0..mh15` (one shuffle keyed on doc_id, no slot
    * explosion — the naive shape is |shingles|×16 exploded rows + a
    * (doc,slot) shuffle). */
  private def minhashSignatures(sh: DataFrame): DataFrame = {
    val slots = slotCoefs.zipWithIndex.map { case ((a, b), i) =>
      min((col("x") * a + b) % SlotP).as(s"mh$i")
    }
    sh.select(col("doc_id"), PortableHash64.hash64(col("g")).bitwiseAND(SlotP).as("x"))
      .groupBy("doc_id").agg(slots.head, slots.tail: _*)
  }

  /** Per-doc LSH band signatures: distinct 3-word shingles → 16
    * min-hash slots → 8 bands of 2 rows, threshold s* = (1/b)^(1/r)
    * ≈ 0.35 (the banding of "Implementing Distributed Similarity Joins
    * using LSH", EDBT 2022). A band signature is the exact pair
    * encoding mh₂ᵦ·P + mh₂ᵦ₊₁ (no hash, no collisions). Documents too
    * short to shingle (<3 words) are absent. */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    require(MinhashPerms / MinhashBands == 2, "pair encoding below assumes 2 rows per band")
    val bandCols = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        (col(s"mh${2 * b}") * SlotP + col(s"mh${2 * b + 1}")).as("band_sig")).as(s"bs$b")
    }
    minhashSignatures(docShingles(docs))
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** Band-bucket membership with each bucket's min-doc rep:
    * `(doc_id, band, band_sig, band_rep)`. The rep is a window min
    * over the bucket partition — one shuffle, one consumer of the
    * band subplan (shingle explode + 16-way minhash agg). */
  private def bandsWithReps(docs: DataFrame): DataFrame =
    minhashBands(docs).withColumn("band_rep",
      min(col("doc_id")).over(Window.partitionBy("band", "band_sig")))

  /** Shared clustering tail: left-join every doc (unshingleable ones
    * included) to its `(doc_id, rep)` assignment; unmatched docs
    * self-cluster. */
  private def toClusters(docs: DataFrame, assignment: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(assignment, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
      .withColumn("is_dup", col("doc_id") =!= col("cluster_rep"))
      .orderBy(col("doc_id"))

  /** MinHash-LSH dedup (T3): cluster representative = min doc_id over
    * each band bucket (single-pass LSH clustering; the transitive
    * closure is [[minhashClustersClosure]]). The shingle-hash and
    * signature stage costs CPU per row, so the scan is fanned out to
    * the session's parallelism floor ([[FanOut]], identity at real
    * scale), as in [[minhashCalibrate]] and the two entry points
    * below. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    minhashClusters(FanOut(Tables.documents(s, d), col("doc_id")))

  /** Core MinHash-LSH over any `(doc_id, text)` relation — one-pass
    * clustering (rep = min doc over each band bucket; not transitive). */
  def minhashClusters(docs: DataFrame): DataFrame =
    toClusters(docs,
      bandsWithReps(docs).groupBy("doc_id").agg(min(col("band_rep")).as("rep")))

  /** MinHash calibration curve (T53, r6): the measurement loop a
    * production dedup deployment runs before trusting its LSH
    * thresholds — parallel to V11's ANN recall harness, for the
    * near-dup family. Over the df-capped shared-shingle candidate
    * universe (the declared at-scale universe of [[dedupNgramIdf]]),
    * every candidate pair contributes its EXACT Jaccard and its
    * 16-slot MinHash estimate ([[minhashSignatures]]; slot-agreement
    * fraction — the estimator whose expectation IS Jaccard), plus
    * whether the 8×2 banding would have caught it; pairs roll up by
    * exact-Jaccard decile into the empirical calibration table:
    * estimator bias per decile and the LSH S-curve (hit rate vs
    * similarity, threshold s* = (1/8)^(1/2) ≈ 0.35) as data instead
    * of formula.
    *
    * Determinism discipline: per-pair values are quantized to exact
    * integers FIRST (jac_milli/est_milli by floor-div, hits as 0/1),
    * so each decile mean is ONE division of two exact integer sums —
    * no order-dependent double accumulation crosses engines. Scale
    * shape: the df cap bounds candidate generation (each shingle
    * pairs ≤ cap docs); signatures aggregate per doc and join the
    * pair list by id; output is ≤10 rows at any corpus size. */
  def minhashCalibrate(s: SparkSession, d: String): DataFrame =
    // parallelism floor (r12 second pass): the all-pairs shingle join
    // + 8-perm signature rollup ran at 3-4 tasks off the one-row-group
    // scan; identity at real scale (FanOut gate)
    minhashCalibrateCore(FanOut(Tables.documents(s, d), col("doc_id")))

  private[graft] def minhashCalibrateCore(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= NgramMaxDf)
      .select("doc_id", "g")
    val pairs = jaccardPairs(sh, 0.0) // da, db, na, nb, inter (+jac, unused)
    val sigs = minhashSignatures(sh)
    val a = sigs.select(col("doc_id").as("da") +:
      (0 until MinhashPerms).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = sigs.select(col("doc_id").as("db") +:
      (0 until MinhashPerms).map(i => col(s"mh$i").as(s"b$i")): _*)
    val nMatch = (0 until MinhashPerms)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val lshHit = (0 until MinhashBands)
      .map(bd => col(s"a${2 * bd}") === col(s"b${2 * bd}") &&
        col(s"a${2 * bd + 1}") === col(s"b${2 * bd + 1}"))
      .reduce(_ || _)
    pairs.join(a, "da").join(b, "db")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("n_match", nMatch)
      .withColumn("hit", when(lshHit, 1L).otherwise(0L))
      .select(
        least(expr("(10 * inter) div uni"), lit(9L)).as("decile"),
        expr("(1000 * inter) div uni").as("jac_milli"),
        expr(s"(1000 * n_match) div $MinhashPerms").as("est_milli"),
        abs(expr("(1000 * inter) div uni") - expr(s"(1000 * n_match) div $MinhashPerms"))
          .as("abs_err_milli"),
        col("hit"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jac_milli")).as("sj"), sum(col("est_milli")).as("se"),
        sum(col("abs_err_milli")).as("sa"), sum(col("hit")).as("sh"))
      .select(col("decile"), col("n_pairs"),
        round(col("sj") / col("n_pairs").cast("double"), 2).as("mean_jac_milli"),
        round(col("se") / col("n_pairs").cast("double"), 2).as("mean_est_milli"),
        round(col("sa") / col("n_pairs").cast("double"), 2).as("mean_abs_err_milli"),
        round(col("sh") * 1000.0 / col("n_pairs").cast("double"), 2).as("hit_rate_milli"))
      .orderBy(col("decile"))
  }

  /** Canonical survivor selection (T-family extension): the step a
    * corpus dedup actually WRITES — the detection families (T3, J7,
    * V4…) say which docs are duplicates of each other; this decides
    * which copy survives. Clusters come from the transitive-closure
    * MinHash path ([[minhashClustersClosure]]), then
    * each cluster keeps its LONGEST member (n_chars desc, doc_id as
    * the deterministic tie-break) — the "keep the most complete copy"
    * convention of pretraining dedup, where near-dup clusters mix
    * truncated and full crawls of the same page. Cluster size and the
    * keep flag ride two windows over the SAME cluster_rep partition
    * (cluster sizes are bounded by dup-group cardinality, never
    * corpus-sized); everything upstream is the proven closure
    * machinery. */
  def dedupSurvivors(s: SparkSession, d: String): DataFrame =
    dedupSurvivorsCore(Tables.documents(s, d))

  /** Survivor selection over any `(doc_id, text, n_chars)` relation —
    * DataFrame-parameterized so TextSpec can pin the longest-wins /
    * tie-break / singleton-keeps contract on a planted cluster. */
  def dedupSurvivorsCore(docs: DataFrame): DataFrame = {
    val clusters = minhashClustersClosure(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val part = Window.partitionBy(col("cluster_rep"))
    val rk = row_number().over(part.orderBy(col("n_chars").desc, col("doc_id")))
    clusters
      .withColumn("cluster_size", count(lit(1)).over(part))
      .withColumn("keep", rk === 1)
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Transitive-closure MinHash clustering: band buckets become star
    * edges (bucket-rep → member) and [[Components]] propagates min
    * labels to a fixed point, so chains A~B~C collapse into one
    * cluster even when A and C never share a bucket — the semantics a
    * real corpus dedup wants. */
  def dedupMinhashClosure(s: SparkSession, d: String): DataFrame =
    minhashClustersClosure(FanOut(Tables.documents(s, d), col("doc_id")))

  def minhashClustersClosure(docs: DataFrame): DataFrame = {
    val edges = bandsWithReps(docs)
      .filter(col("doc_id") =!= col("band_rep"))
      .select(col("band_rep").as("src"), col("doc_id").as("dst"))
      .distinct()
    val comps = Components.connectedComponents(edges)
      .select(col("node").as("doc_id"), col("comp").as("rep"))
    toClusters(docs, comps)
  }

  /** 64-bit SimHash over the word bag: per-word [[PortableHash64]],
    * each bit votes ±term-frequency, sign → bit. Emits 4×16-bit band
    * keys for Hamming-LSH bucketing. Work = |tokens|×64 narrow rows;
    * the fan-out's range layout on doc_id serves both per-doc
    * aggregates and the output sort. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    simhash(FanOut.byRange(Tables.documents(s, d), col("doc_id")))

  /** Core SimHash over any `(doc_id, text)` relation. The 64 bit
    * votes are 64 codegen'd aggregate columns over the flat token
    * rows — one shuffle keyed on doc_id; the naive rendering
    * (posexplode of a 64-slot vote array) multiplies the token stream
    * ×64 before it ever reaches the aggregate. Empty tokens are
    * filtered (DuckDB's `list_reduce` cannot hash the empty list `''`
    * splits to). */
  def simhash(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", PortableHash64.hash64(col("w")))
    val voteCols = (0 until 64).map { b =>
      sum(when(expr(s"((h >> $b) & 1) = 1"), col("cnt")).otherwise(-col("cnt"))).as(s"v$b")
    }
    val fingerprint = (0 until 64)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    tf.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
      .select(col("doc_id"), col("simhash"),
        expr("(simhash >> 48) & 65535").as("band0"),
        expr("(simhash >> 32) & 65535").as("band1"),
        expr("(simhash >> 16) & 65535").as("band2"),
        expr("simhash & 65535").as("band3"))
      .orderBy(col("doc_id"))
  }

  /** Sequence-length histogram — the batch-packing profile: docs
    * bucketed by whitespace-token count (bucket = ⌊tokens/32⌋ capped
    * at 7, i.e. 8 packing classes) per source. A training pipeline
    * reads this to pick packing lengths and spot truncation-heavy
    * sources; one narrow map + one grouped count, any scale. */
  def lengthBuckets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        least(floor(size(words(col("text"))) / lit(32.0)).cast("long"), lit(7L))
          .as("len_bucket"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("len_bucket"))

  /** Context-window chunking with overlap (T13) — the step that turns
    * cleaned documents into training sequences: fixed 256-char windows
    * striding by 192 (64-char overlap so no boundary context is lost).
    * A pure narrow explode: one output row per (doc, window start), no
    * shuffle until the final presentation sort — at 100 TB this
    * pipelines inside the scan stage and parallelizes per input split.
    * Chunk starts come from `sequence(0, n_chars-1, stride)`: a doc no
    * longer than one stride yields exactly one chunk, and every char
    * lands in at least one chunk (pinned by TextSpec and by the
    * oracle: DuckDB's `range` + `substr` reproduce the windows
    * verbatim on the ASCII corpus). */
  def chunkDocs(s: SparkSession, d: String, window: Int = 256, stride: Int = 192): DataFrame =
    chunkCore(Tables.documents(s, d), window, stride)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Core chunking over any `(doc_id, text, n_chars)` relation —
    * DataFrame-parameterized so PropertySpec can drive the SAME
    * windows over arbitrary generated corpora (reconstruction
    * property: chunk 0 plus each later chunk minus its overlap
    * re-concatenates to the exact document). */
  private[graft] def chunkCore(docs: DataFrame, window: Int, stride: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(stride > 0 && window >= stride,
      s"window $window must cover stride $stride or chars between windows would be lost")
    // `carry` rides extra input columns (e.g. `source` for the
    // composed pipeline's per-shard packing) through the explode —
    // cheaper than a join-back to documents on doc_id afterwards
    val carried = carry.map(col)
    docs
      // a zero-length doc yields zero chunks: sequence(0, -1, stride)
      // throws 'Illegal sequence boundaries' whereas the oracle's
      // range(0, 0, stride) just emits no rows — filter matches the
      // oracle and keeps empty docs from killing the whole job
      .filter(col("n_chars") > 0)
      .select(Seq(col("doc_id"), col("text"), col("n_chars"),
        posexplode(sequence(lit(0), col("n_chars") - 1, lit(stride)))
          .as(Seq("chunk_idx", "start"))) ++ carried: _*)
      .select(Seq(col("doc_id"), col("chunk_idx"),
        col("text").substr(col("start").cast("int") + 1, lit(window)).as("chunk"),
        length(col("text").substr(col("start").cast("int") + 1, lit(window))).as("chunk_chars"))
        ++ carried: _*)
  }

  /** PII redaction (T25, r4): scrub emails and long digit runs from
    * a corpus before it can reach a training run — the compliance
    * stage every real pretraining pipeline has, and one that must be
    * narrow (pure per-row regex, no shuffle, codegen'd
    * RegExpReplace/RegExpExtractAll) because it runs over EVERY byte
    * of a 100 TB corpus. The harness text contains no PII, so both
    * engines first inject the same deterministic contact line per
    * doc (phone = 1000000 + 7·doc_id, email = u<doc_id>@ex<d>.org,
    * an extra ref number on every third doc) and the redactor is
    * verified on content that varies per row: counts come from the
    * pre-redaction text, emails are replaced before digit runs so
    * the two patterns can never race, and `[0-9]` spellings dodge
    * the Java-vs-RE2 escaping split. */
  def piiRedact(s: SparkSession, d: String): DataFrame =
    piiRedactCore(Tables.documents(s, d))

  /** Redaction over any `(doc_id, text)` relation —
    * DataFrame-parameterized so TextSpec can pin counts and
    * replacement output on hand-written PII. */
  def piiRedactCore(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val longnum = "[0-9]{5,}"
    val pii = concat(
      lit("call "), (lit(1000000L) + col("doc_id") * 7).cast("string"),
      lit(" or mail u"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(10)).cast("string"), lit(".org"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(" ref 99999999 ")).otherwise(lit(" ")),
      col("text"))
    docs
      .select(col("doc_id"), pii.as("pii_text"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii_text"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("pii_text"), lit(longnum), lit(0))).as("n_longnums"),
        regexp_replace(regexp_replace(col("pii_text"), email, "<EMAIL>"),
          longnum, "<NUM>").as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Unigram log-probability scoring (T26, r4): each document scored
    * by the average ln p(token) under the corpus's OWN unigram
    * distribution — the cheap perplexity proxy pipelines use to rank
    * documents as "typical vs weird" before any neural scorer runs
    * (low scores = rare-token-heavy docs). Token corpus counts ride
    * as a window count over the token partition (one shuffle, no
    * vocabulary join), the corpus total is a broadcast 1-row
    * aggregate ([[tfidf]]'s N pattern), and the per-doc average is
    * one grouped agg — the full score costs two shuffles at any
    * corpus size. */
  def unigramLogprob(s: SparkSession, d: String): DataFrame =
    unigramLogprobCore(Tables.documents(s, d))

  /** Scoring over any `(doc_id, text)` relation —
    * DataFrame-parameterized so TextSpec can pin the ln p arithmetic
    * on a counted-by-hand corpus. */
  def unigramLogprobCore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("word"))))
    val total = toks.agg(count(lit(1)).as("n_corpus"))
    toks.crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt") / col("n_corpus").cast("double"))), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020:
    * "CCNet: Extracting high quality monolingual datasets from web
    * crawl data" — the head/middle/tail split every crawl-curation
    * pipeline since has copied): score each document by its average
    * token log-probability under ITS OWN LANGUAGE's unigram
    * distribution (the in-sandbox stand-in for CCNet's per-language
    * wiki LM), then cut each language into equal tertiles — `head` =
    * most typical third, `tail` = weirdest. Downstream pipelines keep
    * head+middle and drop (or down-weight) tail.
    *
    * Determinism: per-language token counts and totals are exact
    * integers; avg ln(cnt/n_lang) is rounded at 4 (the
    * [[unigramLogprobCore]] contract) BEFORE the tertile window
    * orders by it, and doc_id breaks ties — so ntile(3) sees the same
    * total order on both engines.
    *
    * Scale: one (doc_id) rollup over tokens carrying a window count
    * per (lang, word) — the [[unigramLogprob]] shape with lang in the
    * key — a broadcast join of the per-language totals (|langs|
    * rows), and the tertile window partitioned BY LANGUAGE: its sort
    * is per-language over doc-level rows (5 partitions of n_docs/5
    * here; a real deployment quantile-bins the scores instead of
    * total-ordering when one language dominates the corpus). */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBucketsCore(Tables.documents(s, d))

  /** Bucketing over any `(doc_id, lang, text)` relation —
    * DataFrame-parameterized so TextSpec can pin the tertile
    * boundaries on a hand-scored corpus. */
  def ccnetBucketsCore(docs: DataFrame): DataFrame = {
    // empty tokens from runs of spaces are dropped — the filterFunnel
    // / datasetCard token convention, applied here too (r8, ADVICE)
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("lang"), col("word"))))
    val langTot = toks.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val scored = toks.join(broadcast(langTot), Seq("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt") / col("n_lang").cast("double"))), 4).as("avg_logp"))
    val nt = ntile(3).over(
      Window.partitionBy(col("lang")).orderBy(col("avg_logp").desc, col("doc_id")))
    scored.withColumn("tertile", nt)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_logp"),
        when(col("tertile") === 1, lit("head"))
          .when(col("tertile") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Multinomial naive-Bayes language classifier (§2.15 extension):
    * train on the corpus's own (lang, token) counts with add-one
    * smoothing, score every document against every class, predict by
    * argmax — the classical supervised counterpart of [[langId]]'s
    * stopword heuristic, and the standard cheap router in front of a
    * neural lang-ID at corpus scale. All model statistics are INTEGER
    * counts (class token counts, class totals, vocabulary size, doc
    * priors), so both engines feed identical longs into identical
    * ln((c+1)/(n_c+V)) calls — the [[entropyCore]] precedent. The
    * log-likelihood sums per (doc, class) ride on c_dw·ln p over
    * DISTINCT doc tokens (≤ vocab terms, not token instances);
    * prediction takes max(struct(score, lang)) — a deterministic
    * max-lang tie-break should two classes ever score bit-identically,
    * mirrored by the oracle's (score DESC, lang DESC) rank.
    *
    * Scale: one (doc_id, word) shuffle for doc term counts, one
    * (lang, word) rollup for the model, the smoothed |V|·k model
    * relation joins back keyed on word (broadcast under the dimension
    * gate at harness scale; a web-scale vocabulary degrades to the
    * hash join on the same key), and the argmax is a per-doc k-row
    * reduce. Nothing is collected; the text column never shuffles. */
  def naiveBayes(s: SparkSession, d: String): DataFrame =
    naiveBayesCore(Tables.documents(s, d))

  /** Classifier over any `(doc_id, lang, text)` relation —
    * DataFrame-parameterized so TextSpec can pin the smoothed
    * arithmetic and the resubstitution accuracy on a hand-counted
    * two-language corpus. */
  def naiveBayesCore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(words(col("text"))).as("word"))
    val dtc = toks.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c_dw"))
    val ctc = toks.groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("c_cw"))
    val classTot = toks.groupBy(col("lang")).agg(count(lit(1)).as("n_tok"))
    val vocabSize = toks.agg(countDistinct(col("word")).as("v_size"))
    val model = dtc.select(col("word")).distinct()
      .crossJoin(broadcast(classTot))
      .join(ctc, Seq("word", "lang"), "left")
      .na.fill(0L, Seq("c_cw"))
      .crossJoin(broadcast(vocabSize))
      .select(col("word"), col("lang"),
        log((col("c_cw") + 1).cast("double") /
          (col("n_tok") + col("v_size")).cast("double")).as("logp"))
    val priors = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .select(col("lang"),
        log(col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("log_prior"))
    val best = dtc.join(broadcast(model), "word")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c_dw") * col("logp")).as("ll"))
      .join(broadcast(priors), "lang")
      .select(col("doc_id"), col("lang"),
        (col("ll") + col("log_prior")).as("score"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("score"), col("lang"))).as("b"))
      .select(col("doc_id"), col("b.lang").as("pred_lang"),
        round(col("b.score"), 4).as("score"))
    docs.select(col("doc_id"), col("lang").as("true_lang"))
      .join(best, "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Shannon entropy profile (T27, r4): per-source language-mix
    * entropy — the corpus-composition diagnostic ("is this source
    * monolingual or a grab bag?") that data recipes read before
    * setting mixture weights. H = ln n − (Σ c·ln c)/n from INTEGER
    * (source, lang) counts, so both engines feed identical longs
    * into identical ln calls (the PMI precedent); normalized by the
    * max-entropy ln(k) of the observed language count, NULL for
    * single-language sources (0/0 is a semantics question, not a
    * float accident). Two grouped counts — the first sees document
    * volume, the second sees (source × lang) cardinality. */
  def entropy(s: SparkSession, d: String): DataFrame =
    entropyCore(Tables.documents(s, d))

  /** Entropy over any `(source, lang)` relation —
    * DataFrame-parameterized so AnalyticsSpec can pin uniform → ln k
    * and single-language → 0/NULL by hand. */
  def entropyCore(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(
          log(sum(col("c")).cast("double")) -
            sum(col("c") * log(col("c").cast("double"))) / sum(col("c")),
          6).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_langs") > 1,
          round(col("entropy") / log(col("n_langs").cast("double")), 6)))
      .orderBy(col("source"))

  /** End-to-end training-data prep (the composed north-star pipeline):
    * exact-dedup survivors → quality gate → per-source corpus stats.
    * Each stage is one of the operators above; the composition is the
    * point — this is the query shape a 100 TB pretraining corpus
    * build actually runs, and it stays three shuffles total
    * (dedup group, quality is narrow, final group). */
  def pipelinePrep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val survivors = docs
      .groupBy(sha2(col("text"), 256).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(docs, "doc_id")
    val ws = words(col("text"))
    val gated = survivors
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(ws).as("n_words"),
        (size(array_distinct(ws)) / size(ws).cast("double")).as("ttr"))
      .filter(col("n_words") >= 20 && col("ttr") >= 0.3)
    gated.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        sum(ceil(col("n_chars") / lit(4.0)).cast("long")).as("est_tokens"),
        (round(sum(col("ttr")), 6) / count(lit(1))).as("avg_ttr"))
      .orderBy(col("source"))
  }

  /** Pairwise source vocabulary overlap (T31, r4): Jaccard similarity
    * of the distinct-word sets of every source pair — the corpus-diff
    * diagnostic read before mixing corpora ("are these two sources
    * the same text wearing different labels?"). The candidate stream
    * is the word-keyed self-join of the DISTINCT (source, word)
    * relation, bounded per word by sources-per-word ≤ |sources| (a
    * few dozen pairs per word at ANY corpus size — the bounded-
    * universe cousin of the n-gram dedup join, never doc²); the size
    * dim is |sources| rows → broadcast joins. Intersections and
    * sizes are exact integers, so J divides identical longs. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlapCore(Tables.documents(s, d))

  /** Overlap over any `(source, text)` relation — DataFrame-
    * parameterized so TextSpec can pin J on hand-built vocabularies
    * (identical → 1, disjoint absent, half-overlap → 1/3). */
  def sourceOverlapCore(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(col("source"), explode(words(col("text"))).as("w")).distinct()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = vocab.select(col("source").as("src_a"), col("w"))
      .join(vocab.select(col("source").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Bigram log-probability scoring (T32, r4): per-doc avg
    * ln p(wᵢ | wᵢ₋₁) with add-1 smoothing under the corpus's own
    * bigram model — the next step up from [[unigramLogprob]]'s
    * perplexity proxy (a doc of common words in a WEIRD ORDER now
    * scores low). Bigrams come from a narrow `zip_with` of the token
    * array against its own 1-shift — no window, no shuffle to build
    * them; corpus counts ride as window counts over the (prev, cur)
    * and (prev) partitions (the unigram trick — no vocabulary join),
    * and V is a 1-row broadcast. Σ_cur c(prev,cur) = c(prev) by
    * construction, so the conditional is proper. */
  def bigramLogprob(s: SparkSession, d: String): DataFrame =
    bigramLogprobCore(Tables.documents(s, d))

  /** Scoring over any `(doc_id, text)` relation — DataFrame-
    * parameterized so TextSpec can pin the smoothed ln arithmetic on
    * a counted-by-hand corpus. */
  def bigramLogprobCore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val bi = ws.select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val vocab = ws.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("vsz"))
    bi
      .withColumn("c_bi",
        count(lit(1)).over(Window.partitionBy(col("prev"), col("cur"))))
      .withColumn("c_ctx", count(lit(1)).over(Window.partitionBy(col("prev"))))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c_bi") + 1) / (col("c_ctx") + col("vsz")).cast("double"))), 4)
          .as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Multi-phrase blocklist filtering — every crawl pipeline screens
    * documents against a banned-phrase table (boilerplate, slurs,
    * cheat-sheet markers) with thousands of entries. The anti-pattern
    * is a per-row scan over all N phrases (`text LIKE '%p1%' OR …` —
    * O(rows·N·len), unpushable, and regex-alternation compilers fall
    * over around 10⁴ patterns). The shape that survives 100 TB × 10⁵
    * phrases is TOKEN-ANCHORED: tokenize once, join token n-grams
    * against the broadcast phrase table on an equi-key — cost
    * O(tokens + hits) regardless of phrase count, and the phrase
    * table can grow to a hash join on the same key when it outgrows
    * the broadcast gate.
    *
    * The blocklist here is derived deterministically from the corpus
    * (its top-20 bigrams by count, ties alphabetical) as a stand-in
    * for an externally-supplied table — the join mechanics are
    * identical. Bigrams come from the [[bigramLogprobCore]] zip-shift
    * idiom: narrow, no shuffle to build. Output is doc-level: hit
    * occurrences and the kept/flagged verdict. */
  def blocklist(s: SparkSession, d: String): DataFrame =
    blocklistCore(Tables.documents(s, d))

  /** Screening over any `(doc_id, source, text)` relation —
    * DataFrame-parameterized so TextSpec can pin hit counts on a
    * hand-planted corpus. */
  /** Blocklist size — top-K corpus bigrams stand in for the external
    * phrase table; interpolated into both the plan and the oracle. */
  private val BlocklistK = 20

  def blocklistCore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), words(col("text")).as("ws"))
    // bigrams touching an empty token (runs of spaces) are dropped —
    // the filterFunnel / datasetCard token convention (r8, ADVICE)
    val bi = ws.select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .filter(col("prev") =!= "" && col("cur") =!= "")
    val banned = bi.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("prev"), col("cur"))
      .limit(BlocklistK)
      .select(col("prev"), col("cur"))
    val hits = bi.join(broadcast(banned), Seq("prev", "cur"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("h"))
    docs.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        (coalesce(col("h"), lit(0L)) > 0).as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Kneser–Ney smoothed bigram model (T50, r5): the LM-quality
    * scoring pretraining pipelines actually use — absolute
    * discounting (d = 0.75) with the CONTINUATION back-off that makes
    * KN the strong n-gram baseline: the back-off weight of word w is
    * how many distinct contexts w follows, not how often it occurs
    * (the "San Francisco" insight — "Francisco" is frequent but
    * follows one context, so bare-"Francisco" predictions are
    * down-weighted where an MLE back-off ([[bigramLogprobCore]])
    * over-predicts it).
    *
    * Every model statistic is an exact integer (bigram counts,
    * context totals, distinct-continuation counts — the aggregation
    * shuffles on (prev,cur) then windows/sums per side), so
    * P_kn(w|v) = (c−d)/c(v·) + (d·N₁₊(v·)/c(v·))·(N₁₊(·w)/N₁₊(··))
    * is a FIXED tree of IEEE ops over identical operands cross-engine
    * — no lockstep rounding needed before the display round. Output
    * is the top-30 bigrams; the model itself is corpus-sized and
    * never leaves the executors. */
  def knBigram(s: SparkSession, d: String): DataFrame =
    knBigramCore(Tables.documents(s, d))

  private[graft] def knBigramCore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val bi = ws.select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val cnt = bi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c"))
    val types = cnt.agg(count(lit(1)).as("n1_all"))
    cnt
      .withColumn("c_ctx", sum(col("c")).over(Window.partitionBy(col("prev"))))
      .withColumn("n1_fwd", count(lit(1)).over(Window.partitionBy(col("prev"))))
      .withColumn("n1_back", count(lit(1)).over(Window.partitionBy(col("cur"))))
      .crossJoin(broadcast(types))
      .withColumn("p_kn", round(
        (col("c") - lit(0.75)) / col("c_ctx") +
          ((lit(0.75) * col("n1_fwd")) / col("c_ctx")) *
            (col("n1_back") / col("n1_all").cast("double")), 6))
      .select(col("prev"), col("cur"), col("c"), col("c_ctx"),
        col("n1_fwd"), col("n1_back"), col("p_kn"))
      .orderBy(col("c").desc, col("prev"), col("cur")).limit(30)
  }

  /** Containment dedup (T33, r4): asymmetric set containment
    * C(A→B) = |A∩B| / |A| over the capped shingle universe — the
    * doc-in-doc detector symmetric Jaccard structurally misses: a
    * 100-shingle document quoted whole inside a 1000-shingle one has
    * J ≈ 0.1 (invisible at any sane Jaccard threshold) but
    * containment 1.0. This is how pretraining dedup catches
    * boilerplate wrappers, quote-heavy aggregators, and prefix
    * crawls. Candidates come from the same df-capped shared-shingle
    * stream as [[dedupNgramIdf]] (the declared at-scale universe);
    * per-doc sizes ride as window counts (no sizes join); the 0.8
    * threshold compares the ROUNDED ratio so an engine ULP cannot
    * split the boundary. */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    dedupContainmentCore(Tables.documents(s, d))

  /** Containment over any `(doc_id, text)` relation — DataFrame-
    * parameterized so TextSpec can pin the asymmetric scores on a
    * planted quote-inside-wrapper fixture. */
  def dedupContainmentCore(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= NgramMaxDf)
      .select(col("doc_id"), col("g"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    // r12 (profiled): the pair rollup's reduce side was AQE-coalesced
    // to 3 tasks by BYTES while its cost is CPU per pair group, and
    // the presentation sort's range-bounds sample re-ran the whole
    // rollup+verify segment a second time — jobs 13 and 14 were twins
    // at ~1.2 s each. The explicit (da, db) repartition pins the
    // rollup to the core count under a narrow source (identity at
    // real scale), and the tiny verified relation is materialized
    // once (checkpoint leaf) so the sort samples a leaf, not the
    // verify pipeline.
    val paired = FanOut.when(docs)(
      sh.select(col("doc_id").as("da"), col("g"), col("n").as("na"))
        .join(sh.select(col("doc_id").as("db"), col("g"), col("n").as("nb")), Seq("g"))
        .filter(col("da") < col("db")),
      col("da"), col("db"))
    val verified = Iterate.leaf(
      paired
        .groupBy(col("da"), col("db"))
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          count(lit(1)).as("inter"))
        .withColumn("cont_a", round(col("inter") / col("na").cast("double"), 6))
        .withColumn("cont_b", round(col("inter") / col("nb").cast("double"), 6))
        .filter(col("cont_a") >= 0.8 || col("cont_b") >= 0.8))
    verified
      .select(col("da"), col("db"), col("na"), col("nb"), col("inter"),
        col("cont_a"), col("cont_b"))
      .orderBy(col("da"), col("db"))
  }

  /** Distinctive topic terms (T34, r4): per source, the top-5 terms
    * by LIFT — (term share within source) ÷ (term share in corpus) =
    * c_sw·N / (n_s·c_w) — the "what characterizes this source"
    * profile a curation dashboard shows next to [[entropy]]'s mix
    * numbers. Everything is INTEGER counts (per-source and per-term
    * totals ride as window sums over the (source, word) rollup — the
    * only pass over token volume; N is a 1-row broadcast), so the
    * single lift division sees identical operands cross-engine and
    * the (lift desc, word) rank is total. A support floor (c_sw ≥ 5)
    * keeps one-off rare words from dominating by luck — the PMI
    * precedent. */
  def topicTerms(s: SparkSession, d: String): DataFrame =
    topicTermsCore(Tables.documents(s, d), minCount = 5)

  /** Topic terms over any `(source, text)` relation — DataFrame-
    * parameterized so TextSpec can pin the lift arithmetic and the
    * support floor on a hand-counted corpus. */
  def topicTermsCore(docs: DataFrame, minCount: Int): DataFrame = {
    val toks = docs.select(col("source"), explode(words(col("text"))).as("w"))
    val sw = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      .withColumn("n_s", sum(col("c_sw")).over(Window.partitionBy(col("source"))))
      .withColumn("c_w", sum(col("c_sw")).over(Window.partitionBy(col("w"))))
    val tot = toks.agg(count(lit(1)).as("n_corpus"))
    sw.filter(col("c_sw") >= minCount)
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        col("c_sw") * col("n_corpus") / (col("n_s") * col("c_w")).cast("double"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("lift").desc, col("w"))))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("w").as("word"), col("c_sw"),
        round(col("lift"), 4).as("lift"))
      .orderBy(col("source"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_topic_terms" -> topicTerms,
    "q_dedup_containment" -> dedupContainment,
    "q_source_overlap" -> sourceOverlap,
    "q_bigram_logprob" -> bigramLogprob,
    "q_pipeline_prep" -> pipelinePrep,
    "q_pii_redact"    -> piiRedact,
    "q_unigram_logprob" -> unigramLogprob,
    "q_naive_bayes"   -> naiveBayes,
    "q_ccnet_buckets" -> ccnetBuckets,
    "q_blocklist"     -> blocklist,
    "q_entropy"       -> entropy,
    "q_chunk_docs"    -> ((s: SparkSession, d: String) => chunkDocs(s, d)),
    "q_wordcount"     -> wordcount,
    "q_cms_topk"      -> cmsTopk,
    "q_kwic"          -> kwic,
    "q_kn_bigram"     -> knBigram,
    "q_tfidf"         -> tfidf,
    "q_bm25"          -> bm25,
    "q_dedup_exact"   -> dedupExact,
    "q_dedup_normalized" -> dedupNormalized,
    "q_dedup_soft"       -> dedupSoft,
    "q_dedup_lines"   -> dedupLines,
    "q_dedup_ngram"   -> dedupNgram,
    "q_dedup_ngram_idf" -> dedupNgramIdf,
    "q_dedup_prefix"  -> dedupPrefix,
    "q_dedup_edit"    -> dedupEdit,
    "q_dedup_sorted"  -> dedupSorted,
    "q_dedup_substring" -> dedupSubstring,
    "q_quality_logistic" -> qualityLogistic,
    "q_pmi"           -> pmi,
    "q_hash_embed"    -> hashEmbed,
    "q_doc_sim"       -> docSim,
    "q_lang_id"       -> langId,
    "q_text_quality"  -> textQuality,
    "q_token_count"   -> tokenCount,
    "q_tokenizer_stats" -> tokenizerStats,
    "q_zipf_fit"      -> zipfFit,
    "q_ngram_novelty" -> ngramNovelty,
    "q_length_buckets" -> lengthBuckets,
    "q_fingerprint"   -> fingerprint,
    // the `_portable` names stay declared (dropping a query counts as
    // a regression) and run the same path as their production names
    "q_dedup_minhash" -> dedupMinhash,
    "q_dedup_minhash_portable" -> dedupMinhash,
    "q_dedup_minhash_cc" -> dedupMinhashClosure,
    "q_dedup_minhash_cc_portable" -> dedupMinhashClosure,
    "q_dedup_survivors" -> dedupSurvivors,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_simhash_portable" -> dedupSimhash,
    "q_minhash_calibrate" -> minhashCalibrate,
  )

  /** The exact-Jaccard pair SQL, parameterized by its floor: the
    * brute-force shared-shingle enumeration serves as the oracle for
    * BOTH `q_dedup_ngram` (floor 0.1) and `q_dedup_prefix` (floor
    * 4/5 — prefix filtering changes the plan, never the result).
    * Defined as a method: it references [[shinglesCte]] below. */
  private def jaccardOracleSql(minJac: String): String =
    s"""WITH $shinglesCte,
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                 FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT da, db, inter, sa.n + sb.n - inter AS uni,
              inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS jac
       FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= $minJac
       ORDER BY da, db"""

  /** Shared oracle CTE fragments — single source for SQL that appears
    * in multiple oracles (same pattern as PageRank's unrolled CTE). */
  private val shinglesCte =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM docs),
       sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM idx)"""

  private val hashedVecCte =
    s"""v AS (SELECT doc_id,
         list_transform(range(0, 64), i ->
           CAST(len(list_filter(
             list_transform(list_filter(string_split(text, ' '), w -> w != ''), w ->
               ${PortableStringHash.duckdbSql("w", 1000003L)}
                 % 64),
             b -> b = i)) AS DOUBLE)) AS vec
         FROM documents)"""

  /** The `mh` CTE of [[minhashSignatures]] over the `(doc_id, g)`
    * relation `src`: the same hash, low-bit mask and slot
    * coefficients, interpolated from the same vals. */
  private def minhashSigCte(src: String): String = {
    val slots = slotCoefs.zipWithIndex
      .map { case ((a, b), i) => s"min((x * $a + $b) % $SlotP) AS mh$i" }.mkString(", ")
    s"""mh AS (SELECT doc_id, $slots
             FROM (SELECT doc_id, ${PortableHash64.duckdbSql("g")} & $SlotP AS x FROM $src)
             GROUP BY doc_id)"""
  }

  /** Shared band CTE chain (through `bands`), generated in lockstep
    * with [[minhashBands]]. `bands` is MATERIALIZED: the closure oracle
    * references it inside every unrolled propagation round, and DuckDB
    * would otherwise re-inline the whole shingle pipeline per
    * reference (the PageRank-oracle lesson). */
  private[ops] val minhashBandsCte: String = {
    val bandSelects = (0 until MinhashBands)
      .map(b => s"SELECT doc_id, $b AS band, mh${2 * b} * $SlotP + mh${2 * b + 1} AS band_sig FROM mh")
      .mkString(" UNION ALL ")
    s"""$shinglesCte,
       ${minhashSigCte("sh")},
       bands AS MATERIALIZED ($bandSelects)"""
  }

  private val minhashOracle: String =
    s"""WITH $minhashBandsCte,
       reps AS (SELECT band, band_sig, min(doc_id) AS band_rep FROM bands GROUP BY band, band_sig),
       assign AS (SELECT b.doc_id, min(r.band_rep) AS rep
                  FROM bands b JOIN reps r USING (band, band_sig) GROUP BY b.doc_id)
       SELECT d.doc_id, coalesce(a.rep, d.doc_id) AS cluster_rep,
              coalesce(a.rep, d.doc_id) != d.doc_id AS is_dup
       FROM documents d LEFT JOIN assign a USING (doc_id)
       ORDER BY d.doc_id"""

  /** Calibration oracle: same capped shingle universe, same
    * signatures ([[minhashSigCte]]), per-pair values quantized to
    * exact integers, one division per decile mean. */
  private val minhashCalibrateOracle: String = {
    val nMatch = (0 until MinhashPerms)
      .map(i => s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    val bandOr = (0 until MinhashBands)
      .map(b => s"(ma.mh${2 * b} = mb.mh${2 * b} AND ma.mh${2 * b + 1} = mb.mh${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH $shinglesCte,
       rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM sh GROUP BY g)
                WHERE df <= $NgramMaxDf),
       fsh AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare USING (g)),
       sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                 FROM fsh a JOIN fsh b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       ${minhashSigCte("fsh")},
       pp AS (SELECT p.inter, sa.n + sb.n - p.inter AS uni,
                $nMatch AS n_match,
                CASE WHEN $bandOr THEN 1 ELSE 0 END AS hit
              FROM pairs p
              JOIN sizes sa ON p.da = sa.doc_id JOIN sizes sb ON p.db = sb.doc_id
              JOIN mh ma ON p.da = ma.doc_id JOIN mh mb ON p.db = mb.doc_id),
       q AS (SELECT least((10 * inter) // uni, 9) AS decile,
               (1000 * inter) // uni AS jac_milli,
               (1000 * n_match) // $MinhashPerms AS est_milli,
               abs((1000 * inter) // uni - (1000 * n_match) // $MinhashPerms) AS abs_err_milli,
               hit FROM pp)
       SELECT decile, count(*) AS n_pairs,
         round(CAST(sum(jac_milli) AS BIGINT) / CAST(count(*) AS DOUBLE), 2) AS mean_jac_milli,
         round(CAST(sum(est_milli) AS BIGINT) / CAST(count(*) AS DOUBLE), 2) AS mean_est_milli,
         round(CAST(sum(abs_err_milli) AS BIGINT) / CAST(count(*) AS DOUBLE), 2) AS mean_abs_err_milli,
         round(CAST(sum(hit) AS BIGINT) * CAST(1000 AS DOUBLE)
           / CAST(count(*) AS DOUBLE), 2) AS hit_rate_milli
       FROM q GROUP BY decile ORDER BY decile"""
  }

  /** Closure oracle: min-label propagation over the doc↔bucket
    * incidence, unrolled. Each round moves a label one doc-hop
    * (doc→bucket→doc), so `rounds` bounds the cluster-graph diameter
    * the oracle can close — the engine side iterates to a fixed point,
    * and near-dup clusters in the harness corpus are chains of depth
    * ≪ 8 (a mismatch here would mean a cluster of diameter > 8:
    * raise `rounds`, which only costs the oracle). */
  /** The shared 8-round min-label closure CTE (fixed point `l8`
    * carries (doc_id, lbl)) — the oracle body behind both the cluster
    * assignment and the survivor selection. */
  private val closureCte: String = {
    val rounds = 8
    val steps = (1 to rounds).map { k =>
      s""", b$k AS (SELECT i.band, i.band_sig, min(l.lbl) AS bl
             FROM bands i JOIN l${k - 1} l USING (doc_id) GROUP BY i.band, i.band_sig),
         l$k AS (SELECT l.doc_id, least(l.lbl, coalesce(min(b.bl), l.lbl)) AS lbl
             FROM l${k - 1} l
             LEFT JOIN bands i ON l.doc_id = i.doc_id
             LEFT JOIN b$k b ON i.band = b.band AND i.band_sig = b.band_sig
             GROUP BY l.doc_id, l.lbl)"""
    }.mkString
    s"""WITH $minhashBandsCte,
       l0 AS (SELECT doc_id, doc_id AS lbl FROM documents)$steps"""
  }

  private val closureOracle: String =
    s"""$closureCte
       SELECT doc_id, lbl AS cluster_rep, lbl != doc_id AS is_dup
       FROM l8 ORDER BY doc_id"""

  // same l8 fixed point, same (n_chars DESC, doc_id) longest-wins rank
  private val survivorsOracle: String =
    s"""$closureCte,
       sized AS (SELECT l.doc_id, l.lbl AS cluster_rep, d.n_chars
                 FROM l8 l JOIN documents d ON d.doc_id = l.doc_id),
       rk AS (SELECT doc_id, cluster_rep,
                CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
                  AS cluster_size,
                row_number() OVER (PARTITION BY cluster_rep
                  ORDER BY n_chars DESC, doc_id) AS rn
              FROM sized)
       SELECT doc_id, cluster_rep, cluster_size, rn = 1 AS keep
       FROM rk ORDER BY doc_id"""

  /** Generated in lockstep with [[simhash]]. Sums are cast back to
    * BIGINT (DuckDB sums into HUGEINT); the fingerprint is built in
    * HUGEINT and wrapped, because DuckDB raises on `1::BIGINT << 63`. */
  private val simhashOracle: String = {
    val voteCols = (0 until 64)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS v$b")
      .mkString(", ")
    val fp = (0 until 64)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${BigInt(1) << b} AS HUGEINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tf AS (SELECT doc_id, w, count(*) AS cnt
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE w != '' GROUP BY doc_id, w),
       h AS (SELECT doc_id, cnt, ${PortableHash64.duckdbSql("w")} AS h FROM tf),
       v AS (SELECT doc_id, $voteCols FROM h GROUP BY doc_id),
       u AS (SELECT doc_id, $fp AS u FROM v),
       fp AS (SELECT doc_id, CAST(CASE WHEN u >= ${BigInt(1) << 63} THEN u - ${BigInt(1) << 64}
                ELSE u END AS BIGINT) AS simhash FROM u)
       SELECT doc_id, simhash,
              (simhash >> 48) & 65535 AS band0, (simhash >> 32) & 65535 AS band1,
              (simhash >> 16) & 65535 AS band2, simhash & 65535 AS band3
       FROM fp ORDER BY doc_id"""
  }

  val oracles: Map[String, String] = Map(
    // same integer count windows, same single lift division, same
    // (lift desc, word) total rank order
    "q_topic_terms" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw FROM t GROUP BY 1, 2),
         x AS (SELECT source, w, c_sw,
             CAST(sum(c_sw) OVER (PARTITION BY source) AS BIGINT) AS n_s,
             CAST(sum(c_sw) OVER (PARTITION BY w) AS BIGINT) AS c_w
           FROM sw),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM t),
         sc AS (SELECT source, w, c_sw,
             c_sw * n_corpus / CAST(n_s * c_w AS DOUBLE) AS lift
           FROM x CROSS JOIN n WHERE c_sw >= 5),
         r AS (SELECT source, w, c_sw, lift,
             CAST(row_number() OVER (PARTITION BY source ORDER BY lift DESC, w) AS INT) AS rk
           FROM sc)
         SELECT source, rk, w AS word, c_sw, round(lift, 4) AS lift
         FROM r WHERE rk <= 5 ORDER BY source, rk""",
    // same capped shingle universe, same window-count sizes, same
    // rounded-threshold comparison
    "q_dedup_containment" ->
      s"""WITH $shinglesCte,
         rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM sh GROUP BY g)
                  WHERE df <= $NgramMaxDf),
         fsh AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare USING (g)),
         sized AS (SELECT doc_id, g,
             count(*) OVER (PARTITION BY doc_id) AS n FROM fsh),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
             max(a.n) AS na, max(b.n) AS nb, count(*) AS inter
           FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         c AS (SELECT da, db, na, nb, inter,
             round(inter / CAST(na AS DOUBLE), 6) AS cont_a,
             round(inter / CAST(nb AS DOUBLE), 6) AS cont_b
           FROM pairs)
         SELECT da, db, na, nb, inter, cont_a, cont_b FROM c
         WHERE cont_a >= 0.8 OR cont_b >= 0.8 ORDER BY da, db""",
    // same distinct (source, word) relation, same word-keyed pair
    // stream, same exact-integer Jaccard
    "q_source_overlap" ->
      """WITH v AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
           FROM documents),
         sz AS (SELECT source, count(*) AS n FROM v GROUP BY source),
         i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
           FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
           GROUP BY 1, 2)
         SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
           round(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
         FROM i JOIN sz sa ON sa.source = i.src_a
                JOIN sz sb ON sb.source = i.src_b
         ORDER BY src_a, src_b""",
    // same 1-shift bigram stream, same window-count model, same add-1
    // smoothing over the same V
    "q_bigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         t AS (SELECT doc_id, ws[pos - 1] AS prev, ws[pos] AS cur
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM d) x
           WHERE pos >= 2),
         v AS (SELECT count(DISTINCT w) AS vsz
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
         c AS (SELECT doc_id,
             count(*) OVER (PARTITION BY prev, cur) AS c_bi,
             count(*) OVER (PARTITION BY prev) AS c_ctx
           FROM t)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((c_bi + 1) / CAST(c_ctx + vsz AS DOUBLE))), 4) AS avg_logp
         FROM c CROSS JOIN v GROUP BY doc_id ORDER BY doc_id""",
    // same windows verbatim: range() mirrors sequence() (both emit
    // starts < n_chars at stride 192), substr is 1-based in both
    "q_chunk_docs" ->
      """WITH starts AS (
           SELECT doc_id, text, unnest(range(0, n_chars, 192)) AS start
           FROM documents)
         SELECT doc_id, CAST(start // 192 AS INT) AS chunk_idx,
                substr(text, CAST(start AS INT) + 1, 256) AS chunk,
                CAST(length(substr(text, CAST(start AS INT) + 1, 256)) AS INT) AS chunk_chars
         FROM starts ORDER BY doc_id, chunk_idx""",
    "q_dedup_minhash" -> minhashOracle,
    "q_dedup_minhash_portable" -> minhashOracle,
    "q_minhash_calibrate" -> minhashCalibrateOracle,
    "q_dedup_minhash_cc" -> closureOracle,
    "q_dedup_minhash_cc_portable" -> closureOracle,
    "q_dedup_survivors" -> survivorsOracle,
    "q_dedup_simhash" -> simhashOracle,
    "q_dedup_simhash_portable" -> simhashOracle,
    "q_pipeline_prep" ->
      """WITH survivors AS (
           SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         gated AS (
           SELECT d.doc_id, d.source, d.n_chars,
                  CAST(len(string_split(d.text, ' ')) AS INT) AS n_words,
                  len(list_distinct(string_split(d.text, ' ')))
                    / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS ttr
           FROM survivors JOIN documents d USING (doc_id))
         SELECT source, count(*) AS n_docs,
                CAST(sum(n_words) AS BIGINT) AS total_words,
                CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens,
                round(sum(ttr), 6) / count(*) AS avg_ttr
         FROM gated WHERE n_words >= 20 AND ttr >= 0.3
         GROUP BY source ORDER BY source""",
    // same injected contact line, same email-before-digits order; 'g'
    // matches Spark's replace-all default
    "q_pii_redact" ->
      """WITH p AS (
           SELECT doc_id,
                  concat('call ', CAST(1000000 + doc_id * 7 AS VARCHAR),
                         ' or mail u', CAST(doc_id AS VARCHAR),
                         '@ex', CAST(doc_id % 10 AS VARCHAR), '.org',
                         CASE WHEN doc_id % 3 = 0 THEN ' ref 99999999 ' ELSE ' ' END,
                         text) AS pii_text
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                CAST(len(regexp_extract_all(pii_text, '[0-9]{5,}')) AS INT) AS n_longnums,
                regexp_replace(regexp_replace(pii_text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{5,}', '<NUM>', 'g') AS redacted
         FROM p ORDER BY doc_id""",
    // same integer counts into the same ln decomposition; norm divides
    // the ALREADY-rounded entropy (mirrored) so both engines round twice
    "q_entropy" ->
      """WITH cl AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
         e AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_langs,
                  round(ln(CAST(sum(c) AS DOUBLE))
                        - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
                        6) AS entropy
           FROM cl GROUP BY source)
         SELECT source, n_docs, n_langs, entropy,
                CASE WHEN n_langs > 1
                     THEN round(entropy / ln(CAST(n_langs AS DOUBLE)), 6)
                END AS norm_entropy
         FROM e ORDER BY source""",
    "q_unigram_logprob" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         c AS (SELECT doc_id, count(*) OVER (PARTITION BY word) AS cnt FROM t),
         n AS (SELECT count(*) AS n_corpus FROM t)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(cnt / CAST(n_corpus AS DOUBLE))), 4) AS avg_logp
         FROM c CROSS JOIN n GROUP BY doc_id ORDER BY doc_id""",
    // per-language window counts into the same rounded avg ln, then
    // ntile(3) over the identical (avg_logp DESC, doc_id) total order
    "q_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id, lang, word FROM (
                    SELECT doc_id, lang,
                      unnest(string_split(text, ' ')) AS word FROM documents)
                    WHERE word != ''),
         c AS (SELECT doc_id, lang,
                 count(*) OVER (PARTITION BY lang, word) AS cnt FROM t),
         lt AS (SELECT lang, count(*) AS n_lang FROM t GROUP BY 1),
         sc AS (SELECT doc_id, c.lang, count(*) AS n_tokens,
                  round(avg(ln(cnt / CAST(n_lang AS DOUBLE))), 4) AS avg_logp
                FROM c JOIN lt USING (lang) GROUP BY 1, 2),
         b AS (SELECT *, ntile(3) OVER (
                 PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS nt FROM sc)
         SELECT doc_id, lang, n_tokens, avg_logp,
                CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
         FROM b ORDER BY doc_id""",
    // the same adjacent-pair bigrams (range form = the zip-shift),
    // the same (count DESC, prev, cur) top-20 phrase derivation
    "q_blocklist" ->
      s"""WITH ws AS (SELECT doc_id, source,
                     string_split(text, ' ') AS ws FROM documents),
         bi AS (SELECT doc_id, prev, cur FROM (
                  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur FROM (
                    SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i FROM ws))
                WHERE prev != '' AND cur != ''),
         bl AS (SELECT prev, cur FROM (
                  SELECT prev, cur,
                         row_number() OVER (ORDER BY count(*) DESC, prev, cur) AS rn
                  FROM bi GROUP BY prev, cur) r WHERE rn <= $BlocklistK),
         hits AS (SELECT doc_id, count(*) AS h
                  FROM bi JOIN bl USING (prev, cur) GROUP BY 1)
         SELECT d.doc_id, d.source,
                coalesce(h, 0) AS n_hits,
                coalesce(h, 0) > 0 AS flagged
         FROM documents d LEFT JOIN hits USING (doc_id) ORDER BY doc_id""",
    // same integer model counts into identical ln((c+1)/(n_c+V))
    // calls, same c_dw-weighted sums over distinct doc tokens, same
    // max-lang tie-break ((score DESC, lang DESC) rank = Spark's
    // max(struct(score, lang)))
    "q_naive_bayes" ->
      """WITH t AS (SELECT doc_id, lang,
                    unnest(string_split(text, ' ')) AS word FROM documents),
         dtc AS (SELECT doc_id, word, count(*) AS c_dw FROM t GROUP BY 1, 2),
         ctc AS (SELECT lang, word, count(*) AS c_cw FROM t GROUP BY 1, 2),
         ct AS (SELECT lang, count(*) AS n_tok FROM t GROUP BY 1),
         v AS (SELECT count(DISTINCT word) AS v_size FROM t),
         vocab AS (SELECT DISTINCT word FROM t),
         model AS (SELECT vocab.word, ct.lang,
                     ln((coalesce(c_cw, 0) + 1) /
                        CAST(n_tok + v_size AS DOUBLE)) AS logp
                   FROM vocab CROSS JOIN ct CROSS JOIN v
                   LEFT JOIN ctc ON ctc.word = vocab.word AND ctc.lang = ct.lang),
         pri AS (SELECT lang,
                   ln(count(*) /
                      CAST((SELECT count(*) FROM documents) AS DOUBLE)) AS log_prior
                 FROM documents GROUP BY lang),
         sc AS (SELECT doc_id, m.lang, sum(c_dw * logp) AS ll
                FROM dtc JOIN model m ON m.word = dtc.word GROUP BY 1, 2),
         best AS (SELECT doc_id, lang AS pred_lang, score,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, lang DESC) AS rn
                  FROM (SELECT sc.doc_id, sc.lang, ll + log_prior AS score
                        FROM sc JOIN pri ON pri.lang = sc.lang))
         SELECT d.doc_id, d.lang AS true_lang, pred_lang,
                round(score, 4) AS score
         FROM documents d JOIN best ON best.doc_id = d.doc_id AND rn = 1
         ORDER BY d.doc_id""",
    "q_wordcount" ->
      """SELECT w AS word, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         GROUP BY w ORDER BY w""",
    // same exact integer model statistics, same fixed IEEE tree
    "q_kn_bigram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bi AS (SELECT ws[i] AS prev, ws[i + 1] AS cur
           FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
         cnt AS (SELECT prev, cur, count(*) AS c FROM bi GROUP BY 1, 2),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n1_all FROM cnt),
         e AS (SELECT prev, cur, CAST(c AS BIGINT) AS c,
           CAST(sum(c) OVER (PARTITION BY prev) AS BIGINT) AS c_ctx,
           CAST(count(*) OVER (PARTITION BY prev) AS BIGINT) AS n1_fwd,
           CAST(count(*) OVER (PARTITION BY cur) AS BIGINT) AS n1_back
           FROM cnt)
         SELECT prev, cur, c, c_ctx, n1_fwd, n1_back,
           round((c - CAST(0.75 AS DOUBLE)) / c_ctx +
             ((CAST(0.75 AS DOUBLE) * n1_fwd) / c_ctx)
               * (n1_back / CAST(n1_all AS DOUBLE)), 6)
             AS p_kn
         FROM e, t
         ORDER BY c DESC, prev, cur LIMIT 30""",
    // same 1-based slice clamping, same 0-based match position
    "q_kwic" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents WHERE doc_id % 50 = 0),
         p AS (SELECT doc_id, ws,
           unnest(generate_series(1, len(ws))) AS i FROM d)
         SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           coalesce(array_to_string(
             list_slice(ws, greatest(i - 2, 1), i - 1), ' '), '') AS left_ctx,
           coalesce(array_to_string(
             list_slice(ws, i + 1, i + 2), ' '), '') AS right_ctx
         FROM p WHERE ws[i] = 'merge'
         ORDER BY doc_id, pos""",
    // same salted portable hash per row, same word-rollup cell sums
    "q_cms_topk" ->
      s"""WITH wc AS (SELECT w AS word, count(*) AS n_exact
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         hc AS (SELECT word, n_exact, r,
           CAST(${PortableStringHash.duckdbSql("'cms' || CAST(r AS VARCHAR) || '#' || word", 1000003L)} % 256 AS INT) AS c
           FROM wc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rs),
         cells AS (SELECT r, c, CAST(sum(n_exact) AS BIGINT) AS cell_n
           FROM hc GROUP BY r, c),
         top AS (SELECT word FROM wc ORDER BY n_exact DESC, word LIMIT 20)
         SELECT h.word, h.n_exact,
           CAST(min(cell_n) AS BIGINT) AS n_cms,
           CAST(min(cell_n) - h.n_exact AS BIGINT) AS overcount
         FROM hc h JOIN top USING (word) JOIN cells USING (r, c)
         GROUP BY h.word, h.n_exact
         ORDER BY h.n_exact DESC, h.word""",
    // The (1.2 + 1) and term-pivot shapes are written to force the
    // SAME IEEE operation order as the Spark expression — see bm25's
    // scaladoc on ulp-determinism of the ≤3-term sum.
    "q_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         dl AS (SELECT doc_id, ws, len(ws) AS dl FROM d),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         hits AS (SELECT doc_id, dl, w AS word, count(*) AS tf
           FROM (SELECT doc_id, dl,
                   unnest(list_filter(ws, x -> x IN ('spark', 'join', 'window'))) AS w
                 FROM dl) t
           GROUP BY doc_id, dl, w),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM hits GROUP BY word),
         scored AS (SELECT doc_id, word,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS ts
           FROM hits JOIN df USING (word) CROSS JOIN stats),
         p AS (SELECT doc_id,
             max(CASE WHEN word = 'spark' THEN ts END) AS s_spark,
             max(CASE WHEN word = 'join' THEN ts END) AS s_join,
             max(CASE WHEN word = 'window' THEN ts END) AS s_window
           FROM scored GROUP BY doc_id)
         SELECT doc_id,
           round(coalesce(s_spark, 0.0) + coalesce(s_join, 0.0) + coalesce(s_window, 0.0), 6) AS bm25,
           CAST(s_spark IS NOT NULL AS INT) + CAST(s_join IS NOT NULL AS INT)
             + CAST(s_window IS NOT NULL AS INT) AS n_terms_hit
         FROM p ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "q_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY doc_id, word),
         df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM terms) GROUP BY word),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         SELECT doc_id, tf.word AS word, tf,
                round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
         ORDER BY doc_id, word""",
    "q_dedup_exact" ->
      """SELECT sha256(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY sha256(text) ORDER BY keep_id""",
    // same 16-word segments, same (doc_id, seg_idx) global-first keep;
    // FILTER (WHERE keep) is load-bearing — DuckDB list/string_agg keep
    // NULLs that Spark's collect_list drops
    "q_dedup_lines" ->
      s"""WITH d AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws
           FROM documents),
         segs AS (
           SELECT doc_id, CAST(i AS INT) AS seg_idx,
             array_to_string(list_slice(ws, CAST(i AS INT) * $LineSegWords + 1,
               CAST(i AS INT) * $LineSegWords + $LineSegWords), ' ') AS seg
           FROM (SELECT doc_id, ws, unnest(range(0, ((len(ws) - 1) // $LineSegWords) + 1)) AS i
                 FROM d WHERE len(ws) >= 1)),
         f AS (
           SELECT doc_id, seg_idx, seg,
             first_value(doc_id) OVER w AS fd,
             first_value(seg_idx) OVER w AS fi
           FROM segs
           WINDOW w AS (PARTITION BY seg ORDER BY doc_id, seg_idx)),
         k AS (SELECT doc_id, seg_idx, seg,
                 (fd = doc_id AND fi = seg_idx) AS keep FROM f)
         SELECT doc_id,
           count(*) AS n_segments,
           count(*) FILTER (WHERE keep) AS n_kept,
           coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '') AS clean_text
         FROM k GROUP BY doc_id ORDER BY doc_id""",
    // same normalize chain: lower → strip non-alnum → collapse runs → trim
    "q_dedup_normalized" ->
      """SELECT sha256(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             '  +', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    // exact integer millionths: 1000000 // global copy count
    "q_dedup_soft" ->
      """WITH f AS (SELECT doc_id, source, sha256(text) AS fp FROM documents),
         c AS (SELECT *, count(*) OVER (PARTITION BY fp) AS n_copies FROM f)
         SELECT source, count(*) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(sum(1000000 // n_copies) AS BIGINT) AS eff_millionths
         FROM c GROUP BY source ORDER BY source""",
    "q_pmi" ->
      """WITH w AS (SELECT DISTINCT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) x
           WHERE w != ''),
         n AS (SELECT count(*) AS n_docs FROM documents),
         p AS (SELECT a.w AS wa, b.w AS wb, count(*) AS c_ab
               FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.w < b.w
               GROUP BY 1, 2 HAVING count(*) >= 5),
         d AS (SELECT w, count(*) AS c FROM w GROUP BY w)
         SELECT wa, wb, c_ab,
                round(ln(CAST(c_ab * n_docs AS DOUBLE) / (da.c * db.c)), 6) AS pmi
         FROM p CROSS JOIN n
         JOIN d da ON da.w = wa
         JOIN d db ON db.w = wb
         ORDER BY wa, wb""",
    // the same 4/5-Jaccard pair CTE, then integer Levenshtein
    "q_dedup_edit" ->
      s"""WITH $shinglesCte,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT da, db FROM pairs
                JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
                WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= $PrefixJacNum.0 / $PrefixJacDen),
         ed AS (SELECT da, db,
                  CASE WHEN a.text = b.text THEN CAST(0 AS BIGINT)
                       ELSE CAST(levenshtein(a.text, b.text) AS BIGINT) END AS edit_dist,
                  CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
                FROM jp JOIN documents a ON a.doc_id = da JOIN documents b ON b.doc_id = db)
         SELECT da, db, edit_dist, max_len,
                round(1.0 - edit_dist / CAST(max_len AS DOUBLE), 6) AS edit_sim
         FROM ed ORDER BY da, db""",
    // same (lang, text, doc_id) total sort, same w=2 horizon via the
    // rank band-join (lag() and rn-distance see identical neighbors)
    "q_dedup_sorted" ->
      """WITH d AS (SELECT doc_id, lang, text,
                  list_distinct(string_split(text, ' ')) AS ws FROM documents),
         r AS (SELECT doc_id, lang, text, ws,
                 row_number() OVER (PARTITION BY lang ORDER BY text, doc_id) AS rn
               FROM d),
         p AS (SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
                 CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS uni
               FROM r a JOIN r b
                 ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 2)
         SELECT lang, doc_a, doc_b, inter, uni,
                round(inter * 1.0 / uni, 6) AS jac
         FROM p WHERE round(inter * 1.0 / uni, 6) >= 0.5
         ORDER BY lang, doc_a, doc_b""",
    // every 8-token window; dup ⇔ the window occurs in another doc
    // (min≠max over doc_id), rolled up to a per-doc dup fraction
    "q_dedup_substring" ->
      """WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), w -> w != '') AS ws
                FROM documents),
         g AS (SELECT doc_id, array_to_string(ws[i + 1:i + 8], ' ') AS g
               FROM d, unnest(range(len(ws) - 7)) AS t(i)
               WHERE len(ws) >= 8),
         f AS (SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY g)
                   <> max(doc_id) OVER (PARTITION BY g) AS dup
               FROM g)
         SELECT doc_id,
           count(*) AS n_windows,
           count(*) FILTER (WHERE dup) AS dup_windows,
           round(count(*) FILTER (WHERE dup) / CAST(count(*) AS DOUBLE), 6) AS dup_frac,
           round(count(*) FILTER (WHERE dup) / CAST(count(*) AS DOUBLE), 6) >= 0.2 AS drop_doc
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    // same signals as q_text_quality; gate decided on z > 0 so exp()
    // only appears inside the rounded score column
    "q_quality_logistic" ->
      """WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
                  len(list_distinct(string_split(text, ' ')))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
                  len(list_filter(string_split(text, ' '),
                        w -> w IN ('the', 'a', 'of')))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
                FROM documents),
         z AS (SELECT doc_id, ttr, stop_ratio,
                 -1.0 + 3.0 * ttr - 2.0 * stop_ratio + 0.5 * ln(n_words / 10.0) AS z
               FROM d)
         SELECT doc_id, round(ttr, 6) AS ttr, round(stop_ratio, 6) AS stop_ratio,
           round(1.0 / (1.0 + exp(-z)), 6) AS score, z > 0 AS keep
         FROM z ORDER BY doc_id""",
    "q_dedup_ngram" -> jaccardOracleSql("0.1"),
    // prefix filtering is lossless: same brute-force oracle at the
    // near-dup floor (4.0/5 parses to the identical double literal)
    "q_dedup_prefix" -> jaccardOracleSql(s"$PrefixJacNum.0 / $PrefixJacDen"),
    "q_dedup_ngram_idf" ->
      s"""WITH $shinglesCte,
         rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM sh GROUP BY g)
                  WHERE df <= $NgramMaxDf),
         fsh AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare USING (g)),
         sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM fsh a JOIN fsh b ON a.g = b.g AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT da, db, inter,
                inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS jac
         FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.1
         ORDER BY da, db""",
    "q_hash_embed" ->
      s"""WITH $hashedVecCte
         SELECT doc_id,
           array_to_string(list_transform(vec, x -> CAST(CAST(x AS INT) AS VARCHAR)), '|') AS vec
         FROM v ORDER BY doc_id""",
    "q_doc_sim" ->
      s"""WITH $hashedVecCte,
         q AS (SELECT vec AS qvec FROM v WHERE doc_id = 0)
         SELECT doc_id,
           list_reduce(list_transform(range(1, 65), i -> vec[i] * qvec[i]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(qvec, x -> x * x), (x, y) -> x + y))) AS cos
         FROM v CROSS JOIN q
         ORDER BY cos DESC, doc_id ASC LIMIT 20""",
    "q_lang_id" ->
      """WITH s AS (SELECT doc_id, lang AS labeled_lang,
           CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) AS INT) AS s_en,
           CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und'))) AS INT) AS s_de,
           CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les'))) AS INT) AS s_fr,
           CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','los','que','y'))) AS INT) AS s_es
           FROM documents)
         SELECT *, CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
                        WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted
         FROM s ORDER BY doc_id""",
    "q_text_quality" ->
      """WITH base AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents),
         m AS (SELECT doc_id, n_chars,
           CAST(len(ws) AS INT) AS n_words,
           CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
           CAST(len(list_filter(ws, w -> w IN ('the','a','of'))) AS INT) AS n_stop,
           CAST(list_sum(list_transform(ws, w -> length(w))) AS INT) AS sum_word_len
           FROM base)
         SELECT doc_id, n_chars, n_words, n_distinct,
           n_distinct / CAST(n_words AS DOUBLE) AS ttr,
           n_stop / CAST(n_words AS DOUBLE) AS stop_ratio,
           sum_word_len / CAST(n_words AS DOUBLE) AS avg_word_len,
           0.4 * (n_distinct / CAST(n_words AS DOUBLE))
             + 0.3 * (1.0 - n_stop / CAST(n_words AS DOUBLE))
             + 0.3 * least(1.0, n_words / 50.0) AS quality
         FROM m ORDER BY doc_id""",
    "q_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
         CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe_est,
         CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT) AS n_vowel_runs,
         CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_word_tokens
         FROM documents ORDER BY doc_id""",
    "q_length_buckets" ->
      """SELECT source,
         least(CAST(floor(len(string_split(text, ' ')) / 32.0) AS BIGINT), 7) AS len_bucket,
         count(*) AS n_docs
         FROM documents GROUP BY source, len_bucket
         ORDER BY source, len_bucket""",
    // exact integer sums into single final divisions (see engine comment)
    "q_tokenizer_stats" ->
      """WITH t AS (
           SELECT source,
             CAST(strlen(text) AS BIGINT) AS bytes,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(len(list_filter(string_split(text, ' '), w -> w != '')) AS BIGINT) AS toks,
             CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           round(sum(bytes) / CAST(sum(toks) AS DOUBLE), 4) AS bytes_per_token,
           round(sum(chars) / CAST(sum(toks) AS DOUBLE), 4) AS chars_per_token,
           round(sum(bpe) / CAST(sum(toks) AS DOUBLE), 4) AS bpe_fertility
         FROM t WHERE toks > 0 GROUP BY source ORDER BY source""",
    // integer counts → (count desc, word) total-order ranks → ln over
    // identical integers → q_regression's round-at-6 moment contract
    "q_zipf_fit" ->
      """WITH c AS (
           SELECT source, word, count(*) AS cnt FROM (
             SELECT source, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
             FROM documents)
           GROUP BY source, word),
         r AS (SELECT source, ln(rank) AS x, ln(cnt) AS y FROM (
                 SELECT source, cnt,
                   row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rank
                 FROM c)
               WHERE rank <= 100),
         m AS (SELECT source, count(*) AS n,
                 round(avg(x), 6) AS mx, round(avg(y), 6) AS my,
                 round(avg(x * y), 6) AS mxy,
                 round(avg(x * x), 6) AS mxx,
                 round(avg(y * y), 6) AS myy
               FROM r GROUP BY source)
         SELECT source, n,
           round(CASE WHEN mxx - mx * mx != 0
                 THEN (mxy - mx * my) / (mxx - mx * mx) END, 6) AS zipf_slope,
           round(my - CASE WHEN mxx - mx * mx != 0
                 THEN (mxy - mx * my) / (mxx - mx * mx) END * mx, 6) AS intercept,
           round(CASE WHEN mxx - mx * mx != 0 AND myy - my * my != 0
                 THEN (mxy - mx * my) * (mxy - mx * my)
                      / ((mxx - mx * mx) * (myy - my * my)) END, 6) AS r2
         FROM m ORDER BY source""",
    // same distinct 5-gram windows, first-occurrence as a min window
    "q_ngram_novelty" ->
      """WITH d AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(ws) - 4),
             i -> array_to_string(list_slice(ws, CAST(i AS INT) + 1, CAST(i AS INT) + 5), ' ')))) AS gram
           FROM d WHERE len(ws) >= 5),
         w AS (SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY gram) < doc_id AS seen_earlier
               FROM g)
         SELECT doc_id, count(*) AS n_grams,
           count(*) FILTER (WHERE seen_earlier) AS n_seen,
           round((count(*) - count(*) FILTER (WHERE seen_earlier))
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
         FROM w GROUP BY doc_id ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id,
         list_reduce(list_transform(string_split(text, ' '),
                                    w -> CAST(ascii(w) + length(w) AS BIGINT)),
                     (a, v) -> (a * 31 + v) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
  )
}
