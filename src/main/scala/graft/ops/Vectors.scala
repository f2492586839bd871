package graft.ops

import graft.Tables
import graft.functions.PortableStringHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over `embeddings.embedding` (FLOAT[64]) —
  * SURVEY.md §2.10 + the north-star ANN operators.
  *
  * Everything is built from codegen'd higher-order functions
  * (`zip_with`/`aggregate`): no UDF, no collect, no MLlib. Dot
  * products are explicit left folds with init 0.0 so Spark's
  * `aggregate` and DuckDB's init-less `list_reduce` produce
  * bit-identical doubles — which is what lets cosine scores be
  * hash-compared unrounded.
  *
  * Scale shapes: top-k is a linear scan + TakeOrderedAndProject (the
  * per-partition-heap plan — no global sort); all-pairs is bounded by
  * an equi-key (label) plus a band predicate; the IVF variant prunes
  * the scan to the query's coarse bucket, the standard trick for
  * making ANN sub-linear at 100 TB (bucket becomes a partition key on
  * a real cluster).
  */
object Vectors {

  /** Embedding cast to double — float→double is exact, and keeps all
    * downstream arithmetic in one IEEE domain on both engines. */
  private val darr: Column = transform(col("embedding"), x => x.cast("double"))

  /** Deterministic rational query vector: q(i) = ((i mod 7) - 3) / 3,
    * i ∈ [0, 64) — passed as a *literal expression*, never collected,
    * and reproducible exactly in any engine. */
  // 3.0D: a bare 3.0 parses as DECIMAL(2,1) in Spark SQL and silently
  // drags the whole array into decimal math (~1e-7 truncation).
  private val qvec: Column = expr("transform(sequence(0, 63), i -> ((i % 7) - 3) / 3.0D)")

  private def fold(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Shard count for [[topKPerQid]]. 32 matches the session's shuffle
    * parallelism; at cluster scale it would be sized to executors ×
    * cores so stage 1 saturates the fleet. */
  private val TopkShards = 32

  /** Two-stage top-k per query id (r8, closing the r7 verdict's one
    * perf-weak shape): the single `Window.partitionBy(qid)` the
    * serving/truth tiers used to rank with puts EVERY corpus row of a
    * query into one task's sort — partition count = |batch|, partition
    * size = |corpus|, the one remaining scale-killer at 100×. Instead:
    * (1) rank within (qid, shard) where shard = vec_id mod
    * [[TopkShards]] — a pure integer split, so stage-1 partitions are
    * |corpus|/shards and there are |batch|·shards of them — keep k per
    * shard; (2) rank the surviving ≤ |batch|·shards·k rows within qid
    * for the final k. Output-identical to the one-window rendering
    * because the order is TOTAL (every caller tiebreaks on the unique
    * vec_id): each global top-k row has < k predecessors globally,
    * hence < k in its own shard, so stage 1 never drops a winner, and
    * stage 2 ranks over a superset of the winners that preserves every
    * predecessor — VectorsSpec pins the equivalence row-for-row; the
    * DuckDB oracles (which render the single-window form) are
    * unchanged. */
  private[graft] def topKPerQid(scored: DataFrame, order: Seq[Column],
      k: Int, rankCol: String): DataFrame = {
    val local = row_number().over(
      Window.partitionBy(col("qid"), pmod(col("vec_id"), lit(TopkShards)))
        .orderBy(order: _*))
    val global = row_number().over(
      Window.partitionBy(col("qid")).orderBy(order: _*))
    scored
      .withColumn("_srn", local).filter(col("_srn") <= k).drop("_srn")
      .withColumn(rankCol, global).filter(col(rankCol) <= k)
  }

  /** HOF rendering — kept as the reference semantics the native
    * expression must match (see CosineSimilaritySpec). */
  private[graft] def cosineHof(a: Column, b: Column): Column =
    fold(zip_with(a, b, (x, y) => x * y)) /
      (sqrt(fold(transform(a, x => x * x))) *
        sqrt(fold(transform(b, x => x * x))))

  /** Production path: the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]) — one fused loop per row
    * instead of interpreted lambda dispatch plus a materialized
    * product array, with bit-identical left-fold semantics. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Brute-force cosine top-k against the literal query (V1). */
  def vectorTopk(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), cosine(darr, qvec).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(50)

  /** Batched ANN serving (V5, r4): top-10 neighbors for EVERY query
    * in a query set, answered by ONE corpus scan — the serving shape
    * at scale, where q separate scans (or q driver round trips) is
    * the anti-pattern. The query set (a fixed id slice standing in
    * for the online batch) broadcasts; the corpus pairs against it in
    * a BroadcastNestedLoopJoin — bounded cartesian: |corpus| × |batch|
    * rows, never |corpus|² — then the two-stage [[topKPerQid]] keeps
    * the top-10 (cos desc, vec_id tiebreak; a query's own vector ranks
    * first at cos 1, the conventional self-hit) without ever sorting a
    * whole corpus inside one task. */
  def vectorTopkBatch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), darr.as("v"))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos"))
    topKPerQid(scored, Seq(col("cos").desc, col("vec_id").asc), 10, "rn")
      .drop("rn")
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  /** All-pairs near-neighbor (V2): candidates bounded by the label
    * equi-key plus a vec_id band of 25. The band rides as an *equi*
    * block key (block = vec_id div 25; the left side duplicates into
    * blocks b and b+1 so adjacent-block pairs still meet) — keeping
    * the join pure-equi matters twice over: no near-cartesian
    * label-only explosion at scale, and the (interpreted,
    * non-codegen) cosine fold only ever runs on banded candidates
    * instead of inside the join condition for every label-pair. */
  def vectorPairs(s: SparkSession, d: String): DataFrame =
    bandedPairs(Tables.embeddings(s, d), MinCos)
      .orderBy(col("va"), col("vb"))

  /** Core banded pair generation over any `(vec_id, label, embedding)`
    * relation — shared by the declared pairs query and the
    * embedding-similarity clustering below. */
  private[graft] def bandedPairs(emb: DataFrame, minCos: Double): DataFrame = {
    val e = emb
      .select(col("vec_id"), col("label"), darr.as("v"),
        floor(col("vec_id") / 25).as("blk"))
    val probe = e.select(col("vec_id").as("va"), col("label"), col("v").as("va_v"),
      explode(array(col("blk"), col("blk") + 1)).as("jblk"))
    val build = e.select(col("vec_id").as("vb"), col("label"), col("v").as("vb_v"),
      col("blk").as("jblk"))
    probe.join(build, Seq("label", "jblk"))
      .filter(col("va") < col("vb") && col("vb") <= col("va") + 25)
      .select(col("va"), col("vb"), col("label"),
        cosine(col("va_v"), col("vb_v")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  // ----- SRP-LSH: similarity-preserving candidate generation -----

  /** Random-hyperplane (signed random projection) LSH parameters: 4
    * bands of 8 sign-bits each, 32 hyperplanes total. For a pair at
    * angle θ each bit agrees with p = 1 − θ/π, a band collides with
    * p^8, and the pair is a candidate if ANY band collides:
    * 1 − (1 − p^8)^4. In the near-dup regime this is what an LSH must
    * deliver — cos ≥ 0.95 → p ≥ 0.90 → ≥ 93% per-pair recall, and a
    * true duplicate (cos ≈ 1) collides in every band — while random
    * pairs (p ≈ 0.5) collide at ~1.5%, so candidates stay ~linear in
    * corpus size instead of quadratic. Unlike an id-block key, the
    * probability depends ONLY on the angle: duplicates land in the
    * same bucket no matter how far apart their ids are. */
  private val NBands = 4
  private val BitsPerBand = 8

  /** Cosine floor shared by q_vector_pairs and q_dedup_embed — one val
    * so the Spark queries and the generated oracle SQL can never
    * drift (the lockstep-constant rule). */
  private val MinCos = 0.25

  /** Hyperplane j as a deterministic rational literal —
    * h_j(i) = (((i·(j+2) + j²+1) mod 37) − 18) / 18, i ∈ [0, 64).
    * The multiplier j+2 is distinct mod 37 for all 32 planes, so no
    * two planes are shifts of each other; values are exact dyadic-free
    * rationals both engines compute identically from integer math and
    * one double division. Same literal-expression trick as [[qvec]]:
    * nothing is collected, DuckDB reproduces the planes verbatim. */
  private def hplane(j: Int): Column =
    expr(s"transform(sequence(0, 63), i -> (((i * ${j + 2} + ${j * j + 1}) % 37) - 18) / 18.0D)")

  private def dotPlane(v: Column, j: Int): Column =
    fold(zip_with(v, hplane(j), (x, h) => x * h))

  /** Band b's key, HOF rendering: 8 sign-bits of hyperplane dots,
    * packed little-endian. Left-fold dots with init 0.0 keep the
    * doubles bit-identical to DuckDB's `list_reduce`, so the sign —
    * and therefore the bucket — can never straddle engines. Kept as
    * the reference semantics the native [[graft.functions.SrpBandKeys]]
    * expression must match (VectorsSpec parity test); production goes
    * through the fused expression. */
  private[graft] def bandKeyHof(v: Column, b: Int): Column =
    (0 until BitsPerBand).map { t =>
      when(dotPlane(v, b * BitsPerBand + t) > 0, lit(1 << t)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  /** SRP-LSH candidate pairs over any `(vec_id, v)` relation with a
    * unique `vec_id`: the codegen'd [[graft.functions.SrpBandKeys]]
    * packs a vector's 32 sign bits into one word (band b's key is its
    * byte b), the word is exploded once per band, and the vectors
    * self-join pure-equi on (`within`, band, key). A pair is emitted
    * only from the lowest band it collides in, a local test on the two
    * words, so each pair is one row and no pair-dedup shuffle follows
    * (EDBT 2022, PAPERS.md). The test reads the generator's output, not
    * a column computed from `v` beside it, whose inferred constraints
    * would reach the scan below a caller's `groupBy(v)` and cost the
    * join-backs their exchange reuse. Both self-join sides are one
    * banded subplan on one key, so ReuseExchange computes it once
    * (PlanSpec pins it); candidates are bounded by bucket sizes. */
  private[graft] def srpCandidates(e: DataFrame, bandCol: String = "v",
      within: Seq[String] = Nil): DataFrame = {
    val word = graft.functions.SrpBandKeys.srpBandKeys(col(bandCol), 1, NBands * BitsPerBand)(0)
    val bucket = within :+ "band" :+ "bkey"
    val banded = e.select(col("vec_id") +: within.map(col) :+ word.as("word"): _*)
      .select(col("vec_id") +: within.map(col) :+
        posexplode(array(Seq.fill(NBands)(col("word")): _*)).as(Seq("band", "w")): _*)
      .withColumn("bkey", expr(s"shiftright(w, band * $BitsPerBand) & 255"))
    def side(id: String, w: String) =
      banded.select(col("vec_id").as(id) +: col("w").as(w) +: bucket.map(col): _*)
    // no lower band collides: each lower key byte of the two words differs
    val x = col("wa").bitwiseXOR(col("wb"))
    val lowest = (0 until NBands - 1).map(b =>
      col("band") <= b || x.bitwiseAND(lit(255 << (b * BitsPerBand))) =!= 0).reduce(_ && _)
    side("va", "wa").join(side("vb", "wb"), bucket)
      .filter(col("va") < col("vb") && lowest)
      .select(col("va"), col("vb"))
  }

  /** Candidates → verified near-neighbor edges: join the (narrow)
    * pair list back to the vectors by key and keep pairs above the
    * cosine threshold. Join-backs shuffle only candidate ids plus one
    * vector copy per side — the blobs never ride through the
    * candidate self-join. The two join-backs are the same vector
    * relation shuffled on the same single key, so ReuseExchange
    * materializes it once. */
  private[graft] def srpPairs(emb: DataFrame, minCos: Double): DataFrame =
    srpPairsOf(emb.select(col("vec_id"), darr.as("v")), minCos)

  /** [[srpPairs]] over an already-shaped `(vec_id, v: array<double>)`
    * relation — the reusable LSH stage ([[graft.ops.Pipeline]] feeds
    * it hashed CHUNK vectors rather than the embeddings table).
    * `bandCol` lets the BUCKETING see a transformed rendering of the
    * vector (Pipeline centers its all-positive count vectors so they
    * spread across sign orthants) while the cosine CONFIRM always
    * scores the raw `v`; `within` restricts candidates to pairs equal
    * on those columns. `vec_id` must be unique in `e`: each candidate
    * pair is then one row, from its lowest colliding band. */
  private[graft] def srpPairsOf(e: DataFrame, minCos: Double,
      bandCol: String = "v", within: Seq[String] = Nil): DataFrame = {
    srpCandidates(e, bandCol, within)
      .join(e.select(col("vec_id").as("va"), col("v").as("va_v")), Seq("va"))
      .join(e.select(col("vec_id").as("vb"), col("v").as("vb_v")), Seq("vb"))
      .select(col("va"), col("vb"), cosine(col("va_v"), col("vb_v")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Embedding-cosine near-dup clustering (V4): SRP-LSH candidate
    * pairs → cosine-threshold edges → transitive closure by
    * [[Components]] — every vector keys to the min vec_id of its
    * similarity cluster, exactly the `cluster_rep`/`is_dup` surface
    * the text dedup family exposes. Candidate generation is
    * similarity-preserving (see [[srpCandidates]]): a duplicate pair
    * is found regardless of id distance, the property the old
    * vec_id-block banding lacked (VectorsSpec plants a far-id
    * duplicate to pin it). Threshold 0.25 because this corpus plants
    * no tight duplicates (max cosine ≈ 0.51); a production near-dup
    * sweep runs the same mechanics at ≥0.9 where per-pair recall is
    * ≥ 93%. Oracle = the same 32 hyperplane dots, bands, pairs, and
    * a 20-round unrolled min-label propagation in DuckDB (10 rounds
    * were proven insufficient at sf0.1 — see the oracle comment). */
  def dedupEmbed(s: SparkSession, d: String, minCos: Double = MinCos): DataFrame =
    dedupEmbedCore(Tables.embeddings(s, d).select(col("vec_id"), darr.as("v")), minCos)

  /** [[dedupEmbed]] over any `(vec_id, v: array<double>)` relation —
    * DataFrame-parameterized so VectorsSpec can plant a k=100
    * exact-clone group and pin both the output identity and the
    * candidate-count cut of the collapse front.
    *
    * Exact-collapse front (r7, the Pipeline.edgesOf lesson applied
    * here): identical embeddings enter the banded self-join as ONE
    * representative. Without it an exact-clone group of size k puts k
    * identical vectors in the same bucket of EVERY band — C(k,2)
    * candidate pairs per group per band, quadratic in clone
    * multiplicity (k=10 under ScaleUp is survivable; a real crawl's
    * k-in-the-thousands boilerplate is not). The collapse is
    * OUTPUT-IDENTICAL, which is why the uncollapsed oracle is
    * unchanged: clones share every band key, so a rep pair collides
    * iff any member pair does and scores the same cosine; member↔rep
    * star edges reconnect each exact group, so the transitive closure
    * reaches the same clusters and min-ids (reps are group minima).
    * The group key is the vector itself — exact equality, no digest
    * collision risk; at 100 TB the 512-byte key is the same order as
    * a digest column and shuffles once. Star edges carry the same
    * confirm semantics as LSH edges (cos(v,v)=1 ≥ minCos only when
    * ‖v‖>0): an all-zero vector has NaN cosine and confirms nothing,
    * so zero-vector clones stay singletons exactly as uncollapsed. */
  private[graft] def dedupEmbedCore(e: DataFrame, minCos: Double): DataFrame = {
    val reps = e.groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("v"))
    val lsh = srpPairsOf(reps, minCos)
      .select(col("va").as("src"), col("vb").as("dst"))
    val star = e.join(reps.select(col("v"), col("vec_id").as("rep")), Seq("v"))
      .filter(col("vec_id") =!= col("rep") &&
        fold(zip_with(col("v"), col("v"), (x, y) => x * y)) > 0)
      .select(col("rep").as("src"), col("vec_id").as("dst"))
    val edges = lsh.unionByName(star)
    val comps = Components.connectedComponents(edges)
      .select(col("node").as("vec_id"), col("comp").as("rep"))
    e.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("rep"), col("vec_id")).as("cluster_rep"))
      .withColumn("is_dup", col("vec_id") =!= col("cluster_rep"))
      .orderBy(col("vec_id"))
  }

  /** The IVF coarse quantizer shared by every inverted-file query
    * (V3 single/multi-probe, V11's approx tier, the r8 IVFADC): 8
    * sign cells on dims 0–2 — a deterministic, data-independent cell
    * id both engines compute from three comparisons. One definition
    * so the cell geometry can never drift between the index builders
    * and the serving paths. */
  private def ivfBucket(v: Column): Column =
    (when(element_at(v, 1) > 0, 4).otherwise(0) +
      when(element_at(v, 2) > 0, 2).otherwise(0) +
      when(element_at(v, 3) > 0, 1).otherwise(0)).cast("int")

  /** IVF-flavored ANN (north star, scale path): coarse-quantize every
    * vector into one of 8 sign buckets on dims 0–2, then brute-force
    * only the query's bucket. On a cluster the bucket is the partition
    * key, so the scan prunes to 1/8 of the data before any arithmetic;
    * recall is traded per missing neighbor bucket (documented, exact
    * variant is vectorTopk). */
  def vectorIvf(s: SparkSession, d: String): DataFrame = {
    def bucketOf(v: Column): Column = ivfBucket(v)
    val qBucket = bucketOf(qvec)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), darr.as("v"))
      .withColumn("bucket", bucketOf(col("v")))
      .filter(col("bucket") === qBucket)
      .select(col("vec_id"), col("label"), col("bucket"),
        cosine(col("v"), qvec).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Multi-probe IVF (the recall/scan dial of [[vectorIvf]]): scan the
    * query's bucket plus its three Hamming-1 neighbors — the standard
    * multi-probe LSH trick. A true neighbor missed by single-probe
    * differs from the query in exactly the few sign bits its bucket
    * flips, and the nearest buckets are the 1-bit flips. Measured on
    * this corpus: recall@10 rises 0.2→0.6 (sf0.001) and 0.5→0.9
    * (sf0.1) for a 4/8 scan fraction; at cluster scale probes are
    * partition keys, so this reads 4 partitions instead of 1 and
    * still prunes half the corpus. VectorsSpec pins both recall
    * floors. */
  def vectorIvfProbe(s: SparkSession, d: String): DataFrame = {
    def bucketOf(v: Column): Column = ivfBucket(v)
    val qBucket = bucketOf(qvec)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), darr.as("v"))
      .withColumn("bucket", bucketOf(col("v")))
      .filter(col("bucket") === qBucket ||
        col("bucket") === qBucket.bitwiseXOR(lit(1)) ||
        col("bucket") === qBucket.bitwiseXOR(lit(2)) ||
        col("bucket") === qBucket.bitwiseXOR(lit(4)))
      .select(col("vec_id"), col("label"), col("bucket"),
        cosine(col("v"), qvec).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** ANN recall evaluation harness (V11, r6): recall@10 of the
    * single-probe IVF index against brute-force ground truth, for
    * every query in the V5 serving batch — the measurement loop every
    * production ANN deployment runs before trusting an index (the
    * number quoted by FAISS/ScaNN-style benchmarks), here as a
    * declared, oracle-checked query instead of a number in a
    * docstring. Both sides are the engine's own serving shapes run
    * against the SAME broadcast query batch: truth = the V5 bounded
    * BroadcastNestedLoopJoin (one corpus scan for all queries),
    * approx = the V3 bucket equi-join (the scan prunes to the query's
    * sign bucket). The intersection is a (qid, vec_id) semi join of
    * two ≤10-row-per-query relations; recall = n_hits/10 — one
    * division of exact integers. At 100 TB this costs two corpus
    * scans regardless of batch size, which is exactly what makes
    * index evaluation routinely affordable. Small buckets can return
    * fewer than 10 candidates — n_approx reports it rather than
    * hiding it. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    def bucketOf(v: Column): Column = ivfBucket(v)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), darr.as("v"))
      .withColumn("bucket", bucketOf(col("v")))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    // both tiers rank via the two-stage topKPerQid — the truth scan is
    // |corpus|×|batch| and even the bucket-pruned approx side is a
    // constant fraction of the corpus per query, so neither may sort a
    // corpus-sized partition in one task (r8, ex-perf-weak shape)
    val order = Seq(col("cos").desc, col("vec_id").asc)
    val truth = topKPerQid(
      e.crossJoin(broadcast(queries))
        .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos")),
      order, 10, "rn")
      .select(col("qid"), col("vec_id"))
    val approx = topKPerQid(
      e.join(broadcast(queries), col("bucket") === col("qbucket"))
        .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos")),
      order, 10, "rn")
      .select(col("qid"), col("vec_id"))
    // every post-top-k relation is query-batch-bounded (≤10 rows per
    // query), so the tail joins broadcast EXPLICITLY — left to AQE the
    // initial SMJ plans raced their streamed-side shuffles against the
    // runtime BHJ conversion, flipping the recorded plan between 4 and
    // 6 exchanges run-to-run (the q_modularity stage-race, caught by
    // PlanBudgetSpec in-suite and localized with PlanProbe)
    val hits = truth.join(broadcast(approx), Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    val nApprox = approx.groupBy(col("qid")).agg(count(lit(1)).as("n_approx"))
    queries.select(col("qid"), col("qbucket"))
      .join(broadcast(nApprox), Seq("qid"), "left")
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("qbucket"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 10.0, 2).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  /** Per-dimension z-score feature normalization (V6, r4) — the
    * standard pre-training scaling pass over an embedding corpus.
    * Two-phase shape: (1) one narrow posexplode + groupBy computes the
    * 64 per-dimension moments (the only shuffle — 64 rows out); (2)
    * the moments pack into ONE sorted struct-array row that broadcasts
    * back, and `zip_with` normalizes every vector in place — no second
    * shuffle, no join by dimension against the corpus. At 100 TB the
    * stats pass is a map-side-combined agg over dims (64 keys,
    * perfectly partial-aggregatable) and the apply pass is
    * embarrassingly parallel.
    *
    * Cross-engine determinism via the lockstep-rounding rule (the
    * `q_join_skew_salted` precedent): every corpus-order-dependent
    * aggregate (Σx, Σx²) is rounded to 4 decimals BEFORE further
    * arithmetic (margin to the nearest rounding boundary is ≥5e-4 at
    * every SF vs ~1e-11 summation noise), after which mean/sd/z are
    * pure IEEE arithmetic both engines compute bit-identically —
    * including the |z| > 2 outlier comparison, which therefore needs
    * no epsilon. Output keeps order-independent per-vector reductions
    * only (first-dim z, min, max, outlier count). */
  def embedNormalize(s: SparkSession, d: String): DataFrame =
    zScores(Tables.embeddings(s, d))
      .select(col("vec_id"),
        round(element_at(col("z"), 1), 4).as("z_first"),
        round(array_min(col("z")), 4).as("z_min"),
        round(array_max(col("z")), 4).as("z_max"),
        size(filter(col("z"), zz => abs(zz) > 2)).cast("long").as("n_outliers"))
      .orderBy(col("vec_id"))

  /** The normalized `(vec_id, z)` relation behind [[embedNormalize]] —
    * factored out so VectorsSpec can pin the normalization contract
    * (per-dim mean ≈ 0, variance ≈ 1) on the full z arrays, which the
    * declared query reduces away. */
  private[graft] def zScores(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), darr.as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((round(sum(col("x")), 4) / count(lit(1))).as("m"),
        (round(sum(col("x") * col("x")), 4) / count(lit(1))).as("msq"))
      .select(col("i"), col("m"), sqrt(col("msq") - col("m") * col("m")).as("sd"))
    // one row: the 64 (i, m, sd) structs sorted by dim — struct order
    // is lexicographic on the leading field, i.e. dim order
    val packed = stats.agg(
      sort_array(collect_list(struct(col("i"), col("m"), col("sd")))).as("ms"))
    val z = zip_with(col("v"), col("ms"), (x, st) => (x - st("m")) / st("sd"))
    e.crossJoin(broadcast(packed))
      .select(col("vec_id"), z.as("z"))
  }

  /** Fixed-iteration Lloyd's k-means over the embedding corpus (V7,
    * r4) — the curation clustering pass (domain discovery, diversity
    * sampling) rendered as pure dataflow. k = 4 seeds from vec_ids
    * {0,100,200,300} (present at every SF), two update steps, final
    * assignment — a FIXED unroll, so the whole thing is one static
    * declarative plan (no loop state, no checkpoints) and the oracle
    * is the same recurrence unrolled in SQL.
    *
    * Per iteration: centroids (4 rows) broadcast against the corpus —
    * a bounded 4× expansion, argmin by (dist, cluster) window — and
    * the update is a posexplode moment agg on (cluster, dim): 256
    * keys, perfectly map-side combinable. At 100 TB that is the
    * canonical distributed k-means shape: the corpus never shuffles,
    * only 256-row moment tables move. Distances are the house left
    * fold (bit-identical to DuckDB `list_reduce`); centroid means are
    * lockstep-rounded (Σx at 4 decimals) so every engine derives the
    * SAME centroids and therefore the same assignment — ties broken
    * by cluster id, empty clusters drop out identically on both
    * engines (none occur on the harness corpus). */
  def kmeans(s: SparkSession, d: String): DataFrame =
    kmeansCore(Tables.embeddings(s, d))

  /** Lloyd's over any embeddings-shaped relation — DataFrame-
    * parameterized so FaultToleranceSpec can inject task failures
    * into the scan and watch the retried run produce bit-identical
    * clusters. */
  def kmeansCore(emb: DataFrame): DataFrame =
    kmeansAssign(emb)
      .select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))
      .orderBy(col("vec_id"))

  /** The unsorted, unrounded `(vec_id, v, cluster, dist)` assignment
    * relation behind [[kmeansCore]] — factored out so the semantic
    * dedup below can reuse the identical 3-iteration recurrence
    * without paying (or relying on Catalyst to eliminate) the
    * presentation sort. */
  private[ops] def kmeansAssign(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), darr.as("v"))
    val init = e.filter(col("vec_id").isin(0L, 100L, 200L, 300L))
      .select(expr("vec_id div 100").as("cluster"), col("v").as("c"))

    // argmin is an IN-ROW fold over the k-row centroid array (r12,
    // guide §2.4/§4): the r11 shape crossJoined all k centroids per
    // vector and picked rn=1 under a (vec_id)-partitioned window —
    // k× the rows through an exchange + sort per assign step, three
    // times per query. array_min over struct(dist, cluster) applies
    // the identical (dist asc, cluster asc) tie-break with no
    // exchange at all; the assign step is now a narrow map.
    def assign(centroids: DataFrame): DataFrame = {
      val cents = centroids
        .agg(sort_array(collect_list(struct(col("cluster"), col("c")))).as("cents"))
      e.crossJoin(broadcast(cents))
        .withColumn("m", array_min(transform(col("cents"), ct =>
          struct(
            fold(zip_with(col("v"), ct("c"), (x, y) => (x - y) * (x - y)))
              .as("dist"),
            ct("cluster").as("cluster")))))
        .select(col("vec_id"), col("v"),
          col("m.cluster").as("cluster"), col("m.dist").as("dist"))
    }

    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cluster"), col("i"))
        .agg((round(sum(col("x")), 4) / count(lit(1))).as("cd"))
        .groupBy(col("cluster"))
        .agg(transform(sort_array(collect_list(struct(col("i"), col("cd")))),
          s => s("cd")).as("c"))

    assign(update(assign(update(assign(init)))))
  }

  /** Cosine floor for the semantic-dup stage of [[dedupSemantic]] —
    * above this corpus's random-pair band but below its max observed
    * cosine (≈ 0.51), so the gate genuinely prunes; a production
    * SemDeDup runs the same mechanics at its own ε. */
  private val SemCos = 0.3

  /** SemDeDup-style semantic dedup (V8, r5; Abbas et al. 2023,
    * arXiv:2303.09540): k-means partitions the corpus, then duplicate
    * groups are found ONLY within each cluster and every group keeps
    * its min-id representative. This composes three existing stages —
    * the [[kmeansAssign]] recurrence, the SRP band keys, and
    * [[Components]] transitive closure — into the pipeline LLM
    * curation actually runs (cluster first so the pair search never
    * crosses cluster boundaries).
    *
    * Scale: the paper brute-forces within clusters because k grows
    * with the corpus (bounded cluster sizes); with the harness's fixed
    * k = 4 that within-cluster self-join would be quadratic (slope
    * ~100 on the sf0.01→0.1 sweep), so candidates are additionally
    * SRP-banded — the join key is (cluster, band, bkey), candidates
    * stay bounded by bucket∩cluster sizes, and the LSH recall
    * guarantee is unchanged (a near-dup pair collides in some band
    * regardless of cluster size). Vectors ride the banded self-join
    * as ids only; cosine confirms on narrow join-backs. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val assigned = kmeansAssign(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("cluster"))
    val comps = Components.connectedComponents(semanticDupEdges(assigned))
      .select(col("node").as("vec_id"), col("comp").as("rep"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("rep"), col("vec_id")).as("cluster_rep"))
      .withColumn("is_dup", col("vec_id") =!= col("cluster_rep"))
      .orderBy(col("vec_id"))
  }

  /** The cosine-confirmed within-cluster edges of [[dedupSemantic]],
    * exposed for PlanSpec: the declared query's final plan reads them
    * from [[Components]]' checkpoint leaf. */
  private[graft] def semanticDupEdges(assigned: DataFrame): DataFrame =
    srpPairsOf(assigned, SemCos, within = Seq("cluster"))
      .select(col("va").as("src"), col("vb").as("dst"))

  /** The assigned `(vec_id, v, cluster)` relation [[semanticDupEdges]]
    * expects, from the harness embeddings — spec-side entry. */
  private[graft] def semanticAssigned(s: SparkSession, d: String): DataFrame =
    kmeansAssign(Tables.embeddings(s, d))
      .select(col("vec_id"), col("v"), col("cluster"))

  /** MMR diverse re-ranking (V8, r5 wave 21; Carbonell & Goldstein
    * SIGIR 1998): serve 3 results that are RELEVANT but not redundant
    * — greedy argmax of λ·cos(d,q) − (1−λ)·max_{s∈S} cos(d,s) with
    * λ = 0.7 over the brute-force top-10 candidates (the first pick's
    * empty-set diversity term is 0). The re-rank stage is bounded by
    * construction: candidates are ≤ 10 rows regardless of corpus
    * size, so the 3-step greedy unroll runs entirely on broadcast
    * relations — the only corpus-wide work is the top-10 scan
    * itself, identical to V1's TakeOrdered shape. Ties break on
    * vec_id; every comparison sees identical doubles cross-engine
    * (same cosine fold, same λ arithmetic). */
  def vectorMmr(s: SparkSession, d: String): DataFrame =
    vectorMmrCore(Tables.embeddings(s, d), qvec)

  /** Greedy MMR over any `(vec_id, embedding)` relation and query
    * vector — parameterized so VectorsSpec can pin the selection
    * order and the λ arithmetic on hand-built low-dim vectors. */
  private[graft] def vectorMmrCore(emb: DataFrame, qv: Column): DataFrame = {
    val lam = lit(0.7)
    // ≤10 rows, reused across the 3 greedy steps
    val cand = Iterate.leaf(emb
      .select(col("vec_id"), darr.as("v"), cosine(darr, qv).as("cos_q"))
      .orderBy(col("cos_q").desc, col("vec_id").asc).limit(10))
    var selected = cand
      .orderBy(col("cos_q").desc, col("vec_id").asc).limit(1)
      .select(lit(1).as("pick"), col("vec_id"), col("v"), col("cos_q"),
        (lam * col("cos_q")).as("mmr"))
    for (step <- 2 to 3) {
      val selSide = selected.select(col("vec_id").as("sid"), col("v").as("sv"))
      val next = cand
        .join(broadcast(selSide), col("vec_id") === col("sid"), "left_anti")
        .crossJoin(broadcast(selSide))
        .groupBy(col("vec_id"), col("v"), col("cos_q"))
        .agg(max(cosine(col("v"), col("sv"))).as("msim"))
        .select(lit(step).as("pick"), col("vec_id"), col("v"), col("cos_q"),
          (lam * col("cos_q") - (lit(1.0) - lam) * col("msim")).as("mmr"))
        .orderBy(col("mmr").desc, col("vec_id").asc).limit(1)
      selected = selected.unionByName(next)
    }
    Iterate.leaf(selected).select(col("pick"), col("vec_id"),
        round(col("cos_q"), 6).as("cos_q"), round(col("mmr"), 6).as("mmr"))
      .orderBy(col("pick"))
  }

  /** JL output dimension: 64 → 16 keeps the distortion spread visible
    * (σ ≈ √(2/k) ≈ 35%) while the demonstration — norms preserved in
    * expectation by a data-independent ±1 matrix — stays exact. */
  private val JlK = 16

  /** Scala-side evaluation of the SAME portable hash the oracle
    * computes in SQL — through the expression's own fold, never a
    * re-implementation (drift-proof; PortableStringHashSpec pins the
    * expression against its HOF reference). */
  private def jlHash(str: String): Long =
    PortableStringHash(
      org.apache.spark.sql.catalyst.expressions.Literal(str), 1000003L)
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(str))

  /** The ±1 projection matrix, row j = output dim: sign(j,i) from the
    * portable hash of "jl#j#i" — data-independent, never collected
    * FROM data (it is 1024 compile-path constants shipped to every
    * task as a plan literal, the [[hplane]] trick at matrix scale). */
  private[graft] def jlSigns: Seq[Seq[Double]] =
    (0 until JlK).map(j => (0 until 64).map(i =>
      1.0 - 2.0 * (jlHash(s"jl#$j#$i") % 2)))

  /** Johnson–Lindenstrauss random projection (V10, r5): project every
    * embedding 64 → 16 dims through the ±1 sign matrix and report the
    * norm-distortion ratio ‖Px‖²/(k·‖x‖²) — the invariant (≈1 in
    * expectation) that makes dimensionality reduction safe ahead of
    * ANN at scale: 4× less data through every shuffle and cosine for
    * a bounded, measured recall cost. All sums are the house ordered
    * left fold with 0.0 init (bit-identical to DuckDB's list_reduce
    * over a 0.0-prepended list — x+0.0 is IEEE-exact for these
    * non-negative terms), so the ratio is deterministic cross-engine
    * with no rounding contract beyond the final display round.
    * Per-row narrow arithmetic only — k·d multiply-adds per vector,
    * no shuffle at all before the presentation sort. */
  def jlProject(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), darr.as("v"))
    val ys = (0 until JlK).map(j =>
      fold(zip_with(col("v"), typedLit(jlSigns(j)), (x, sg) => sg * x)))
    val ny = fold(array(ys.map(y => y * y): _*))
    val nx = fold(transform(col("v"), x => x * x))
    e.select(col("vec_id"), nx.as("nx"), ny.as("ny"))
      .filter(col("nx") > 0)
      .select(col("vec_id"),
        round(col("nx"), 6).as("norm_x"),
        round(col("ny"), 6).as("norm_y"),
        round(col("ny") / (lit(JlK.toDouble) * col("nx")), 6).as("distortion"))
      .orderBy(col("vec_id"))
  }

  // ----- Product quantization: the compressed-ANN scale path -----

  /** PQ geometry: M = 4 subspaces × 16 dims, k = 4 codewords each —
    * 64 doubles compress to 4 small codes (2 bits each at this k; a
    * production deployment runs M = 8–64, k = 256). Codebook training
    * is the proven [[kmeansAssign]] recurrence with `sub` added to
    * every key, so the oracle is the same unrolled SQL. */
  private val PqSubs = 4
  private val PqSubDim = 16
  private val PqTopK = 5
  /** LUT quantization grid: ADC entries become exact longs in
    * 1/PqLutScale units before the order-free sum — interpolated into
    * BOTH the plan and the oracle so the two can't drift. */
  private val PqLutScale = 1000000L
  /** ADC shortlist size for the exact re-rank stage (IVFADC+R):
    * production serving takes ADC top-R (R ≫ k), fetches those R raw
    * vectors by id, and re-ranks exactly. */
  private val PqRerank = 100

  /** Product-quantization ANN (Jégou et al., TPAMI 2011: "Product
    * quantization for nearest neighbor search" — the IVFADC paper;
    * what FAISS runs when a corpus is too big to keep raw vectors in
    * memory). Three stages, all declarative:
    *
    * 1. TRAIN: an independent k-means per 16-dim subspace — the
    *    [[kmeansAssign]] fixed 3-assign/2-update Lloyd unroll with
    *    (sub) joined into every key: assignment = argmin over the
    *    house left-fold squared distance partitioned by (vec_id,
    *    sub), update = lockstep-rounded per-(sub, code, dim) means.
    *    The codebook is M·k·(d/M) = 256 doubles TOTAL regardless of
    *    corpus size — the whole point of PQ at 100 TB.
    * 2. ENCODE: the final assignment IS the encoding — each vector
    *    becomes M small ints. One narrow pass over the corpus; raw
    *    vectors never shuffle again after this.
    * 3. SERVE (ADC — asymmetric distance computation): for each query
    *    in the serving batch, a lookup table of squared distances
    *    query-subvector → codeword (|Q|·M·k = 80 rows, broadcast);
    *    the approximate distance of every corpus vector is the SUM of
    *    its M table entries. Table entries are quantized to exact
    *    1e-6-unit longs BEFORE the sum, so the 4-term addition is
    *    order-free integer math on both engines (the q_tpch_promo
    *    sf1 lesson applied preemptively) — and the per-entry doubles
    *    feeding the quantization are bit-identical folds.
    *
    * Scale: train moves (corpus × k) distance rows per round but only
    * 256-key moment tables shuffle; encode is map-side against the
    * broadcast codebook; serve shuffles one (qid, vec_id) partial-sum
    * row per scored pair into a per-query top-k window — the same
    * mass [[vectorTopkBatch]] pays, on 2-bit codes instead of raw
    * floats. Output: top-5 per query by (adist_micro, vec_id). */
  def annPq(s: SparkSession, d: String): DataFrame =
    pqAdc(s, d).orderBy(col("qid"), col("rank"))

  /** The FIXED serving batch: 20 query ids that exist at every SF
    * (vec_id 0–499 at sf0.001; ScaleUp clones keep the originals).
    * Shared verbatim with the oracle SQL, like [[PqSeedIds]]. Five of
    * them (7, 107, …, 407) sit in the corpus-derived `% 100 = 7`
    * batch so a spec can assert the two serving faces agree row for
    * row on the overlap. */
  private[graft] val PqFixedBatch: Seq[Long] = Seq(
    7L, 23L, 42L, 59L, 88L, 107L, 131L, 166L, 199L, 207L,
    254L, 281L, 307L, 333L, 376L, 407L, 418L, 442L, 465L, 491L)

  /** PQ ANN serving with a FIXED 20-query batch — the production
    * serving shape, and the batched-ANN family's measured-LINEAR
    * scale representative (r8 verdict task 2). [[annPq]]'s batch is
    * corpus-derived (`vec_id % 100 = 7`) so its oracle stays
    * deterministic under ScaleUp cloning, but that makes its measured
    * decade-2 cost O(corpus²/100) BY HARNESS CONSTRUCTION. A real
    * deployment serves batches whose size does NOT grow with the
    * corpus: this twin runs the IDENTICAL train/encode/serve pipeline
    * ([[pqAdcCore]], same seeds, same LUT quantization) with the
    * batch pinned to [[PqFixedBatch]], so ADC mass is O(20 × corpus)
    * — linear per decade — and its default slope budget (12) is a
    * regression-catching gate rather than a documented cost model. */
  def annPqFixed(s: SparkSession, d: String): DataFrame =
    pqAdcCore(Tables.embeddings(s, d), PqTopK,
        queryPred = col("vec_id").isin(PqFixedBatch: _*))
      .orderBy(col("qid"), col("rank"))

  /** The unsorted ADC top-k relation `(qid, rank, vec_id,
    * adist_micro)` behind [[annPq]] — factored out so [[annPqRecall]]
    * can reuse the identical train/encode/serve pipeline without
    * paying (or relying on Catalyst to eliminate) the presentation
    * sort. */
  private[graft] def pqAdc(s: SparkSession, d: String,
      topK: Int = PqTopK): DataFrame =
    pqAdcCore(Tables.embeddings(s, d), topK)

  /** Codebook seed vectors (k-means|| stand-in): one centroid per
    * code, seeded from fixed corpus rows. Parameterized into
    * [[pqAdcCore]] so an injected test relation declares its own
    * seeds instead of silently training a partial codebook. */
  private val PqSeedIds: Seq[Long] = Seq(0L, 100L, 200L, 300L)

  /** The full train/encode/serve pipeline over any `(vec_id,
    * embedding)` relation — DataFrame-parameterized so
    * FaultToleranceSpec can inject task failures into the scan and
    * watch the retried run produce a bit-identical ranking. The seed
    * ids and the query-batch predicate are parameters (defaults = the
    * declared-query contract) so a caller injecting a relation that
    * lacks the default seed rows / query stride passes its own rather
    * than silently training an empty codebook (r8, ADVICE): every
    * seed id MUST resolve to a row of `emb`, and `queryPred` must
    * select a non-empty batch. */
  /** Split a `(vec_id, v, …)` relation into its PQ subvectors —
    * `(…, sub, sv)`; every non-vector column rides along (the IVFADC
    * variant carries `bucket` through encode this way). */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("*"),
        posexplode(transform(sequence(lit(0), lit(PqSubs - 1)),
          j => slice(col("v"), j * PqSubDim + 1, lit(PqSubDim))))
          .as(Seq("sub", "sv")))
      .drop("v")

  /** One Lloyd assignment step per subspace: argmin over the house
    * left-fold squared distance, partitioned by (vec_id, sub), ties
    * to the lower code. All of `subs`' columns survive (plus `code`,
    * `dist`) so callers can thread labels through the encode. */
  private def pqAssignStep(subs: DataFrame, codebook: DataFrame): DataFrame = {
    // in-row argmin over the per-sub codeword array (r12, guide
    // §2.4/§4 — the kmeansAssign rewrite applied per subspace): the
    // r11 shape put k× the rows through a (vec_id, sub) exchange +
    // sort per assign step; array_min over struct(dist, code) keeps
    // the identical (dist asc, code asc) tie-break with the codebook
    // riding a 4-row broadcast, no exchange on the stream.
    val cb = codebook.groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("c")))).as("cb"))
    subs.join(broadcast(cb), Seq("sub"))
      .withColumn("m", array_min(transform(col("cb"), e =>
        struct(
          fold(zip_with(col("sv"), e("c"), (x, y) => (x - y) * (x - y)))
            .as("dist"),
          e("code").as("code")))))
      .drop("cb")
      .withColumn("code", col("m.code"))
      .withColumn("dist", col("m.dist"))
      .drop("m")
  }

  /** One Lloyd update step per subspace: lockstep-rounded per-(sub,
    * code, dim) means re-packed into codeword lists ordered by dim. */
  private def pqUpdateStep(assigned: DataFrame): DataFrame =
    assigned.select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("sub"), col("code"), col("i"))
      .agg((round(sum(col("x")), 4) / count(lit(1))).as("cd"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("cd")))),
        t => t("cd")).as("c"))

  /** The fixed 3-assign/2-update Lloyd unroll over subvectors: seeds →
    * trained codebook. `codeOf` maps each seed id to its code (the
    * seed's index in `seedIds`). */
  private def pqTrainCodebook(subs: DataFrame, seedIds: Seq[Long]): DataFrame = {
    val codeOf = seedIds.zipWithIndex.tail
      .foldLeft(when(col("vec_id") === seedIds.head, 0L)) {
        case (acc, (id, c)) => acc.when(col("vec_id") === id, c.toLong)
      }
    val init = subs.filter(col("vec_id").isin(seedIds: _*))
      .select(col("sub"), codeOf.as("code"), col("sv").as("c"))
    pqUpdateStep(pqAssignStep(subs, pqUpdateStep(pqAssignStep(subs, init))))
  }

  private[graft] def pqAdcCore(emb: DataFrame, topK: Int,
      seedIds: Seq[Long] = PqSeedIds,
      queryPred: Column = col("vec_id") % 100 === 7): DataFrame = {
    val e = emb.select(col("vec_id"), darr.as("v"))
    val subs = pqSubvectors(e)
    val codebook = pqTrainCodebook(subs, seedIds)
    val codes = pqAssignStep(subs, codebook).select(col("vec_id"), col("sub"), col("code"))

    val queries = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val qsubs = queries.select(col("qid"),
      posexplode(transform(sequence(lit(0), lit(PqSubs - 1)),
        j => slice(col("qv"), j * PqSubDim + 1, lit(PqSubDim))))
        .as(Seq("sub", "qsv")))
    val pdist = fold(zip_with(col("qsv"), col("c"), (x, y) => (x - y) * (x - y)))
    val lut = qsubs.join(codebook, Seq("sub"))
      .select(col("qid"), col("sub"), col("code"),
        round(pdist * lit(PqLutScale.toDouble)).cast("long").as("pd_micro"))

    // the ADC-scored relation is (|batch| × |corpus|) rows after the
    // sum-over-subs agg; two-stage topKPerQid ranks it without a
    // corpus-sized per-qid sort partition (r8, ex-perf-weak shape)
    topKPerQid(
      codes.join(broadcast(lut), Seq("sub", "code"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("pd_micro")).as("adist_micro")),
      Seq(col("adist_micro"), col("vec_id")), topK, "rank")
      .select(col("qid"), col("rank"), col("vec_id"), col("adist_micro"))
  }

  /** PQ recall harness — the V11 evaluation posture applied to the
    * compressed index: recall@5 against brute-force exact-L2 ground
    * truth for every query in the serving batch, measured at BOTH
    * serving tiers. PQ trades accuracy for a 128× memory cut (64
    * doubles → 4 codes), and these are the numbers that say whether
    * the trade was sane — as a declared oracle-checked query, not a
    * docstring claim:
    *
    *  - `recall_adc`: raw ADC top-5. At the harness's deliberately
    *    tiny codebook (8-bit codes — 256 cells for the whole corpus)
    *    this lands ~0.2–0.4, the expected information-theoretic
    *    outcome, honestly reported (production runs M=8–64 ×
    *    k=256).
    *  - `recall_refined`: the production serving shape (IVFADC+R):
    *    ADC shortlists top-[[PqRerank]] per query, those raw vectors
    *    are fetched by id, and exact L2 re-ranks the shortlist — the
    *    corpus-wide scan stays on 2-bit codes, exact math touches
    *    ≤ R rows per query.
    *
    * Truth = one corpus scan per batch (bounded
    * BroadcastNestedLoopJoin, exact 64-dim squared L2, the house
    * fold); intersections = (qid, vec_id) semi joins of
    * ≤5-row-per-query relations, every post-top-k join broadcast
    * explicitly (the q_ann_recall AQE stage-race lesson). */
  def annPqRecall(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), darr.as("v"))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val dist = fold(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)))
    // truth is |corpus|×|batch| — two-stage topKPerQid, never a
    // corpus-sized per-qid sort partition (r8, ex-perf-weak shape)
    val truth = topKPerQid(
      e.crossJoin(broadcast(queries))
        .select(col("qid"), col("vec_id"), dist.as("dist")),
      Seq(col("dist"), col("vec_id")), PqTopK, "rn")
      .select(col("qid"), col("vec_id"))
    val shortlist = pqAdc(s, d, PqRerank)
    val adcTop = shortlist.filter(col("rank") <= PqTopK)
      .select(col("qid"), col("vec_id"))
    // fetch-by-id: the ≤R·|Q|-row shortlist broadcasts against the
    // corpus scan, never the other way around; its per-qid re-rank
    // window is BOUNDED (≤ PqRerank rows per query by construction),
    // so the single window is the right shape here — no sharding
    val rn = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id")))
    val refined = e
      .join(broadcast(shortlist.select(col("qid"), col("vec_id"))), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"), dist.as("dist"))
      .withColumn("rn", rn).filter(col("rn") <= PqTopK)
      .select(col("qid"), col("vec_id"))
    def hitsOf(approx: DataFrame): DataFrame =
      truth.join(broadcast(approx), Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    val recall = (h: Column) =>
      round(coalesce(h, lit(0L)) / lit(PqTopK.toDouble), 2)
    queries.select(col("qid"))
      .join(broadcast(hitsOf(adcTop).withColumnRenamed("n_hits", "h_adc")), Seq("qid"), "left")
      .join(broadcast(hitsOf(refined).withColumnRenamed("n_hits", "h_ref")), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("h_adc"), lit(0L)).as("n_hits_adc"),
        recall(col("h_adc")).as("recall_adc"),
        coalesce(col("h_ref"), lit(0L)).as("n_hits_refined"),
        recall(col("h_ref")).as("recall_refined"))
      .orderBy(col("qid"))
  }

  /** Multi-probe flips shared by [[vectorIvfProbe]], [[annIvfPq]] and
    * the rank-metrics approx tier: the query's own cell plus its three
    * Hamming-1 neighbors (probe list = cell XOR {0,1,2,4}). */
  private val IvfProbeFlips = Seq(0, 1, 2, 4)

  /** IVFADC — the full inverted-file + product-quantization serving
    * stack (Jégou et al., TPAMI 2011 §IV; what `IndexIVFPQ` is in
    * FAISS, and the first index any 100 TB deployment actually ships:
    * the flat-PQ [[annPq]] still SCANS every code, IVFADC prunes the
    * scan to the probed cells first). Four declarative stages:
    *
    * 1. COARSE: every vector lands in one of 8 [[ivfBucket]] sign
    *    cells; the cell centroid is the lockstep-rounded per-(cell,
    *    dim) mean — 8×64 doubles total, broadcast everywhere.
    * 2. RESIDUAL + TRAIN: PQ codebooks are trained on r = v −
    *    centroid(cell) (the residual trick that makes one codebook
    *    serve all cells), via the same [[pqTrainCodebook]] Lloyd
    *    unroll flat PQ uses — seeds are the residuals of the standard
    *    seed rows.
    * 3. ENCODE: each vector becomes (cell, M codes) — the inverted
    *    file. At scale the cell is the partition key; codes are 4
    *    small ints; raw vectors never shuffle after this pass.
    * 4. SERVE (multi-probe ADC): each query probes its own cell plus
    *    the three Hamming-1 flips ([[IvfProbeFlips]], the
    *    [[vectorIvfProbe]] dial). Per (query, probed cell) the query
    *    RESIDUAL against that cell's centroid feeds a LUT of
    *    1e-6-quantized squared distances (|Q|·probes·M·k rows,
    *    broadcast); the ADC distance of a corpus vector is the exact
    *    integer sum of its M entries — computed ONLY for vectors in
    *    probed cells (the equi-join on (bucket, sub, code) IS the
    *    inverted-file lookup; at 8 cells / 4 probes the scan halves,
    *    at production nlist=4096 / nprobe=16 it drops 256×).
    *
    * Top-5 per query by (adist_micro, vec_id) through the two-stage
    * [[topKPerQid]]. Output carries the winning vector's cell so the
    * pruning is visible in the result, not just the plan. */
  def annIvfPq(s: SparkSession, d: String): DataFrame =
    ivfPqCore(Tables.embeddings(s, d))
      .orderBy(col("qid"), col("rank"))

  /** The IVFADC pipeline over any `(vec_id, embedding)` relation —
    * DataFrame-parameterized so VectorsSpec can pin cell pruning (a
    * vector in an unprobed cell never scores) and the residual-train
    * geometry on planted vectors. */
  private[graft] def ivfPqCore(emb: DataFrame, topK: Int = PqTopK,
      seedIds: Seq[Long] = PqSeedIds,
      queryPred: Column = col("vec_id") % 100 === 7): DataFrame = {
    val e = emb.select(col("vec_id"), darr.as("v"))
    val bucketed = e.withColumn("bucket", ivfBucket(col("v")))
    // cell centroids: the k-means update shape on the 8 fixed cells —
    // 512 moment keys shuffle, the corpus does not
    val cent = bucketed.select(col("bucket"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("bucket"), col("i"))
      .agg((round(sum(col("x")), 4) / count(lit(1))).as("cd"))
      .groupBy(col("bucket"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("cd")))),
        t => t("cd")).as("c"))
    // residuals: one narrow map against the broadcast centroids
    val resid = bucketed.join(broadcast(cent), Seq("bucket"))
      .select(col("vec_id"), col("bucket"),
        zip_with(col("v"), col("c"), (x, cc) => x - cc).as("v"))
    val subs = pqSubvectors(resid) // (vec_id, bucket, sub, sv)
    val codebook = pqTrainCodebook(subs.select(col("vec_id"), col("sub"), col("sv")), seedIds)
    // the inverted file: (bucket, vec_id, sub, code) — bucket rides
    // through the encode, so no corpus-sized join-back is ever needed
    val codes = pqAssignStep(subs, codebook)
      .select(col("bucket"), col("vec_id"), col("sub"), col("code"))

    val queries = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val qb = ivfBucket(col("qv"))
    val probes = queries.select(col("qid"), col("qv"),
      explode(array(IvfProbeFlips.map(f => qb.bitwiseXOR(lit(f))): _*)).as("bucket"))
    // query residual PER PROBED CELL (the IVFADC asymmetry: the query
    // re-centers against each cell it probes)
    val qresid = probes.join(broadcast(cent), Seq("bucket"))
      .select(col("qid"), col("bucket"),
        zip_with(col("qv"), col("c"), (x, cc) => x - cc).as("v"))
    val qsubs = pqSubvectors(qresid) // (qid, bucket, sub, qsv-as-sv)
    val pdist = fold(zip_with(col("sv"), col("c"), (x, y) => (x - y) * (x - y)))
    val lut = qsubs.join(codebook, Seq("sub"))
      .select(col("qid"), col("bucket"), col("sub"), col("code"),
        round(pdist * lit(PqLutScale.toDouble)).cast("long").as("pd_micro"))

    // inverted-file lookup: only codes in probed cells join a LUT row
    topKPerQid(
      codes.join(broadcast(lut), Seq("bucket", "sub", "code"))
        .groupBy(col("qid"), col("vec_id"), col("bucket"))
        .agg(sum(col("pd_micro")).as("adist_micro")),
      Seq(col("adist_micro"), col("vec_id")), topK, "rank")
      .select(col("qid"), col("rank"), col("vec_id"), col("bucket"), col("adist_micro"))
  }

  /** nDCG@10 position discounts as exact 1e-6-unit longs —
    * w(i) = round(1e6 / log2(i + 1)). Computed ONCE here and
    * interpolated as integer literals into both the plan and the
    * oracle, so no engine ever evaluates a transcendental: the sum
    * over hit positions is order-free integer math (the q_tpch_promo
    * discipline applied to a metric built on logs). */
  private[graft] val DcgWeightsMicro: Seq[Long] =
    (1 to 10).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private val IdcgMicro: Long = DcgWeightsMicro.sum

  /** Ranking-quality metrics for the ANN index (V15, r8): recall@10,
    * MRR and binary-relevance nDCG@10 of the multi-probe IVF tier
    * against brute-force ground truth, per query in the serving batch
    * — the full eval suite a retrieval deployment reports (recall
    * alone hides WHERE in the ranking the hits sit; MRR prices the
    * first hit, nDCG the whole ordering). Truth and approx are the
    * [[annRecall]] serving shapes (one corpus scan each, two-stage
    * top-k); metrics are per-query reductions of the ≤10-row
    * intersections:
    *  - recall_at_10 = |approx ∩ truth| / 10,
    *  - mrr = 1 / (first approx rank that hits truth) — one exact
    *    integer division,
    *  - ndcg_at_10 = Σ_{hit positions} w(pos) / Σ_{1..10} w(pos)
    *    with [[DcgWeightsMicro]] exact-integer discounts (IDCG is the
    *    all-hits constant — truth always has 10 rows on this corpus).
    * Every post-top-k join is broadcast (the q_ann_recall stage-race
    * lesson); cost at 100 TB = the two corpus scans the index eval
    * always pays, metrics are free. */
  def rankMetrics(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), darr.as("v"))
      .withColumn("bucket", ivfBucket(col("v")))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val order = Seq(col("cos").desc, col("vec_id").asc)
    val truth = topKPerQid(
      e.crossJoin(broadcast(queries))
        .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos")),
      order, 10, "rn")
      .select(col("qid"), col("vec_id"))
    // the probe list rides as an EQUI key: each query explodes into
    // its 4 probed cells and the corpus joins on `bucket` — at scale
    // that is a partition-pruned read of the probed cells, never a
    // nested-loop OR over the whole corpus
    val probes = queries.select(col("qid"), col("qv"),
      explode(array(IvfProbeFlips.map(f =>
        col("qbucket").bitwiseXOR(lit(f))): _*)).as("bucket"))
    val approx = topKPerQid(
      e.join(broadcast(probes), Seq("bucket"))
        .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos")),
      order, 10, "rn")
      .select(col("qid"), col("vec_id"), col("rn").as("arank"))
    // hit positions: approx ranks that land in truth — ≤10 rows/query
    val hits = approx.join(broadcast(truth), Seq("qid", "vec_id"), "left_semi")
    val wMicro = element_at(typedLit(DcgWeightsMicro), col("arank").cast("int"))
    val perQ = hits.groupBy(col("qid")).agg(
      count(lit(1)).as("n_hits"),
      min(col("arank")).as("first_hit"),
      sum(wMicro).as("dcg_micro"))
    queries.select(col("qid"))
      .join(broadcast(perQ), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 10.0, 2).as("recall_at_10"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg_micro"), lit(0L)) / lit(IdcgMicro.toDouble), 6)
          .as("ndcg_at_10"))
      .orderBy(col("qid"))
  }

  /** Easy-negative stride: corpus rows with vec_id ≡ 13 (mod 97) are
    * the deterministic stand-in for a uniform random draw (97 is
    * coprime to every ScaleUp stride, so the density holds in every
    * shard); the 8 smallest stride ids form the shared easy pool. */
  private val EasyStrideMod = 97
  private val EasyStrideRem = 13
  private val EasyPool = 8
  private val EasyPerQuery = 5

  /** Contrastive negative mining (r8) — the training-pair prep step
    * every embedding/retriever fine-tune runs over its corpus: for
    * each anchor in the serving batch, emit
    *  - `positive`: brute-force cosine ranks 1–5 (its true neighbors;
    *    the anchor itself is excluded by id, NOT by assuming it ranks
    *    first — under ScaleUp an anchor's exact clones tie its
    *    self-cosine bit-for-bit and the vec_id tiebreak can put a
    *    clone at rank 1),
    *  - `hard_negative`: ranks 6–15 — near the anchor but outside the
    *    positive set, the pairs that actually move a contrastive loss
    *    (SimCSE/DPR-style in-corpus hard negatives),
    *  - `easy_negative`: ≤5 per anchor from the fixed [[EasyPool]]
    *    stride sample, excluding the anchor and anything already
    *    ranked — the uniform-negative tier.
    * One corpus scan scores all anchors (the V5 bounded
    * BroadcastNestedLoopJoin + two-stage top-k); the easy tier is a
    * ≤8-row broadcast crossed with the batch, so its per-anchor
    * windows are bounded by construction. Output: (qid, tier, rank,
    * vec_id, cos) — rank within tier, cosine rounded at 6. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), darr.as("v"))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val ranked = topKPerQid(
      e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos")),
      Seq(col("cos").desc, col("vec_id").asc), 15, "rank")
    val pos = ranked.filter(col("rank") <= 5)
      .select(col("qid"), lit("positive").as("tier"),
        col("rank").cast("long").as("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
    val hard = ranked.filter(col("rank") > 5)
      .select(col("qid"), lit("hard_negative").as("tier"),
        (col("rank") - 5).cast("long").as("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
    // the shared easy pool: 8 smallest stride ids — a TakeOrdered of a
    // pruned scan, broadcast everywhere downstream
    val pool = e.filter(pmod(col("vec_id"), lit(EasyStrideMod)) === EasyStrideRem)
      .orderBy(col("vec_id")).limit(EasyPool)
    val easy = queries.crossJoin(broadcast(pool))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(ranked.select(col("qid"), col("vec_id"))),
        Seq("qid", "vec_id"), "left_anti")
      .select(col("qid"), col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("vec_id"))).cast("long"))
      .filter(col("rank") <= EasyPerQuery)
      .select(col("qid"), lit("easy_negative").as("tier"), col("rank"),
        col("vec_id"), col("cos"))
    pos.unionByName(hard).unionByName(easy)
      .orderBy(col("qid"), col("tier"), col("rank"))
  }

  /** Seed predicate for [[labelSpread]]: vec_id mod 10 ∈ {0,1,2} — a
    * deterministic 30% "labeled" slice whose density holds in every
    * ScaleUp shard (the stride is a multiple of 10). */
  private def labelSeedPred(id: Column): Column = id % 10 < 3

  /** Semi-supervised label propagation over the similarity graph
    * (r8) — the weak-supervision pass a curation pipeline runs when
    * only a slice of the corpus carries labels (domain tags, quality
    * grades): treat the 30% seed stride as labeled, build the SAME
    * SRP-LSH cosine-confirmed neighbor edges the V4 dedup path uses
    * ([[srpPairs]] — shared mechanics, shared oracle band SQL), and
    * give every unlabeled vector the MAJORITY label of its labeled
    * neighbors (ties to the smaller label; one hop — the bounded,
    * auditable step; iterating is the graph family's LPA, already
    * rendered at [[graft.ops.Graph]]).
    *
    * Scale: candidates are LSH-bounded (never all-pairs), votes are a
    * map-side-combinable (node, label) rollup, and the winner window
    * partitions by node over ≤|labels| rows — nothing corpus-sized
    * ever sits in one task. Output: every vector with status
    * `seed` / `propagated` / `unlabeled`, the assigned label, and the
    * winning vote count. */
  def labelSpread(s: SparkSession, d: String): DataFrame =
    labelSpreadCore(Tables.embeddings(s, d))

  /** [[labelSpread]] over any `(vec_id, embedding, label)` relation —
    * DataFrame-parameterized so VectorsSpec can plant an unlabeled
    * exact clone of a seed and pin that the label crosses. */
  private[graft] def labelSpreadCore(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), darr.as("v"))
    val edges = srpPairsOf(e, MinCos).select(col("va"), col("vb"))
    val und = edges.select(col("va").as("dst"), col("vb").as("src"))
      .unionByName(edges.select(col("vb").as("dst"), col("va").as("src")))
    val seedLabels = emb.filter(labelSeedPred(col("vec_id")))
      .select(col("vec_id").as("src"), col("label").cast("long").as("vote"))
    val votes = und.filter(!labelSeedPred(col("dst")))
      .join(seedLabels, Seq("src"))
      .groupBy(col("dst"), col("vote")).agg(count(lit(1)).as("n"))
    val win = row_number().over(
      Window.partitionBy(col("dst")).orderBy(col("n").desc, col("vote").asc))
    val prop = votes.withColumn("rn", win).filter(col("rn") === 1)
      .select(col("dst").as("vec_id"), col("vote"), col("n"))
    emb.select(col("vec_id"), col("label"))
      .join(prop, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(labelSeedPred(col("vec_id")), "seed")
          .when(col("vote").isNotNull, "propagated")
          .otherwise("unlabeled").as("status"),
        when(labelSeedPred(col("vec_id")), col("label").cast("long"))
          .otherwise(col("vote")).as("label"),
        when(labelSeedPred(col("vec_id")), 0L)
          .otherwise(coalesce(col("n"), lit(0L))).as("n_votes"))
      .orderBy(col("vec_id"))
  }

  /** RRF position weights as exact 1e-9-unit longs —
    * w(r) = round(1e9 / (60 + r)), r ∈ [1, 10] (Cormack et al.,
    * SIGIR 2009's k = 60). The [[DcgWeightsMicro]] trick again:
    * integer literals in both engines, order-free fusion sums. */
  private[graft] val RrfWeightsNano: Seq[Long] =
    (1 to 10).map(r => math.round(1e9 / (60.0 + r)))

  /** Reciprocal-rank fusion of two retrieval tiers (r8; Cormack,
    * Clarke & Buettcher, SIGIR 2009 — the hybrid-search staple): for
    * every query in the serving batch, fuse the EXACT cosine top-10
    * (the expensive tier) with the IVFADC top-10 (the compressed
    * inverted-file tier, [[ivfPqCore]] — reused verbatim, same
    * codebooks, same oracle CTEs) by RRF score
    * Σ_tiers w(rank-in-tier), then serve the fused top-5. RRF needs
    * no score calibration between tiers — exactly why it's the
    * production default for fusing rankers whose scores live on
    * different scales (cosine vs ADC integer distance here).
    *
    * The fusion itself is free at any scale: both tiers are already
    * ≤10 rows per query, the union is ≤20, and the fused window is
    * bounded by construction. Output carries each tier's rank (null =
    * the tier missed the vector) so the fusion is auditable. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), darr.as("v"))
    val queries = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val cosTop = topKPerQid(
      e.crossJoin(broadcast(queries))
        .select(col("qid"), col("vec_id"), cosine(col("v"), col("qv")).as("cos")),
      Seq(col("cos").desc, col("vec_id").asc), 10, "rn")
      .select(col("qid"), col("vec_id"), col("rn").as("rank_cos"))
    val ivfTop = ivfPqCore(Tables.embeddings(s, d), topK = 10)
      .select(col("qid"), col("vec_id"), col("rank").as("rank_ivfpq"))
    // fusion as a tagged UNION + rollup rather than a full-outer join:
    // the weight lookup then only ever sees a PRESENT rank (a
    // row_number column carries a non-nullable flag that an outer
    // join must downgrade — this rendering never depends on that),
    // and the shape generalizes to N tiers for free
    val w = (r: Column) => element_at(typedLit(RrfWeightsNano), r.cast("int"))
    val tagged = cosTop
      .select(col("qid"), col("vec_id"), col("rank_cos").as("r"), lit("cos").as("tier"))
      .unionByName(ivfTop
        .select(col("qid"), col("vec_id"), col("rank_ivfpq").as("r"), lit("ivf").as("tier")))
    val fused = tagged.groupBy(col("qid"), col("vec_id")).agg(
      sum(w(col("r"))).as("rrf_nano"),
      max(when(col("tier") === "cos", col("r"))).as("rank_cos"),
      max(when(col("tier") === "ivf", col("r"))).as("rank_ivfpq"))
    // ≤20 candidate rows per query by construction — the single
    // window is the right shape here, like the PQ re-rank stage
    val rn = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("rrf_nano").desc, col("vec_id")))
    fused.withColumn("rank", rn).filter(col("rank") <= PqTopK)
      .select(col("qid"), col("rank"), col("vec_id"), col("rrf_nano"),
        col("rank_cos").cast("int").as("rank_cos"),
        col("rank_ivfpq").cast("int").as("rank_ivfpq"))
      .orderBy(col("qid"), col("rank"))
  }

  // ----- PCA: the data-dependent dimensionality-reduction path -----

  /** Power-iteration rounds. The harness corpus is near-ISOTROPIC
    * (λ₁ barely above the bulk — evr ≈ 2.6% vs the uniform 1/64 =
    * 1.6%), so the (λ₂/λ₁)^k contraction is slow by construction and
    * 8 rounds do NOT settle the direction to output rounding; real
    * embedding corpora have large eigengaps and converge in a few
    * rounds. The contract is therefore the honest bounded-round one:
    * the Rayleigh estimate is a monotonically non-decreasing LOWER
    * bound on λ₁ (the textbook power-iteration property, spec-pinned
    * as monotone-with-contracting-gains), not a converged claim. */
  private val PcaIters = 8

  /** PC1 by power iteration over the embedding corpus — the
    * data-DEPENDENT complement of [[jlProject]]'s data-independent
    * projection (PCA is what a pipeline reaches for when it can
    * afford a corpus pass: same 4× shuffle cut ahead of ANN, but
    * aligned to the data's own variance instead of random signs).
    *
    * The 100 TB shape is the whole point: the covariance matrix is
    * NEVER materialized. Each iteration computes C·v as
    * Σ_rows cv·(cv·v)/n — per row one ordered-fold dot (cv·v = s) and
    * a 64-term weighted contribution, aggregated per dimension. d×d
    * is out of the plan entirely (at real embedding widths C is
    * d² ≫ memory; the row-streamed form is how distributed PCA is
    * actually run), the corpus never shuffles — only 64-row moment
    * tables move per iteration, exactly the k-means update shape.
    *
    * Determinism (the [[kmeansAssign]] lockstep contract): means and
    * every per-dimension iteration aggregate are rounded at 4 BEFORE
    * further arithmetic (Σcv·s magnitudes ~10²–10³ vs ~1e-11
    * summation noise), per-row dots are ordered folds, and the
    * normalization divides by an ordered-fold norm — so every engine
    * walks the same v₀ → v₈ trajectory bit-for-bit. v₀ = 1/8
    * uniform (a fixed literal, never collected), sign therefore
    * deterministic. Output: per-dimension mean, variance, PC1
    * loading, plus the Rayleigh λ₁ and explained-variance share. */
  def pcaPower(s: SparkSession, d: String): DataFrame =
    pcaPowerCore(Tables.embeddings(s, d))

  /** Power iteration over any `(vec_id, embedding)` relation —
    * DataFrame-parameterized so VectorsSpec can pin the trajectory on
    * a hand-solved 2-dim corpus and check round-8 convergence. */
  def pcaPowerCore(emb: DataFrame, width: Int = 64,
      iters: Int = PcaIters): DataFrame = {
    val e0 = emb.select(col("vec_id"), darr.as("v"))
    val means = e0.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((round(sum(col("x")), 4) / count(lit(1))).as("m"))
      .groupBy()
      .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
        t => t("m")).as("m"))
    val cv = e0.crossJoin(broadcast(means))
      .select(col("vec_id"),
        zip_with(col("v"), col("m"), (x, mm) => x - mm).as("cv"))

    // one power step: vRel (single row `vv`) -> normalized C·v
    def step(vRel: DataFrame): DataFrame = {
      val y = cv.crossJoin(broadcast(vRel))
        .select(col("cv"),
          fold(zip_with(col("cv"), col("vv"), (a, b) => a * b)).as("s"))
        .select(col("s"), posexplode(col("cv")).as(Seq("i", "c")))
        .groupBy(col("i"))
        .agg(round(sum(col("c") * col("s")), 4).as("y"))
        .groupBy()
        .agg(transform(sort_array(collect_list(struct(col("i"), col("y")))),
          t => t("y")).as("y"))
      y.select(transform(col("y"),
        yi => yi / sqrt(fold(transform(col("y"), t => t * t)))).as("vv"))
    }

    // unit v0, every component 1/sqrt(width) — exactly 0.125 at 64
    val v0: DataFrame = emb.sparkSession.range(1).toDF("one")
      .select(typedLit(Seq.fill(width)(1.0 / math.sqrt(width.toDouble))).as("vv"))
    val vFin = (1 to iters).foldLeft(v0)((acc, _) => step(acc))

    // Rayleigh quotient along the settled direction + per-dim stats.
    // tot_var sums EXACT 1e-4-unit longs (the q_tpch_promo discipline)
    // so the 64-term addition is order-free on both engines.
    val scored = cv.crossJoin(broadcast(vFin))
      .select(col("cv"),
        fold(zip_with(col("cv"), col("vv"), (a, b) => a * b)).as("s"))
    val lam = scored.agg(
      (round(sum(col("s") * col("s")), 4) / count(lit(1))).as("lambda1"))
    val stats = cv.select(posexplode(col("cv")).as(Seq("i", "c")))
      .groupBy(col("i"))
      .agg(round(sum(col("c") * col("c")), 4).as("ss"),
        count(lit(1)).as("n"))
    val totVar = stats.agg((sum(round(col("ss") * 1e4).cast("long"))
        / (lit(1e4) * max(col("n")))).as("tot_var"))
    stats
      .join(means.select(posexplode(col("m")).as(Seq("i", "mean"))), Seq("i"))
      .join(vFin.select(posexplode(col("vv")).as(Seq("i", "pc1"))), Seq("i"))
      .crossJoin(broadcast(lam)).crossJoin(broadcast(totVar))
      .select(col("i").as("dim"),
        round(col("mean"), 6).as("mean"),
        round(col("ss") / col("n"), 6).as("variance"),
        round(col("pc1"), 6).as("pc1"),
        round(col("lambda1"), 6).as("lambda1"),
        round(col("lambda1") / col("tot_var"), 6).as("evr"))
      .orderBy(col("dim"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_ivfpq" -> annIvfPq,
    "q_rank_metrics" -> rankMetrics,
    "q_hard_negatives" -> hardNegatives,
    "q_label_spread" -> labelSpread,
    "q_rrf_fusion" -> rrfFusion,
    "q_ann_pq" -> annPq,
    "q_ann_pq_fixed" -> annPqFixed,
    "q_pca_power" -> pcaPower,
    "q_ann_pq_recall" -> annPqRecall,
    "q_jl_project" -> jlProject,
    "q_vector_mmr" -> vectorMmr,
    "q_dedup_semantic" -> dedupSemantic,
    "q_kmeans" -> kmeans,
    "q_embed_normalize" -> embedNormalize,
    "q_vector_topk"  -> vectorTopk,
    "q_vector_topk_batch" -> vectorTopkBatch,
    "q_vector_pairs" -> vectorPairs,
    "q_vector_ivf"   -> vectorIvf,
    "q_vector_ivf_probe" -> vectorIvfProbe,
    "q_ann_recall"   -> annRecall,
    "q_dedup_embed"  -> ((s: SparkSession, d: String) => dedupEmbed(s, d)),
  )

  private val sqlQvec = "list_transform(range(0, 64), i -> ((i % 7) - 3) / 3.0)"
  private def sqlDarr(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"
  private def sqlDot(a: String, b: String) =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"
  private def sqlNorm(a: String) =
    s"sqrt(list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y))"
  private[ops] def sqlCos(a: String, b: String) =
    s"${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)})"

  /** The q_dedup_embed oracle's SRP rendering, shared with the
    * composed-pipeline oracle ([[graft.ops.Pipeline]]) so the two can
    * never drift: the same 32 hyperplane dots (integer literals + one
    * double division → bit-identical sign bits) and the same 4
    * 8-bit band keys, as UNION ALL band selects over `$from`
    * (expected columns: `$idCol`, `v`). */
  private[ops] def sqlSrpDotPlane(j: Int, vExpr: String = "v"): String =
    s"list_reduce(list_transform(range(1, 65), i -> $vExpr[i] * ((((i-1) * ${j + 2} + ${j * j + 1}) % 37) - 18) / 18.0), (x, y) -> x + y)"

  private[ops] def sqlSrpBandSelects(from: String, idCol: String,
      vExpr: String = "v"): String = {
    def bandKey(b: Int) = (0 until BitsPerBand).map { t =>
      s"(CASE WHEN ${sqlSrpDotPlane(b * BitsPerBand + t, vExpr)} > 0 THEN ${1 << t} ELSE 0 END)"
    }.mkString(" + ")
    (0 until NBands).map { b =>
      s"SELECT $idCol, $b AS band, CAST(${bandKey(b)} AS INT) AS bkey FROM $from"
    }.mkString("\n           UNION ALL ")
  }

  /** The k-means recurrence unrolled: assignment = argmin over the
    * left-fold squared distance (bit-identical to Spark's
    * `zip_with`+`aggregate`), update = lockstep-rounded per-(cluster,
    * dim) means re-packed into centroid lists ordered by dim. */
  /** The k-means recurrence's CTE chain (`e` … `a3`), shared verbatim
    * between the q_kmeans oracle and the q_dedup_semantic oracle so
    * the two can never disagree on an assignment. */
  private val kmeansCtes: String = {
    def distTo(c: String) =
      s"list_reduce(list_transform(range(1, 65), i -> (e.v[i] - $c[i]) * (e.v[i] - $c[i])), (x, y) -> x + y)"
    def assign(a: String, cPrev: String) =
      s"""$a AS MATERIALIZED (
           SELECT vec_id, cluster, dist FROM (
             SELECT dd.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
             FROM (SELECT e.vec_id, c.cluster, ${distTo("c.c")} AS dist
                   FROM e CROSS JOIN $cPrev c) dd) WHERE rn = 1)"""
    def update(c: String, aPrev: String) =
      s"""$c AS MATERIALIZED (
           SELECT cluster, list(cd ORDER BY i) AS c FROM (
             SELECT a.cluster, t.i, round(sum(e.v[t.i]), 4) / count(*) AS cd
             FROM e JOIN $aPrev a USING (vec_id), range(1, 65) t(i)
             GROUP BY a.cluster, t.i) m GROUP BY cluster)"""
    s"""e AS MATERIALIZED (
         SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
       c0 AS (SELECT vec_id // 100 AS cluster, v AS c FROM e
              WHERE vec_id IN (0, 100, 200, 300)),
       ${assign("a1", "c0")},
       ${update("c1", "a1")},
       ${assign("a2", "c1")},
       ${update("c2", "a2")},
       ${assign("a3", "c2")}"""
  }

  private val kmeansOracle: String =
    s"""WITH $kmeansCtes
       SELECT vec_id, cluster, round(dist, 6) AS dist FROM a3 ORDER BY vec_id"""

  /** The per-subspace Lloyd recurrence unrolled — [[kmeansCtes]] with
    * `sub` in every key and 16-dim folds; kept structurally parallel
    * so the two recurrences can be reviewed side by side. */
  /** The 16-dim subvector squared distance, SQL rendering. */
  private def sqlPqDist(a: String, c: String) =
    s"list_reduce(list_transform(range(1, ${PqSubDim + 1}), i -> ($a[i] - $c[i]) * ($a[i] - $c[i])), (x, y) -> x + y)"

  /** One Lloyd assignment CTE over the subvector relation `e` —
    * shared verbatim by the flat-PQ and IVFADC oracles (the residual
    * variant only swaps what feeds `e`). */
  private def sqlPqAssign(a: String, cPrev: String) =
    s"""$a AS MATERIALIZED (
         SELECT vec_id, sub, code, dist FROM (
           SELECT dd.*, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
           FROM (SELECT e.vec_id, e.sub, c.code, ${sqlPqDist("e.sv", "c.c")} AS dist
                 FROM e JOIN $cPrev c USING (sub)) dd) WHERE rn = 1)"""

  /** One Lloyd update CTE over `e` — lockstep-rounded means. */
  private def sqlPqUpdate(c: String, aPrev: String) =
    s"""$c AS MATERIALIZED (
         SELECT sub, code, list(cd ORDER BY i) AS c FROM (
           SELECT a.sub, a.code, t.i, round(sum(e.sv[t.i]), 4) / count(*) AS cd
           FROM e JOIN $aPrev a USING (vec_id, sub), range(1, ${PqSubDim + 1}) t(i)
           GROUP BY a.sub, a.code, t.i) m GROUP BY sub, code)"""

  /** The seed-to-trained-codebook chain (`c0` … `a3`) over whatever
    * subvector relation the caller bound to `e`. */
  private val sqlPqTrainChain: String =
    s"""c0 AS (SELECT sub, vec_id // 100 AS code, sv AS c FROM e
              WHERE vec_id IN (0, 100, 200, 300)),
       ${sqlPqAssign("a1", "c0")},
       ${sqlPqUpdate("c1", "a1")},
       ${sqlPqAssign("a2", "c1")},
       ${sqlPqUpdate("c2", "a2")},
       ${sqlPqAssign("a3", "c2")}"""

  private val pqCtes: String = {
    s"""raw AS MATERIALIZED (
         SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
       e AS MATERIALIZED (
         SELECT vec_id, t.sub,
                list_slice(v, t.sub * $PqSubDim + 1, t.sub * $PqSubDim + $PqSubDim) AS sv
         FROM raw, range(0, $PqSubs) t(sub)),
       $sqlPqTrainChain"""
  }

  /** The ADC serving chain on top of [[pqCtes]] (`q` → `lut` → `ad` →
    * `top`), shared verbatim between the q_ann_pq oracle and the
    * q_ann_pq_recall oracle so the two can never disagree on a
    * ranking. */
  private def pqAdcCtesFor(batchPred: String): String =
    s"""$pqCtes,
       q AS (SELECT vec_id AS qid, t.sub,
               list_slice(v, t.sub * $PqSubDim + 1, t.sub * $PqSubDim + $PqSubDim) AS qsv
             FROM raw, range(0, $PqSubs) t(sub) WHERE $batchPred),
       lut AS (SELECT qid, q.sub, c2.code,
                 CAST(round(list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                   i -> (q.qsv[i] - c2.c[i]) * (q.qsv[i] - c2.c[i])),
                   (x, y) -> x + y) * $PqLutScale.0) AS BIGINT) AS pd_micro
               FROM q JOIN c2 USING (sub)),
       ad AS (SELECT qid, vec_id, CAST(sum(pd_micro) AS BIGINT) AS adist_micro
              FROM a3 JOIN lut USING (sub, code) GROUP BY 1, 2),
       top AS (SELECT *, CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY adist_micro, vec_id) AS INT) AS rank FROM ad)"""

  /** The corpus-derived-batch instantiation (q_ann_pq / _recall). */
  private val pqAdcCtes: String = pqAdcCtesFor("vec_id % 100 = 7")

  /** The fixed-batch instantiation (q_ann_pq_fixed) — the SAME chain
    * with the batch pinned to [[PqFixedBatch]]. */
  private val pqAdcCtesFixed: String =
    pqAdcCtesFor(s"vec_id IN (${PqFixedBatch.mkString(", ")})")

  /** The power-iteration recurrence unrolled: per-row ordered-fold
    * dots, per-dimension sums lockstep-rounded at 4, ordered-fold
    * norms — [[pcaPowerCore]]'s v₀ → v₈ trajectory step for step. */
  private val pcaOracle: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"
    val steps = (1 to PcaIters).map { k =>
      s""",
         s$k AS (SELECT vec_id, cv, ${dot("cv", "vv")} AS s
                 FROM cvr CROSS JOIN v${k - 1}),
         y$k AS (SELECT i, round(sum(cv[i] * s), 4) AS y
                 FROM s$k, range(1, 65) t(i) GROUP BY i),
         yl$k AS (SELECT list(y ORDER BY i) AS y FROM y$k),
         v$k AS (SELECT list_transform(y, t -> t / sqrt(
                   list_reduce(list_transform(y, u -> u * u), (a, b) -> a + b))) AS vv
                 FROM yl$k)"""
    }.mkString
    s"""WITH raw AS MATERIALIZED (
         SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
       mn AS (SELECT i, round(sum(v[i]), 4) / count(*) AS m
              FROM raw, range(1, 65) t(i) GROUP BY i),
       ml AS (SELECT list(m ORDER BY i) AS m FROM mn),
       cvr AS MATERIALIZED (
         SELECT vec_id, list_transform(range(1, 65), i -> v[i] - m[i]) AS cv
         FROM raw CROSS JOIN ml),
       v0 AS (SELECT list_transform(range(1, 65), i -> CAST(${1.0 / math.sqrt(64.0)} AS DOUBLE)) AS vv)
       $steps,
       sc AS (SELECT ${dot("cv", "vv")} AS s FROM cvr CROSS JOIN v$PcaIters),
       lam AS (SELECT round(sum(s * s), 4) / count(*) AS lambda1 FROM sc),
       st AS (SELECT i, round(sum(cv[i] * cv[i]), 4) AS ss, count(*) AS n
              FROM cvr, range(1, 65) t(i) GROUP BY i),
       tv AS (SELECT sum(CAST(round(ss * 10000.0) AS BIGINT)) / (10000.0 * max(n)) AS tot_var
              FROM st),
       pcl AS (SELECT i, vv[i] AS pc1 FROM v$PcaIters, range(1, 65) t(i))
       SELECT CAST(st.i - 1 AS INT) AS dim,
              round(mn.m, 6) AS mean,
              round(st.ss / st.n, 6) AS variance,
              round(pcl.pc1, 6) AS pc1,
              round(lam.lambda1, 6) AS lambda1,
              round(lam.lambda1 / tv.tot_var, 6) AS evr
       FROM st JOIN mn USING (i) JOIN pcl USING (i)
       CROSS JOIN lam CROSS JOIN tv
       ORDER BY dim"""
  }

  /** [[ivfBucket]]'s SQL rendering: the same three sign comparisons. */
  private def sqlIvfBucket(v: String) =
    s"""CAST((CASE WHEN $v[1] > 0 THEN 4 ELSE 0 END) +
            (CASE WHEN $v[2] > 0 THEN 2 ELSE 0 END) +
            (CASE WHEN $v[3] > 0 THEN 1 ELSE 0 END) AS INT)"""

  /** The IVFADC recurrence unrolled: sign cells → lockstep-rounded
    * cell centroids → residuals → the SHARED [[sqlPqTrainChain]] Lloyd
    * unroll bound to residual subvectors → per-(query, probed-cell)
    * residual LUTs quantized to exact 1e-6-unit longs → ADC sums over
    * codes in probed cells only. CTE chain (`raw` … `top`), shared
    * between the q_ann_ivfpq oracle and the q_rrf_fusion oracle so
    * the two can never disagree on an ADC ranking. */
  private val ivfPqCtes: String = {
    s"""raw AS MATERIALIZED (
         SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
       bkt AS MATERIALIZED (
         SELECT vec_id, v, ${sqlIvfBucket("v")} AS bucket FROM raw),
       cent AS MATERIALIZED (
         SELECT bucket, list(cd ORDER BY i) AS c FROM (
           SELECT bucket, t.i, round(sum(v[t.i]), 4) / count(*) AS cd
           FROM bkt, range(1, 65) t(i) GROUP BY bucket, t.i) m GROUP BY bucket),
       rsd AS MATERIALIZED (
         SELECT vec_id, bkt.bucket,
                list_transform(range(1, 65), i -> v[i] - c[i]) AS rv
         FROM bkt JOIN cent USING (bucket)),
       e AS MATERIALIZED (
         SELECT vec_id, t.sub,
                list_slice(rv, t.sub * $PqSubDim + 1, t.sub * $PqSubDim + $PqSubDim) AS sv
         FROM rsd, range(0, $PqSubs) t(sub)),
       $sqlPqTrainChain,
       q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM bkt WHERE vec_id % 100 = 7),
       pr AS (SELECT qid, qv, CAST(xor(qb, f.flip) AS INT) AS bucket
              FROM q, (SELECT unnest([${IvfProbeFlips.mkString(", ")}]) AS flip) f),
       qr AS (SELECT qid, pr.bucket,
                list_transform(range(1, 65), i -> qv[i] - c[i]) AS rv
              FROM pr JOIN cent USING (bucket)),
       qs AS (SELECT qid, bucket, t.sub,
                list_slice(rv, t.sub * $PqSubDim + 1, t.sub * $PqSubDim + $PqSubDim) AS qsv
              FROM qr, range(0, $PqSubs) t(sub)),
       lut AS (SELECT qid, bucket, qs.sub, c2.code,
                 CAST(round(${sqlPqDist("qs.qsv", "c2.c")} * $PqLutScale.0) AS BIGINT) AS pd_micro
               FROM qs JOIN c2 USING (sub)),
       cd AS (SELECT a3.vec_id, rsd.bucket, a3.sub, a3.code
              FROM a3 JOIN rsd USING (vec_id)),
       ad AS (SELECT qid, vec_id, bucket, CAST(sum(pd_micro) AS BIGINT) AS adist_micro
              FROM cd JOIN lut USING (bucket, sub, code) GROUP BY 1, 2, 3),
       top AS (SELECT *, CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY adist_micro, vec_id) AS INT) AS rank FROM ad)"""
  }

  private val ivfPqOracle: String =
    s"""WITH $ivfPqCtes
       SELECT qid, rank, vec_id, bucket, adist_micro FROM top
       WHERE rank <= $PqTopK ORDER BY qid, rank"""

  val oracles: Map[String, String] = Map(
    // the power-iteration trajectory replayed step for step
    "q_pca_power" -> pcaOracle,
    // sign cells, lockstep centroids, residual Lloyd (the SHARED
    // train chain), per-(query, cell) LUTs as exact 1e-6-unit longs
    "q_ann_ivfpq" -> ivfPqOracle,
    // the same two serving shapes as q_ann_recall, metrics reduced
    // from the ≤10-row intersections with integer DCG discounts
    "q_rank_metrics" ->
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, ${sqlDarr("embedding")} AS v,
                  ${sqlIvfBucket(sqlDarr("embedding"))} AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM e WHERE vec_id % 100 = 7),
         tr AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (
               PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             FROM (SELECT q.qid, e.vec_id, ${sqlCos("e.v", "q.qv")} AS cos
                   FROM e CROSS JOIN q) s) WHERE rn <= 10),
         pr AS (SELECT qid, qv, CAST(xor(qb, f.flip) AS INT) AS bucket
                FROM q, (SELECT unnest([${IvfProbeFlips.mkString(", ")}]) AS flip) f),
         ap AS (SELECT qid, vec_id, rn AS arank FROM (
             SELECT qid, vec_id, row_number() OVER (
               PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             FROM (SELECT pr.qid, e.vec_id, ${sqlCos("e.v", "pr.qv")} AS cos
                   FROM e JOIN pr USING (bucket)) s) WHERE rn <= 10),
         h AS (SELECT ap.qid, ap.arank FROM ap
               JOIN tr ON ap.qid = tr.qid AND ap.vec_id = tr.vec_id),
         m AS (SELECT qid, count(*) AS n_hits, min(arank) AS first_hit,
                 sum(([${DcgWeightsMicro.mkString(", ")}])[arank]) AS dcg_micro
               FROM h GROUP BY qid)
         SELECT q.qid,
           CAST(coalesce(m.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(m.n_hits, 0) / 10.0, 2) AS recall_at_10,
           round(coalesce(1.0 / m.first_hit, 0.0), 6) AS mrr,
           round(coalesce(m.dcg_micro, 0) / $IdcgMicro.0, 6) AS ndcg_at_10
         FROM q LEFT JOIN m USING (qid) ORDER BY qid""",
    // the same 32 hyperplane dots / bands / pairs as q_dedup_embed
    // (shared band SQL), one majority-vote hop replayed relationally
    "q_label_spread" -> {
      val bandSelects = sqlSrpBandSelects("e", "vec_id")
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
         bands AS MATERIALIZED (
           $bandSelects),
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
         edges AS MATERIALIZED (
           SELECT va, vb
           FROM pairs
           JOIN (SELECT vec_id, v FROM e) ea ON va = ea.vec_id
           JOIN (SELECT vec_id, v AS w FROM e) eb ON vb = eb.vec_id
           WHERE ${sqlCos("ea.v", "eb.w")} >= $MinCos),
         und AS (SELECT va AS dst, vb AS src FROM edges
                 UNION ALL SELECT vb AS dst, va AS src FROM edges),
         votes AS (SELECT u.dst, CAST(l.label AS BIGINT) AS vote, count(*) AS n
                   FROM und u JOIN embeddings l ON u.src = l.vec_id
                   WHERE l.vec_id % 10 < 3 AND u.dst % 10 >= 3
                   GROUP BY 1, 2),
         win AS (SELECT dst, vote, n FROM (
             SELECT dst, vote, n, row_number() OVER (
               PARTITION BY dst ORDER BY n DESC, vote) AS rn FROM votes)
           WHERE rn = 1)
         SELECT m.vec_id,
           CASE WHEN m.vec_id % 10 < 3 THEN 'seed'
                WHEN w.dst IS NOT NULL THEN 'propagated'
                ELSE 'unlabeled' END AS status,
           CASE WHEN m.vec_id % 10 < 3 THEN CAST(m.label AS BIGINT)
                ELSE w.vote END AS label,
           CAST(CASE WHEN m.vec_id % 10 < 3 THEN 0
                ELSE coalesce(w.n, 0) END AS BIGINT) AS n_votes
         FROM embeddings m LEFT JOIN win w ON m.vec_id = w.dst
         ORDER BY m.vec_id"""
    },
    // the SHARED IVFADC chain fused with an exact cosine top-10 by
    // exact 1e-9-unit RRF weights — list-literal lookups, NULL-safe
    "q_rrf_fusion" ->
      s"""WITH $ivfPqCtes,
         ct AS (SELECT qid, vec_id, rn AS rank_cos FROM (
             SELECT qid, vec_id, row_number() OVER (
               PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             FROM (SELECT q.qid, raw.vec_id, ${sqlCos("raw.v", "q.qv")} AS cos
                   FROM raw CROSS JOIN q) s) WHERE rn <= 10),
         it AS (SELECT qid, vec_id, rank AS rank_ivfpq FROM top WHERE rank <= 10),
         fz AS (SELECT qid, vec_id, rank_cos, rank_ivfpq,
                  coalesce(([${RrfWeightsNano.mkString(", ")}])[rank_cos], 0)
                    + coalesce(([${RrfWeightsNano.mkString(", ")}])[rank_ivfpq], 0) AS rrf_nano
                FROM ct FULL OUTER JOIN it USING (qid, vec_id)),
         fr AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY qid ORDER BY rrf_nano DESC, vec_id) AS INT) AS rank FROM fz)
         SELECT qid, rank, vec_id, CAST(rrf_nano AS BIGINT) AS rrf_nano,
                CAST(rank_cos AS INT) AS rank_cos,
                CAST(rank_ivfpq AS INT) AS rank_ivfpq
         FROM fr WHERE rank <= $PqTopK ORDER BY qid, rank""",
    // one brute-force ranking per anchor (self excluded by id), the
    // tier split replayed on the rank bands, the same 8-row stride
    // pool for the easy tier
    "q_hard_negatives" ->
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 7),
         rk AS MATERIALIZED (SELECT qid, vec_id, cos, rn FROM (
             SELECT qid, vec_id, cos, row_number() OVER (
               PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             FROM (SELECT q.qid, e.vec_id, ${sqlCos("e.v", "q.qv")} AS cos
                   FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) s) WHERE rn <= 15),
         pool AS (SELECT vec_id, v FROM e
                  WHERE vec_id % $EasyStrideMod = $EasyStrideRem
                  ORDER BY vec_id LIMIT $EasyPool),
         easy AS (SELECT qid, vec_id, cos, row_number() OVER (
                    PARTITION BY qid ORDER BY vec_id) AS rn
                  FROM (SELECT q.qid, p.vec_id, ${sqlCos("p.v", "q.qv")} AS cos
                        FROM q CROSS JOIN pool p
                        WHERE p.vec_id <> q.qid
                          AND NOT EXISTS (SELECT 1 FROM rk
                                WHERE rk.qid = q.qid AND rk.vec_id = p.vec_id)) s)
         SELECT qid, tier, rank, vec_id, cos FROM (
           SELECT qid, 'positive' AS tier, CAST(rn AS BIGINT) AS rank,
                  vec_id, round(cos, 6) AS cos FROM rk WHERE rn <= 5
           UNION ALL
           SELECT qid, 'hard_negative', CAST(rn - 5 AS BIGINT),
                  vec_id, round(cos, 6) FROM rk WHERE rn > 5
           UNION ALL
           SELECT qid, 'easy_negative', CAST(rn AS BIGINT),
                  vec_id, round(cos, 6) FROM easy WHERE rn <= $EasyPerQuery) u
         ORDER BY qid, tier, rank""",
    // the same per-subspace Lloyd unroll (sub joined into every key),
    // the same 1e-6-quantized LUT entries summed as exact longs
    "q_ann_pq" ->
      s"""WITH $pqAdcCtes
         SELECT qid, rank, vec_id, adist_micro FROM top
         WHERE rank <= $PqTopK ORDER BY qid, rank""",
    // the identical chain with the batch pinned to the fixed 20-id
    // list — the family's linear-scale representative
    "q_ann_pq_fixed" ->
      s"""WITH $pqAdcCtesFixed
         SELECT qid, rank, vec_id, adist_micro FROM top
         WHERE rank <= $PqTopK ORDER BY qid, rank""",
    // truth = exact 64-dim squared L2 (the house fold) per query;
    // approx tiers = the shared ADC chain raw and exact-re-ranked off
    // its top-R shortlist; hits = the same (qid, vec_id)
    // intersections counted as exact integers
    "q_ann_pq_recall" ->
      s"""WITH $pqAdcCtes,
         qr AS (SELECT vec_id AS qid, v AS qv FROM raw WHERE vec_id % 100 = 7),
         tr AS (SELECT qid, vec_id FROM (
             SELECT qr.qid, raw.vec_id, row_number() OVER (PARTITION BY qr.qid
               ORDER BY list_reduce(list_transform(range(1, 65),
                 i -> (raw.v[i] - qr.qv[i]) * (raw.v[i] - qr.qv[i])),
                 (x, y) -> x + y), raw.vec_id) AS rn
             FROM raw CROSS JOIN qr) WHERE rn <= $PqTopK),
         ap AS (SELECT qid, vec_id FROM top WHERE rank <= $PqTopK),
         rf AS (SELECT qid, vec_id FROM (
             SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
               ORDER BY list_reduce(list_transform(range(1, 65),
                 i -> (raw.v[i] - qr.qv[i]) * (raw.v[i] - qr.qv[i])),
                 (x, y) -> x + y), s.vec_id) AS rn
             FROM (SELECT qid, vec_id FROM top WHERE rank <= $PqRerank) s
             JOIN raw ON raw.vec_id = s.vec_id
             JOIN qr ON qr.qid = s.qid) WHERE rn <= $PqTopK),
         ha AS (SELECT tr.qid, count(*) AS n_hits FROM tr
                JOIN ap ON tr.qid = ap.qid AND tr.vec_id = ap.vec_id GROUP BY tr.qid),
         hr AS (SELECT tr.qid, count(*) AS n_hits FROM tr
                JOIN rf ON tr.qid = rf.qid AND tr.vec_id = rf.vec_id GROUP BY tr.qid)
         SELECT qr.qid,
           CAST(coalesce(ha.n_hits, 0) AS BIGINT) AS n_hits_adc,
           round(coalesce(ha.n_hits, 0) / CAST($PqTopK.0 AS DOUBLE), 2) AS recall_adc,
           CAST(coalesce(hr.n_hits, 0) AS BIGINT) AS n_hits_refined,
           round(coalesce(hr.n_hits, 0) / CAST($PqTopK.0 AS DOUBLE), 2) AS recall_refined
         FROM qr LEFT JOIN ha ON qr.qid = ha.qid LEFT JOIN hr ON qr.qid = hr.qid
         ORDER BY qr.qid""",
    // same hash-derived ±1 signs, same 0.0-seeded ordered folds
    "q_jl_project" ->
      s"""WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         y AS (SELECT vec_id,
           list_transform(range(0, $JlK), j ->
             list_reduce(list_prepend(0.0, list_transform(range(0, 64), i ->
               (1.0 - 2.0 * (${PortableStringHash.duckdbSql("'jl#' || CAST(j AS VARCHAR) || '#' || CAST(i AS VARCHAR)", 1000003L)} % 2)) * v[i + 1])),
               (a, b) -> a + b)) AS ys,
           list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
             (a, b) -> a + b) AS nx
           FROM e),
         n AS (SELECT vec_id, nx,
           list_reduce(list_prepend(0.0, list_transform(ys, t -> t * t)),
             (a, b) -> a + b) AS ny
           FROM y)
         SELECT vec_id, round(nx, 6) AS norm_x, round(ny, 6) AS norm_y,
           round(ny / ($JlK.0 * nx), 6) AS distortion
         FROM n WHERE nx > 0 ORDER BY vec_id""",
    // the greedy unroll replayed step by step; the diversity weight is
    // spelled (1.0 - CAST(0.7 AS DOUBLE)) because the engine computes
    // 1.0 - 0.7 in doubles (≠ a 0.3 literal by one ulp)
    "q_vector_mmr" ->
      s"""WITH e AS (SELECT vec_id, ${sqlDarr("embedding")} AS v,
                     $sqlQvec AS q FROM embeddings),
         sc AS (SELECT vec_id, v, ${sqlCos("v", "q")} AS cos_q FROM e),
         c AS MATERIALIZED (SELECT vec_id, v, cos_q FROM sc
              ORDER BY cos_q DESC, vec_id LIMIT 10),
         p1 AS (SELECT vec_id, v, cos_q, CAST(0.7 AS DOUBLE) * cos_q AS mmr
              FROM c ORDER BY cos_q DESC, vec_id LIMIT 1),
         m2 AS (SELECT c.vec_id, max(${sqlCos("c.v", "s.v")}) AS msim
              FROM c CROSS JOIN p1 s
              WHERE c.vec_id NOT IN (SELECT vec_id FROM p1) GROUP BY c.vec_id),
         p2 AS (SELECT c.vec_id, c.v, c.cos_q,
                CAST(0.7 AS DOUBLE) * c.cos_q
                  - (1.0 - CAST(0.7 AS DOUBLE)) * m2.msim AS mmr
              FROM m2 JOIN c ON m2.vec_id = c.vec_id
              ORDER BY mmr DESC, c.vec_id LIMIT 1),
         s2 AS (SELECT vec_id, v FROM p1 UNION ALL SELECT vec_id, v FROM p2),
         m3 AS (SELECT c.vec_id, max(${sqlCos("c.v", "s.v")}) AS msim
              FROM c CROSS JOIN s2 s
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s2) GROUP BY c.vec_id),
         p3 AS (SELECT c.vec_id, c.v, c.cos_q,
                CAST(0.7 AS DOUBLE) * c.cos_q
                  - (1.0 - CAST(0.7 AS DOUBLE)) * m3.msim AS mmr
              FROM m3 JOIN c ON m3.vec_id = c.vec_id
              ORDER BY mmr DESC, c.vec_id LIMIT 1)
         SELECT 1 AS pick, vec_id, round(cos_q, 6) AS cos_q,
                round(mmr, 6) AS mmr FROM p1
         UNION ALL SELECT 2, vec_id, round(cos_q, 6), round(mmr, 6) FROM p2
         UNION ALL SELECT 3, vec_id, round(cos_q, 6), round(mmr, 6) FROM p3
         ORDER BY pick""",
    "q_kmeans" -> kmeansOracle,
    // the k-means CTE chain VERBATIM (shared val — assignments cannot
    // drift from q_kmeans), then the q_dedup_embed SRP machinery with
    // the cluster riding the bucket join key, and the same 20-round
    // materialized min-label closure (cluster-restricted edges have
    // strictly smaller components than q_dedup_embed's, whose fixed
    // point needs 16 rounds at sf0.1 — VectorsSpec pins sufficiency)
    "q_dedup_semantic" -> {
      val bandSelects = sqlSrpBandSelects("e", "vec_id")
      val rounds = 20
      val steps = (1 to rounds).map { k =>
        s""", l$k AS MATERIALIZED (
             SELECT l.vec_id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
             FROM l${k - 1} l
             LEFT JOIN und u ON l.vec_id = u.a
             LEFT JOIN l${k - 1} n ON u.b = n.vec_id
             GROUP BY l.vec_id, l.lbl)"""
      }.mkString
      s"""WITH $kmeansCtes,
         bands AS MATERIALIZED (
           $bandSelects),
         cb AS MATERIALIZED (
           SELECT b.vec_id, a3.cluster, b.band, b.bkey
           FROM bands b JOIN a3 USING (vec_id)),
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
           FROM cb a JOIN cb b
             ON a.cluster = b.cluster AND a.band = b.band
            AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
         edges AS MATERIALIZED (
           SELECT va, vb
           FROM pairs
           JOIN (SELECT vec_id, v FROM e) ea ON va = ea.vec_id
           JOIN (SELECT vec_id, v AS w FROM e) eb ON vb = eb.vec_id
           WHERE ${sqlCos("ea.v", "eb.w")} >= $SemCos),
         und AS MATERIALIZED (
           SELECT va AS a, vb AS b FROM edges
           UNION ALL SELECT vb AS a, va AS b FROM edges),
         l0 AS MATERIALIZED (SELECT vec_id, vec_id AS lbl FROM e)$steps
         SELECT a3.vec_id, a3.cluster, l.lbl AS cluster_rep,
           l.lbl != a3.vec_id AS is_dup
         FROM l$rounds l JOIN a3 USING (vec_id) ORDER BY vec_id"""
    },
    // same lockstep-rounded moments (Σx, Σx² rounded at 4 before any
    // division), then identical IEEE mean/sd/z on both engines
    "q_embed_normalize" ->
      s"""WITH e AS (SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
         x AS (SELECT vec_id, i, v[i] AS x FROM e, range(1, 65) t(i)),
         d AS (SELECT i, m, sqrt(msq - m*m) AS sd FROM (
                 SELECT i, round(sum(x), 4) / count(*) AS m,
                        round(sum(x*x), 4) / count(*) AS msq
                 FROM x GROUP BY i)),
         z AS (SELECT vec_id, i, (x - m) / sd AS z FROM x JOIN d USING (i))
         SELECT vec_id,
           round(max(CASE WHEN i = 1 THEN z END), 4) AS z_first,
           round(min(z), 4) AS z_min,
           round(max(z), 4) AS z_max,
           CAST(count(*) FILTER (WHERE abs(z) > 2) AS BIGINT) AS n_outliers
         FROM z GROUP BY vec_id ORDER BY vec_id""",
    "q_vector_topk" ->
      s"""WITH e AS (SELECT vec_id, label, ${sqlDarr("embedding")} AS v,
                     $sqlQvec AS q FROM embeddings)
         SELECT vec_id, label, ${sqlCos("v", "q")} AS cos
         FROM e ORDER BY cos DESC, vec_id ASC LIMIT 50""",
    "q_vector_topk_batch" ->
      s"""WITH e AS (SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 7),
         s AS (SELECT q.qid, e.vec_id, ${sqlCos("e.v", "q.qv")} AS cos
               FROM e CROSS JOIN q),
         r AS (SELECT qid, vec_id, cos,
                      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
               FROM s)
         SELECT qid, vec_id, cos FROM r WHERE rn <= 10
         ORDER BY qid, cos DESC, vec_id""",
    "q_vector_pairs" ->
      s"""WITH e AS (SELECT vec_id, label, ${sqlDarr("embedding")} AS v FROM embeddings)
         SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
                ${sqlCos("a.v", "b.v")} AS cos
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                          AND b.vec_id <= a.vec_id + 25
         WHERE ${sqlCos("a.v", "b.v")} >= $MinCos
         ORDER BY va, vb""",
    // SRP-LSH rendered verbatim in SQL: the same 32 hyperplane dots
    // (integer literals + one double division → bit-identical sign
    // bits), the same 4 band keys, candidate pairs from the bucket
    // self-join, cosine-verified edges, closed by 20 rounds of
    // min-label propagation. The fixed point needs 7 rounds on
    // sf0.001, 6 on sf0.01, 16 on sf0.1 (the 0.25 threshold
    // percolates a giant component whose diameter grows with corpus
    // size — a 10-round unroll was caught short by the sf0.1 sweep);
    // VectorsSpec pins unroll sufficiency on testdata
    "q_dedup_embed" -> {
      val bandSelects = sqlSrpBandSelects("e", "vec_id")
      // every round MATERIALIZED: each l_k references l_{k-1} twice,
      // so inlined CTEs double per round — 2^rounds re-plans of the
      // base scan (DuckDB dies on file handles past ~10 rounds)
      val rounds = 20
      val steps = (1 to rounds).map { k =>
        s""", l$k AS MATERIALIZED (
             SELECT l.vec_id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
             FROM l${k - 1} l
             LEFT JOIN und u ON l.vec_id = u.a
             LEFT JOIN l${k - 1} n ON u.b = n.vec_id
             GROUP BY l.vec_id, l.lbl)"""
      }.mkString
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, ${sqlDarr("embedding")} AS v FROM embeddings),
         bands AS MATERIALIZED (
           $bandSelects),
         pairs AS MATERIALIZED (
           SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
         edges AS MATERIALIZED (
           SELECT va, vb
           FROM pairs
           JOIN (SELECT vec_id, v FROM e) ea ON va = ea.vec_id
           JOIN (SELECT vec_id, v AS w FROM e) eb ON vb = eb.vec_id
           WHERE ${sqlCos("ea.v", "eb.w")} >= $MinCos),
         und AS MATERIALIZED (
           SELECT va AS a, vb AS b FROM edges
           UNION ALL SELECT vb AS a, va AS b FROM edges),
         l0 AS MATERIALIZED (SELECT vec_id, vec_id AS lbl FROM embeddings)$steps
         SELECT vec_id, lbl AS cluster_rep, lbl != vec_id AS is_dup
         FROM l$rounds ORDER BY vec_id"""
    },
    "q_vector_ivf_probe" ->
      s"""WITH e AS (SELECT vec_id, label, ${sqlDarr("embedding")} AS v,
                     $sqlQvec AS q FROM embeddings),
         b AS (SELECT *,
           CAST(CASE WHEN v[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 1 ELSE 0 END AS INT) AS bucket,
           CAST(CASE WHEN q[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN q[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN q[3] > 0 THEN 1 ELSE 0 END AS INT) AS qbucket
           FROM e)
         SELECT vec_id, label, bucket, ${sqlCos("v", "q")} AS cos
         FROM b WHERE bucket = qbucket OR bucket = xor(qbucket, 1)
            OR bucket = xor(qbucket, 2) OR bucket = xor(qbucket, 4)
         ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    "q_vector_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, ${sqlDarr("embedding")} AS v,
                     $sqlQvec AS q FROM embeddings),
         b AS (SELECT *,
           CAST(CASE WHEN v[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 1 ELSE 0 END AS INT) AS bucket,
           CAST(CASE WHEN q[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN q[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN q[3] > 0 THEN 1 ELSE 0 END AS INT) AS qbucket
           FROM e)
         SELECT vec_id, label, bucket, ${sqlCos("v", "q")} AS cos
         FROM b WHERE bucket = qbucket
         ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    // same query batch, same brute-force truth, same single-probe
    // bucket cut, same (cos desc, vec_id) top-10 total order; recall
    // is one division of exact integer hit counts
    "q_ann_recall" ->
      s"""WITH b AS (SELECT vec_id, ${sqlDarr("embedding")} AS v,
             CAST(CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END AS INT) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket
               FROM b WHERE vec_id % 100 = 7),
         t AS (SELECT qid, vec_id FROM (
             SELECT q.qid, b.vec_id, row_number() OVER (PARTITION BY q.qid
               ORDER BY ${sqlCos("b.v", "q.qv")} DESC, b.vec_id) AS rn
             FROM b CROSS JOIN q) WHERE rn <= 10),
         a AS (SELECT qid, vec_id FROM (
             SELECT q.qid, b.vec_id, row_number() OVER (PARTITION BY q.qid
               ORDER BY ${sqlCos("b.v", "q.qv")} DESC, b.vec_id) AS rn
             FROM b JOIN q ON b.bucket = q.qbucket) WHERE rn <= 10),
         h AS (SELECT t.qid, count(*) AS n_hits FROM t
               JOIN a ON t.qid = a.qid AND t.vec_id = a.vec_id GROUP BY t.qid),
         na AS (SELECT qid, count(*) AS n_approx FROM a GROUP BY qid)
         SELECT q.qid, q.qbucket,
           CAST(coalesce(na.n_approx, 0) AS BIGINT) AS n_approx,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / CAST(10.0 AS DOUBLE), 2) AS recall_at_10
         FROM q LEFT JOIN na ON q.qid = na.qid LEFT JOIN h ON q.qid = h.qid
         ORDER BY q.qid""",
  )
}
