package graft

import graft.ops.Text
import org.apache.spark.sql.functions.{col, explode, expr, sha2, size, split}

/** Hand-solved and fixture tests for the text operators, the
  * hash-based near-dup family included: the DuckDB oracle checks what
  * the queries compute on the harness corpus; these pin what that
  * computation means on planted fixtures. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again"

  test("Kneser-Ney bigram: hand-solved discounting and continuation back-off") {
    // "a b a b a c": c(ab)=2 c(ba)=2 c(ac)=1; c(a·)=3 c(b·)=2;
    // N1+(a·)=2 N1+(b·)=1; N1+(·a)=N1+(·b)=N1+(·c)=1; N1+(··)=3
    // P(b|a) = 1.25/3 + (1.5/3)(1/3) = 0.583333
    // P(a|b) = 1.25/2 + (0.75/2)(1/3) = 0.75
    // P(c|a) = 0.25/3 + (1.5/3)(1/3) = 0.25
    val docs = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val got = Text.knBigramCore(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(6)).toMap
    assert(got(("a", "b")) == 0.583333, got.toString)
    assert(got(("b", "a")) == 0.75, got.toString)
    assert(got(("a", "c")) == 0.25, got.toString)
  }

  test("KWIC: context slices clamp at both document edges") {
    val docs = Seq((1L, "merge b c"), (2L, "a b merge c d"), (3L, "x y merge"))
      .toDF("doc_id", "text")
    val got = Text.kwicCore(docs, "merge", 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0, "", "b c"),       // nothing left of position 0
      (2L, 2, "a b", "c d"),    // full ±2 window
      (3L, 2, "x y", "")),      // nothing right of the last token
      got.mkString)
  }

  test("CMS top-k: estimates dominate exact counts; no-collision words are exact") {
    // 3 distinct words over 4×256 cells: collisions are possible but
    // the CMS one-sided error (n_cms ≥ n_exact) must hold regardless,
    // and the heaviest word must rank first with the right exact count.
    val docs = Seq((1L, "alpha alpha alpha beta"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val rows = Text.cmsTopkCore(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.head._1 == "alpha" && rows.head._2 == 4L, rows.mkString)
    rows.foreach { case (w, exact, cms, over) =>
      assert(cms >= exact && over == cms - exact, s"$w: $exact $cms $over")
    }
    // planted collision-free case: with 3 words it is overwhelmingly
    // likely at least one row separates all three — then every
    // estimate is exact. Verify the invariant the sketch is FOR.
    val sep = rows.forall { case (_, exact, cms, _) => cms == exact }
    assert(sep, s"3 words in 4x256 cells should not all collide: ${rows.mkString}")
  }

  test("topic terms: integer lift arithmetic and the support floor") {
    // x: 5×apple 1×banana; y: 5×banana 1×apple → N=12, n_s=6,
    // c_apple=c_banana=6 → lift(x,apple) = 5·12/36 = 5/3
    val docs = Seq(("x", "apple apple apple apple apple banana"),
      ("y", "banana banana banana banana banana apple")).toDF("source", "text")
    def rd(v: Double) = math.rint(v * 1e4) / 1e4
    val all = Text.topicTermsCore(docs, minCount = 1).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getDouble(4))).toMap
    assert(all(("x", 1)) == (("apple", rd(5.0 / 3.0))), all.toString)
    assert(all(("x", 2)) == (("banana", rd(1.0 / 3.0))), all.toString)
    assert(all(("y", 1)) == (("banana", rd(5.0 / 3.0))), all.toString)
    // support floor: x's single banana vanishes at minCount = 2
    val floored = Text.topicTermsCore(docs, minCount = 2).collect()
      .filter(_.getString(0) == "x")
    assert(floored.map(_.getString(2)).toSeq == Seq("apple"), floored.mkString(";"))
  }

  test("substring dedup: shared passages flag, within-doc repeats don't, short docs absent") {
    // d1/d2 share exactly one 3-token window ("a b c") → dup 1/4 each;
    // d3 repeats its own window twice (min=max over doc_id → NOT dup);
    // d4 is too short to window at gram=3 and must be absent.
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d e f"), (2L, "x y a b c q"), (3L, "z z z z"), (4L, "p q"),
    )).toDF("doc_id", "text")
    val out = Text.dedupSubstringCore(docs, gram = 3, floor = 0.25).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L), out.toString)
    assert(out(1L) == ((4L, 1L, 0.25, true)), out.toString)
    assert(out(2L) == ((4L, 1L, 0.25, true)), out.toString)
    assert(out(3L) == ((2L, 0L, 0.0, false)), out.toString)
  }

  test("logistic quality gate: z arithmetic, sigmoid score, keep on z>0") {
    // good: 10 distinct words, 1 stopword → ttr=1, stop=0.1,
    // z = -1 + 3 - 0.2 + 0.5·ln(1) = 1.8 → keep.
    // junk: "the"×10 → ttr=0.1, stop=1 → z = -1 + 0.3 - 2 + 0 = -2.7.
    val docs = spark.createDataFrame(Seq(
      (1L, "the cat sat on mat dog log fog bog zog"),
      (2L, "the the the the the the the the the the"),
    )).toDF("doc_id", "text")
    def rd(v: Double) = math.rint(v * 1e6) / 1e6
    val out = Text.qualityLogisticCore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((1.0, 0.1, rd(1.0 / (1.0 + math.exp(-1.8))), true)), out.toString)
    assert(out(2L) == ((0.1, 1.0, rd(1.0 / (1.0 + math.exp(2.7))), false)), out.toString)
  }

  test("containment: a fully-quoted small doc scores 1.0 where Jaccard sees 0.4") {
    // doc 1 ("p q r s" → 2 shingles) is contained whole in doc 2
    // (5 shingles): cont_a = 1.0, cont_b = 0.4, Jaccard only 2/5 —
    // the asymmetric detector fires where the symmetric one cannot.
    // docs 4/5 share 1 of 2 shingles (cont 0.5 both ways) → filtered.
    val docs = spark.createDataFrame(Seq(
      (1L, "p q r s"), (2L, "x y z p q r s"), (3L, "a b c d"),
      (4L, "m n o t"), (5L, "m n o u"),
    )).toDF("doc_id", "text")
    val out = Text.dedupContainmentCore(docs).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)), r.toString)
    assert(r.getLong(2) == 2L && r.getLong(3) == 5L && r.getLong(4) == 2L)
    assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 0.4, r.toString)
  }

  test("source overlap: identical vocabularies score 1, disjoint pairs absent") {
    val docs = Seq(
      ("w", "a b c d"), ("x", "a b c d"), ("y", "a b"), ("y", "e f"),
      ("z", "p q"),
    ).toDF("source", "text")
    val got = Text.sourceOverlapCore(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    def rd(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(("w", "x")) == 1.0, got.toString)
    // {a,b,c,d} vs {a,b,e,f}: 2 common / 6 union
    assert(got(("w", "y")) == rd(1.0 / 3.0) && got(("x", "y")) == rd(1.0 / 3.0))
    assert(!got.keySet.exists(p => p._1 == "z" || p._2 == "z"),
      "disjoint vocabulary pairs carry no row")
  }

  test("bigram logprob: add-1 smoothing over the full vocabulary, 1-token docs drop") {
    // corpus: "a b", "a b a", "z" → bigrams (a,b)×2, (b,a)×1; V = 3
    // doc1 = ln(3/5); doc2 = (ln(3/5) + ln(2/4)) / 2; doc3 absent
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "z")).toDF("doc_id", "text")
    val got = Text.bigramLogprobCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def rd(x: Double) = math.rint(x * 1e4) / 1e4
    assert(got(1L) == ((1L, rd(math.log(3.0 / 5.0)))), got.toString)
    assert(got(2L) ==
      ((2L, rd((math.log(3.0 / 5.0) + math.log(2.0 / 4.0)) / 2.0))), got.toString)
    assert(!got.contains(3L), "a 1-token doc has no bigrams")
  }

  test("chunking: overlap covers every char, short docs yield one chunk") {
    val out = Text.chunkDocs(spark, sf0001).collect()
    val byDoc = out.groupBy(_.getLong(0))
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(byDoc.keySet == docs.keySet, "every doc must chunk")
    byDoc.foreach { case (id, chunks) =>
      val text = docs(id)
      val sorted = chunks.sortBy(_.getInt(1))
      // chunk i starts at i*192 and is the verbatim 256-char window
      sorted.foreach { r =>
        val start = r.getInt(1) * 192
        val expected = text.substring(start, math.min(start + 256, text.length))
        assert(r.getString(2) == expected, s"doc $id chunk ${r.getInt(1)} mismatch")
      }
      // stride < window → consecutive chunks overlap by 64 chars, so
      // concatenated coverage is gapless: last chunk must reach the end
      val last = sorted.last
      assert(last.getInt(1) * 192 + last.getInt(3) == text.length,
        s"doc $id: final chunk does not reach end of text")
      // a doc no longer than one stride yields exactly one chunk
      // (windows start at every stride multiple below the length)
      if (text.length <= 192) assert(sorted.length == 1)
      else assert(sorted.length == (text.length + 191) / 192)
    }
  }

  test("minhash: exact and near duplicates cluster; distinct docs don't") {
    val docs = Seq(
      (1L, base),
      (2L, base),                                        // exact dup of 1
      (3L, base.replace("dog again and again", "dog again and often")), // near dup of 1
      (4L, "completely different words about query engines and shuffles here"),
      (5L, "another unrelated document mentioning vectors windows and joins now"),
    ).toDF("doc_id", "text")
    val out = Text.minhashClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == 1L, s"exact dup should cluster to 1, got $out")
    assert(out(3L) == 1L, s"near dup should cluster to 1, got $out")
    assert(out(4L) == 4L && out(5L) == 5L, s"distinct docs should self-cluster, got $out")
  }

  test("simhash: bag-of-words invariant, near dups are hamming-close") {
    val docs = Seq(
      (1L, base),
      (2L, base.split(" ").reverse.mkString(" ")),       // permutation: same bag
      (3L, base.replace("lazy", "sleepy")),              // one word changed
      (4L, "completely different words about query engines and shuffles here"),
    ).toDF("doc_id", "text")
    val out = Text.simhash(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(out(1L) == out(2L), "word order must not affect simhash")
    assert(hamming(out(1L), out(3L)) <= 12,
      s"one-word change should be hamming-close: ${hamming(out(1L), out(3L))}")
    assert(hamming(out(1L), out(4L)) > 12,
      s"unrelated docs should be hamming-far: ${hamming(out(1L), out(4L))}")
  }

  test("portable simhash: bag-of-words invariant, near dups are hamming-close") {
    val texts = Seq(
      1L -> base,
      2L -> base.split(" ").reverse.mkString(" "),       // permutation: same bag
      3L -> base.replace("lazy", "sleepy"),              // one word changed
      4L -> "completely different words about query engines and shuffles here")
    val out = Text.simhash(texts.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), (2 to 5).map(r.getLong))).toMap
    // the vote→sign→bit fold replayed off-engine on the same 64-bit hash
    def reference(t: String): Long = {
      val tf = t.split(" ").filter(_.nonEmpty).groupBy(identity).toSeq.map { case (w, ws) =>
        graft.functions.PortableHash64(org.apache.spark.sql.catalyst.expressions.Literal(w))
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(w)) -> ws.length
      }
      (0 until 64).foldLeft(0L) { (fp, b) =>
        val v = tf.map { case (h, n) => if (((h >>> b) & 1L) == 1L) n else -n }.sum
        if (v > 0) fp | (1L << b) else fp
      }
    }
    for ((id, t) <- texts) {
      val (fp, bands) = out(id)
      assert(fp == reference(t), s"doc $id: engine $fp vs reference ${reference(t)}")
      assert(bands == Seq(48, 32, 16, 0).map(k => (fp >>> k) & 65535L),
        s"doc $id: band keys are not the fingerprint's 16-bit slices: $bands")
    }
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(out(a)._1 ^ out(b)._1)
    assert(out(1L)._1 == out(2L)._1, "word order must not affect portable simhash")
    assert(hamming(1L, 3L) < hamming(1L, 4L),
      s"near dup must be closer than unrelated: ${hamming(1L, 3L)} vs ${hamming(1L, 4L)}")
  }

  test("short documents (<3 words) survive shingle-based ops and self-cluster") {
    val docs = Seq(
      (1L, "solo"),
      (2L, "two words"),
      (3L, base),
      (4L, base),
    ).toDF("doc_id", "text")
    val out = Text.minhashClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), s"every doc must appear: $out")
    assert(out(1L) == 1L && out(2L) == 2L)
    assert(out(4L) == 3L)
  }

  test("prefix filtering: lossless vs naive enumeration, and really pruning") {
    val docs = Tables.documents(spark, sf0001)
    val viaPrefix = ops.Text.dedupPrefix(spark, sf0001)
      .select("da", "db", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the oracle-shaped naive enumeration (dedupNgram's shared-shingle
    // join) re-thresholded at 4/5 — the prefix-filter lemma says the
    // result sets must be identical (no false negatives)
    val naive = ops.Text.dedupNgram(spark, sf0001)
      .filter(col("jac") >= 4.0 / 5)
      .select("da", "db", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaPrefix == naive)
    assert(viaPrefix.nonEmpty, "the planted near-dups must surface")
    // the candidate set covers every true pair while pruning hard —
    // at t = 4/5 each doc exposes only ~n/5 rare shingles. Naive
    // shared-shingle candidates (what dedupNgram's join enumerates),
    // built independently in-spec:
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 2), i -> " +
          "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))"))
        .as("g")).distinct()
    val candShared = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val candPrefix = ops.Text.prefixCandidates(docs).count()
    assert(candPrefix >= viaPrefix.size, "candidates must cover every true pair")
    // measured: 28 vs 12,025 here (430×); 118k vs 1.13M at sf0.1
    assert(candPrefix * 10 < candShared,
      s"prefix candidates ($candPrefix) must prune ≥10× vs shared-shingle ($candShared)")
  }

  test("edit-distance confirm: same pairs as the Jaccard stage, char-level sim high") {
    val edit = ops.Text.dedupEdit(spark, sf0001).collect()
    val jacPairs = ops.Text.dedupPrefix(spark, sf0001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the confirm stage scores every set-verified pair, adds none
    assert(edit.map(r => (r.getLong(0), r.getLong(1))).toSet == jacPairs)
    // shingle-level 4/5 similarity implies character-level closeness —
    // a planted mutation, not a coincidental shingle overlap
    // (measured band on this corpus: [0.931, 0.993])
    edit.foreach { r =>
      val sim = r.getDouble(4)
      assert(sim >= 0.9 && sim <= 1.0, s"pair ${r.getLong(0)},${r.getLong(1)}: $sim")
      assert(r.getLong(2) < r.getLong(3), "edit_dist must be under max_len")
    }
  }

  test("minhash on harness data flags the planted near-duplicates") {
    val out = Text.dedupMinhash(spark, sf0001)
    assert(out.filter(col("is_dup")).count() > 0)
    assert(out.count() == out.select("doc_id").distinct().count())
  }

  test("pii redaction: counts both injected and in-text PII, replaces all of it") {
    // doc_id 3 (divisible by 3): injection adds phone 1000021, email
    // u3@ex3.org, and ref 99999999; the text itself carries one more
    // of each. Emails go first, so u3@ex3.org's digits never count
    // as a number run.
    val docs = Seq((3L, "see 12345 and bob@x.co now")).toDF("doc_id", "text")
    val r = Text.piiRedactCore(docs).collect().head
    assert(r.getInt(1) == 2 && r.getInt(2) == 3, r.toString)
    assert(r.getString(3) ==
      "call <NUM> or mail <EMAIL> ref <NUM> see <NUM> and <EMAIL> now", r.toString)
  }

  test("sorted neighborhood: adjacent near-dups pair, far texts and other langs don't") {
    // en block sorts: "alpha beta gamma" (1) < "alpha beta gamma delta" (2)
    // < "zeta omega" (3). Pair (1,2): |∩|=3, |∪|=4 → jac 0.75 kept;
    // (2,3) and the distance-2 (1,3) score 0. The identical text in de
    // (4) must never pair across the block boundary.
    val docs = Seq(
      (1L, "en", "alpha beta gamma"),
      (2L, "en", "alpha beta gamma delta"),
      (3L, "en", "zeta omega"),
      (4L, "de", "alpha beta gamma"),
    ).toDF("doc_id", "lang", "text")
    val rows = Text.dedupSortedCore(docs).collect()
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getString(0) == "en" && r.getLong(1) == 1L && r.getLong(2) == 2L &&
      r.getLong(3) == 3L && r.getLong(4) == 4L && r.getDouble(5) == 0.75, r.toString)
  }

  test("sorted neighborhood: the w=2 horizon reaches over one interloper") {
    // text sort puts the dissimilar doc 2 BETWEEN the near-dups 1 and 3
    // ("…cherry" < "…cherry cactus…" < "…cherry date"); only the
    // distance-2 comparison can find (1,3): jac 3/4 = 0.75
    val docs = Seq(
      (1L, "en", "apple banana cherry"),
      (2L, "en", "apple banana cherry cactus xylophone quartz umbrella vortex wigwam yonder zephyr nimbus"),
      (3L, "en", "apple banana cherry date"),
    ).toDF("doc_id", "lang", "text")
    val pairs = Text.dedupSortedCore(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 3L)), pairs.toString)
  }

  test("unigram logprob averages ln p(token) under the corpus distribution") {
    // corpus: a×3, b×1, c×1 over 5 tokens
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = Text.unigramLogprobCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, r4((2 * math.log(0.6) + math.log(0.2)) / 3))), got.toString)
    assert(got(2L) == ((2L, r4((math.log(0.6) + math.log(0.2)) / 2))), got.toString)
  }

  test("bm25 matches the hand-applied Okapi closed form, no-hit docs absent") {
    // N=3, avgdl=2; df(spark)=df(join)=df(window)=1 → shared idf
    val docs = Seq(
      (1L, "spark join spark"), (2L, "window"), (3L, "filter scan"),
    ).toDF("doc_id", "text")
    val got = Text.bm25Core(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val idf = math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5))
    def sc(tf: Long, dl: Long): Double =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))
    val d1 = sc(2, 3) + sc(1, 3) // spark tf=2 + join tf=1 at dl=3
    val d2 = sc(1, 1)            // window tf=1 at dl=1
    assert(got.keySet == Set(1L, 2L), s"no-hit doc 3 must be absent: $got")
    assert(math.abs(got(1L)._1 - d1) < 1e-6 && got(1L)._2 == 2, got.toString)
    assert(math.abs(got(2L)._1 - d2) < 1e-6 && got(2L)._2 == 1, got.toString)
  }

  test("ngram novelty is directional: the lower-id original stays novel, the copier is flagged") {
    // doc 1 "a b c d e f" → 2 distinct 5-grams; doc 2 extends the same
    // text → 4 grams, 2 of them first seen in doc 1; doc 3 is too
    // short to gram and must be absent
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f g h"),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val got = ops.Text.ngramNoveltyCore(docs, 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    assert(got(1L) == ((2L, 0L, 1.0)), "the original must be fully novel: " + got(1L))
    assert(got(2L) == ((4L, 2L, 0.5)), "the copier shares exactly its copied grams: " + got(2L))
  }

  test("normalized dedup collapses case/punct/whitespace variants strict hashing keeps apart") {
    val docs = Seq(
      (1L, "Hello,   World!"),
      (2L, "hello world"),
      (3L, "HELLO  WORLD."),
      (4L, "a different doc")).toDF("doc_id", "text")
    val got = ops.Text.dedupNormalizedCore(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 3L, 4L -> 1L), got.toString)
    // and the strict pass must NOT collapse them — the two operators
    // genuinely differ on exactly these variants
    val strict = docs.groupBy(sha2(col("text"), 256)).count().count()
    assert(strict == 4, s"strict sha2 must keep all 4 apart, got $strict groups")
  }

  test("soft dedup: copies downweight to exact 1/k millionths, uniques keep full mass") {
    // text T has 3 global copies (2 in s1, 1 in s2) → each carries
    // floor(1e6/3) = 333333; U is unique in s2 → 1000000
    val docs = Seq(
      (1L, "s1", "T T T"),
      (2L, "s1", "T T T"),
      (3L, "s2", "T T T"),
      (4L, "s2", "U U U")).toDF("doc_id", "source", "text")
    val got = ops.Text.dedupSoftCore(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("s1") == ((2L, 1L, 666666L)), got.toString)
    assert(got("s2") == ((2L, 2L, 1333333L)), got.toString)
  }

  test("line dedup: global first occurrence survives, later copies (and within-doc repeats) cut") {
    // 16-word segments: A = w1..w16, B = x1..x16. doc 1 = A B;
    // doc 2 = B A (both segments already seen → fully removed);
    // doc 3 = A A (within-doc repeat of an already-seen segment).
    val segA = (1 to 16).map(i => s"w$i").mkString(" ")
    val segB = (1 to 16).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"$segA $segB"),
      (2L, s"$segB $segA"),
      (3L, s"$segA $segA")).toDF("doc_id", "text")
    val got = ops.Text.dedupLinesCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((2L, 2L, s"$segA $segB")), "doc 1 owns both first occurrences: " + got(1L))
    assert(got(2L) == ((2L, 0L, "")), "doc 2 is entirely pre-seen: " + got(2L))
    assert(got(3L) == ((2L, 0L, "")), "within-doc repeats of seen segments cut too: " + got(3L))
  }

  test("dedup survivors: longest copy wins, ties break to the lower id, singletons keep") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, txt, 10L), (2L, txt, 30L), (3L, txt, 30L),
      (9L, "completely unrelated vocabulary with zero shared shingles here", 5L))
      .toDF("doc_id", "text", "n_chars")
    val got = ops.Text.dedupSurvivorsCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(
      1L -> ((1L, 3L, false)), // cluster rep but SHORTER — selection ≠ labeling
      2L -> ((1L, 3L, true)),  // longest, lower id than the tied 3
      3L -> ((1L, 3L, false)),
      9L -> ((9L, 1L, true))), got.toString)
  }

  test("naive bayes: hand-smoothed two-language corpus classifies itself perfectly") {
    // V = {a,b,c,d} = 4; en tokens a×3 b×2 (n=5), fr tokens c×3 d×1
    // (n=4); priors 2/4 each. P(w|en) = (c+1)/9, P(w|fr) = (c+1)/8.
    val docs = Seq(
      (1L, "en", "a a b"), (2L, "en", "a b"),
      (3L, "fr", "c c"), (4L, "fr", "c d"),
    ).toDF("doc_id", "lang", "text")
    val got = Text.naiveBayesCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getDouble(3))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.forall { case (_, (t, p, _)) => t == p },
      "resubstitution must be perfect on this corpus: " + got)
    // doc 3 "c c" under fr: 2·ln(4/8) + ln prior 1/2 = 3·ln(1/2)
    assert(got(3L)._3 == r4(3 * math.log(0.5)), got(3L).toString)
    // doc 1 "a a b" under en: 2·ln(4/9) + ln(3/9) + ln(1/2)
    assert(got(1L)._3 ==
      r4(2 * math.log(4.0 / 9) + math.log(3.0 / 9) + math.log(0.5)),
      got(1L).toString)
  }

  test("minhash calibration: identical pairs land in decile 9 with perfect estimate and hit") {
    import spark.implicits._
    // three identical docs (C(3,2)=3 pairs at J=1) + one disjoint doc
    // (shares no shingle, so it pairs with nothing)
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d e"),
      (4L, "v w x y z"),
    ).toDF("doc_id", "text")
    val rows = Text.minhashCalibrateCore(docs).collect()
    assert(rows.length == 1, s"only the identical pairs are candidates: ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(0) == 9 && r.getLong(1) == 3, r.toString)
    assert(r.getDouble(2) == 1000.0, s"exact jaccard of clones: $r")
    assert(r.getDouble(3) == 1000.0, s"identical sets share every minhash slot: $r")
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 1000.0, r.toString)

    // harness corpus: the curve is monotone in similarity and every
    // estimate stays inside [0, 1000]
    val curve = Text.minhashCalibrate(spark, sf0001).collect()
    assert(curve.nonEmpty)
    val jacs = curve.map(_.getDouble(2)).toSeq
    assert(jacs == jacs.sorted, s"mean exact jaccard must rise with decile: $jacs")
    curve.foreach { c =>
      assert(c.getDouble(3) >= 0.0 && c.getDouble(3) <= 1000.0, c.toString)
    }
  }

  test("ccnet buckets: hand-ranked per-language tertiles, scores from the language's own LM") {
    import spark.implicits._
    // lang xx: c appears 10 times, r1..r14 once each, n_lang = 24.
    // avg_logp ranks d1 > d2 > d3 > d4 > d5 = d6 (tie -> doc_id), so
    // ntile(3) over 6 docs gives two per bucket in exactly that order.
    // lang yy (3 docs) cuts independently: one doc per bucket.
    val docs = Seq(
      (1L, "xx", "c c c c"), (2L, "xx", "c c c r1"),
      (3L, "xx", "c c r2 r3"), (4L, "xx", "c r4 r5 r6"),
      (5L, "xx", "r7 r8 r9 r10"), (6L, "xx", "r11 r12 r13 r14"),
      (7L, "yy", "k k k"), (8L, "yy", "k k u1"), (9L, "yy", "u2 u3 u4"),
    ).toDF("doc_id", "lang", "text")
    val got = Text.ccnetBucketsCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(4), r.getDouble(3))).toMap
    assert(got.view.mapValues(_._1).toMap == Map(
      1L -> "head", 2L -> "head", 3L -> "middle", 4L -> "middle",
      5L -> "tail", 6L -> "tail", 7L -> "head", 8L -> "middle", 9L -> "tail"))
    // d1: 4 tokens of the 10/24 word
    val expected = BigDecimal(math.log(10.0 / 24))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._2 == expected, s"got ${got(1L)._2}, want $expected")
    // all-rare docs score ln(1/24) exactly
    assert(got(5L)._2 == got(6L)._2)
  }

  test("blocklist: planted frequent bigram flagged everywhere, sub-top-20 bigrams escape") {
    import spark.implicits._
    // bigram counts: (bad,word)=4, (word,bad)=2, 32 singletons. The
    // top-20 cut keeps both planted bigrams + docB's two fillers +
    // the 16 string-least zc bigrams -> exactly 14 zc docs escape.
    val zcDocs = (0 until 30).map(i => (100L + i, s"s$i", s"zc$i zd$i"))
    val docs = (Seq(
      (1L, "sA", "bad word bad word bad word"),
      (2L, "sB", "bad word filler1 filler2"),
    ) ++ zcDocs).toDF("doc_id", "source", "text")
    val rows = Text.blocklistCore(docs).collect()
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(byId(1L) == ((5L, true)), s"docA: ${byId(1L)}")   // 3 + 2 planted hits
    assert(byId(2L) == ((3L, true)), s"docB: ${byId(2L)}")   // planted + both fillers
    assert(rows.count(_.getBoolean(3)) == 18, "2 planted docs + 16 banned zc docs")
    assert(rows.count(!_.getBoolean(3)) == 14, "zc docs past the top-20 cut escape")
  }
}
