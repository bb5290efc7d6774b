package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
    3L -> "completely different text about spark engines",
    4L -> "the quick brown fox jumps over the lazy dog"  // exact dup of 1
  ).toDF("doc_id", "text")

  test("shingles: n-grams over clean tokens; short text yields empty array") {
    val sh = Seq("a  b c", "a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c")) // double space doesn't produce empty token
    assert(sh(1) == Nil)          // shorter than n => empty, no truncated tail
  }

  test("exactGroups collapses exact duplicates") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    val dupGroup = g.filter(col("n_copies") > 1)
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(dupGroup.toSeq == Seq((1L, 2L)))
    assert(g.count() == 3)
  }

  test("latestPerKeyOrdered keeps the deterministic winner") {
    val df = Seq((1, 10, "old"), (1, 20, "new"), (2, 5, "only"), (1, 20, "tie"))
      .toDF("k", "ver", "v")
    val kept = Dedup.latestPerKeyOrdered(df, Seq("k"), Seq(col("ver").desc, col("v").desc))
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(kept == Map(1 -> "tie", 2 -> "only")) // ver 20 tie broken by v desc
  }

  test("minHashCandidates surfaces the near-duplicate pair with high jaccard") {
    val pairs = Dedup.minHashCandidates(docs, "doc_id", "text",
        shingleN = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0) // exact dup
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5)  // near dup
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minHashCandidates: a duplicated input id never pairs with itself") {
    val withDup = docs.union(Seq(1L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text"))
    val pairs = Dedup.minHashCandidates(withDup, "doc_id", "text",
        shingleN = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b }, pairs.toSeq)
    assert(pairs.toSet.contains((1L, 4L)))
  }

  test("bucket guard compares in long space: a bound above Int.MaxValue " +
      "passes a normal bucket") {
    def pairs(maxBucketRows: Long) = Dedup.minHashCandidates(docs, "doc_id",
        "text", shingleN = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.3,
        maxBucketRows = maxBucketRows)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs(Int.MaxValue.toLong + 1) == pairs(0L))
  }

  test("banded bucket guardrails trip on degenerate corpora, 0 disables") {
    // 5 byte-identical docs share every band bucket in both hash families
    val dup = (0L until 5L).map(i => (i, "same exact text in every document"))
      .toDF("doc_id", "text")
    val eMin = intercept[IllegalArgumentException] {
      Dedup.minHashCandidates(dup, "doc_id", "text",
        shingleN = 2, bands = 4, rowsPerBand = 2, maxBucketRows = 3)
    }
    assert(eMin.getMessage.contains("rowsPerBand"))
    val eSim = intercept[IllegalArgumentException] {
      Dedup.simHashNearDupPairs(dup, "doc_id", "text",
        maxHamming = 3, maxBucketRows = 3)
    }
    assert(eSim.getMessage.contains("maxHamming"))
    // disabled checks let the same calls through
    assert(Dedup.minHashCandidates(dup, "doc_id", "text", shingleN = 2,
      bands = 4, rowsPerBand = 2, maxBucketRows = 0).count() == 10) // C(5,2)
    assert(Dedup.simHashNearDupPairs(dup, "doc_id", "text",
      maxHamming = 3, maxBucketRows = 0).count() == 10)
  }

  test("dedupCorpus removes near-dups, keeps min-id survivor and uniques") {
    val out = Dedup.dedupCorpus(docs, "doc_id", "text",
        shingleN = 2, bands = 8, rowsPerBand = 2, minJaccard = 0.8)
      .select("doc_id").as[Long].collect().toSet
    // docs 1 and 4 are exact duplicates (jaccard 1.0): min-id survivor is 1;
    // doc 2's jaccard to 1 is below 0.8 and doc 3 is unrelated — both stay
    assert(out == Set(1L, 2L, 3L))
  }

  test("dedupCorpusByEmbedding: near-dup vectors collapse, empties survive") {
    val vecs = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(0.995f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)), // cos ~0.995 to 1
      (3L, Array(0f, 1.0f, 0f, 0f, 0f, 0f, 0f, 0f)),      // orthogonal
      (4L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),      // exact dup of 1
      (5L, Array.empty[Float])                             // no signature
    ).toDF("vec_id", "embedding")
    val out = Dedup.dedupCorpusByEmbedding(vecs, "vec_id", "embedding",
        dim = 8, bands = 32, bitsPerBand = 5, minCosine = 0.9)
      .select("vec_id").as[Long].collect().toSet
    // {1,2,4} form one near-dup component -> min-id survivor 1; 3 is
    // unrelated; 5 has no vector so it can never pair and must survive
    assert(out == Set(1L, 3L, 5L))
  }

  test("decontaminate: eval-overlapping docs flagged and removed; clean docs kept") {
    val corpus = Seq(
      1L -> "the capital of france is paris obviously",
      2L -> "a completely unrelated recipe for sourdough bread",
      3L -> "quiz answer the capital of france is paris"
    ).toDF("doc_id", "text")
    val eval = Seq(100L -> "what is the capital of france is paris")
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, eval, "doc_id", "text", "text",
        ngramN = 3)
      .as[(Long, Long)].collect().toMap
    // docs 1 and 3 share 'the capital of' / 'capital of france' /
    // 'of france is' / 'france is paris' with the eval set; doc 2 shares none
    assert(hits(1L) == 4 && hits(3L) == 4 && hits(2L) == 0, hits.toString)
    val kept = Dedup.decontaminate(corpus, eval, "doc_id", "text", "text",
        ngramN = 3, minHits = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("dedupByUrl: decoration variants collapse to one survivor by preference") {
    val df = Seq(
      (1L, 10L, "https://a.example/p1?utm_source=x"),
      (2L, 20L, "HTTPS://A.example:443/p1"), // same canonical page, longer doc
      (3L, 5L, "https://a.example/p1/"),     // trailing slash variant
      (4L, 7L, "https://a.example/p2")       // different page
    ).toDF("doc_id", "n_chars", "url")
    val out = Dedup.dedupByUrl(df, "url",
        prefer = Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "url_canon").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(2L, 4L), out.toString)
    assert(out(2L) == "https://a.example/p1")
  }

  test("decontaminateFuzzy: verbatim + near-verbatim leaks drop, shared-phrase docs survive") {
    val evalText = "the capital of france is paris and the capital of spain is madrid clearly"
    val corpus = Seq(
      1L -> evalText, // verbatim copy: identical signature, est = 1.0
      2L -> evalText.replace("clearly", "obviously"), // near-verbatim variant
      // shares a phrase (a few shingles) but is mostly its own document —
      // exact decontamination at minHits=3 would remove it; fuzzy keeps it
      3L -> ("an essay mentioning the capital of france is paris once then " +
        "wandering into entirely different material about bread baking for many tokens"),
      4L -> "a completely unrelated recipe for sourdough bread with rye flour"
    ).toDF("doc_id", "text")
    val eval = Seq(100L -> evalText).toDF("doc_id", "text")
    val kept = Dedup.decontaminateFuzzy(corpus, eval, "doc_id", "text", "text",
        minEstJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), kept.toString)
    // the exact pass IS stricter on shared phrases: doc 3 dies there
    val keptExact = Dedup.decontaminate(corpus, eval, "doc_id", "text", "text",
        ngramN = 3, minHits = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(!keptExact.contains(3L))
    // threshold guard
    intercept[IllegalArgumentException] {
      Dedup.decontaminateFuzzy(corpus, eval, "doc_id", "text", "text",
        minEstJaccard = 0.0)
    }
    // unsignable corpus docs (< shingleN tokens) are never dropped
    val shorty = Seq(9L -> "too short").toDF("doc_id", "text")
    assert(Dedup.decontaminateFuzzy(shorty, eval, "doc_id", "text", "text")
      .count() == 1L)
  }

  test("native minHashSignature: k mins, identical texts agree, short text null") {
    import graft.expressions.TextHashExpressions.minHashSignature
    val df = Seq((1L, "the quick brown fox jumps"),
        (2L, "THE  quick\tbrown fox jumps"), // case/whitespace-insensitive
        (3L, "too short")).toDF("id", "text")
    val rows = df.select(col("id"), minHashSignature(col("text"), 3, 8).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(rows(1L) != null && rows(1L).length == 8)
    assert(rows(1L) == rows(2L)) // same token stream => same signature
    assert(rows(3L) == null)     // < shingleN tokens => no signature
  }

  test("native simhash is bit-identical to the expression-fold form") {
    val df = Seq((1L, "the quick brown fox"), (2L, "  mixed\tCASE text ")).toDF("id", "text")
    val pairs = df.select(
        graft.expressions.TextHashExpressions.simHash(col("text")).as("a"),
        Dedup.simHash(col("text")).as("b"))
      .as[(Long, Long)].collect()
    pairs.foreach { case (a, b) => assert(a == b) }
  }

  test("simHashGroups groups exact duplicates; near-dups are Hamming-close") {
    val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(4L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 12) // near-dup close
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 12)  // unrelated far
  }

  test("simHashNearDupPairs finds near-dups within the Hamming radius") {
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
  }

  test("contaminationHitsBloom: superset of exact hits, removal agrees here") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence about spark"),
      (3L, "the quick brown cat sits still all day long"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val exact = Dedup.contaminationHits(corpus, eval, "doc_id", "text", "text")
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.contaminationHitsBloom(corpus, eval, "doc_id", "text", "text")
      .as[(Long, Long)].collect().toMap
    assert(exact.keySet == bloom.keySet)
    // no false negatives: bloom counts each doc at least as contaminated
    exact.foreach { case (id, n) => assert(bloom(id) >= n, s"doc $id") }
    // doc 1 shares "the quick brown" + "quick brown fox" (+more); doc 2 none
    assert(exact(1L) >= 2L && exact(2L) == 0L)
    val removedExact = Dedup.decontaminate(corpus, eval, "doc_id", "text", "text")
      .select("doc_id").as[Long].collect().toSet
    val removedBloom = Dedup.decontaminateBloom(corpus, eval, "doc_id", "text", "text")
      .select("doc_id").as[Long].collect().toSet
    // tiny corpus at fpp 1e-4: phantom hits would need a 1-in-10^4 event —
    // survivor sets must agree exactly here
    assert(removedBloom == removedExact)
  }

  test("contaminationHitsBloom builds past the optimizer's bloom size limits") {
    // the aggregate validates against confs meant for runtime join filters
    // (4M items default) — a real eval suite exceeds them; the operator must
    // raise them scope-locally and restore afterwards
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      val eval = Seq((9L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
      val hits = Dedup.contaminationHitsBloom(corpus, eval, "doc_id", "text", "text")
        .as[(Long, Long)].collect().toMap
      assert(hits(1L) >= 1L) // shares "alpha beta gamma"
      assert(spark.conf.get(key) == "1") // restored
    } finally spark.conf.set(key, prev)
  }

  test("simHashPortable: identical texts agree; 32-bit range; case-insensitive") {
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "ALPHA beta GAMMA"), (4L, "totally different words here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHashPortable(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) == sigs(3L)) // lower() before hashing
    assert(sigs(1L) != sigs(4L))
    assert(sigs.values.forall(s => s >= 0L && s < (1L << 32)))
  }

  test("duplicateGroups: connected components with min-id group labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("duplicateGroups: driver and distributed paths agree exactly") {
    // chain + star + isolated pair: every shape in one graph
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)) ++
      (20L to 25L).map(i => (19L, i))).toDF("id_a", "id_b")
    val local = Dedup.duplicateGroups(pairs).as[(Long, Long)].collect().toSet
    val dist = Dedup.duplicateGroups(pairs, localEdgeLimit = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == dist, s"local=$local dist=$dist")
  }

  test("duplicateGroups: string ids work on both paths (no ANSI long cast)") {
    // regression: an unconditional .cast("long") threw under Spark 4 ANSI
    // the moment ids were hash strings
    val pairs = Seq(("aa", "bb"), ("bb", "cc"), ("xx", "yy"))
      .toDF("id_a", "id_b")
    val expected = Map("aa" -> "aa", "bb" -> "aa", "cc" -> "aa",
      "xx" -> "xx", "yy" -> "xx")
    val local = Dedup.duplicateGroups(pairs)
      .as[(String, String)].collect().toMap
    val dist = Dedup.duplicateGroups(pairs, localEdgeLimit = 0)
      .as[(String, String)].collect().toMap
    assert(local == expected, s"local=$local")
    assert(dist == expected, s"dist=$dist")
  }

  test("keepBestLosers: highest score survives per component, min id on ties") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 10), (2L, 50), (3L, 50), (7L, 5), (9L, 5))
      .toDF("id", "score")
    val losers = Dedup.keepBestLosers(pairs, scores).as[Long].collect().toSet
    // cluster {1,2,3}: 2 and 3 tie at 50 -> 2 wins (min id); cluster {7,9}:
    // tie at 5 -> 7 wins
    assert(losers == Set(1L, 3L, 9L))
  }

  test("dedupSpansAcross: removes cross-doc boilerplate spans, rebuilds in order") {
    // span = 2 tokens; "copy right" appears in 3 docs -> banned at minDocs=3;
    // "unique text" variants survive. Doc 4 is ALL boilerplate -> empty.
    val df = Seq(
      (1L, "copy right alpha beta"),
      (2L, "copy right gamma delta"),
      (3L, "copy right epsilon zeta"),
      (4L, "copy right"),
      (5L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpansAcross(df, "doc_id", "text", spanTokens = 2,
        minDocs = 3)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "alpha beta", 1L),
      (2L, "gamma delta", 1L),
      (3L, "epsilon zeta", 1L),
      (4L, "", 0L),                          // row survives, content gone
      (5L, "totally unrelated words here", 2L)))
    // final short span: 5 tokens -> spans (2,2,1); the 1-token tail is its
    // own span and dedups independently
    val odd = Seq((1L, "a b c d tail"), (2L, "x y tail"), (3L, "p q tail"))
      .toDF("doc_id", "text")
    val got2 = Dedup.dedupSpansAcross(odd, "doc_id", "text", 2, 3)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq((1L, "a b c d", 2L), (2L, "x y", 1L), (3L, "p q", 1L)))
    intercept[IllegalArgumentException] {
      Dedup.dedupSpansAcross(df, "doc_id", "text", 2, minDocs = 1)
    }
  }

  test("dedupSpansWithinDoc: keeps first occurrence, preserves order, never drops rows") {
    val df = Seq(
      (1L, "a b a b c d"),       // [a b][a b][c d] -> "a b c d"
      (2L, "x y z"),             // [x y][z] no repeats -> unchanged
      (3L, ""),                  // no tokens -> survives empty
      (4L, "k k k k k k")        // [k k]x3 -> "k k"
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpansWithinDoc(df, "doc_id", "text", spanTokens = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a b c d", 2L),
      (2L, "x y z", 2L),
      (3L, "", 0L),
      (4L, "k k", 1L)))
    // first-occurrence ORDER: a later span that repeats an earlier one
    // disappears, but distinct later spans keep their position
    val ord = Seq((1L, "p q r s p q t u")).toDF("doc_id", "text")
    val got2 = Dedup.dedupSpansWithinDoc(ord, "doc_id", "text", 2)
      .as[(Long, String, Long)].collect().head
    assert(got2 == ((1L, "p q r s t u", 3L)))
    intercept[IllegalArgumentException] {
      Dedup.dedupSpansWithinDoc(df, "doc_id", "text", 0)
    }
  }

  test("contaminationReport: per-benchmark attribution, distinct-gram counts") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),    // shares "alpha beta gamma" with A
      (2L, "one two three four five"),   // shares two 3-grams with B
      (3L, "nothing in common here ok")
    ).toDF("doc_id", "text")
    val evals = Seq(
      ("benchA", "alpha beta gamma zz"),
      ("benchB", "one two three four xx"),
      ("benchB", "one two three yy")     // duplicate gram across B docs: counted once
    ).toDF("bench", "text")
    val got = Dedup.contaminationReport(corpus, evals, "doc_id", "text",
        "text", "bench", ngramN = 3)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "benchA", 1L),
      (2L, "benchB", 2L)))  // "one two three" + "two three four", B-deduped
  }

  test("keepBestLosers: rejects wrong-arity or non-numeric score frames up front") {
    // ADVICE r7: positional (id, score) reads meant a 3-column frame or a
    // non-numeric second column silently built a wrong loser set
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val threeCols = Seq((1L, 10, "x")).toDF("id", "score", "extra")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.keepBestLosers(pairs, threeCols)
    }
    assert(e1.getMessage.contains("exactly (id, score)"))
    val stringScore = Seq((1L, "high")).toDF("id", "score")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.keepBestLosers(pairs, stringScore)
    }
    assert(e2.getMessage.contains("must be numeric"))
  }

  test("property: keepBestLosers == brute-force winners on random graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val gen = for {
      nIds <- Gen.choose(2, 16)
      nEdges <- Gen.choose(1, 24)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, nIds - 1); b <- Gen.choose(0, nIds - 1)
      } yield (a.toLong, b.toLong)).map(_.filter(e => e._1 != e._2))
      if edges.nonEmpty
      // scores: some ids unscored, some with DUPLICATE rows
      scored <- Gen.listOfN(nIds, Gen.option(Gen.choose(0, 5)))
      dups <- Gen.listOfN(3, Gen.choose(0, nIds - 1))
    } yield (edges, scored.zipWithIndex.collect {
      case (Some(s), i) => (i.toLong, s.toLong)
    } ++ dups.flatMap(i => scored(i).map(s => (i.toLong, s.toLong - 1))))
    val prop = Prop.forAll(gen) { case (edges, scores) =>
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.keepBestLosers(pairs, scores.toDF("id", "score"))
        .as[Long].collect().toSet
      // brute force: union-find components over the edge list, winner =
      // max resolved score (dups -> max), ties min id; unscored ids rank
      // below every scored one
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val score = scores.groupBy(_._1).map { case (i, ss) => i -> ss.map(_._2).max }
      val want = ids.groupBy(find).values.flatMap { comp =>
        // maxBy, not minBy over a negated score: -Long.MinValue overflows
        // back to Long.MinValue, which would rank UNSCORED ids best
        val winner = comp.maxBy(i => (score.getOrElse(i, Long.MinValue), -i))
        comp.filterNot(_ == winner)
      }.toSet
      (got == want) :| s"edges=$edges scores=$scores got=$got want=$want"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("dedupCorpusKeepBest keeps the best-scoring near-dup, not the min id") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 1),
      (2L, "the quick brown fox jumps over the lazy dog", 9), // best copy
      (3L, "unrelated text that matches nothing else at all", 2))
      .toDF("doc_id", "text", "quality")
    val out = Dedup.dedupCorpusKeepBest(df, "doc_id", "text", col("quality"))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L))
  }

  test("duplicateGroups: mixed integral/string id columns fail loudly up front") {
    val pairs = Seq((1L, "aa")).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.duplicateGroups(pairs)
    }
    assert(ex.getMessage.contains("same kind"))
  }

  test("duplicateGroups: unsupported id types fail loudly") {
    val pairs = Seq((Array[Byte](1), Array[Byte](2))).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.duplicateGroups(pairs)
    }
    assert(ex.getMessage.contains("integral or string"))
  }

  test("duplicateGroups converges on a longer chain than one hop") {
    // path 10-11-12-13-14: label 10 must travel 4 hops (distributed path)
    val pairs = (10L to 13L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs, localEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(groups.values.toSet == Set(10L))
    assert(groups.keySet == (10L to 14L).toSet)
  }

  test("duplicateGroups pointer jumping: 64-chain converges in O(log d) rounds") {
    // A 65-node path (diameter 64): plain one-hop propagation needs 64
    // rounds (the old maxIter=20 would have thrown); hop+jump contracts
    // distance ~(2x+1) per round -> well under 10 rounds incl. the final
    // no-change detection round. localEdgeLimit=0 forces the distributed
    // path (the default would union-find this tiny graph on the driver).
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.duplicateGroupsWithRounds(pairs, maxIter = 12,
      localEdgeLimit = 0)
    val groups = labels.as[(Long, Long)].collect().toMap
    assert(groups.values.toSet == Set(0L))
    assert(groups.keySet == (0L to 64L).toSet)
    assert(rounds <= 9, s"expected <= 9 rounds for diameter 64, took $rounds")
  }

  test("ngramJaccardPairs computes exact token-set jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxId = 100, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 4L)) == 1.0)
    // docs 1,2: tokens {the,quick,brown,fox,jumps,over,lazy,dog} vs {...cat}:
    // |A|=8 |B|=8 inter=7 union=9
    assert(math.abs(pairs((1L, 2L)) - 7.0 / 9.0) < 1e-12)
  }

  test("minHash index probe: new batch finds corpus dups without corpus text") {
    val path = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    Dedup.minHashWriteIndex(docs, "doc_id", "text", path)
    val batch = Seq(
      10L -> "the quick brown fox jumps over the lazy dog", // = corpus 1 and 4
      11L -> "unrelated words about database partitioning strategies"
    ).toDF("doc_id", "text")
    val hits = Dedup.minHashProbeIndex(spark, path, batch, "doc_id", "text",
        minEstJaccard = 0.5)
      .select("new_id", "corpus_id", "jaccard_est")
      .as[(Long, Long, Double)].collect()
    // identical token sequence => identical signature => estimator exactly 1;
    // the near-dup (corpus 2) may also surface, with a strictly lower est
    val m = hits.filter(_._1 == 10L).map(h => h._2 -> h._3).toMap
    assert(m(1L) == 1.0 && m(4L) == 1.0, hits.mkString(", "))
    assert(m.get(2L).forall(e => e > 0.0 && e < 1.0), hits.mkString(", "))
    assert(!hits.exists(_._1 == 11L)) // unrelated doc shares no high-est pair
    // a parquet dir that is NOT a MinHash index fails the shape check loudly
    val notIdx = java.nio.file.Files.createTempDirectory("mhbad").toString + "/x"
    docs.write.parquet(notIdx)
    val bad = intercept[IllegalArgumentException] {
      Dedup.minHashProbeIndex(spark, notIdx, batch, "doc_id", "text")
    }
    assert(bad.getMessage.contains("MinHash index"), bad.getMessage)
  }

  test("minHash index append: sidecar-parameter hashing, exactly-once " +
      "batchTag, probe equals the fresh-built index (late r17)") {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(p).toString + "/idx"
    val corpus = docs.filter($"doc_id" >= 2)
    val dir = tmp("mh-append")
    Dedup.minHashWriteIndex(docs.filter($"doc_id" === 2 || $"doc_id" === 3),
      "doc_id", "text", dir)
    val b1 = docs.filter($"doc_id" >= 4)
    def nSigs() = spark.read.parquet(dir).count()
    Dedup.minHashAppendIndex(b1, "doc_id", "text", dir, Some("0"))
    val full = tmp("mh-full")
    Dedup.minHashWriteIndex(corpus, "doc_id", "text", full)
    assert(nSigs() == spark.read.parquet(full).count())
    val batch = Seq(
      10L -> "the quick brown fox jumps over the lazy dog").toDF("doc_id", "text")
    def probeSet(p: String) = Dedup.minHashProbeIndex(spark, p, batch,
        "doc_id", "text", minEstJaccard = 0.0)
      .select("new_id", "corpus_id", "jaccard_est")
      .as[(Long, Long, Double)].collect().toSet
    assert(probeSet(dir) == probeSet(full),
      "write-half + append-half must probe exactly like the fresh build")
    // exactly-once: replay no-ops, the marker-lost crash state converges
    val truth = nSigs()
    Dedup.minHashAppendIndex(b1, "doc_id", "text", dir, Some("0"))
    assert(nSigs() == truth)
    new java.io.File(dir, "_committed").listFiles()
      .filter(_.getName.startsWith("0-")).foreach(f => assert(f.delete()))
    Dedup.minHashAppendIndex(b1, "doc_id", "text", dir, Some("0"))
    assert(nSigs() == truth && probeSet(dir) == probeSet(full))
    val e = intercept[IllegalStateException] {
      Dedup.minHashAppendIndex(docs.filter($"doc_id" === 1), "doc_id",
        "text", dir, Some("0"))
    }
    assert(e.getMessage.contains("DIFFERENT content"), e.getMessage)
    // drift guards: a probe with different banding fails loudly; an
    // append to an index without the parameters sidecar fails loudly
    val drift = intercept[IllegalArgumentException] {
      Dedup.minHashProbeIndex(spark, dir, batch, "doc_id", "text",
        bands = 4, rowsPerBand = 8)
    }
    assert(drift.getMessage.contains("write-time"), drift.getMessage)
    val bare = java.nio.file.Files
      .createTempDirectory("mh-bare").toString + "/idx"
    spark.read.parquet(dir).write.parquet(bare) // signatures, no _meta
    val noMeta = intercept[IllegalStateException] {
      Dedup.minHashAppendIndex(b1, "doc_id", "text", bare)
    }
    assert(noMeta.getMessage.contains("_meta"), noMeta.getMessage)
  }

  test("simHash index: write/append/probe, radius-0 exact dups, wider " +
      "radius finds the near-dup, exactly-once batchTag (late r17)") {
    def tmp(p: String) = java.nio.file.Files
      .createTempDirectory(p).toString + "/idx"
    val dir = tmp("sh-append")
    Dedup.simHashWriteIndex(docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
    val b1 = docs.filter($"doc_id" >= 3)
    Dedup.simHashAppendIndex(b1, "doc_id", "text", dir, Some("0"))
    def nSigs() = spark.read.parquet(dir).count()
    assert(nSigs() == 4)
    val batch = Seq(
      10L -> "the quick brown fox jumps over the lazy dog", // = corpus 1, 4
      11L -> "unrelated words about database partitioning strategies"
    ).toDF("doc_id", "text")
    def probe(h: Int) = Dedup.simHashProbeIndex(spark, dir, batch,
        "doc_id", "text", maxHamming = h)
      .select("new_id", "corpus_id", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    // radius 0: exactly the identical-text corpus rows, hamming 0
    assert(probe(0) == Set((10L, 1L, 0L), (10L, 4L, 0L)), probe(0))
    // a wider radius also surfaces the one-token near-dup (doc 2),
    // strictly positive hamming; the unrelated doc stays out
    val wide = probe(12)
    assert(wide.contains((10L, 1L, 0L)) && wide.contains((10L, 4L, 0L)))
    assert(wide.exists(p => p._1 == 10L && p._2 == 2L && p._3 > 0L), wide)
    assert(!wide.exists(_._1 == 11L), wide)
    // probe equals the fresh-built index
    val full = tmp("sh-full")
    Dedup.simHashWriteIndex(docs, "doc_id", "text", full)
    val fresh = Dedup.simHashProbeIndex(spark, full, batch, "doc_id",
        "text", maxHamming = 12)
      .select("new_id", "corpus_id", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(wide == fresh)
    // exactly-once: replay no-ops, marker-lost crash state converges,
    // lineage mismatch is loud
    Dedup.simHashAppendIndex(b1, "doc_id", "text", dir, Some("0"))
    assert(nSigs() == 4)
    new java.io.File(dir, "_committed").listFiles()
      .filter(_.getName.startsWith("0-")).foreach(f => assert(f.delete()))
    Dedup.simHashAppendIndex(b1, "doc_id", "text", dir, Some("0"))
    assert(nSigs() == 4 && probe(0).size == 2)
    val e = intercept[IllegalStateException] {
      Dedup.simHashAppendIndex(docs.filter($"doc_id" === 1), "doc_id",
        "text", dir, Some("0"))
    }
    assert(e.getMessage.contains("DIFFERENT content"), e.getMessage)
    // shape guard
    val notIdx = java.nio.file.Files
      .createTempDirectory("sh-bad").toString + "/x"
    docs.write.parquet(notIdx)
    val bad = intercept[IllegalArgumentException] {
      Dedup.simHashProbeIndex(spark, notIdx, batch, "doc_id", "text")
    }
    assert(bad.getMessage.contains("SimHash index"), bad.getMessage)
  }

  test("dedupSubstrings removes >=k-token duplicates at arbitrary alignment") {
    // "quick brown fox jumps over" (5 tokens) is shared between docs 1 and
    // 2 at DIFFERENT offsets (1 vs 2) — invisible to fixed-window span
    // dedup, the exact case Lee et al.'s ExactSubstr exists for. With
    // k = 4 the 5-token duplicate is two overlapping seed windows that
    // must merge into ONE removed interval in each doc.
    val docs = Seq(
      1L -> "the quick brown fox jumps over a sleeping dog today",
      2L -> "so suddenly quick brown fox jumps over the fence",
      3L -> "completely unrelated text with enough tokens to window",
      4L -> "tiny doc" // < k tokens: no windows, survives untouched
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = 4)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(got(0) == ((1L, "the a sleeping dog today", 5L, 5L)), got(0))
    assert(got(1) == ((2L, "so suddenly the fence", 4L, 5L)), got(1))
    assert(got(2)._2 == "completely unrelated text with enough tokens to window")
    assert(got(2)._4 == 0L)
    assert(got(3) == ((4L, "tiny doc", 2L, 0L)), got(3))
  }

  test("dedupSubstrings catches WITHIN-doc repeats and removes every occurrence") {
    val docs = Seq(
      1L -> "alpha beta gamma delta filler one alpha beta gamma delta filler two",
      2L -> "no repeats here at all just words"
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = 4)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    // "alpha beta gamma delta filler" (5 tokens) repeats within doc 1:
    // both occurrences go — the paper's default removal semantics
    assert(got(0) == ((1L, "one two", 2L, 10L)), got(0))
    assert(got(1)._4 == 0L)
  }

  test("dedupSubstringsAgainst excises leaked eval passages, keeps the rest") {
    val corpus = Seq(
      // embeds the eval passage "question seven answer is forty two" at
      // offset 3 — only that run must go
      1L -> "some filler here question seven answer is forty two more filler",
      2L -> "clean document with no benchmark text inside it at all",
      3L -> "question seven answer is forty two" // the full leak: all gone
    ).toDF("doc_id", "text")
    val eval = Seq(
      "question seven answer is forty two",
      "another benchmark prompt entirely"
    ).toDF("etext")
    val got = Dedup.dedupSubstringsAgainst(corpus, eval, "doc_id", "text",
        "etext", minTokens = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(got(0) == ((1L, "some filler here more filler", 5L, 6L)), got(0))
    assert(got(1)._4 == 0L, got(1))
    assert(got(2) == ((3L, "", 0L, 6L)), got(2))
    // eval side is never modified or emitted: output ids are corpus ids
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("property: dedupSubstrings equals a brute-force reference on random corpora (ScalaCheck)") {
    // independent truth: no intervals, no fingerprints — mark every
    // position covered by a duplicated window directly from the window
    // STRINGS and rebuild. The operator's md5/interval-merge machinery
    // must land on the identical relation.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 3
    val docGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    val corpusGen = Gen.chooseNum(1, 6).flatMap(m => Gen.listOfN(m, docGen))
    val prop = Prop.forAll(corpusGen) { corpus =>
      val docs = corpus.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" "))}.toDF("doc_id", "text")
      val winCount = scala.collection.mutable.HashMap[String, Int]()
      corpus.foreach { ts =>
        ts.sliding(k).filter(_.size == k)
          .foreach(w => winCount.updateWith(w.mkString(" "))(v =>
            Some(v.getOrElse(0) + 1)))
      }
      val want = corpus.zipWithIndex.map { case (ts, i) =>
        val covered = (0 to ts.length - k).filter(s =>
          winCount.getOrElse(ts.slice(s, s + k).mkString(" "), 0) >= 2)
          .flatMap(s => s until s + k).toSet
        val kept = ts.zipWithIndex.collect {
          case (t, p) if !covered.contains(p) => t
        }
        (i.toLong, kept.mkString(" "), kept.size.toLong,
          (ts.length - kept.size).toLong)
      }
      val got = Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = k)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
      // the rolling-fingerprint production twin must land on the SAME
      // relation as both the md5 form and the reference
      val fast = Dedup.dedupSubstringsFast(docs, "doc_id", "text",
          minTokens = k)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
      got == want && fast == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("dedupSubstringsFast equals the md5 form on the hand-built corpora") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over a sleeping dog today",
      2L -> "so suddenly quick brown fox jumps over the fence",
      3L -> "alpha beta gamma delta filler one alpha beta gamma delta filler two",
      4L -> "tiny doc"
    ).toDF("doc_id", "text")
    val a = Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    val b = Dedup.dedupSubstringsFast(docs, "doc_id", "text", minTokens = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(a == b)
    assert(b.exists(_._4 > 0)) // the equality is not vacuous
  }

  test("substring index: probe excises corpus-known runs; append extends O(batch)") {
    val path = java.nio.file.Files.createTempDirectory("subidx").toString + "/idx"
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon words trail here",
      2L -> "other corpus content entirely different tokens"
    ).toDF("doc_id", "text")
    Dedup.substringWriteIndex(corpus, "doc_id", "text", minTokens = 4, path)
    val batch = Seq(
      10L -> "prefix alpha beta gamma delta epsilon suffix", // 5-run leak
      11L -> "totally novel sentence with fresh words only"
    ).toDF("doc_id", "text")
    val probed = Dedup.substringProbeIndex(spark, path, batch, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(probed(0) == ((10L, "prefix suffix", 2L, 5L)), probed(0))
    assert(probed(1)._4 == 0L, probed(1))
    // probe equals the direct cross-corpus form on the same inputs
    val direct = Dedup.dedupSubstringsAgainst(batch, corpus, "doc_id",
        "text", "text", minTokens = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(probed.toSeq == direct.toSeq)
    // append folds the new batch in WITHOUT rewriting: doc 11's phrasing
    // becomes corpus-known, so re-probing it now excises it
    Dedup.substringAppendIndex(batch, "doc_id", "text", path)
    val again = Dedup.substringProbeIndex(spark, path, batch, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(again(1)._3 == 0L, again(1)) // fully self-matched post-append
    // a parquet dir that is NOT a substring index fails loudly
    val notIdx = java.nio.file.Files.createTempDirectory("subbad").toString + "/x"
    corpus.write.parquet(notIdx)
    val bad = intercept[IllegalArgumentException] {
      Dedup.substringProbeIndex(spark, notIdx, batch, "doc_id", "text")
    }
    assert(bad.getMessage.contains("substring index"), bad.getMessage)
  }

  test("substringCompactIndex: probe-before == probe-after, one row per fp") {
    val path = java.nio.file.Files.createTempDirectory("subidx-cmp")
      .toString + "/idx"
    val even = Seq(2L -> "alpha beta gamma delta epsilon words trail here")
      .toDF("doc_id", "text")
    // the same phrase appended again: its fp accrues a second partial row
    val odd = Seq(3L -> "alpha beta gamma delta epsilon other close")
      .toDF("doc_id", "text")
    Dedup.substringWriteIndex(even, "doc_id", "text", minTokens = 4, path)
    Dedup.substringAppendIndex(odd, "doc_id", "text", path)
    val batch = Seq(10L -> "prefix alpha beta gamma delta epsilon suffix")
      .toDF("doc_id", "text")
    val before = Dedup.substringProbeIndex(spark, path, batch,
      "doc_id", "text").orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val fpsBefore = spark.read.parquet(s"$path/fps").count()
    val n = Dedup.substringCompactIndex(spark, path)
    val fps = spark.read.parquet(s"$path/fps")
    assert(n == fps.select("fp").distinct().count() && n < fpsBefore,
      s"compacted $n of $fpsBefore")
    val after = Dedup.substringProbeIndex(spark, path, batch,
      "doc_id", "text").orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(after == before && before.head._4 == 5L)
    // meta sidecar untouched: a fresh append still reads k from it
    Dedup.substringAppendIndex(even, "doc_id", "text", path)
    // a non-index path still fails loudly
    intercept[IllegalArgumentException] {
      Dedup.substringCompactIndex(spark,
        java.nio.file.Files.createTempDirectory("subidx-bad").toString)
    }
  }

  test("dedupSubstrings: NULL text behaves as empty, never a negative removal") {
    val docs = Seq((1L, "alpha beta gamma delta alpha beta gamma delta x"),
        (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    for (out <- Seq(
        Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = 4),
        Dedup.dedupSubstringsFast(docs, "doc_id", "text", minTokens = 4))) {
      val got = out.orderBy("doc_id")
        .as[(Long, String, Long, Long)].collect()
      assert(got(1) == ((2L, "", 0L, 0L)), got(1))
      assert(got(2) == ((3L, "", 0L, 0L)), got(2))
      assert(got.forall(_._4 >= 0L))
    }
  }

  test("dedupSubstrings: periodic text collapses to nothing; k guard trips") {
    val docs = Seq(1L -> Seq.fill(12)("spam").mkString(" ")).toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = 4)
      .as[(Long, String, Long, Long)].head()
    assert(got == ((1L, "", 0L, 12L)), got.toString)
    intercept[IllegalArgumentException] {
      Dedup.dedupSubstrings(docs, "doc_id", "text", minTokens = 1)
    }
  }
  test("component index: append == rebuild on every batch split; merges " +
      "relabel old roots; compaction folds; property over random graphs") {
    import graft.operators.Dedup
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-ccidx").toString
    def pairsDf(ps: Seq[(Long, Long)]) = ps.toDF("id_a", "id_b")
    def groupsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    // hand case: batch 1 builds {1,2,3} and {10,11}; batch 2 adds a NEW
    // chain {20,21} and MERGES the two old components through 3-10
    val dir = tmp()
    Dedup.componentsWriteIndex(
      pairsDf(Seq((1L, 2L), (2L, 3L), (10L, 11L))), dir)
    assert(groupsOf(Dedup.componentsIndexedGroups(spark, dir)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val (n1, m1) = Dedup.componentsAppendIndex(
      pairsDf(Seq((20L, 21L), (3L, 10L))), dir)
    assert(n1 == 2 && m1 == 1, s"($n1, $m1)") // 2 new ids, 1 root merge
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L)
    assert(groupsOf(Dedup.componentsIndexedGroups(spark, dir)) == expected)
    // a second merge CHAINS the relabels: {20,21} joins via 21-11
    val (n2, m2) = Dedup.componentsAppendIndex(pairsDf(Seq((21L, 11L))), dir)
    assert(n2 == 0 && m2 == 1, s"($n2, $m2)")
    val allOne = (Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L)).map(_ -> 1L).toMap
    assert(groupsOf(Dedup.componentsIndexedGroups(spark, dir)) == allOne)
    // compaction folds the chains and clears relabels; groups unchanged
    assert(Dedup.componentsCompactIndex(spark, dir) == 7L)
    assert(!graft.pipeline.Sinks.exists(spark, s"$dir/relabels"))
    assert(groupsOf(Dedup.componentsIndexedGroups(spark, dir)) == allOne)
    // appends continue after compaction
    Dedup.componentsAppendIndex(pairsDf(Seq((30L, 31L))), dir)
    assert(groupsOf(Dedup.componentsIndexedGroups(spark, dir))(30L) == 30L)
    // the compaction POLICY verb (late r17): below the threshold it
    // declines and leaves the relabels in place; at threshold 0 any
    // pending relabel fires it, folding and clearing exactly like the
    // direct call — groups unchanged either way
    Dedup.componentsAppendIndex(pairsDf(Seq((31L, 1L))), dir) // a relabel
    assert(graft.pipeline.Sinks.exists(spark, s"$dir/relabels"))
    val beforePolicy = groupsOf(Dedup.componentsIndexedGroups(spark, dir))
    assert(!Dedup.componentsMaybeCompact(spark, dir, maxRelabels = 1000L))
    assert(graft.pipeline.Sinks.exists(spark, s"$dir/relabels"),
      "a declined policy check must not fold")
    assert(Dedup.componentsMaybeCompact(spark, dir, maxRelabels = 0L))
    assert(!graft.pipeline.Sinks.exists(spark, s"$dir/relabels"))
    assert(groupsOf(Dedup.componentsIndexedGroups(spark, dir)) ==
      beforePolicy)
    // with nothing pending, even threshold 0 declines
    assert(!Dedup.componentsMaybeCompact(spark, dir, maxRelabels = 0L))
    // guards
    val e1 = intercept[IllegalArgumentException] {
      Dedup.componentsWriteIndex(pairsDf(Seq((1L, 2L))), dir)
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.componentsIndexedGroups(spark, tmp())
    }
    assert(e2.getMessage.contains("not a component index"), e2.getMessage)
    // property: on random graphs, ANY batch split of the edges resolves
    // to EXACTLY the scratch duplicateGroups labels
    val rnd = new scala.util.Random(1613L)
    for (trial <- 1 to 4) {
      val nNodes = 12 + rnd.nextInt(20)
      val edges = (0 until (8 + rnd.nextInt(20))).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val cut = 1 + rnd.nextInt(edges.length)
        val (b1, b2) = edges.splitAt(cut)
        val d2 = tmp()
        Dedup.componentsWriteIndex(pairsDf(b1), d2)
        if (b2.nonEmpty) Dedup.componentsAppendIndex(pairsDf(b2), d2)
        if (rnd.nextBoolean()) Dedup.componentsCompactIndex(spark, d2)
        val inc = groupsOf(Dedup.componentsIndexedGroups(spark, d2))
        val scratch = groupsOf(Dedup.duplicateGroups(pairsDf(edges)))
        assert(inc == scratch,
          s"trial $trial split $cut: inc $inc vs $scratch edges $edges")
      }
    }
  }

  test("component index: integer-typed ids append and resolve (ADVICE r16)") {
    // the r16 driver-map resolution cast relabel values to String-or-Long
    // and died with a ClassCastException on the first int-keyed append;
    // integral ids now WIDEN to the stored long labels (duplicateGroups'
    // own normalization) instead, and a string-vs-integral mismatch
    // fails loudly up front
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ccidx-int").toString
    def intPairs(ps: Seq[(Int, Int)]) = ps.toDF("id_a", "id_b")
    graft.operators.Dedup.componentsWriteIndex(
      intPairs(Seq((1, 2), (10, 11))), dir)
    graft.operators.Dedup.componentsAppendIndex(
      intPairs(Seq((2, 10), (20, 21))), dir) // merges the two old roots
    val got = graft.operators.Dedup.componentsIndexedGroups(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L), got.toString)
    graft.operators.Dedup.componentsCompactIndex(spark, dir)
    assert(graft.operators.Dedup.componentsIndexedGroups(spark, dir)
      .as[(Long, Long)].collect().toMap == got)
    // string pairs against the long-keyed index: loud, not a cast error
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.componentsAppendIndex(
        Seq(("a", "b")).toDF("id_a", "id_b"), dir)
    }
    assert(e.getMessage.contains("keys long ids"), e.getMessage)
  }

  test("component index: >4M relabel rows resolve DISTRIBUTED — the r16 " +
      "driver cap is gone (VERDICT r16 §next-4)") {
    // 67,000 chains of length 63 = 4,221,000 relabel rows — past the old
    // 1<<22 = 4,194,304 require. Chain c's merge events are
    // v(c,p) -> v(c,p-1) for p = 63..1 with v(c,p) = c*1000 + p (labels
    // strictly decrease, each old_root appears once — the componentsAppend
    // invariants), so every chain resolves to v(c,0) = c*1000. Pointer
    // doubling needs ceil(log2(63)) = 6 self-join rounds over the 4.2M
    // rows; nothing ever collects to the driver.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ccidx-4m").toString
    val nChains = 67000L
    val relabels = spark.range(nChains * 63)
      .select((col("id") / 63).cast("long").as("__c"),
        (col("id") % 63 + 1).cast("long").as("__p"))
      .select((col("__c") * 1000 + col("__p")).as("old_root"),
        (col("__c") * 1000 + col("__p") - 1).as("new_root"))
    relabels.write.parquet(s"$dir/relabels")
    // one stored label row per chain, pointing at the chain HEAD v(c,63)
    spark.range(nChains)
      .select((col("id") + 900000000L).as("id"),
        (col("id") * 1000 + 63).as("group_id"))
      .write.parquet(s"$dir/labels")
    Seq(Tuple1("long")).toDF("id_type").write.parquet(s"$dir/meta")
    val resolved = graft.operators.Dedup.componentsIndexedGroups(spark, dir)
    // aggregate pin: every chain resolved to its minimum, none stopped
    // partway (sum over c of c*1000, and max residue 0)
    val r = resolved.agg(
      count(lit(1)).as("n"),
      sum(col("group_id")).as("s"),
      max(pmod(col("group_id"), lit(1000L))).as("maxres")).head()
    assert(r.getLong(0) == nChains)
    assert(r.getLong(2) == 0L, s"unresolved chain tail: residue ${r.get(2)}")
    assert(BigInt(r.getLong(1)) ==
      BigInt(1000) * (BigInt(nChains) * (nChains - 1) / 2), r.getLong(1))
    // compaction folds the 4.2M chains without a driver map either
    graft.operators.Dedup.componentsCompactIndex(spark, dir)
    assert(!graft.pipeline.Sinks.exists(spark, s"$dir/relabels"))
    val r2 = graft.operators.Dedup.componentsIndexedGroups(spark, dir)
      .agg(count(lit(1)), sum(col("group_id"))).head()
    assert(r2.getLong(0) == nChains && r2.getLong(1) == r.getLong(1))
  }
}

