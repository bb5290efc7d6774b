package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval — fusing a lexical (BM25) ranking with a dense
  * (embedding) ranking per query, the standard two-arm search stack
  * (every production RAG/retrieval pipeline runs exactly this shape).
  * The fusion rule is reciprocal rank fusion (Cormack, Clarke &
  * Büttcher, SIGIR 2009): `score(d) = Σ_lists 1/(k + rank_list(d))`
  * with k = 60 — rank-based, so the two arms' incomparable score
  * scales (BM25 log-weights vs cosine) never need calibration, which
  * is why RRF beats score interpolation without tuning.
  *
  * Scale shape: each arm produces its top-k per query (BM25 rides the
  * persisted term-bucketed inverted index — O(query terms); the dense
  * arm is whatever ANN tier fits — IVF/PQ probes at corpus scale,
  * exact brute force as the small-N/truth path). Fusion itself then
  * touches only |queries| × k × |arms| rows — metadata-scale keyed
  * aggregation, never the corpus. No stage here scans anything a
  * single arm didn't already rank.
  *
  * Exactness: the published 1/(k+rank) is irrational in binary, and a
  * float SUM's partial-aggregation order is engine-dependent — so the
  * fused score is computed as Σ round(1e12/(k+rank)) in BIGINT: each
  * term is one IEEE division + one round (bit-identical across
  * engines), and the sum is integer, hence order-free. Ordering is
  * preserved except for true-score gaps below 1e-12 — far beyond rank
  * granularity (adjacent ranks differ by ≥ 1/(k+r)(k+r+1) ≈ 2e-4 at
  * k = 60, r ≤ 100). Ties (e.g. two docs each appearing in one list
  * at the same rank) break id-ascending, deterministically.
  */
object Retrieval {

  /** Fixed-point scale for the RRF reciprocal (see object doc; the
    * shared [[FixedPoint.Scale]] — one literal across every family).
    */
  val RrfScale: Long = FixedPoint.Scale

  /** Per-list contribution of a rank under the fixed-point contract. */
  private[graft] def rrfContribution(kRrf: Int) =
    round(lit(RrfScale.toDouble) / (lit(kRrf) + col("rank"))).cast("long")

  /** Fuse ranked lists by reciprocal rank fusion. Each input carries
    * `(query_id, id, rank)` — rank 1-based within its own list (extra
    * columns are dropped; a doc absent from a list simply contributes
    * nothing). Returns the fused per-query top-`topK`:
    * `(query_id, rank, id, rrf_scaled, n_lists)` — `rrf_scaled` is the
    * fixed-point fused score (Σ round(1e12/(kRrf+rank))), `n_lists`
    * how many arms returned the doc (the agreement signal a reranker
    * thresholds on). All-integer output: hash-stable cross-engine.
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int,
              kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no ranked lists given")
    require(topK >= 1, s"rrfFuse: topK must be >= 1, got $topK")
    require(kRrf >= 1, s"rrfFuse: kRrf must be >= 1, got $kRrf")
    val contrib = rankings.map(_.select(col("query_id"), col("id"),
      rrfContribution(kRrf).as("__c")))
    contrib.reduce(_ unionByName _)
      .groupBy("query_id", "id")
      .agg(sum("__c").as("rrf_scaled"),
        count(lit(1)).cast("int").as("n_lists"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf_scaled").desc, col("id").asc)).cast("int"))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "id", "rrf_scaled", "n_lists")
  }

  /** nDCG rank discounts as fixed-point literals: rank r → round(1e12 /
    * log2(r+1)). Generated ONCE in Scala and injected as integer
    * literals into BOTH the Spark plan and the DuckDB oracle (the
    * htmlKeptCtes convention) — log2 never evaluates inside either
    * engine, so last-ulp transcendental divergence between the two
    * libms cannot reach the hash.
    */
  def ndcgDiscounts(k: Int): Seq[(Int, Long)] =
    (1 to k).map(r =>
      r -> math.round(RrfScale.toDouble / (math.log(r + 1.0) / math.log(2.0))))

  /** Ranking-quality evaluation at cutoff `k` — the metrics every
    * retrieval change is judged by (recall@k, MRR@k, nDCG@k per query;
    * see [[macroAverages]] for the corpus-level mean). `ranking` carries
    * `(query_id, id, rank)` (rank 1-based); `qrels` carries
    * `(query_id, id, rel)` with integer relevance grades — `rel > 0` is
    * relevant, graded rels feed nDCG (Järvelin & Kekäläinen, TOIS 2002).
    *
    * All metrics are fixed-point BIGINT at scale 1e12 (the [[rrfFuse]]
    * contract): each is at most integer arithmetic plus ONE IEEE
    * division + one multiply + one round — bit-identical cross-engine,
    * and every SUM is over integers, hence aggregation-order-free.
    * Queries with no relevant docs yield NULL recall/MRR/ndcg (0/0 is
    * undefined, not zero — averaging in zeros would penalize queries
    * the qrels simply never covered); judged queries with no hits get
    * real zeros. The output covers the UNION of ranked and judged
    * query ids (trec_eval behavior): a judged query the ranking
    * returned nothing for scores 0, it does not vanish — otherwise a
    * system returning empty results on hard queries would outscore one
    * answering them poorly.
    *
    * Scale shape: one inner join of the top-k slice against the
    * relevant qrels (both query-keyed; the top-k side is
    * |queries|×k rows — metadata-scale), one per-query window over
    * qrels for the ideal ordering, three query-keyed hash aggs. The
    * corpus itself is never touched — evaluation cost is a function of
    * the qrels size, not the collection.
    */
  def evaluateRanking(ranking: DataFrame, qrels: DataFrame,
                      k: Int): DataFrame = {
    require(k >= 1, s"evaluateRanking: k must be >= 1, got $k")
    val disc = typedLit(ndcgDiscounts(k).toMap)
    val rel = qrels.filter(col("rel") > 0)
      .select(col("query_id"), col("id"), col("rel").cast("long").as("rel"))
    val nRel = rel.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_rel"))
    val hits = ranking.filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("rank"))
      .join(rel, Seq("query_id", "id"))
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("hits"),
        // MRR = 1/min(relevant rank); 1/r is monotone so max(contrib)
        // IS the min-rank reciprocal — one agg, no second pass
        max(round(lit(RrfScale.toDouble) / col("rank")).cast("long"))
          .as("mrr_scaled"),
        sum(col("rel") * element_at(disc, col("rank"))).as("dcg_scaled"))
    val ideal = rel
      .withColumn("irank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("id").asc)))
      .filter(col("irank") <= k)
      .groupBy("query_id")
      .agg(sum(col("rel") * element_at(disc, col("irank"))).as("idcg_scaled"))
    ranking.select("query_id")
      .union(rel.select("query_id")).distinct()
      .join(nRel, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits_at_k"),
        when(col("n_rel").isNotNull,
          round(lit(RrfScale.toDouble) *
            (coalesce(col("hits"), lit(0L)).cast("double") /
              col("n_rel").cast("double"))).cast("long"))
          .as("recall_scaled"),
        when(col("n_rel").isNotNull,
          coalesce(col("mrr_scaled"), lit(0L))).as("mrr_scaled"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        coalesce(col("idcg_scaled"), lit(0L)).as("idcg_scaled"),
        when(col("idcg_scaled").isNotNull,
          round(lit(RrfScale.toDouble) *
            (coalesce(col("dcg_scaled"), lit(0L)).cast("double") /
              col("idcg_scaled").cast("double"))).cast("long"))
          .as("ndcg_scaled"))
  }

  /** Corpus-level macro average of [[evaluateRanking]] output: the mean
    * of each scaled metric over the queries where it is DEFINED (NULL
    * recall/MRR/ndcg rows — no relevant docs — are skipped by
    * count/sum, the standard macro convention). One global agg over |queries|
    * rows; each mean is one division + one round on exact-in-double
    * integer sums.
    */
  def macroAverages(metrics: DataFrame): DataFrame = {
    def mean(c: String) =
      round(sum(col(c)).cast("double") / count(col(c))).cast("long")
        .as(s"mean_$c")
    metrics.agg(count(lit(1)).cast("long").as("n_queries"),
      mean("recall_scaled"), mean("mrr_scaled"), mean("ndcg_scaled"))
  }

  /** MMR result diversification (Carbonell & Goldstein, SIGIR 1998) —
    * the classic reranker balancing relevance against redundancy:
    * greedily select `k` of each query's candidates maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)`, λ as the integer
    * percentage `lambdaPct` so the score stays exact:
    * `lambdaPct·rel − (100−lambdaPct)·maxsim` in BIGINT, ties
    * id-ascending, the first pick reducing to max relevance (maxsim
    * over the empty set is 0). `rel` and the pairwise similarity must
    * be in the SAME units — with rel the quantized query·candidate dot
    * and sim the quantized candidate·candidate dot (the
    * [[denseTopKQuantized]] contract) they are by construction.
    *
    * Scale shape: MMR runs AFTER retrieval, on each query's top-k
    * candidate set — human-scale by contract (loud `maxCandidates`
    * fail, the bm25Probe convention). Pairwise similarities compute
    * DISTRIBUTED (one self-join per query's candidates through the
    * same codegen'd quantized dot the rankings used — no driver
    * re-implementation of the quantization to drift), then the bounded
    * `(query, rel, sims)` batch collects once and the greedy loop runs
    * as exact Long arithmetic on the driver — k sequential argmax
    * steps over ≤ maxCandidates rows are fixed overhead distributed.
    *
    * `candidates` carries `(query_id, id, rel, vec)`; returns
    * `(query_id, pos, id, mmr_scaled)` — pos 1-based selection order.
    */
  def mmrRerank(candidates: DataFrame, idCol: String = "id",
                vecCol: String = "vec", relCol: String = "rel",
                k: Int = 10, lambdaPct: Int = 50,
                maxCandidates: Int = 1024): DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1, got $k")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"mmrRerank: lambdaPct must be in [0, 100], got $lambdaPct")
    val spark = candidates.sparkSession
    // scoped persist (the dedupSemanticScoped convention): the rels and
    // sims collects are two actions over the same — possibly expensive
    // retrieval — lineage, and the sims self-join reads it twice more
    val c = candidates.select(col("query_id"), col(idCol).as("id"),
      col(relCol).cast("long").as("rel"), col(vecCol).as("v"))
      .persist()
    try {
    // Fail-loud input validation (ADVICE r12): a null/empty vector makes
    // the quantized dot NULL (an opaque NPE at the sims collect), a null
    // rel NPEs the rels collect, and duplicate (query_id, id) rows
    // collapse in the sims map while still appearing in rels (a
    // NoSuchElementException at selection time). One bounded agg over
    // the persisted candidates checks all three up front.
    // coalesce: sum() over an EMPTY candidate frame is NULL, and a bare
    // getLong would NPE — the exact opaque failure this check exists to
    // replace (second-pass review r13); empty candidates are valid input
    // (retrieval found nothing) and produce an empty rerank below.
    val bad = c.agg(
      coalesce(sum(when(col("v").isNull || size(col("v")) === 0, 1L)
        .otherwise(0L)), lit(0L)).as("n_badvec"),
      coalesce(sum(when(col("rel").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_nullrel"),
      // NULL keys counted separately (ADVICE r13): countDistinct skips
      // rows where either key is NULL, so without this a NULL-keyed row
      // was misreported as a duplicate; the dup count runs over the
      // non-NULL-keyed rows only.
      coalesce(sum(when(col("query_id").isNull || col("id").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_nullkey"),
      (count(when(col("query_id").isNotNull && col("id").isNotNull, 1L)) -
        countDistinct(col("query_id"), col("id"))).as("n_dup"))
      .collect()(0)
    require(bad.getLong(0) == 0, s"mmrRerank: ${bad.getLong(0)} candidate " +
      "rows have a NULL or empty vector — every candidate needs a vector " +
      "in the rel column's quantized units")
    require(bad.getLong(1) == 0, s"mmrRerank: ${bad.getLong(1)} candidate " +
      "rows have a NULL relevance score")
    require(bad.getLong(2) == 0, s"mmrRerank: ${bad.getLong(2)} candidate " +
      "rows have a NULL query_id or id — every candidate needs both keys")
    require(bad.getLong(3) == 0, s"mmrRerank: ${bad.getLong(3)} duplicate " +
      "(query_id, id) candidate rows — candidates must be unique per query")
    val rels = c.select("query_id", "id", "rel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // maxCandidates bounds each QUERY's candidate set — what actually
    // sizes the driver work: the pairwise-sims collect is Σ n_q·(n_q−1)
    // rows, so the guard must bound the square, not just the row count
    // (code-review r12: one 10k-candidate query passed a flat bound and
    // collected ~1e8 pair rows)
    val perQuery = rels.groupBy(_._1).map { case (q, cs) => q -> cs.length }
    perQuery.find(_._2 > maxCandidates).foreach { case (q, n) =>
      throw new IllegalArgumentException(
        s"mmrRerank: query $q has $n candidates (> maxCandidates=" +
          s"$maxCandidates) — rerank runs on post-retrieval top-k batches")
    }
    val totalPairs = perQuery.values.map(n => n.toLong * (n - 1)).sum
    require(totalPairs <= MaxSimPairs,
      s"mmrRerank: $totalPairs pairwise sims exceed $MaxSimPairs — " +
        s"shrink the candidate sets or the query batch")
    val sims = c.alias("a")
      .join(c.alias("b"), col("a.query_id") === col("b.query_id") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.query_id"), col("a.id").as("ia"), col("b.id").as("ib"),
        Similarity.dotQuantized(col("a.v"), col("b.v")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val out = rels.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val remaining = scala.collection.mutable.LinkedHashMap(
        cs.sortBy(_._2).map(t => t._2 -> t._3): _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      var pos = 1
      while (pos <= k && remaining.nonEmpty) {
        val scored = remaining.iterator.map { case (id, rel) =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.iterator.map(s => sims((qid, id, s))).max
          (id, lambdaPct * rel - (100L - lambdaPct) * maxSim)
        }.toSeq
        val (bestId, bestScore) = scored.minBy { case (id, sc) => (-sc, id) }
        picks += ((qid, pos, bestId, bestScore))
        selected += bestId
        remaining.remove(bestId)
        pos += 1
      }
      picks
    }
    import spark.implicits._
    out.toDF("query_id", "pos", "id", "mmr_scaled")
    } finally c.unpersist()
  }

  /** Bound on the total pairwise-similarity rows [[mmrRerank]] collects
    * (Σ over queries of n·(n−1)) — ~128 MB of driver tuples at the cap.
    */
  val MaxSimPairs: Long = 4L << 20

  /** The dense arm as integer-exact multi-query brute force: ×1000
    * quantized dot products ([[Similarity.dotQuantized]] — the
    * `q_sim_bruteforce_topk` contract, so the ranking replays in the
    * DuckDB oracle), query rows broadcast, one corpus scan, per-query
    * top-k window. Self-matches (`id == query_id`) are excluded, the
    * [[Similarity.bruteForceTopK]] convention. This is the truth/small-
    * batch tier; at corpus scale swap in an IVF/PQ probe — [[rrfFuse]]
    * only sees `(query_id, id, rank)` and does not care which tier
    * ranked it.
    */
  /** Margin-based neighbor mining (Artetxe & Schwenk 2019, "Margin-based
    * parallel corpus mining with multilingual sentence embeddings" — the
    * CCMatrix/CCAligned scorer): a candidate pair (x, y) is scored by its
    * similarity RELATIVE to each side's k-NN neighborhood mass, which
    * kills hubness (a vector near everything stops winning every pair).
    * This is how parallel corpora are mined for multilingual LLM
    * training: x from one language's embeddings, y from another's, keep
    * the top-margin pairs.
    *
    * Ratio margin in integer fixed point so both engines replay it
    * bit-for-bit (the RRF convention):
    *
    *   margin_scaled(x,y) = (2k · s(x,y) · marginScale)
    *                        div (Σ top-k s(x,·) + Σ top-k s(·,y))
    *
    * with `s` the quantized integer dot ([[Similarity.dotQuantized]]).
    * Pairs with a NEGATIVE forward score or a non-positive neighborhood
    * mass drop (the ratio is meaningless there, and truncation
    * direction on negatives is engine-dependent); a zero-score pair
    * survives with margin 0 — deterministic, documented.
    *
    * Scale shape: the forward pass broadcasts the BOUNDED query batch
    * against the target side (one corpus scan); the backward pass
    * broadcasts the ≤ |queries|·k distinct candidates against the source
    * side (one more corpus scan). Per-key windows partition on the
    * bounded batch/candidate ids. At corpus×corpus scale use
    * [[marginMineIndexed]] — the two scans swap for persisted-IVF index
    * probes with the SAME downstream margin arithmetic (shared
    * [[marginTail]]). Overflow is guarded loudly from the observed
    * max |s|.
    *
    * Returns (src_id, tgt_id, score, margin_scaled, rank) — the top
    * `topM` margin pairs per source query.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, queryIds: Seq[Long], k: Int,
                 topM: Int = 10, marginScale: Long = 1000L,
                 maxQueryIds: Int = 1024): DataFrame = {
    require(queryIds.nonEmpty, "marginMine: no query ids")
    require(queryIds.size <= maxQueryIds,
      s"marginMine: ${queryIds.size} query ids exceeds maxQueryIds=" +
        s"$maxQueryIds — the batch broadcasts; mine in batches")
    require(k >= 1, s"marginMine: k must be >= 1, got $k")
    require(topM >= 1, s"marginMine: topM must be >= 1, got $topM")
    require(marginScale >= 1, s"marginMine: marginScale must be >= 1")
    val x = src.select(col(idCol).as("src_id"), col(vecCol).as("xv"))
      .filter(size(col("xv")) > 0)
    val y = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("yv"))
      .filter(size(col("yv")) > 0)
    val q = x.filter(col("src_id").isin(queryIds: _*))
    // forward: query batch × target side, top-k per query — persisted,
    // it feeds the mass agg, the candidate set, and the margin join
    // (operator-persist convention)
    val fwd = y.crossJoin(broadcast(q))
      .select(col("src_id"), col("tgt_id"),
        Similarity.dotQuantized(col("yv"), col("xv")).as("s"))
      .withColumn("r", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("s").desc, col("tgt_id").asc)))
      .filter(col("r") <= k)
      .persist()
    val maxAbs = fwd.agg(coalesce(max(abs(col("s"))), lit(0L)))
      .collect()(0).getLong(0)
    requireMarginFits(maxAbs, k, marginScale)
    // backward: the bounded candidate set × source side, top-k per
    // candidate
    val candVecs = y.join(fwd.select("tgt_id").distinct(), "tgt_id")
    val bwdMass = x.crossJoin(broadcast(candVecs))
      .select(col("tgt_id"), col("src_id").as("xs"),
        Similarity.dotQuantized(col("xv"), col("yv")).as("s"))
      .withColumn("r", row_number().over(Window.partitionBy("tgt_id")
        .orderBy(col("s").desc, col("xs").asc)))
      .filter(col("r") <= k)
      .groupBy("tgt_id").agg(sum("s").as("bwd_mass"))
    marginTail(fwd, bwdMass, k, marginScale, topM)
  }

  /** The margin arithmetic downstream of the two neighborhood passes —
    * factored out so [[marginMine]] (brute scans) and
    * [[marginMineIndexed]] (IVF index probes) are IDENTICAL from the
    * masses on: same drop rules, same fixed-point division, same total
    * tie order. `fwd` carries per-query top-k rows (src_id, tgt_id, s);
    * `bwdMass` carries (tgt_id, bwd_mass).
    */
  private def marginTail(fwd: DataFrame, bwdMass: DataFrame, k: Int,
                         marginScale: Long, topM: Int): DataFrame = {
    val fwdMass = fwd.groupBy("src_id").agg(sum("s").as("fwd_mass"))
    fwd.filter(col("s") >= 0)
      .join(fwdMass, "src_id")
      .join(bwdMass, "tgt_id")
      .filter(col("fwd_mass") + col("bwd_mass") > 0)
      .withColumn("margin_scaled",
        expr(s"(${2L * k}L * s * ${marginScale}L) div (fwd_mass + bwd_mass)"))
      .withColumn("rank", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("margin_scaled").desc, col("tgt_id").asc)).cast("int"))
      .filter(col("rank") <= topM)
      .select(col("src_id"), col("tgt_id"), col("s").as("score"),
        col("margin_scaled"), col("rank"))
  }

  /** Overflow guard shared by the margin forms. The r14 guard formed
    * `Long.MaxValue / max(1, 2k·marginScale)` — but `2k·marginScale`
    * can itself overflow Long for extreme marginScale, making the
    * divisor wrap and the guard vacuous (ADVICE r14). Form the divisor
    * with multiplyExact so EVERY overflow path fails loudly.
    */
  private def requireMarginFits(maxAbs: Long, k: Int,
                                marginScale: Long): Unit = {
    val divisor =
      try Math.multiplyExact(2L * k, marginScale)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"marginMine: 2·k·marginScale = 2·${k}·${marginScale} " +
            "overflows Long — lower marginScale")
      }
    require(maxAbs <= Long.MaxValue / divisor,
      s"marginMine: max |score| $maxAbs overflows the margin fixed point " +
        s"at 2k·marginScale=$divisor — lower marginScale or the " +
        "quantization scale")
  }

  /** [[marginMine]] at corpus×corpus scale (VERDICT r14 §missing-1):
    * both neighborhood passes ride PERSISTED IVF indexes
    * ([[Similarity.ivfWriteIndex]] layout — `cell=<i>/` partition
    * dirs + the centroid sidecar) instead of brute corpus scans. The
    * forward pass probes the TARGET index with the bounded query
    * batch (per-query `nProbe` cells from the sidecar centroids, the
    * `cell IN (...)` filter partition-prunes the scan); the backward
    * pass probes the SOURCE index with the ≤ |queries|·k distinct
    * forward candidates the same way. Downstream margin arithmetic is
    * [[marginTail]] — shared with the brute form, so with
    * `nProbe = nCentroids` (exact recall) the two are spec-pinned
    * EQUAL; at real scale `nProbe « nCentroids` trades recall for
    * touching `nProbe/nCentroids` of each corpus per pass.
    *
    * Probe-cell selection is driver-side from the collected query /
    * candidate vectors (bounded: `maxQueryIds`, `maxCandidates` — loud
    * guards), the [[Similarity.ivfTopKIndexed]] convention: a bounded
    * batch is a scalar from the engine's point of view, never a
    * driver-side loop over corpus data.
    *
    * Returns (src_id, tgt_id, score, margin_scaled, rank) — the brute
    * form's exact schema and tie order.
    */
  def marginMineIndexed(spark: org.apache.spark.sql.SparkSession,
                        srcIndexPath: String, tgtIndexPath: String,
                        queryIds: Seq[Long], k: Int, topM: Int = 10,
                        marginScale: Long = 1000L, nProbe: Int = 4,
                        maxQueryIds: Int = 1024,
                        maxCandidates: Int = 65536): DataFrame = {
    import spark.implicits._
    require(queryIds.nonEmpty, "marginMineIndexed: no query ids")
    require(queryIds.size <= maxQueryIds,
      s"marginMineIndexed: ${queryIds.size} query ids exceeds " +
        s"maxQueryIds=$maxQueryIds — the batch broadcasts; mine in batches")
    require(k >= 1, s"marginMineIndexed: k must be >= 1, got $k")
    require(topM >= 1, s"marginMineIndexed: topM must be >= 1, got $topM")
    require(marginScale >= 1, "marginMineIndexed: marginScale must be >= 1")
    require(nProbe >= 1, s"marginMineIndexed: nProbe must be >= 1, got $nProbe")
    // empty vectors drop on BOTH sides — the brute form's filter, kept
    // here so the bit-equality contract holds even when an index
    // carries empty-embedding rows (an empty vector would score s=0
    // and could enter a sparse query's top-k; code-review r15)
    val srcIdx = spark.read.parquet(srcIndexPath)
      .filter(size(col("v")) > 0)
    val tgtIdx = spark.read.parquet(tgtIndexPath)
      .filter(size(col("v")) > 0)
    val srcCents = Similarity.ivfReadCentroids(spark, srcIndexPath)
    val tgtCents = Similarity.ivfReadCentroids(spark, tgtIndexPath)
    // the bounded query batch: ONE column-pruned lookup (ids absent
    // from the index drop silently — the marginMine filter semantics)
    val q = srcIdx.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("src_id"), col("v").as("xv"))
    // forward: top-k per query over its probed target cells — persisted,
    // it feeds the mass agg, the candidate set, and the margin join
    // (operator-persist convention)
    val fwd = Similarity.probedRows(tgtIdx, q, tgtCents, nProbe)
      .select(col("src_id"), col("id").as("tgt_id"),
        Similarity.dotQuantized(col("v"), col("xv")).as("s"))
      .withColumn("r", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("s").desc, col("tgt_id").asc)))
      .filter(col("r") <= k)
      .persist()
    val maxAbs = fwd.agg(coalesce(max(abs(col("s"))), lit(0L)))
      .collect()(0).getLong(0)
    requireMarginFits(maxAbs, k, marginScale)
    val candIds = fwd.select("tgt_id").distinct().as[Long].collect().toSeq
    require(candIds.size <= maxCandidates,
      s"marginMineIndexed: ${candIds.size} forward candidates exceeds " +
        s"maxCandidates=$maxCandidates — lower k or the query batch")
    val cand = tgtIdx.filter(col("id").isin(candIds: _*))
      .select(col("id").as("tgt_id"), col("v").as("yv"))
    // backward: probed source cells × the bounded candidate batch
    val bwdMass = Similarity.probedRows(srcIdx, cand, srcCents, nProbe)
      .select(col("tgt_id"), col("id").as("xs"),
        Similarity.dotQuantized(col("v"), col("yv")).as("s"))
      .withColumn("r", row_number().over(Window.partitionBy("tgt_id")
        .orderBy(col("s").desc, col("xs").asc)))
      .filter(col("r") <= k)
      .groupBy("tgt_id").agg(sum("s").as("bwd_mass"))
    marginTail(fwd, bwdMass, k, marginScale, topM)
  }

  def denseTopKQuantized(emb: DataFrame, idCol: String, vecCol: String,
                         queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "denseTopKQuantized: no query ids")
    require(k >= 1, s"denseTopKQuantized: k must be >= 1, got $k")
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(size(col("v")) > 0)
    val q = base.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    base.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        Similarity.dotQuantized(col("v"), col("qv")).as("score"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("id").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "id", "rank", "score")
  }
}
