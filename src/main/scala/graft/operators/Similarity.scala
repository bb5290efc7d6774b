package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force top-k against a query vector — a broadcast of one
  * row + a map-side array fold (`zip_with` / `aggregate`, codegen'd, no UDF)
  * + a single top-k reduce. Scale path: LSH bucketing (random-hyperplane
  * signs) so candidate generation is a keyed self-join instead of a cross
  * join — the same banding trick as MinHash dedup.
  *
  * Integer-quantized scores (`round(x*1000)` per dimension) are offered for
  * oracle-exact cross-engine comparison; float/double cosine for production.
  */
object Similarity {

  /** Element-wise dot product of two array columns (fold in index order —
    * deterministic). Expression-composition form; hot paths use the native
    * codegen'd [[graft.expressions.VectorExpressions]] instead.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Quantized integer dot product: exact, order-independent, reproducible
    * across engines. Native Catalyst expression — a single codegen'd
    * primitive loop per row (the zip_with/aggregate form runs interpreted).
    */
  def dotQuantized(a: Column, b: Column, scale: Int = 1000): Column =
    graft.expressions.VectorExpressions.quantizedDot(a, b, scale)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Max-abs int8 quantization of embeddings at rest: `qvec[i] =
    * floor(v[i] * 127 / max|v| + 0.5)` (round-half-up, spelled as
    * floor(+0.5) because engines disagree on `round`'s half-rule but
    * agree on floor bit-for-bit; the result stays in [-127, 127]),
    * plus the `scale = 127 / max|v|`
    * needed to dequantize (`v̂ = q / scale`). Pure row-local codegen'd
    * arithmetic — at 100 TB this is the 4x storage/IO saver for the vector
    * column, and [[dotQuantized]] already scores int domains. All-zero
    * vectors quantize to zeros with a NULL scale (nothing to rescale);
    * empty vectors are excluded (no signature, by the same convention as
    * the LSH family).
    */
  def quantizeEmbeddings(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.filter(size(col(vecCol)) > 0)
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        array_max(transform(col(vecCol), x => abs(x))).cast("double").as("__ma"))
      .select(col("id"),
        when(col("__ma") > 0, transform(col("__v"),
            x => floor(x.cast("double") * lit(127.0) / col("__ma") + lit(0.5)).cast("int")))
          .otherwise(transform(col("__v"), _ => lit(0))).as("qvec"),
        when(col("__ma") > 0, lit(127.0) / col("__ma"))
          .otherwise(lit(null).cast("double")).as("scale"))

  /** One-pass native cosine (null on zero norm). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineSim(a, b)

  /** Brute-force top-k nearest rows to the vector of `queryId`, scored by
    * quantized dot product (deterministic tiebreak on id). The query row is
    * a 1-row DataFrame — Catalyst broadcasts it, so this is a map + TakeOrdered,
    * no shuffle of the corpus.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec")).limit(1)
    emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), dotQuantized(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1), derived
    * from (band, bit, dim) by a splitmix64 finalizer. Computed once on the
    * driver and baked into the plan as array literals — the per-row work is
    * a pure fused multiply-add fold, not a hash per element.
    */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hyperplane(band: Int, bit: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      // chained finalizers: (band, bit, i) hashed jointly, so no seed-space
      // overlap between adjacent bits at any dim (a linear formula like
      // bit*97 + i collides for dim > 97 and correlates adjacent planes)
      splitmix64(splitmix64(splitmix64(band.toLong) ^ bit.toLong) ^ i.toLong)
        .toDouble / Long.MaxValue
    }

  /** Sign bit of the projection onto one hyperplane. */
  private def signBit(vec: Column, plane: Array[Double], bit: Int): Column = {
    val planeCol = array(plane.toIndexedSeq.map(lit): _*)
    val proj = aggregate(zip_with(vec, planeCol, (x, h) => x.cast("double") * h),
      lit(0.0), (acc, v) => acc + v)
    when(proj > 0, lit(1L << bit)).otherwise(lit(0L))
  }

  /** One band's signature: `bitsPerBand` hyperplane sign bits packed into a
    * long. Bucket space per band = 2^bitsPerBand.
    */
  def lshBandSignature(vec: Column, band: Int, bitsPerBand: Int, dim: Int): Column =
    (0 until bitsPerBand).map(b => signBit(vec, hyperplane(band, b, dim), b))
      .reduce(_ + _)

  /** ANN candidate pairs via banded random-hyperplane LSH: a pair is a
    * candidate when it agrees on ALL bits of ANY band; exact cosine re-ranks
    * the candidates.
    *
    * Scale shape: the self-join key is (band, 2^bitsPerBand signature) —
    * bucket count grows exponentially with `bitsPerBand`, so expected bucket
    * size is corpusSize × bands / 2^bitsPerBand: size `bitsPerBand` so that
    * stays bounded (e.g. 20 bits ≈ 1M buckets per band). The join carries
    * ids only; vectors re-attach to the candidate pairs, so the band explode
    * never shuffles the embedding payload. Recall rises with `bands` at
    * linear cost. Skewed buckets (duplicate-heavy corpora) re-split via AQE.
    */
  /** NOT a lazy plan builder: runs the projection/banding jobs eagerly and
    * leaves the candidate id-pair frame persisted (see
    * [[graft.operators.Dedup.minHashCandidates]] for the rationale).
    */
  def annLsh(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
             bands: Int = 8, bitsPerBand: Int = 12,
             minCosine: Double = 0.9,
             maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    // Off-dimension vectors are excluded up front: empties (a common
    // missing-value sentinel) would all sign to sig=0 in every band and pair
    // quadratically in the self-join, and ragged vectors now THROW in the
    // signature expression rather than signing a plausible partial bucket
    // (ADVICE r7 — fail loudly over silently-wrong candidates).
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(size(col("v")) === dim)
    // All band signatures per vector from the native codegen'd expression:
    // a pure map over the scan (the former explode + bands×bits-buffer
    // hash-aggregate paid a shuffle keyed by id).
    val planes = Array.tabulate(bands * bitsPerBand)(j =>
      hyperplane(j / bitsPerBand, j % bitsPerBand, dim))
    // The self-join references the signature map on both sides and Spark
    // does not reuse the exchange across them — pin the banded signatures
    // ((id, band, sig): 24 B × bands per vector, no payload) so the
    // multiply-add nest runs once over the corpus.
    val banded = base.select(col("id"), posexplode(
        graft.expressions.VectorExpressions.lshBandSignatures(
          col("v"), planes, bitsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Guardrails.requireBoundedBuckets(banded, Seq("band", "sig"), maxBucketRows,
      s"annLsh(bands=$bands, bitsPerBand=$bitsPerBand)",
      "raise bitsPerBand (bucket space per band = 2^bitsPerBand) or exact-dedup " +
        "identical vectors first")
    val pairs = banded.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count() // materialize the candidate ids, then free the signatures
    banded.unpersist()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Oracle-portable ANN twin ([[graft.operators.Dedup
    * .minHashCandidatesPortable]]'s role, for vector LSH): the full
    * hyperplane-LSH pipeline — signatures, banding, bucket self-join,
    * exact-similarity verify — in arithmetic DuckDB replays BIT-FOR-BIT.
    * Two substitutions make that possible:
    *
    *  - hyperplane components are ±1 with the sign drawn from md5 parity
    *    (first hex nibble of md5("band:bit:dim") — both engines compute
    *    the same digest of the same string), not engine-private splitmix64
    *    floats;
    *  - ALL arithmetic is integer-exact over the int8-quantized vectors
    *    ([[quantizeEmbeddings]]' rounding, already oracle-proven by
    *    `q_sim_quantize`): sign bit = (Σ ±q[i] >= 0), and the cosine
    *    threshold num/den is verified as `den²·dot² >= num²·|a|²·|b|²`
    *    with `dot > 0` — no float summation-order hazard anywhere, so the
    *    pair set is deterministic across engines, not just "close".
    *
    * Bounds: |q[i]| <= 127 so dot <= 127²·dim ≈ 1e6 (dim 64), dot² ≈
    * 1e12, ×den² well under 2^63 for den <= 100. Requires `size(vec) ==
    * dim` (enforced by filter on both engines — ragged vectors would sum
    * NULLs differently in SQL).
    *
    * The production path ([[annLsh]]) keeps the codegen'd native
    * signatures and float cosine; this twin exists so the driver gate has
    * a hash-green row over the whole LSH relational shape.
    */
  /** md5-parity ±1 sign shared by the portable twins — MUST stay
    * bit-identical to the oracle rule
    * `CAST(concat('0x', substr(md5(key), 1, 1)) AS INT) % 2 = 0 → +1`.
    */
  private[operators] def md5ParitySign(key: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 0) 1 else -1
  }

  /** Exact integer dot of two integral array columns (Long accumulator) —
    * the portable twins' verify/score primitive. Bounded candidate sets
    * only; signature-stage hot paths use the native expressions.
    */
  private[operators] def intDotExact(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, v) => acc + v)

  def annLshPortable(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                     bands: Int = 4, bitsPerBand: Int = 8,
                     minCosNum: Int = 1, minCosDen: Int = 4,
                     maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    require(minCosNum > 0 && minCosDen >= minCosNum,
      "annLshPortable: threshold must be a rational in (0, 1]")
    // Exact overflow bound, not a rule of thumb: |dot| <= 127²·dim and the
    // verify computes den²·dot² and num²·na·nb — both must stay in Long.
    val maxDot = BigInt(127L * 127 * dim)
    require(BigInt(minCosDen).pow(2) * maxDot.pow(2) <= BigInt(Long.MaxValue),
      s"annLshPortable: den=$minCosDen with dim=$dim overflows Long in the " +
        "verify (den²·(127²·dim)² > 2⁶³-1) — lower den or dim")
    def sign(b: Int, j: Int, i: Int): Int = md5ParitySign(s"$b:$j:$i")
    // Persisting q is BOTH reuse (the verify joins read it twice) and a
    // projection barrier: without it CollapseProject would inline the
    // quantize transform() into the signature expression's child. The
    // cached frame is (id, 64 ints) — tiny.
    val q = quantizeEmbeddings(emb, idCol, vecCol)
      .filter(size(col("qvec")) === dim)
      .select(col("id"), col("qvec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Native codegen'd integer signatures (one tight loop per row): flat
    // element_at compositions of this size fail janino outright and HOF
    // folds run interpreted — both profiled far above the whole query.
    val signMatrix = Array.tabulate(bands * bitsPerBand)(p =>
      Array.tabulate(dim)(i => sign(p / bitsPerBand, p % bitsPerBand, i)))
    // id-only band frame, pinned across the self-join (the annLsh trade)
    val banded = q.select(col("id"), posexplode(
        graft.expressions.VectorExpressions.intLshBandSignatures(
          col("qvec"), signMatrix, bitsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Guardrails.requireBoundedBuckets(banded, Seq("band", "sig"), maxBucketRows,
      s"annLshPortable(bands=$bands, bitsPerBand=$bitsPerBand)",
      "raise bitsPerBand (bucket space per band = 2^bitsPerBand) or " +
        "exact-dedup identical vectors first")
    val pairs = banded.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    banded.unpersist()
    val num2 = minCosNum.toLong * minCosNum
    val den2 = minCosDen.toLong * minCosDen
    pairs
      .join(q.select(col("id").as("id_a"), col("qvec").as("qa")), Seq("id_a"))
      .join(q.select(col("id").as("id_b"), col("qvec").as("qb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), intDotExact(col("qa"), col("qb")).as("dot"),
        intDotExact(col("qa"), col("qa")).as("na"),
        intDotExact(col("qb"), col("qb")).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0 && col("dot") > 0 &&
        col("dot") * col("dot") * den2 >= col("na") * col("nb") * num2)
      .select("id_a", "id_b")
  }

  /** Oracle-portable IVF twin ([[annLshPortable]]'s role for the IVF
    * shape): assign → probe-cell selection → cell-pruned scan → top-k,
    * all in integer arithmetic DuckDB replays bit-for-bit. Centroids are
    * ±1 directions from md5 parity ("c<cell>:<dim>" — a namespace disjoint
    * from the LSH twin's "band:bit:dim"), assignment is an integer-dot
    * argmax with first-index (min cell) tie-break — the same rule as
    * [[ivfAssignTo]]'s array_position — probe cells are the query's top
    * `nProbe` by (score desc, cell asc), and the final ranking is
    * (integer dot desc, id asc). Every tie-break is total, so the k-row
    * result is ONE deterministic answer, not a float-blurred family.
    */
  def ivfTopKPortable(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                      queryId: Long, k: Int, nCentroids: Int = 16,
                      nProbe: Int = 4): DataFrame = {
    val signMatrix = Array.tabulate(nCentroids)(c =>
      Array.tabulate(dim)(i => md5ParitySign(s"c$c:$i")))
    // Native codegen'd per-centroid integer dots (janino/HOF rationale in
    // annLshPortable); persist = reuse across assign/probe/verify AND the
    // projection barrier that stops CollapseProject duplicating the dots
    // expression into the argmax/explode terms below.
    val q = quantizeEmbeddings(emb, idCol, vecCol)
      .filter(size(col("qvec")) === dim)
      .select(col("id"), col("qvec"),
        graft.expressions.VectorExpressions.signedIntDots(
          col("qvec"), signMatrix).as("__dots"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assigned = q.select(col("id"), col("qvec"),
      (array_position(col("__dots"), array_max(col("__dots"))) - 1)
        .cast("int").as("cell"))
    val qCells = q.filter(col("id") === queryId)
      .select(posexplode(col("__dots")))
      .orderBy(col("col").desc, col("pos").asc)
      .limit(nProbe).select(col("pos").cast("int").as("cell"))
    val qVec = q.filter(col("id") === queryId)
      .select(col("qvec").as("__q"))
    assigned.join(broadcast(qCells), Seq("cell"), "left_semi")
      .filter(col("id") =!= queryId)
      .crossJoin(broadcast(qVec))
      .select(col("id").as("vec_id"), intDotExact(col("qvec"), col("__q")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic pseudo-centroids: hyperplane-derived directions. The
    * zero-training default for IVF structures; [[kMeansCentroids]] trains
    * real ones with identical downstream plumbing.
    */
  def pseudoCentroids(dim: Int, nCentroids: Int): Array[Array[Double]] =
    Array.tabulate(nCentroids)(c => hyperplane(c, 63, dim))

  /** Per-centroid dot-product scores of `vec` — the shared expression under
    * assignment and probe-cell selection (both must rank cells identically
    * or the probe reads the wrong inverted lists).
    */
  private def centroidScores(vec: Column,
                             centroids: Array[Array[Double]]): Seq[Column] =
    centroids.toIndexedSeq.map { plane =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      aggregate(zip_with(vec, planeCol, (x, h) => x.cast("double") * h),
        lit(0.0), (acc, v) => acc + v)
    }

  /** Nearest-centroid (max dot product) cell id for an explicit centroid
    * array — broadcast as plan literals, evaluated as a map-side argmax.
    */
  def ivfAssignTo(vec: Column, centroids: Array[Array[Double]]): Column =
    // Native codegen'd argmax (one tight double loop per row); identical
    // summation order and Double.compare tie-breaks to the former
    // `array_position(array(centroidScores…), array_max(…)) - 1` form, so
    // no assignment can move — but nCentroids × dim interpreted HOF
    // lambdas per row (× the plan duplicating the array into the argmax
    // terms) become one generated loop. Only the in-memory ivfTopK(Multi)
    // still pick probe cells with [[centroidScores]] (posexplode needs the
    // dots array); the persisted-index probes use [[probeCells]].
    graft.expressions.VectorExpressions.dotsArgmax(vec, centroids)

  /** IVF-style ANN top-k: corpus rows are assigned to their nearest of
    * `nCentroids` pseudo-centroids (deterministic hyperplane-derived unit
    * directions — [[kMeansCentroids]] trains real ones, the plumbing is
    * identical); the query probes only the `nProbe` nearest centroids'
    * inverted lists. Centroid assignment is a map-side argmax over a small
    * broadcast array; the probe is a partition-pruning filter, so the scan
    * touches nProbe/nCentroids of the corpus.
    */
  def ivfAssign(vec: Column, dim: Int, nCentroids: Int): Column =
    ivfAssignTo(vec, pseudoCentroids(dim, nCentroids))

  /** Lloyd's k-means over the embedding column, expressed as DataFrame
    * aggregations — per iteration: one map-side cell assignment (argmax over
    * broadcast centroid literals) + one hash-aggregate of per-dimension sums
    * (partial map-side combine, then k × (dim+1) values to the driver —
    * metadata-scale regardless of corpus size). Spherical variant: centroids
    * are unit-normalized each round, matching the dot-product assignment
    * (argmax dot == argmax cosine for unit centroids). Initialization is the
    * deterministic [[pseudoCentroids]]; an empty cell keeps its previous
    * centroid. Early-exits when no centroid moves more than `tol` (squared
    * L2). At 100 TB: `maxIter` full scans, each a codegen'd projection +
    * partial agg — the same shape as any groupBy, no driver-side data loops.
    */
  def kMeansCentroids(emb: DataFrame, vecCol: String, dim: Int, k: Int,
                      maxIter: Int = 8, tol: Double = 1e-6): Array[Array[Double]] = {
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val base = emb.select(col(vecCol).as("v")).filter(size(col("v")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids = pseudoCentroids(dim, k).map(unit)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val aggs = count(lit(1)).as("n") +:
        (0 until dim).map(i =>
          sum(element_at(col("v"), i + 1).cast("double")).as(s"s$i"))
      val rows = base.groupBy(ivfAssignTo(col("v"), centroids).as("cell"))
        .agg(aggs.head, aggs.tail: _*).collect()
      val next = centroids.clone()
      rows.foreach { r =>
        val c = r.getInt(0)
        val n = r.getLong(1)
        if (n > 0)
          next(c) = unit(Array.tabulate(dim)(i => r.getDouble(2 + i) / n))
      }
      moved = centroids.iterator.zip(next.iterator).map { case (a, b) =>
        a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
      }.max
      centroids = next
      iter += 1
    }
    base.unpersist()
    centroids
  }

  /** [[kMeansCentroids]] trained on a deterministic hash-sample of the
    * corpus — the 100 TB practice (FAISS trains IVF/PQ structures on a
    * sample; Lloyd's converges on the distribution, not the row count, so
    * a ~1e5–1e6-row sample yields the same cells while training never
    * scans the corpus). The sample is the md5-uniform prefix filter of
    * [[graft.operators.Curation.sampleStratified]] (keep iff
    * u(id) < fraction): deterministic, seed-free, growth-stable — the
    * trained centroids are reproducible across runs and cluster sizes.
    * Assignment of the FULL corpus still happens wherever the caller uses
    * the returned centroids; only training is sampled.
    *
    * The sample is COLLECTED and Lloyd's runs on the driver (r11): the
    * distributed loop re-plans each iteration with fresh centroid
    * literals, so every iteration paid whole-stage-codegen COMPILATION
    * (~0.6 s) regardless of data size — 8 iterations over a 1,250-row
    * sample cost 4.7 s of pure compiler. A training sample is
    * driver-bounded by design (FAISS trains in memory; `maxSampleRows`
    * fails loudly when the fraction is mis-sized — rows × dim × 8 B, the
    * size-gated union-find precedent), the per-iteration work becomes
    * two tight array loops, and sorting the sample by id makes the
    * float summation order DETERMINISTIC — which the distributed
    * partial-agg never was. Semantics mirror [[kMeansCentroids]]
    * exactly: pseudoCentroid init, first-max-dot assignment, spherical
    * (unit-normalized) mean update, empty cells keep their centroid,
    * early exit when no centroid moves more than `tol` squared-L2. Only
    * exactly-`dim` vectors train (callers filter to one width anyway —
    * the distributed form's element_at NULL handling made mixed widths
    * accidental, not supported).
    */
  /** Driver-bounded md5-uniform training sample: exactly-`dim` vectors
    * whose id hashes below `sampleFraction` of the 32-bit space, as
    * (id-string, vector) pairs — the shared sampling contract of every
    * driver-side sampled trainer ([[kMeansCentroidsSampled]],
    * [[ProductQuantization.trainCodebooksSampled]]; code-review r11
    * extracted the formerly-duplicated block). When the sample is EMPTY
    * (the corpus is smaller than the fraction resolves), the FULL corpus
    * collects instead — a corpus that small is driver-collectable by
    * definition, and silently training on nothing would hand back
    * untrained structures with zero signal. `maxRows` fails loudly when
    * the fraction is mis-sized for the corpus.
    */
  private[operators] def collectVectorSample(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      sampleFraction: Double, maxRows: Int,
      what: String): Array[(String, Array[Double])] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"$what: sampleFraction must be in (0,1], got $sampleFraction")
    val threshold = math.round(sampleFraction * 4294967296.0) // 2^32
    val pri = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    def pull(filtered: DataFrame, limit: Int) = filtered
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).cast("string").as("__i"),
        col(vecCol).cast("array<double>").as("__v"))
      .limit(limit + 1)
      .collect()
    var collected = pull(emb.filter(pri < threshold), maxRows)
    require(collected.length <= maxRows,
      s"$what: sampleFraction=$sampleFraction selects more than " +
        s"maxSampleRows=$maxRows training vectors — lower the fraction " +
        "(training needs a bounded sample, not the corpus)")
    if (collected.isEmpty) {
      // The fallback justification ("that small is driver-collectable")
      // only holds when the corpus really is tiny — an empty md5 sample
      // on a LARGE corpus (absurdly small fraction) must not pull
      // maxRows full vectors to the driver (code-review r11), so the
      // fallback is bounded far lower and overflowing it is ITS OWN
      // error, not the misleading lower-the-fraction one.
      val fallbackLimit = math.min(maxRows, 16384)
      collected = pull(emb, fallbackLimit)
      require(collected.length <= fallbackLimit,
        s"$what: the md5 sample at sampleFraction=$sampleFraction is " +
          s"EMPTY but the corpus exceeds $fallbackLimit vectors — raise " +
          "the fraction so training sees a real sample")
    }
    collected.map(r => (r.getString(0), r.getSeq[Double](1).toArray))
  }

  def kMeansCentroidsSampled(emb: DataFrame, idCol: String, vecCol: String,
                             dim: Int, k: Int, sampleFraction: Double,
                             maxIter: Int = 8, tol: Double = 1e-6,
                             maxSampleRows: Int = 2000000): Array[Array[Double]] = {
    val vs: Array[Array[Double]] = collectVectorSample(emb, idCol, vecCol,
      dim, sampleFraction, maxSampleRows, "kMeansCentroidsSampled")
      .sortBy(_._1).map(_._2)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def assign(v: Array[Double], cents: Array[Array[Double]]): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
      while (c < cents.length) {
        val p = cents(c); var s = 0.0; var i = 0
        while (i < dim) { s += v(i) * p(i); i += 1 }
        if (s > bestDot) { bestDot = s; best = c } // first max wins, the
        c += 1                                     // dotsArgmax tie rule
      }
      best
    }
    var centroids = pseudoCentroids(dim, k).map(unit)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      vs.foreach { v =>
        val c = assign(v, centroids)
        cnt(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      val next = centroids.clone()
      for (c <- 0 until k if cnt(c) > 0)
        next(c) = unit(Array.tabulate(dim)(i => sums(c)(i) / cnt(c)))
      moved = centroids.iterator.zip(next.iterator).map { case (a, b) =>
        a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
      }.max
      centroids = next
      iter += 1
    }
    centroids
  }

  /** Deterministic planted-cluster embedding fixture: `nClusters` unit-norm
    * centers (splitmix64-derived, like [[hyperplane]]), `perCluster` points
    * each = center + uniform noise in ±`noise` — vec_id of cluster c, point
    * j is `c * perCluster + j`, so cluster membership is predictable from
    * the id alone (the embedding analogue of `Multimodal.synthPngFromId`).
    * Small by construction (fixture/gate scale); generated driver-side.
    */
  def clusteredEmbeddings(spark: org.apache.spark.sql.SparkSession,
                          nClusters: Int, perCluster: Int, dim: Int,
                          noise: Double = 0.05): DataFrame = {
    import spark.implicits._
    def u(seed: Long): Double = // uniform in [-1, 1)
      splitmix64(seed).toDouble / Long.MaxValue
    val rows = for {
      c <- 0 until nClusters
      j <- 0 until perCluster
    } yield {
      val center = Array.tabulate(dim)(i => u(splitmix64(1000L + c) ^ i.toLong))
      val norm = math.sqrt(center.map(x => x * x).sum)
      val id = (c.toLong * perCluster) + j
      val v = Array.tabulate(dim) { i =>
        (center(i) / norm + noise * u(splitmix64(id) ^ (7777L + i))).toFloat
      }
      (id, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** IVF probe: top-k among the corpus rows assigned to the query's nearest
    * `nProbe` centroid lists. The centroid-id filter is an IN-list pushed
    * into the scan when `assigned` is a materialized column (bucketed/
    * partitioned by it at scale).
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
              queryId: Long, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
              centroids: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroids != null) centroids else pseudoCentroids(dim, nCentroids)
    require(cents.length == nCentroids, s"got ${cents.length} centroids, expected $nCentroids")
    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      ivfAssignTo(col(vecCol), cents).as("cell"))
    val qCells = assigned.filter(col("id") === queryId)
      .select(posexplode(array(centroidScores(col("v"), cents): _*)))
      .orderBy(col("col").desc).limit(nProbe).select(col("pos").as("cell"))
    val q = assigned.filter(col("id") === queryId).select(col("v").as("__qvec"))
    assigned.join(broadcast(qCells), Seq("cell"), "left_semi")
      .filter(col("id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("id").as(idCol), dotQuantized(col("v"), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist an IVF index: the corpus written once, hash-partitioned on the
    * centroid-cell assignment (`cell=<i>/` directories). Probes then read
    * `nProbe`/`nCentroids` of the files via partition pruning — the scan
    * never touches the other inverted lists. At 100 TB this is the
    * difference between a full-corpus scan per query and touching ~1/4 of
    * one percent of it (nProbe=4, nCentroids=1024).
    */
  def ivfWriteIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                    nCentroids: Int, path: String,
                    centroids: Array[Array[Double]] = null): Unit = {
    val cents = if (centroids != null) centroids else pseudoCentroids(dim, nCentroids)
    require(cents.length == nCentroids,
      s"ivfWriteIndex: got ${cents.length} centroids, expected $nCentroids")
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        ivfAssignTo(col(vecCol), cents).as("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    // Persist the centroids WITH the index: a probe must rank cells against
    // the exact centroids the cells were built from — probing a
    // trained-centroid index with the pseudo defaults silently returns poor
    // results. The `_` prefix hides the sidecar from the index scan
    // (Hadoop/Spark skip `_`/`.`-prefixed paths when listing data files).
    writeCentroidSidecar(emb.sparkSession, cents, path)
  }

  /** Incremental IVF maintenance: append a new vector batch into an
    * EXISTING index without rebuilding. Assignments use the persisted
    * sidecar centroids — the only centroids consistent with the cells
    * already on disk (assigning with anything else would scatter a vector's
    * neighbors across cells and silently break probe recall). The append
    * writes only the new rows into their `cell=<i>/` directories; existing
    * files and the sidecar are untouched, so probes see old+new rows with
    * the same partition pruning. This is the index-maintenance story a
    * daily-ingest corpus needs: O(batch) work per batch, no O(corpus)
    * rebuild.
    *
    * `batchTag` makes the append EXACTLY-ONCE (late r17 — the
    * [[graft.operators.Skew.cmsAppendIndex]] treatment for the ROW-append
    * families): hosted in `foreachBatch`, a crash-replayed batch would
    * append the same vectors twice, and duplicate corpus rows silently
    * corrupt every later probe — the same id occupies two of the top-k
    * slots, displacing a true neighbor, with no error anywhere. Pass the
    * stream's batch id; a committed (tag, content) replays as a no-op, a
    * colliding tag with different content fails loudly
    * ([[graft.pipeline.BatchAppend]]). Markers survive
    * [[ivfRetrainCompact]]'s staged swap, so a replay arriving after a
    * retrain still no-ops instead of re-appending rows the retrain
    * already folded in.
    */
  def ivfAppendIndex(emb: DataFrame, idCol: String, vecCol: String,
                     path: String, batchTag: Option[String] = None): Unit = {
    val cents = ivfReadCentroids(emb.sparkSession, path)
    val rows = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      ivfAssignTo(col(vecCol), cents).as("cell"))
    batchTag match {
      case None =>
        rows.write.mode(org.apache.spark.sql.SaveMode.Append)
          .partitionBy("cell").parquet(path)
      case Some(tag) =>
        val sig = graft.pipeline.BatchAppend.contentSig(emb, Seq(idCol, vecCol))
        graft.pipeline.BatchAppend.exactlyOnce(emb.sparkSession, path, tag,
          sig, Seq(path)) {
          graft.pipeline.BatchAppend.appendBatchFiles(rows, path, tag,
            partitionBy = Seq("cell"))
        }: Unit
    }
  }

  /** Load the centroid sidecar written by [[ivfWriteIndex]] under its
    * declared schema (columns bind by name; no schema-inference job). A
    * missing or empty sidecar (index written by an older build, a crash
    * between the data and sidecar writes, or one during the sidecar's
    * overwrite that left only `_temporary`) fails with an actionable
    * message instead of a raw AnalysisException or an index with no cells.
    */
  def ivfReadCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       kind: String = "IVF",
                       writer: String = "ivfWriteIndex"): Array[Array[Double]] = {
    // `kind`/`writer` only change the error hint — the sidecar FORMAT
    // contract lives here once, shared by every centroid-sidecar index
    // (IVF, SemDeDup); see writeCentroidSidecar.
    def unreadable(cause: Throwable) = new IllegalStateException(s"$kind index at " +
      s"$path has no readable centroid sidecar (_centroids); rewrite the index " +
      s"with $writer or pass centroids explicitly", cause)
    val side = try spark.read.schema("cell INT, centroid ARRAY<DOUBLE>")
      .parquet(s"$path/_centroids")
    catch { case e: org.apache.spark.sql.AnalysisException => throw unreadable(e) }
    // driver-side cell sort: a cluster orderBy before a k-row collect pays
    // a range-partitioning sample pass + shuffle per index load
    // (Bpe.readMerges note); k is the centroid count, always tiny.
    val cents = side.collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    if (cents.isEmpty) throw unreadable(null) // no data files read as 0 rows
    cents
  }

  /** The centroid sidecar write — the single home of the `_centroids`
    * format ([[ivfReadCentroids]]'s counterpart), shared by
    * [[ivfWriteIndex]] and [[SemDedup.semDedupWriteIndex]].
    */
  private[graft] def writeCentroidSidecar(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_centroids")
  }

  /** Top-k probe against a persisted IVF index. The query vector is one row
    * (a scalar from the engine's point of view — collecting it is not a
    * driver-side loop); its `nProbe` nearest cells are computed driver-side
    * from the same deterministic centroids, and the `cell IN (...)` filter
    * prunes the scan to those partition directories (assert via
    * `PartitionFilters` in the plan).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     dim: Int, queryId: Long, k: Int,
                     nCentroids: Int = 16, nProbe: Int = 4,
                     centroids: Array[Array[Double]] = null): DataFrame = {
    // Default to the sidecar persisted at write time — the only centroids
    // guaranteed to match the cell assignment on disk, and the authority on
    // the cell count (the nCentroids parameter is ignored in that case: an
    // index's structure travels with the index). An explicit override must
    // agree with the cell count it claims.
    val cents = if (centroids != null) {
      require(centroids.length == nCentroids,
        s"ivfTopKIndexed: got ${centroids.length} centroids, expected $nCentroids")
      centroids
    } else ivfReadCentroids(spark, path)
    // tombstone exclusion (late r17): deleted vectors never fill a
    // top-k slot, before or after a physical purge
    val idx = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path)
    // ONE column-pruned lookup of the query row (its cell is unknown before
    // reading it, so this scan can't partition-prune — everything after
    // it does); the vector then rides along as a literal.
    val qRows = idx.filter(col("id") === queryId).select("v").take(1)
    require(qRows.nonEmpty, s"ivfTopKIndexed: query id $queryId not in index $path")
    val qVec = qRows(0).getSeq[Float](0).toArray
    idx.filter(col("cell").isin(probeCells(qVec.map(_.toDouble), cents, nProbe): _*))
      .filter(col("id") =!= queryId)
      .select(col("id"), dotQuantized(col("v"),
        typedlit(qVec.toSeq)).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** A query vector's `nProbe` cells: centroid dot products (the double
    * sum of [[centroidScores]]) ranked as Spark sorts `score desc, cell asc`. */
  private[graft] def probeCells(v: Array[Double], cents: Array[Array[Double]],
                                nProbe: Int): Seq[Int] = {
    val scores = cents.map(h =>
      v.iterator.zip(h.iterator).foldLeft(0.0) { case (s, (x, y)) => s + x * y })
    cents.indices.sortBy(c => (scores(c), c))(Ordering.Tuple2(
      Ordering.Double.TotalOrdering.reverse, Ordering.Int)).take(nProbe)
  }

  /** The rows of a persisted centroid index that a bounded query batch
    * probes, each joined to its query. `queries` (key, vector) is collected
    * eagerly and its cells picked by [[probeCells]]: ONE `idx` scan pruned
    * by a static `cell IN (...)`, joined to broadcast local (key, cell) and
    * (key, vector) relations, so each vector is broadcast once. */
  private[graft] def probedRows(idx: DataFrame, queries: DataFrame,
                                cents: Array[Array[Double]],
                                nProbe: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (spark, qRows) = (idx.sparkSession, queries.collect().toSeq)
    val key = queries.schema.head
    val probe = qRows.flatMap { r =>
      val v = r.getSeq[Number](1).iterator.map(_.doubleValue).toArray
      probeCells(v, cents, nProbe).map(c => Row(r.get(0), c))
    }.distinct
    val probeDf = spark.createDataFrame(probe.asJava, org.apache.spark.sql.types
      .StructType(Seq(key)).add("cell", "int", nullable = false))
    idx.filter(col("cell").isin(probe.map(_.getInt(1)).distinct.sorted: _*))
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(spark.createDataFrame(qRows.asJava, queries.schema)),
        Seq(key.name))
  }

  /** Multi-query top-k probe against a PERSISTED IVF index — the
    * [[ivfTopKMulti]] shape over stored cells, query side resolved on the
    * driver: calling it runs ONE eager, column-pruned, tombstone-excluded
    * lookup of the query vectors (absent ids drop), and the frame is the
    * [[probedRows]] scan ranked per query by window (cos desc, id asc).
    */
  def ivfTopKMultiIndexed(spark: org.apache.spark.sql.SparkSession,
                          path: String, queryIds: Seq[Long], k: Int,
                          nProbe: Int = 4): DataFrame = {
    val idx = graft.pipeline.Tombstones.exclude(
        spark.read.parquet(path), path)
      .select(col("id"), col("v"), col("cell"))
    val q = idx.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    probedRows(idx, q, ivfReadCentroids(spark, path), nProbe)
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .select("query_id", "id", "cos")
  }

  /** Recall-drift gate over a PERSISTED IVF index (r17, VERDICT r16
    * §next-2): [[ivfAppendIndex]] assigns new vectors to the FROZEN
    * trained centroids, so a long append history on drifting data bloats
    * cells unevenly and probe recall decays with NO signal. This is the
    * q_sim_recall_gate machinery pointed at the index as stored — exact
    * brute-force top-k over the indexed rows vs the nProbe-cell indexed
    * probe, per query — so the maintenance loop can CHECK for drift after
    * appends and trigger [[ivfRetrainCompact]] when the gate trips.
    * Returns one row (n_queries, mean_recall, min_recall, pass). The
    * truth side is a bounded |queryIds|-row broadcast against one corpus
    * scan (the [[bruteForceTopKMulti]] scale shape) — run it over a
    * bounded query sample, not the corpus.
    */
  def ivfRecallGate(spark: org.apache.spark.sql.SparkSession, path: String,
                    queryIds: Seq[Long], k: Int = 10, nProbe: Int = 4,
                    minRecall: Double = 0.9): DataFrame = {
    require(queryIds.nonEmpty, "ivfRecallGate: queryIds must be non-empty")
    val idx = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path) // truth and probe see the live set
    val truth = bruteForceTopKMulti(idx, "id", "v", queryIds, k)
    val approx = ivfTopKMultiIndexed(spark, path, queryIds, k, nProbe)
    recallAtK(truth, approx)
      .agg(count(lit(1)).as("n_queries"),
        avg("recall").as("mean_recall"),
        min("recall").as("min_recall"))
      .select(col("n_queries"), col("mean_recall"), col("min_recall"),
        (col("min_recall") >= minRecall).as("pass"))
  }

  /** Cell-occupancy statistics of a persisted IVF/SemDeDup-shaped index
    * (r17): the CHEAP continuous drift signal next to [[ivfRecallGate]]'s
    * expensive definitive one — appends assign to frozen centroids, so a
    * drifting corpus bloats cells unevenly long before recall visibly
    * decays, and a bloated cell also costs every probe that touches it.
    * One column-pruned scan of the partition column. Returns one row:
    * (n_rows, n_cells, max_cell, mean_cell, imbalance = max/mean) —
    * trigger [[ivfRetrainCompact]] when imbalance drifts past the
    * index's write-time value.
    */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    graft.pipeline.Tombstones.exclude(spark.read.parquet(path), path)
      .groupBy("cell")
      .agg(count(lit(1)).as("__n"))
      .agg(sum("__n").as("n_rows"),
        count(lit(1)).as("n_cells"),
        max("__n").as("max_cell"),
        avg("__n").as("mean_cell"))
      .select(col("n_rows"), col("n_cells"), col("max_cell"),
        col("mean_cell"),
        (col("max_cell") / col("mean_cell")).as("imbalance"))

  /** Retrain-recluster compaction of a persisted IVF index (r17, VERDICT
    * r16 §next-2) — the append family's third verb (write → append →
    * retrain-compact), restoring recall after drift: retrain centroids on
    * the STORED corpus (the deterministic [[kMeansCentroidsSampled]]
    * trainer — same sampling, same init, same update rule as a fresh
    * build, so retrain-after-appends and rebuild-from-the-union train
    * IDENTICAL centroids on identical rows), reassign every row, and swap
    * the rebuilt cells + centroid sidecar in as ONE staged unit (readers
    * see the old index or the new, never a half state — the
    * overwriteViaStaging contract). `nCentroids = 0` keeps the stored
    * cell count. SINGLE-WRITER maintenance, like every staged-swap
    * compaction: run it from the loop that owns appends.
    */
  def ivfRetrainCompact(spark: org.apache.spark.sql.SparkSession,
                        path: String, dim: Int, nCentroids: Int = 0,
                        sampleFraction: Double = 1.0,
                        maxSampleRows: Int = 2000000,
                        centroids: Array[Array[Double]] = null): Unit = {
    val stored = ivfReadCentroids(spark, path) // also validates the index
    val k = if (nCentroids > 0) nCentroids else stored.length
    // a retrain consumes tombstones: deleted rows are dropped from the
    // training set AND the rebuilt cells, and the swap clears the
    // tombstone table (late r17)
    val rows = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path).select(col("id"), col("v"))
    // explicit centroids mirror ivfWriteIndex's override: spherical
    // k-means from the pseudo init can collapse small-k geometries to
    // one dominant cell (correct answers, brute-force probes) — a
    // caller that knows the target geometry may pin it
    val cents =
      if (centroids != null) {
        require(centroids.length == k,
          s"ivfRetrainCompact: got ${centroids.length} centroids, expected $k")
        centroids
      } else kMeansCentroidsSampled(rows, "id", "v", dim, k,
        sampleFraction, maxSampleRows = maxSampleRows)
    val reassigned = rows.select(col("id"), col("v"),
      ivfAssignTo(col("v"), cents).as("cell"))
    graft.pipeline.Sinks.overwriteViaStagingWith(reassigned, path,
      Seq("cell")) { staged =>
      writeCentroidSidecar(spark, cents, staged)
      // exactly-once markers ride the swap: a batch the retrain folded in
      // must still read as committed afterwards, or its replay re-appends
      graft.pipeline.BatchAppend.preserveMarkers(spark, path, staged)
    }
  }

  /** Drift POLICY verb (late r17) — closes the maintenance loop the
    * signal/gate/retrain trio leaves to the caller: consult the CHEAP
    * occupancy signal ([[ivfCellStats]], one partition-column scan) and
    * run [[ivfRetrainCompact]] only when it crosses the caller's bounds.
    * Triggers when max/mean cell occupancy exceeds `maxImbalance`
    * (appends bloating hot cells — every probe touching one pays for
    * it), or when fewer than `minCells` cells hold rows at all (cell
    * collapse: a drifted append stream deserting most of the trained
    * geometry). Returns whether a retrain ran, so the append loop can
    * log it and re-run the definitive [[ivfRecallGate]] on true. The
    * check costs one metadata-cheap scan per call — cheap enough to run
    * after EVERY append batch, which is the intended cadence.
    * SINGLE-WRITER, like the verbs it composes.
    */
  def ivfMaybeRetrain(spark: org.apache.spark.sql.SparkSession,
                      path: String, dim: Int,
                      maxImbalance: Double = 4.0, minCells: Int = 0,
                      nCentroids: Int = 0, sampleFraction: Double = 1.0,
                      maxSampleRows: Int = 2000000,
                      centroids: Array[Array[Double]] = null): Boolean = {
    require(maxImbalance > 1.0,
      s"ivfMaybeRetrain: maxImbalance must exceed 1 (a perfectly " +
        s"balanced index reads exactly 1), got $maxImbalance")
    val st = ivfCellStats(spark, path).head()
    val trigger = st.getAs[Double]("imbalance") > maxImbalance ||
      (minCells > 0 && st.getAs[Long]("n_cells") < minCells)
    if (trigger)
      ivfRetrainCompact(spark, path, dim, nCentroids, sampleFraction,
        maxSampleRows, centroids)
    trigger
  }

  /** Exact cosine top-k for a SET of query ids in one distributed pass:
    * the query rows are a broadcast dimension (|queryIds| rows), the corpus
    * scans once, and per-query ranking is a window keyed by query_id — no
    * global sort, no per-query jobs. This is the ground-truth side of the
    * recall gates.
    */
  def bruteForceTopKMulti(emb: DataFrame, idCol: String, vecCol: String,
                          queryIds: Seq[Long], k: Int): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(size(col("v")) > 0)
    val q = base.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    base.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .select("query_id", "id", "cos")
  }

  /** ANN top-k per query id from the banded-LSH candidate set: [[annLsh]]
    * with the cosine floor disabled, candidate pairs read symmetrically,
    * ranked per query. A query's reachable neighbors are exactly the docs
    * sharing a band bucket with it — recall against [[bruteForceTopKMulti]]
    * is the quality measure of the (bands, bitsPerBand) sizing.
    */
  def annTopKMulti(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                   queryIds: Seq[Long], k: Int,
                   bands: Int = 8, bitsPerBand: Int = 12): DataFrame = {
    val cand = annLsh(emb, idCol, vecCol, dim, bands, bitsPerBand,
      minCosine = -1.0)
    cand.select(col("id_a").as("query_id"), col("id_b").as("id"), col("cos"))
      .unionByName(
        cand.select(col("id_b").as("query_id"), col("id_a").as("id"), col("cos")))
      .filter(col("query_id").isin(queryIds: _*))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .select("query_id", "id", "cos")
  }

  /** IVF top-k for a SET of query ids in one distributed pass (the
    * multi-query form of [[ivfTopK]]): per-query probe cells come from a
    * window over the exploded centroid scores, candidates from one
    * broadcast join on cell — corpus still scans once and touches only
    * probed cells' rows in the score stage.
    */
  def ivfTopKMulti(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                   queryIds: Seq[Long], k: Int,
                   nCentroids: Int = 16, nProbe: Int = 4,
                   centroids: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroids != null) centroids else pseudoCentroids(dim, nCentroids)
    require(cents.length == nCentroids, s"got ${cents.length} centroids, expected $nCentroids")
    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      ivfAssignTo(col(vecCol), cents).as("cell"))
    val q = assigned.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    val probe = q.select(col("query_id"),
        posexplode(array(centroidScores(col("qv"), cents): _*)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("col").desc, col("pos").asc)))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("pos").cast("int").as("cell"))
    assigned.join(broadcast(probe), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .select("query_id", "id", "cos")
  }

  /** Recall@k of an approximate per-query result against exact truth: the
    * fraction of each query's true top-k ids the approximate method
    * returned. Both inputs carry (query_id, id); a query the approximate
    * side missed entirely still gets a row (recall 0.0).
    */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame = {
    val hits = truth.select("query_id", "id")
      .join(approx.select("query_id", "id"), Seq("query_id", "id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_true").cast("double")).as("recall"))
  }

  /** Embedding-cosine near-duplicate pairs over a bounded id range (oracle-
    * checkable verify stage; LSH produces the candidates at scale). Scores
    * from quantized ints so both engines compute identical doubles.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         maxId: Long, minCos: Double): DataFrame = {
    val base = emb.filter(col(idCol) < maxId)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val l = base.select(col("id").as("id_a"), col("v").as("v_a"))
    val r = base.select(col("id").as("id_b"), col("v").as("v_b"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotQuantized(col("v_a"), col("v_b")).cast("double") /
          (sqrt(dotQuantized(col("v_a"), col("v_a")).cast("double")) *
           sqrt(dotQuantized(col("v_b"), col("v_b")).cast("double")))).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
