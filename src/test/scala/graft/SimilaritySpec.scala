package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f)),
    (4L, Array(1.0f, 0.0f, 0.0f))    // identical direction to 0
  ).toDF("vec_id", "embedding")

  test("dot / cosine expressions") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(Similarity.dot(col("a"), col("b")).as("d")).as[Double].head()
    assert(d == 32.0)
    val c = df.select(Similarity.cosine(col("a"), col("a")).as("c")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("dotQuantized is exact integer arithmetic") {
    val df = Seq((Array(0.001f, 0.002f), Array(0.003f, 0.004f))).toDF("a", "b")
    val d = df.select(Similarity.dotQuantized(col("a"), col("b")).as("d")).as[Long].head()
    assert(d == 1L * 3 + 2L * 4)
  }

  test("bruteForceTopK ranks by score with id tiebreak, excludes the query") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", queryId = 0, k = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(4L, 1L, 2L)) // 4 identical (1e6), 1 close (9e5), 2/3 zero -> id asc
  }

  test("annLsh buckets identical-direction vectors together") {
    val pairs = Similarity.annLsh(vecs, "vec_id", "embedding", dim = 3,
        bands = 4, bitsPerBand = 4, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L))) // identical direction always collides
  }

  test("ivfTopK returns k results and finds the identical vector") {
    val top = Similarity.ivfTopK(vecs, "vec_id", "embedding", dim = 3,
        queryId = 0, k = 2, nCentroids = 4, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(top.head == 4L) // nProbe=all cells => equivalent to brute force top
  }

  test("ivfWriteIndex + ivfTopKIndexed: partition-pruned probe matches ivfTopK") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf")
      .resolve("idx").toString
    Similarity.ivfWriteIndex(vecs, "vec_id", "embedding", dim = 3,
      nCentroids = 4, path = path)
    val probe = Similarity.ivfTopKIndexed(spark, path, dim = 3,
      queryId = 0, k = 2, nCentroids = 4, nProbe = 4)
    // nProbe = all cells => identical ranking to the unindexed form
    val expected = Similarity.ivfTopK(vecs, "vec_id", "embedding", dim = 3,
        queryId = 0, k = 2, nCentroids = 4, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(probe.select("id").as[Long].collect().toSeq == expected)
    // a narrow probe must prune the scan to the probed cell directories
    val narrow = Similarity.ivfTopKIndexed(spark, path, dim = 3,
      queryId = 0, k = 2, nCentroids = 4, nProbe = 1)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
  }

  test("ivfAppendIndex: appended vectors join their originals' cells; probe sees both") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app")
      .resolve("idx").toString
    Similarity.ivfWriteIndex(vecs, "vec_id", "embedding", dim = 3,
      nCentroids = 4, path = path)
    val before = spark.read.parquet(path).count()
    Similarity.ivfAppendIndex(
      vecs.withColumn("vec_id", col("vec_id") + 100L), "vec_id", "embedding", path)
    val idx = spark.read.parquet(path)
      .select((col("id") % 100L).as("k"), col("cell"))
      .groupBy("k").agg(countDistinct("cell").as("nc"), count(lit(1)).as("n"))
      .agg(max("nc").as("mx"), min("n").as("mn"), sum("n").as("tot"))
      .as[(Long, Long, Long)].head()
    assert(idx == ((1L, 2L, before * 2))) // same cell, exactly twice each
    // full-width probe over the appended index returns the appended twin
    // of the query vector as the top (identical-direction) neighbor
    val probe = Similarity.ivfTopKIndexed(spark, path, dim = 3,
      queryId = 0, k = 2, nCentroids = 4, nProbe = 4)
    assert(probe.select("id").as[Long].collect().contains(100L))
  }

  test("annLsh recall >= 0.9 on planted near-dup clusters at dedup params") {
    // 30 clusters of 4 near-identical vectors (cos ~0.999): the regime LSH
    // is sized for. Truth = exact pairs at cos >= 0.9; ANN must recover 90%.
    val dim = 16
    val rnd = new scala.util.Random(7)
    val clustered = (0 until 30).flatMap { c =>
      val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
      (0 until 4).map { j =>
        ((c * 4 + j).toLong, base.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
      }
    }
    val emb = clustered.toDF("vec_id", "embedding")
    val truth = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      maxId = 1000, minCos = 0.9).select("id_a", "id_b")
    val ann = Similarity.annLsh(emb, "vec_id", "embedding", dim = dim,
      bands = 8, bitsPerBand = 8, minCosine = 0.9)
    val n = truth.count()
    assert(n >= 150) // every intra-cluster pair qualifies: 30 * C(4,2) = 180
    val hit = truth.join(ann, Seq("id_a", "id_b"), "left_semi").count()
    assert(hit.toDouble / n >= 0.9, s"ANN recall ${hit.toDouble / n} < 0.9 ($hit/$n)")
  }

  test("ivfTopKMulti with full probe matches bruteForceTopKMulti exactly") {
    val qids = Seq(0L, 2L)
    val truth = Similarity.bruteForceTopKMulti(vecs, "vec_id", "embedding", qids, k = 3)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopKMulti(vecs, "vec_id", "embedding", dim = 3,
        qids, k = 3, nCentroids = 4, nProbe = 4)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(ivf == truth)
  }

  test("recallAtK: full overlap -> 1.0, disjoint -> 0.0, missing query -> row with 0.0") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "id")
    val same = Similarity.recallAtK(truth, truth)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(same == Map(1L -> 1.0, 2L -> 1.0))
    val approx = Seq((1L, 11L)).toDF("query_id", "id") // misses 10, misses query 2
    val r = Similarity.recallAtK(truth, approx)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(r(1L) == 0.5 && r(2L) == 0.0)
  }

  test("annLsh bucket guardrail trips on degenerate buckets, 0 disables") {
    // 6 identical-direction vectors share every band signature -> bucket of 6
    val dup = (0L until 6L).map(i => (i, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.annLsh(dup, "vec_id", "embedding", dim = 3,
        bands = 2, bitsPerBand = 4, minCosine = 0.9, maxBucketRows = 3)
    }
    assert(e.getMessage.contains("bitsPerBand"))
    // disabled check lets the same call through
    val pairs = Similarity.annLsh(dup, "vec_id", "embedding", dim = 3,
      bands = 2, bitsPerBand = 4, minCosine = 0.9, maxBucketRows = 0)
    assert(pairs.count() == 15) // C(6,2) identical pairs
  }

  test("kMeans-trained centroids beat pseudo-centroids on planted clusters") {
    // The gate's exact configuration (q_sim_recall_gate IVF leg): 32 planted
    // clusters, 32 points each, nProbe=2 of 32 cells. Trained centroids must
    // clear the 0.9 gate threshold AND beat the untrained pseudo-centroids —
    // the measured evidence that training adds structure the hyperplane
    // directions don't have (measured: trained 1.0, pseudo 0.85).
    val dim = 64
    val fix = Similarity.clusteredEmbeddings(spark, nClusters = 32,
      perCluster = 32, dim = dim)
    val qids = (0 until 8).map(c => c.toLong * 4 * 32 + 1)
    val truth = Similarity.bruteForceTopKMulti(fix, "vec_id", "embedding", qids, k = 10)
      .persist()
    def avgRecall(centroids: Array[Array[Double]]): Double =
      Similarity.recallAtK(truth,
          Similarity.ivfTopKMulti(fix, "vec_id", "embedding", dim, qids,
            k = 10, nCentroids = 32, nProbe = 2, centroids = centroids))
        .agg(avg(col("recall"))).head().getDouble(0)
    val trained = avgRecall(Similarity.kMeansCentroids(fix, "embedding", dim,
      k = 32, maxIter = 5))
    val pseudo = avgRecall(Similarity.pseudoCentroids(dim, 32))
    info(s"trained recall = $trained, pseudo recall = $pseudo")
    truth.unpersist()
    assert(trained >= 0.9, s"trained-centroid recall $trained below the 0.9 gate")
    assert(trained > pseudo,
      s"training did not improve recall (trained $trained <= pseudo $pseudo)")
  }

  test("kMeansCentroids returns k unit-norm deterministic centroids") {
    val dim = 16
    val fix = Similarity.clusteredEmbeddings(spark, nClusters = 4,
      perCluster = 8, dim = dim)
    val a = Similarity.kMeansCentroids(fix, "embedding", dim, k = 4, maxIter = 3)
    val b = Similarity.kMeansCentroids(fix, "embedding", dim, k = 4, maxIter = 3)
    assert(a.length == 4 && a.forall(_.length == dim))
    a.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // deterministic
  }

  test("annTopKMulti recovers per-query neighbors on planted clusters") {
    val dim = 16
    val fix = Similarity.clusteredEmbeddings(spark, nClusters = 8,
      perCluster = 8, dim = dim, noise = 0.02)
    val qids = Seq(0L, 16L, 32L)
    val truth = Similarity.bruteForceTopKMulti(fix, "vec_id", "embedding", qids, k = 5)
    val ann = Similarity.annTopKMulti(fix, "vec_id", "embedding", dim, qids,
      k = 5, bands = 8, bitsPerBand = 8)
    val r = Similarity.recallAtK(truth, ann)
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(r >= 0.9, s"annTopKMulti recall $r < 0.9")
  }

  test("cosineNearDupPairs finds the identical pair at threshold ~1") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        maxId = 100, minCos = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 4L)))
  }

  test("quantizeEmbeddings: int8 range, max element hits ±127, dequant error bound") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f)),          // all-zero -> zeros, NULL scale
      (3L, Seq.empty[Float])          // empty -> excluded
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeEmbeddings(df, "vec_id", "embedding")
      .select("id", "qvec", "scale").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    assert(!q.contains(3L))
    assert(q(2L)._1 == Seq(0, 0) && q(2L)._2.isEmpty)
    val (qv, Some(scale)) = q(1L)
    assert(qv == Seq(64, -127, 32), qv) // 0.5*127=63.5 -> floor(+0.5)=64
    assert(qv.forall(v => v >= -127 && v <= 127))
    // dequantized error <= half a quantization step
    Seq(0.5, -1.0, 0.25).zip(qv).foreach { case (x, v) =>
      assert(math.abs(x - v / scale) <= 0.5 / scale + 1e-12)
    }
  }

  test("annLshPortable: identical directions pair, orthogonal never pass verify") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)),   // same direction as 0 -> identical qvec
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0/1: dot = 0 < threshold
      (3L, Array(1.0f, 0.0f, 0.0f)),         // wrong dim: excluded by contract
      (4L, Array.empty[Float])               // empty: excluded
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.annLshPortable(df, "vec_id", "embedding", dim = 4,
        bands = 2, bitsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    // identical qvecs share every band key, and cos = 1 >= 1/4
    assert(pairs.contains((0L, 1L)), pairs)
    // dot(0,2) = 0 fails the dot > 0 verify even when a bucket collides
    assert(!pairs.exists(p => p == (0L, 2L) || p == (1L, 2L)), pairs)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
  }

  test("annLshPortable: integer verify matches the rational cosine threshold") {
    // In the QUANTIZED domain: qa = (95,127,0,0), qb = (127,95,0,0)
    // (0.3/0.4 scaled by 127/0.4 with round-half-up), so dot = 2·95·127 =
    // 24130 and na = nb = 95² + 127² = 25154 — cos = 24130/25154 ≈ 0.95929.
    // The integer verify den²·dot² >= num²·na·nb must pass at 95/100 and
    // fail at 96/100, with no float anywhere to blur the edge.
    val df = Seq(
      (0L, Array(0.3f, 0.4f, 0.0f, 0.0f)),
      (1L, Array(0.4f, 0.3f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def run(num: Int, den: Int) =
      Similarity.annLshPortable(df, "vec_id", "embedding", dim = 4,
        bands = 1, bitsPerBand = 1, minCosNum = num, minCosDen = den)
        .as[(Long, Long)].collect().toSet
    assert(run(95, 100) == Set((0L, 1L)))
    assert(run(96, 100).isEmpty)
  }

  test("ivfTopKPortable: integer ranking with total tie-breaks") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // query
      (2L, Array(2.0f, 0.0f, 0.0f, 0.0f)),  // same direction: top score
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal: score 0
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f))   // tie with 3 -> id asc breaks it
    ).toDF("vec_id", "embedding")
    // nProbe = nCentroids: every cell probed, so ranking alone is under test
    val got = Similarity.ivfTopKPortable(df, "vec_id", "embedding", dim = 4,
        queryId = 1, k = 3, nCentroids = 4, nProbe = 4)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 127L * 127), (3L, 0L), (4L, 0L)), got)
  }

  test("ivfRecallGate detects recall decay on a drifted append; " +
      "ivfRetrainCompact restores it (VERDICT r16 §next-2)") {
    def pt(id: Long, a: Double, b: Double, c: Double): (Long, Array[Float]) =
      (id, Array(a.toFloat, b.toFloat, c.toFloat, 0.0f))
    // base corpus: two clean clusters on the trained axes, index built
    // with EXPLICIT centroids so the drift geometry is fully pinned
    val base = ((0 until 10).map(i => pt(i, 1.0, 0.001 * i, 0.0)) ++
      (0 until 10).map(i => pt(100 + i, 0.001 * i, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-drift").toString + "/idx"
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      nCentroids = 2, dir,
      centroids = Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0)))
    // drifted batch: one NEW cluster sitting exactly on the Voronoi
    // boundary of the two frozen centroids — the alternating ±tilt
    // assigns its members 10/10 across BOTH cells, so each member's true
    // neighbors (its own cluster, by far the highest cosines) are half
    // invisible to a 1-probe query. This is the decay mode appends can
    // never signal: every vector lands in a valid cell, recall just rots.
    val drift = (0 until 20).map { i =>
      val d = 0.01 * (1 + i / 2) * (if (i % 2 == 0) 1 else -1)
      pt(200L + i, 0.7071 + d, 0.7071 - d, 0.02 * i)
    }.toDF("vec_id", "embedding")
    Similarity.ivfAppendIndex(drift, "vec_id", "embedding", dir)
    val qids = Seq(200L, 201L, 210L, 211L)
    def gate() = Similarity.ivfRecallGate(spark, dir, qids, k = 10,
        nProbe = 1, minRecall = 0.9)
      .select("min_recall", "pass").as[(Double, Boolean)].head()
    val before = gate()
    assert(!before._2 && before._1 <= 0.8,
      s"drift not detected: $before") // measured ~0.5: half the cluster
    // trained retrain restores the gate (observed: the small-k pseudo
    // init can collapse to one dominant cell — correct answers, probes
    // degrade to scans; the cell stats below expose that state)
    Similarity.ivfRetrainCompact(spark, dir, dim = 4, nCentroids = 3)
    val after = gate()
    assert(after._2 && after._1 >= 0.9, s"retrain did not restore: $after")
    // retrain with PINNED geometry (the ivfWriteIndex-style override):
    // three cells — both axes plus the new boundary cluster — so the
    // probe budget story holds, not just correctness
    Similarity.ivfRetrainCompact(spark, dir, dim = 4, nCentroids = 3,
      centroids = Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0),
        Array(0.7071, 0.7071, 0.05, 0)))
    val after2 = gate()
    assert(after2._2 && after2._1 >= 0.9, s"pinned retrain: $after2")
    // the swapped index stays a fully working IVF index
    val top = Similarity.ivfTopKIndexed(spark, dir, dim = 4, queryId = 200L,
      k = 5).as[(Long, Long)].collect()
    assert(top.length == 5)
    // the cheap drift signal: three genuinely used cells, near-balanced
    val st = Similarity.ivfCellStats(spark, dir)
      .select("n_rows", "n_cells", "imbalance")
      .as[(Long, Long, Double)].head()
    assert(st._1 == 40L && st._2 == 3L, st.toString)
    assert(st._3 < 2.0, s"post-retrain imbalance: $st")
  }

  test("ivfMaybeRetrain: no-op on a balanced index, fires on occupancy " +
      "imbalance, fires on cell collapse (late r17)") {
    def pt(id: Long, a: Double, b: Double): (Long, Array[Float]) =
      (id, Array(a.toFloat, b.toFloat, 0.0f, 0.0f))
    val base = ((0 until 10).map(i => pt(i, 1.0, 0.001 * i)) ++
      (0 until 10).map(i => pt(100 + i, 0.001 * i, 1.0)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-policy").toString + "/idx"
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      nCentroids = 2, dir,
      centroids = Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0)))
    def cells() = spark.read.parquet(dir)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val balanced = cells()
    // balanced 10/10: imbalance 1.0 — the policy must NOT retrain
    assert(!Similarity.ivfMaybeRetrain(spark, dir, dim = 4,
      maxImbalance = 2.0))
    assert(cells() == balanced, "a declined policy check must not touch " +
      "the index")
    // a hot-cell append: 40 more rows all on the first axis -> 50/10,
    // imbalance 50/30 ≈ 1.67 under threshold 1.5 -> fires, and the
    // retrain (explicit centroids pin the geometry) rebalances
    val hot = (0 until 40).map(i => pt(300L + i, 1.0, 0.002 * i))
      .toDF("vec_id", "embedding")
    Similarity.ivfAppendIndex(hot, "vec_id", "embedding", dir)
    assert(Similarity.ivfMaybeRetrain(spark, dir, dim = 4,
      maxImbalance = 1.5, nCentroids = 2,
      centroids = Array(Array(1.0, 0.02, 0, 0), Array(0, 1.0, 0, 0))))
    val st = Similarity.ivfCellStats(spark, dir)
      .select("n_rows", "n_cells").as[(Long, Long)].head()
    assert(st == ((60L, 2L)), st.toString)
    // cell-collapse trigger: an index where only 2 of the expected 4
    // cells hold rows fires via minCells even when balanced
    assert(Similarity.ivfMaybeRetrain(spark, dir, dim = 4,
      maxImbalance = 100.0, minCells = 4, nCentroids = 2,
      centroids = Array(Array(1.0, 0.02, 0, 0), Array(0, 1.0, 0, 0))))
    // bounds guard
    intercept[IllegalArgumentException] {
      Similarity.ivfMaybeRetrain(spark, dir, dim = 4, maxImbalance = 1.0)
    }: Unit
  }

  /** The SQL form of ivfTopKMultiIndexed before its query side moved to the
    * driver: probe cells from interpreted centroid scores, a posexplode and
    * a row_number window, the query rows looked up under each broadcast.
    */
  private def ivfTopKMultiIndexedSql(path: String, queryIds: Seq[Long], k: Int,
                                     nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = Similarity.ivfReadCentroids(spark, path)
    val idx = graft.pipeline.Tombstones.exclude(spark.read.parquet(path), path)
      .select(col("id"), col("v"), col("cell"))
    val q = idx.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    val scores = cents.toIndexedSeq.map { plane =>
      aggregate(zip_with(col("qv"), array(plane.toIndexedSeq.map(lit): _*),
        (x, h) => x.cast("double") * h), lit(0.0), (acc, v) => acc + v)
    }
    val probe = q.select(col("query_id"), posexplode(array(scores: _*)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("col").desc, col("pos").asc)))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("pos").cast("int").as("cell"))
    idx.join(broadcast(probe), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("id"), Similarity.cosine(col("v"), col("qv")).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .select("query_id", "id", "cos")
  }

  test("ivfTopKMultiIndexed equals its SQL form through deletes, a tagged " +
      "append and a purge; absent and tombstoned query ids drop") {
    val emb = Similarity.clusteredEmbeddings(spark, nClusters = 6,
      perCluster = 20, dim = 8, noise = 0.2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-multi")
      .toString + "/idx"
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") < 100), "vec_id",
      "embedding", dim = 8, nCentroids = 6, dir,
      centroids = Similarity.kMeansCentroids(emb, "embedding", dim = 8, k = 6))
    def rows(df: DataFrame) =
      df.as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    def same(qids: Seq[Long], nProbe: Int): Seq[(Long, Long, Double)] = {
      val got = Similarity.ivfTopKMultiIndexed(spark, dir, qids, k = 5, nProbe)
      val want = ivfTopKMultiIndexedSql(dir, qids, k = 5, nProbe)
      assert(got.schema == want.schema)
      val r = rows(got)
      assert(r == rows(want), s"qids=$qids nProbe=$nProbe")
      r
    }
    val qids = Seq(0L, 21L, 42L, 63L, 84L, 99L, 5000L) // 5000 is absent
    def checkAll(): Unit = Seq(1, 2, 6).foreach(same(qids, _))
    checkAll()
    graft.pipeline.Tombstones.delete(Seq(21L, 3L, 44L).toDF("id"), "id", dir,
      Some("d1"))
    checkAll()
    val afterDelete = same(qids, 2)
    assert(!afterDelete.exists(r => r._1 == 21L || Set(3L, 44L)(r._2)))
    Similarity.ivfAppendIndex(emb.filter(col("vec_id") >= 100), "vec_id",
      "embedding", dir, Some("a1"))
    checkAll()
    assert(same(qids :+ 110L, 2).exists(_._1 == 110L)) // appended query id
    assert(graft.pipeline.Tombstones.purge(spark, dir,
      partitionCols = Seq("cell")) == 3L)
    checkAll()
    assert(same(Seq(21L, 5000L), 2).isEmpty) // tombstoned + absent: empty
  }

  test("ivfTopKMultiIndexed: exact probe-cell score ties break by cell " +
      "ascending; one cell-pruned corpus scan, no window on the query side") {
    def pt(id: Long, a: Float, b: Float, c: Float) = (id, Array(a, b, c, 0.0f))
    // the query (1,0,0,0) scores 0.5 exactly on cells 0 and 1
    val cents = Array(Array(0.5, 0.5, 0, 0), Array(0.5, -0.5, 0, 0),
      Array(-1.0, 0, 0, 0), Array(0.0, 0, 1, 0))
    assert(Similarity.probeCells(Array(1.0, 0, 0, 0), cents, 2) == Seq(0, 1))
    val base = (Seq(pt(0, 1, 0, 0)) ++
      (1 to 4).map(i => pt(i, 1, 0.1f * i, 0)) ++     // cell 0
      (5 to 8).map(i => pt(i, 1, -0.1f * i, 0)) ++    // cell 1
      (9 to 10).map(i => pt(i, -1, 0, 0.1f * i)) ++   // cell 2
      (11 to 12).map(i => pt(i, 0, 0, 1)))            // cell 3
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-tie")
      .toString + "/idx"
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", dim = 4,
      nCentroids = 4, dir, centroids = cents)
    val got = Similarity.ivfTopKMultiIndexed(spark, dir, Seq(0L), k = 10,
      nProbe = 1)
    val ids = got.select("id").as[Long].collect().toSet
    assert(ids == (1L to 4L).toSet, ids) // cell 0, not cell 1
    assert(got.as[(Long, Long, Double)].collect().sortBy(_._2).toSeq ==
      ivfTopKMultiIndexedSql(dir, Seq(0L), k = 10, nProbe = 1)
        .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq)
    val plan = got.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, plan)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "cell")),
      plan)
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, plan) // the per-query top-k ranking only
    val none = Similarity.ivfTopKMultiIndexed(spark, dir, Seq(77L), k = 10)
    assert(none.schema == got.schema && none.isEmpty) // all-absent batch
  }

  test("ivfReadCentroids: a _centroids directory without data files fails " +
      "loudly, as a crash during the sidecar's overwrite leaves it") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-nocents")
      .resolve("idx").toString
    Similarity.ivfWriteIndex(vecs, "vec_id", "embedding", dim = 3,
      nCentroids = 4, path = path)
    val side = new java.io.File(s"$path/_centroids")
    side.listFiles().foreach(f => assert(f.delete(), f))
    assert(new java.io.File(side, "_temporary/0").mkdirs())
    val probes = Seq[() => Any](
      () => Similarity.ivfReadCentroids(spark, path),
      () => Similarity.ivfTopKIndexed(spark, path, dim = 3, queryId = 0, k = 2),
      () => Similarity.ivfTopKMultiIndexed(spark, path, Seq(0L), k = 2))
    probes.foreach { probe =>
      val e = intercept[IllegalStateException](probe())
      assert(e.getMessage.contains("no readable centroid sidecar") &&
        e.getMessage.contains("ivfWriteIndex"), e.getMessage)
    }
  }
}
