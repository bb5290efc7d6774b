package graft.perfbench

import scala.collection.mutable

import org.apache.spark.graftperfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one process, one Spark session at
  * `local[<cores>]` with the engine's shared session settings, one
  * closed-loop client.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --scale full|tiny
  *        --out ARTIFACT.json --work DIR
  *
  * Set-up runs three times on fresh directories and reports the median.
  * The untraced phase then measures the end-to-end metrics for S seconds.
  * With `--trace 1` a traced phase follows for another S seconds, with
  * spans and listeners on, and yields the per-layer metrics. The last line
  * of standard output is the result object.
  */
object Main {
  val setups = 3

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "1/s",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  val recipeSteps: Seq[String] = graft.pipeline.CorpusPipeline.fineWebRecipe()
    .map(_.getClass.getSimpleName.stripSuffix("$"))

  /** Per-layer metric -> (unit, source). Busy times and counts are per
    * traced operation; ratios and peaks are over the traced phase.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "driver.construct_s" -> "s", "driver.eager_jobs" -> "count", "driver.action_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "sql.scan_rows" -> "rows", "sql.exchange_bytes" -> "bytes", "sql.broadcast_bytes" -> "bytes",
    "Runner.busy_s" -> "s", "Runner.tables_incremental" -> "count",
    "Runner.tables_full_refresh" -> "count",
    "RowHash.busy_s" -> "s", "RowHash.rows" -> "rows",
    "Merge.busy_s" -> "s", "Merge.inserted" -> "rows", "Merge.updated" -> "rows",
    "Merge.skipped" -> "rows", "Merge.target_rows_read_per_changed_row" -> "ratio",
    "Sinks.parquet_busy_s" -> "s", "Sinks.parquet_bytes_written" -> "bytes",
    "Sinks.files_written" -> "count",
    "Sinks.jdbc_busy_s" -> "s", "Sinks.jdbc_rows_shipped" -> "rows",
    "Sinks.jdbc_rows_read" -> "rows",
    "Reconcile.busy_s" -> "s", "Reconcile.orphan_keys" -> "count") ++
    recipeSteps.flatMap(s => Seq(s"CorpusPipeline.$s.busy_s" -> "s",
      s"CorpusPipeline.$s.rows_out" -> "rows")) ++ Seq(
    "Dedup.candidate_pairs" -> "count", "Dedup.max_bucket_rows" -> "rows",
    "Dedup.true_pair_ratio" -> "ratio", "Dedup.index_append_s" -> "s",
    "Dedup.index_probe_s" -> "s",
    "Similarity.probe_s" -> "s", "Similarity.rows_scanned_per_result" -> "ratio",
    "Index.append_s" -> "s", "Index.delete_s" -> "s", "Index.compact_s" -> "s",
    "Index.bytes_written" -> "bytes", "Index.files" -> "count",
    "Index.replay_noops" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.op_p50_overhead_s" -> "s", "trace.coverage" -> "ratio")

  /** Busy-time metric -> the span it sums. */
  private val spanMetrics: Seq[(String, String)] = Seq(
    "Runner.busy_s" -> "Runner", "RowHash.busy_s" -> "RowHash",
    "Merge.busy_s" -> "Merge", "Sinks.jdbc_busy_s" -> "Sinks.jdbc",
    "Reconcile.busy_s" -> "Reconcile",
    "Dedup.index_append_s" -> "Dedup.index_append",
    "Dedup.index_probe_s" -> "Dedup.index_probe",
    "Similarity.probe_s" -> "Similarity",
    "Index.append_s" -> "Index.append", "Index.delete_s" -> "Index.delete",
    "Index.compact_s" -> "Index.compact") ++
    recipeSteps.map(s => s"CorpusPipeline.$s.busy_s" -> s"CorpusPipeline.$s")

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tiny = opts.getOrElse("scale", "full") == "tiny"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    def make(k: Int): Workload = {
      val dir = s"$work/setup$k"
      name match {
        case "sync_cycle" => new SyncCycle(spark, seed, if (tiny) 0.1 else 1.0, dir, cores)
        case "corpus_ingest" => new CorpusIngest(spark, seed, if (tiny) 150 else 1000, dir)
        case "vector_probe" => new VectorProbe(spark, seed, if (tiny) 2000 else 10000, dir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    var w: Workload = null
    val setupRuns = (0 until setups).map { k =>
      if (w != null) { w.close(); deleteTree(new java.io.File(s"$work/setup${k - 1}")) }
      w = make(k)
      val s = System.nanoTime()
      w.setup()
      val took = (System.nanoTime() - s) / 1e9
      spark.catalog.clearCache()
      took
    }
    val setupS = sessionS + quantile(setupRuns, 0.5)

    val checks = new Checks(w.checkNames)
    // Untraced runs time the first operation as users meet it, in a fresh
    // process. A traced run compares its traced phase, which is warm, with
    // this phase, so there the phase starts with one warm-up operation.
    val plainAll = loop(spark, w, new Tracer(spark, false), seconds, 0, checks, None,
      warmup = traced)
    val plain = plainAll.filterNot(_.warmup)
    val spaceAmp = w.roots.map(Probes.treeBytes).sum.toDouble / w.liveBytes
    val peakRss = Probes.peakRssMb()

    val primary = plain.filter(_.primary)
    val secs = primary.map(_.seconds)
    val p50 = quantile(secs, 0.5)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "op_p50_s" -> p50,
      "rows_per_s" -> primary.map(_.units).sum / secs.sum,
      "write_amp" -> plain.map(_.bytesWritten).sum.toDouble / plain.map(_.inputBytes).sum,
      "space_amp" -> spaceAmp,
      "peak_rss_mb" -> peakRss)
    // a tail percentile is reported only where ten samples lie beyond it
    val extra = mutable.LinkedHashMap[String, Any](
      "n_ops" -> plain.size,
      "n_primary_ops" -> primary.size,
      "failed_frac" -> plain.count(_.failed).toDouble / math.max(1, plain.size),
      "unit_of_rows_per_s" -> s"${w.unitName}/s")
    if (secs.size >= 100) extra("op_p90_s") = quantile(secs, 0.9)

    val tracedOut: Option[(mutable.LinkedHashMap[String, Double], Map[String, Any], Seq[OpRecord])] =
      if (!traced) None
      else {
        val sc = spark.sparkContext
        val runtime = new RuntimeListener
        val sql = new SqlListener
        sc.addSparkListener(runtime)
        spark.listenerManager.register(sql)
        val tr = new Tracer(spark, true, Some(sql))
        Probes.resetHeapPeak()
        val gc0 = Probes.gcSeconds()
        val recs = loop(spark, w, tr, seconds, plainAll.size, checks, Some(sql), warmup = false)
        Bus.drain(sc)
        val gcS = Probes.gcSeconds() - gc0
        val heapPeak = Probes.heapPeakMb()
        spark.listenerManager.unregister(sql)
        sc.removeSparkListener(runtime)
        val n = math.max(1, recs.size).toDouble
        val wall = recs.map(_.seconds).sum
        val spanSecs = tr.spans.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
        val construct = tr.spans.filter(_.kind == "construct").map(_.seconds).sum
        val topLevel = tr.spans.filter(_.parent < 0).map(_.seconds).sum
        val rt = runtime.t
        val figures = mutable.LinkedHashMap[String, Double]()
        figures ++= perLayer.map(_._1 -> 0.0)
        figures ++= Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
          "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
          "spark.gc_s", "driver.eager_jobs").map(k => k -> rt(k) / n)
        figures ++= Seq("sql.scan_rows", "sql.exchange_bytes", "sql.broadcast_bytes",
          "Sinks.parquet_busy_s", "Sinks.parquet_bytes_written", "Sinks.files_written",
          "Sinks.jdbc_rows_read").map(k => k -> sql.t(k) / n)
        figures ++= tr.counts.sum.keys.filter(figures.contains).map(k => k -> tr.counts(k) / n)
        figures ++= spanMetrics.map { case (m, s) => m -> spanSecs.getOrElse(s, 0.0) / n }
        figures ++= Seq(
          "driver.construct_s" -> construct / n,
          "driver.action_s" -> (wall - construct) / n,
          "spark.cpu_util" -> rt("spark.task_busy_s") / (cores * wall),
          "jvm.gc_s" -> gcS / n,
          "jvm.heap_peak_mb" -> heapPeak,
          "trace.op_p50_overhead_s" -> (quantile(recs.filter(_.primary).map(_.seconds), 0.5) - p50),
          "trace.coverage" -> topLevel / wall)
        figures ++= w.layerFigures(tr, recs)
        val self = tr.selfSeconds
        val detail = Map[String, Any](
          "n_ops" -> recs.size,
          "op_p50_s" -> quantile(recs.filter(_.primary).map(_.seconds), 0.5),
          "counters" -> tr.counts.sum,
          "listener_runtime" -> rt.sum,
          "listener_sql" -> sql.t.sum,
          "operators" -> sql.operators.map { case (k, v) =>
            k -> Map("instances" -> v(0), "rows" -> v(1), "time_ms" -> v(2)) },
          "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
            "name" -> s.name, "kind" -> s.kind, "start_s" -> (s.startNs - t0) / 1e9,
            "end_s" -> (s.endNs - t0) / 1e9, "self_s" -> self(s.id))))
        Some((figures, detail, recs))
      }

    val allOps = plainAll ++ tracedOut.map(_._3).getOrElse(Nil)
    val notRun = checks.ran.filter(_._2 == 0).keys.toSeq
    val failed = allOps.count(_.failed)
    val correct = failed == 0 && checks.failures.isEmpty && notRun.isEmpty
    val metrics: Seq[(String, String, Double)] =
      if (!traced) endToEnd.map { case (k, u) => (k, u, e2e(k)) }
      else perLayer.map { case (k, u) => (k, u, tracedOut.get._1(k)) }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct,
      "attempted" -> allOps.size,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, u, v) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))

    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "scale" -> (if (tiny) "tiny" else "full"), "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "result" -> result,
      "end_to_end" -> mutable.LinkedHashMap(endToEnd.map { case (k, u) =>
        k -> Map("value" -> e2e(k), "unit" -> u) }: _*),
      "end_to_end_extra" -> extra,
      "setup" -> Map("session_s" -> sessionS, "runs_s" -> setupRuns),
      "op_seconds" -> secs,
      "ops" -> allOps.map(r => Map("op" -> r.op, "seconds" -> r.seconds, "units" -> r.units,
        "input_bytes" -> r.inputBytes, "bytes_written" -> r.bytesWritten,
        "failed" -> r.failed, "scan_rows" -> r.scanRows, "prepare_s" -> r.prepareS, "check_s" -> r.checkS,
        "primary" -> r.primary, "warmup" -> r.warmup)),
      "checks" -> checks.declared.map(k =>
        k -> Map("ran" -> checks.ran(k), "failed" -> checks.failed(k))).toMap,
      "checks_not_run" -> notRun,
      "failures" -> checks.failures,
      "inputs" -> w.info)
    tracedOut.foreach { case (f, d, _) => artifact("per_layer") = f; artifact("traced") = d }
    val pw = new java.io.PrintWriter(opts("out"), "UTF-8")
    try pw.write(Json(artifact)) finally pw.close()

    println(f"[perfbench] $name seed=$seed ops=${plain.size} op_p50_s=$p50%.4f " +
      f"setup_s=$setupS%.3f failed=$failed checks_not_run=${notRun.mkString(",")}")
    checks.failures.foreach(f => println(s"[perfbench] DEFECT $f"))
    w.close()
    spark.stop()
    println(Json(result))
  }

  /** Closed loop: the next operation starts when the previous one and its
    * checks have finished. Runs until `seconds` of wall time have passed and
    * at least the workload's `minOps` operations have run. With `warmup`, one
    * operation runs first, checked but not timed, so the timed operations do
    * not pay the first compilation of their code path (JIT and Spark's
    * generated code).
    */
  def loop(spark: SparkSession, w: Workload, tr: Tracer, seconds: Double, first: Int,
           checks: Checks, sql: Option[SqlListener], warmup: Boolean): Seq[OpRecord] = {
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    var i = first
    if (warmup) { recs += runOp(spark, w, tr, i, checks, sql).copy(warmup = true); i += 1 }
    w.startPhase()
    val start = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || n < w.minOps) {
      recs += runOp(spark, w, tr, i, checks, sql)
      i += 1
      n += 1
    }
    recs.toSeq
  }

  private def runOp(spark: SparkSession, w: Workload, tr: Tracer, i: Int, checks: Checks,
                    sql: Option[SqlListener]): OpRecord = {
    val sc = spark.sparkContext
    val p0 = System.nanoTime()
    w.prepare(i)
    val prepareS = (System.nanoTime() - p0) / 1e9
    if (tr.enabled) { Bus.drain(sc); sql.foreach(_.open = true); tr.op = i }
    val scan0 = sql.map(_.t("sql.scan_rows")).getOrElse(0.0)
    sc.setLocalProperty(Tracer.OpProp, i.toString)
    val fs0 = Probes.fsBytesWritten()
    val t = System.nanoTime()
    val res = try Right(w.op(i, tr)) catch { case e: Exception => Left(e) }
    val took = (System.nanoTime() - t) / 1e9
    val written = Probes.fsBytesWritten() - fs0
    sc.setLocalProperty(Tracer.OpProp, null)
    if (tr.enabled) { Bus.drain(sc); sql.foreach(_.open = false); tr.endOp() }
    val scanRows = sql.map(_.t("sql.scan_rows")).getOrElse(0.0) - scan0
    val c0 = System.nanoTime()
    val failed = res match {
      case Left(e) =>
        checks.failures += s"op $i threw $e"
        true
      case Right(r) =>
        try { w.check(i, r, checks); checks.takeFailed() }
        catch { case e: Exception => checks.failures += s"op $i check threw $e"; true }
    }
    spark.catalog.clearCache()
    val r = res.getOrElse(OpResult(0L, 0L))
    OpRecord(i, took, r.units, r.inputBytes, written, failed, scanRows, prepareS,
      (System.nanoTime() - c0) / 1e9, r.primary)
  }
}
