package graft.perfbench

import graft.functions.RowHash
import graft.operators.{Aggregates, Merge, Reconcile}
import graft.pipeline.{RefreshMode, Runner, Sinks, TableSpec}
import graft.schema.TypeInference
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one sync_cycle day hands its checks. */
private final case class Day(tallies: Map[String, Map[String, Long]],
                             results: Seq[Runner.TableResult], evolvedExtra: Int,
                             jdbc: (Long, Long), monthDiffs: Long, hashMismatches: Long,
                             orphans: (Long, Long))

/** The paper's daily job: hash-diff CDC of a star schema into parquet
  * targets and an embedded-Derby ORDERS target, then a month-grouped
  * reconciliation report. One operation is one day's batch.
  */
final class SyncCycle(spark: SparkSession, seed: Long, scale: Double,
                      dir: String, cores: Int) extends Workload {
  private val gen = new SyncGen(spark, seed, scale)
  private val src = s"$dir/source"
  private val tgt = s"$dir/target"
  private val url = s"jdbc:derby:memory:perfbench${System.nanoTime()}"
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private val ddl = "o_orderstatus VARCHAR(8), o_orderpriority VARCHAR(16), " +
    "o_comment VARCHAR(64), row_hash VARCHAR(64)"
  // lineitem's configured key repeats (several lines per order), so the
  // runner must fall back to a full refresh for it, as the reference does
  // for tables without a unique key.
  private val specs = gen.tables.map(t =>
    TableSpec(t, Seq(if (t == "lineitem") "l_orderkey" else gen.keyOf(t)),
      refreshMode = RefreshMode.Incremental))
  private val expectedMode = gen.tables.map(t =>
    t -> (if (t == "lineitem") "full_refresh_fallback_dup_keys" else "incremental")).toMap

  private var srcBytes = 0L
  private var truth = Map.empty[String, (Long, Long, Long)]
  private var setupBytes = 0L

  val unitName = "rows"
  val checkNames = Seq("tally_matches_planted", "table_modes",
    "reclassify_all_skip", "orphan_keys_empty", "reconcile_aligned",
    "derby_matches_parquet")

  def roots: Seq[String] = Seq(tgt)
  def liveBytes: Long = srcBytes

  def setup(): Unit = {
    val (bytes, t) = gen.writeDay(src, 0)
    srcBytes = bytes; setupBytes = bytes; truth = t
    val res = Runner.runAll(spark, src, specs)((spec, df) =>
      Sinks.fullRefresh(df, s"$tgt/${spec.name}"))
    res.foreach(r => require(r.error.isEmpty, s"bootstrap of ${r.table}: ${r.error.get}"))
    Sinks.jdbcWrite(RowHash.withAuditColumns(TableSpec.read(spark, src, "orders"),
      Seq("o_orderkey")), s"$url;create=true", "ORDERS", props, columnTypes = Some(ddl))
  }

  def prepare(i: Int): Unit = {
    val (bytes, t) = gen.writeDay(src, i + 1)
    srcBytes = bytes; truth = t
  }

  def op(i: Int, tr: Tracer): OpResult = {
    val ordersKey = Seq("o_orderkey")
    // the CDC report of the day: insert / update / skip per keyed table,
    // classified against the targets as they stand before the sync
    val targetRead0 = tr.scanRowsUnder(tgt)
    val tallies = tr.span("Merge") {
      gen.keyedTables.map { t =>
        val keys = Seq(gen.keyOf(t))
        val classified = tr.frame("Merge.classify")(Merge.classify(
          TableSpec.read(spark, src, t), Sinks.targetState(spark, s"$tgt/$t", keys), keys))
        t -> Merge.outcomeTally(classified).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }.toMap
    }
    tr.count("Merge.target_rows", tr.scanRowsUnder(tgt) - targetRead0)
    val (results, evolvedExtra) = tr.span("Runner") {
      val extra = gen.tables.map { t =>
        val target = spark.read.parquet(s"$tgt/$t").schema
        TypeInference.evolve(target, TableSpec.read(spark, src, t).schema).size - target.size
      }.sum
      (Runner.syncIncremental(spark, src, specs, tgt), extra)
    }
    val now = java.sql.Timestamp.valueOf(java.time.LocalDate.of(2026, 1, 1)
      .atStartOfDay().plusDays(i + 1L))
    val jdbc = tr.span("Sinks.jdbc") {
      Sinks.jdbcApplyIncremental(TableSpec.read(spark, src, "orders").coalesce(cores),
        url, "ORDERS", ordersKey, props, now)
    }
    val (monthDiffs, hashMismatches, orphans) = tr.span("Reconcile") {
      val srcOrders = TableSpec.read(spark, src, "orders")
      val tgtOrders = spark.read.parquet(s"$tgt/orders")
      val a = Reconcile.monthlyAgg(srcOrders, "o_orderdate", Seq("o_totalprice"))
      val b = Reconcile.monthlyAgg(tgtOrders, "o_orderdate", Seq("o_totalprice"))
      val diffs = Seq("n_rows", "sum_o_totalprice").map(m =>
        Reconcile.alignDiff(a, b, "month", m).filter(col("diff") =!= 0).count()).sum
      val hashed = tr.span("RowHash") {
        tr.frame("RowHash.withRowHash")(RowHash.withRowHash(srcOrders))
      }
      val mismatches = hashed.select("o_orderkey", "row_hash")
        .except(tgtOrders.select("o_orderkey", "row_hash")).count()
      val orphans = Reconcile.orphanKeysBoth(srcOrders, "o_orderkey", tgtOrders, "o_orderkey")
        .groupBy("direction").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      Aggregates.monthStateCounts(tgtOrders, "o_orderdate", "o_orderstatus").collect()
      (diffs, mismatches, (orphans("only_in_a"), orphans("only_in_b")))
    }
    if (tr.enabled) {
      val modes = results.map(_.mode)
      tr.count("Runner.tables_incremental", modes.count(_ == "incremental").toDouble)
      tr.count("Runner.tables_full_refresh", modes.count(_.startsWith("full_refresh")).toDouble)
      tr.count("RowHash.rows", truth("orders")._3.toDouble)
      val changed = tallies.values.map(m =>
        m.getOrElse(Merge.Insert, 0L) + m.getOrElse(Merge.Update, 0L)).sum
      tr.count("Merge.inserted", tallies.values.map(_.getOrElse(Merge.Insert, 0L)).sum.toDouble)
      tr.count("Merge.updated", tallies.values.map(_.getOrElse(Merge.Update, 0L)).sum.toDouble)
      tr.count("Merge.skipped", tallies.values.map(_.getOrElse(Merge.Skip, 0L)).sum.toDouble)
      tr.count("Merge.changed", changed.toDouble)
      tr.count("Sinks.jdbc_rows_shipped", (jdbc._1 + jdbc._2).toDouble)
      tr.count("Reconcile.orphan_keys", (orphans._1 + orphans._2).toDouble)
    }
    OpResult(results.map(r => math.max(0L, r.rows)).sum, srcBytes,
      Day(tallies, results, evolvedExtra, jdbc, monthDiffs, hashMismatches, orphans))
  }

  def check(i: Int, res: OpResult, c: Checks): Unit = {
    val d = res.payload.asInstanceOf[Day]
    for (t <- gen.keyedTables) {
      val (ins, upd, _) = truth(t)
      val m = d.tallies(t)
      c("tally_matches_planted", m.getOrElse(Merge.Insert, 0L) == ins &&
        m.getOrElse(Merge.Update, 0L) == upd,
        s"day ${i + 1} $t: tally $m, planted inserts $ins updates $upd")
    }
    val modes = d.results.map(r => r.table -> r.mode).toMap
    c("table_modes", d.results.forall(r => r.error.isEmpty && modes(r.table) == expectedMode(r.table))
      && d.evolvedExtra == 0,
      s"day ${i + 1}: ${d.results.map(r => s"${r.table}=${r.mode}${r.error.map(" " + _).getOrElse("")}")}" +
        s", evolve added ${d.evolvedExtra} columns")
    for (t <- gen.keyedTables) {
      val keys = Seq(gen.keyOf(t))
      val notSkip = Merge.classify(TableSpec.read(spark, src, t),
          Sinks.targetState(spark, s"$tgt/$t", keys), keys)
        .filter(col(Merge.ActionCol) =!= Merge.Skip).count()
      c("reclassify_all_skip", notSkip == 0, s"day ${i + 1} $t: $notSkip rows not skipped")
    }
    c("orphan_keys_empty", d.orphans == ((0L, 0L)), s"day ${i + 1}: orphans ${d.orphans}")
    c("reconcile_aligned", d.monthDiffs == 0 && d.hashMismatches == 0,
      s"day ${i + 1}: ${d.monthDiffs} month diffs, ${d.hashMismatches} row-hash mismatches")
    val (ins, upd, _) = truth("orders")
    val cols = Seq("o_orderkey", "id", "row_hash")
    val derby = Sinks.jdbcScan(spark, url, "ORDERS", props).select(cols.map(c => col(c).as(s"d_$c")): _*)
    val parquet = spark.read.parquet(s"$tgt/orders").select(cols.map(col): _*)
    val diff = derby.join(parquet, col("d_o_orderkey") === col("o_orderkey"), "full_outer")
      .filter(!(col("d_id") <=> col("id")) || !(col("d_row_hash") <=> col("row_hash")))
      .count()
    c("derby_matches_parquet", diff == 0 && d.jdbc == ((ins, upd)),
      s"day ${i + 1}: $diff rows differ, jdbc (inserted, updated) ${d.jdbc} vs planted ($ins, $upd)")
  }

  override def layerFigures(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    val changed = tr.counts("Merge.changed")
    Map("Merge.target_rows_read_per_changed_row" ->
      (if (changed > 0) tr.counts("Merge.target_rows") / changed else 0.0))
  }

  def info: Map[String, Any] = Map(
    "scale_orders_rows" -> gen.base.head._3,
    "tables" -> gen.tables,
    "inserts_per_day" -> gen.rates.map { case (t, r) => t -> r._1 },
    "update_share_per_day" -> gen.rates.map { case (t, r) => t -> r._2 },
    "setup_source_bytes" -> setupBytes,
    "last_day_truth" -> truth.map { case (t, (i, u, n)) =>
      t -> Map("inserted" -> i, "updated" -> u, "rows" -> n) })

  override def close(): Unit =
    try java.sql.DriverManager.getConnection(s"$url;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing
}
