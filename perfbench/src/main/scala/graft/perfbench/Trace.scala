package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.IdentityHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftperfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span per call into a layer. `kind` is `call` for a layer call,
  * `construct` for building a lazy DataFrame and `action` for materializing
  * it at the layer boundary.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, kind: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Sums keyed by name. */
final class Tally {
  val sum = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = sum(k) = sum.getOrElse(k, 0.0) + v
  def apply(k: String): Double = sum.getOrElse(k, 0.0)
}

/** The traced run's recorder. Spans and counters are kept in memory and
  * written out with the run artifact. When disabled every method is a
  * pass-through, so the untraced run executes exactly the same calls.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   sql: Option[SqlListener] = None) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = new Tally
  private var stack = List.empty[Int]
  private var nextId = 0
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]
  @volatile var op: Int = -1

  def count(name: String, v: Double): Unit = if (enabled) counts.add(name, v)

  /** Rows that file scans of the traced operations have read from under
    * `dir` so far, counted once every finished query is delivered; 0 when
    * untraced.
    */
  def scanRowsUnder(dir: String): Double = sql match {
    case Some(l) if enabled =>
      Bus.drain(spark.sparkContext)
      l.scanRowsUnder(dir)
    case _ => 0.0
  }

  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val sc = spark.sparkContext
      val prevPhase = sc.getLocalProperty(Tracer.PhaseProp)
      if (kind == "construct") sc.setLocalProperty(Tracer.PhaseProp, "construct")
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseProp, prevPhase)
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1, kind)
      }
    }

  /** A layer call that returns a lazy DataFrame. The traced run splits it
    * into construction (the call itself, including any jobs it fires
    * eagerly) and an action that materializes the frame at the boundary,
    * so the work lands in this layer's span. Untraced, the frame stays lazy.
    */
  def frame(name: String)(build: => DataFrame): DataFrame =
    if (!enabled) build
    else span(name) {
      val df = span(s"$name.construct", "construct")(build)
      span(s"$name.action", "action") {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        counts.add(s"$name.rows_out", p.count().toDouble)
        pinned += p
        p
      }
    }

  /** Releases the frames the traced run pinned during one operation. */
  def endOp(): Unit = {
    pinned.foreach(_.unpersist())
    pinned.clear()
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).toSeq
        .sortBy(_.startNs)
        .foldLeft((0L, s.startNs)) { case ((acc, cursor), c) =>
          val from = math.max(cursor, c.startNs)
          val to = math.min(c.endNs, s.endNs)
          if (to > from) (acc + (to - from), to) else (acc, cursor)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

object Tracer {
  val PhaseProp = "perfbench.phase"
  val OpProp = "perfbench.op"
}

/** Job, stage, task, shuffle, spill and GC figures of the operations the
  * traced run times. A job belongs to an operation when it was submitted
  * with the operation's local property set; tasks follow their stage.
  */
final class RuntimeListener extends SparkListener {
  val t = new Tally
  private val stageCounted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private def inOp(p: java.util.Properties): Boolean =
    p != null && p.getProperty(Tracer.OpProp) != null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (inOp(e.properties)) {
      t.add("spark.jobs", 1)
      if (e.properties.getProperty(Tracer.PhaseProp) == "construct")
        t.add("driver.eager_jobs", 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (inOp(e.properties)) {
      stageCounted.add(e.stageInfo.stageId)
      t.add("spark.stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageCounted.contains(e.stageId)) {
      t.add("spark.tasks", 1)
      t.add("spark.task_busy_s", m.executorRunTime / 1e3)
      t.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.add("spark.shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      t.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      t.add("spark.gc_s", m.jvmGCTime / 1e3)
    }
  }
}

/** Per-operator SQL metrics from the final (post-AQE) physical plan of every
  * query that ran while an operation was open. Delivery is asynchronous, so
  * the harness drains the listener bus at each operation boundary and flips
  * `open` only in between. The plan that fills a cached frame is walked with
  * the first query that reads the cache, since that query ran it.
  */
final class SqlListener extends QueryExecutionListener {
  @volatile var open = false
  val t = new Tally
  /** Rows read by file scans, keyed by the scanned root path. */
  val scanRowsByRoot = new Tally
  private val cachesWalked = new IdentityHashMap[AnyRef, java.lang.Boolean]()
  /** operator name -> (instances, output rows, timing metrics in ms) */
  val operators = mutable.LinkedHashMap.empty[String, Array[Double]]

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    if (!open) return
    t.add("sql.queries", 1)
    var parquetWrite = false
    walk(qe.executedPlan) { p =>
      val ms = p.metrics
      def metric(k: String): Double = ms.get(k).map(_.value.toDouble).getOrElse(0.0)
      val rows = metric("numOutputRows")
      val timeMs = ms.values.collect {
        case m if m.metricType == "timing" => m.value.toDouble
        case m if m.metricType == "nsTiming" => m.value / 1e6
      }.sum
      val o = operators.getOrElseUpdate(p.nodeName, Array(0.0, 0.0, 0.0))
      o(0) += 1; o(1) += rows; o(2) += timeMs
      p match {
        case _: ShuffleExchangeExec => t.add("sql.exchange_bytes", metric("dataSize"))
        case _: BroadcastExchangeExec => t.add("sql.broadcast_bytes", metric("dataSize"))
        case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
          parquetWrite = true
          t.add("Sinks.parquet_bytes_written", metric("numOutputBytes"))
          t.add("Sinks.files_written", metric("numFiles"))
        case f: FileSourceScanExec =>
          t.add("sql.scan_rows", rows)
          f.relation.location.rootPaths.foreach(r => scanRowsByRoot.add(r.toUri.getPath, rows))
        case _ if p.children.isEmpty =>
          t.add("sql.scan_rows", rows)
          if (p.nodeName.contains("JDBCRelation")) t.add("Sinks.jdbc_rows_read", rows)
        case _ =>
      }
    }
    if (parquetWrite) t.add("Sinks.parquet_busy_s", durationNs / 1e9)
  }

  private def walk(root: SparkPlan)(f: SparkPlan => Unit): Unit = {
    val seen = new IdentityHashMap[SparkPlan, java.lang.Boolean]()
    def go(p: SparkPlan): Unit = if (seen.put(p, true) == null) p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case m: InMemoryTableScanExec =>
        f(m)
        if (cachesWalked.put(m.relation.cacheBuilder, true) == null) go(m.relation.cachedPlan)
      case _ =>
        f(p)
        p.children.foreach(go)
        p.subqueries.foreach(go)
    }
    go(root)
  }

  /** Rows file scans have read so far from under `dir`. */
  def scanRowsUnder(dir: String): Double = synchronized {
    val prefix = new java.io.File(dir).getAbsolutePath
    scanRowsByRoot.sum.collect { case (root, n) if root.startsWith(prefix) => n }.sum
  }
}

/** Process-wide figures read straight from the JVM and Hadoop. */
object Probes {
  /** Bytes written through Hadoop's local file system since start. */
  def fsBytesWritten(): Long = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (s == null) 0L else Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Total bytes of the regular files under `path`. */
  def treeBytes(path: String): Long = treeFiles(path).map(_.length).sum

  def treeFiles(path: String): Seq[java.io.File] = {
    val root = new java.io.File(path)
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.flatMap(f => treeFiles(f.getPath))
  }
}
