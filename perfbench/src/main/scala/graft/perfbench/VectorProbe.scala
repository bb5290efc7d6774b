package graft.perfbench

import scala.collection.mutable

import graft.operators.Similarity
import graft.pipeline.Tombstones
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one vector_probe operation hands its checks. */
private final case class Query(ids: Seq[Long], hits: Array[(Long, Long)])
private final case class Write(kind: String, w: Int, removed: Long)

/** The IVF index lifecycle under a probe-heavy mix: most operations are a
  * batch of top-k queries; some are writes instead (a tagged append followed
  * by its replay, a tombstone delete, or the phase's one purge compaction).
  */
final class VectorProbe(spark: SparkSession, seed: Long, rows: Int,
                        dir: String) extends Workload {
  private val gen = new VectorGen(spark, seed, rows)
  private val idx = s"$dir/ivf_index"
  private val (k, nProbe, cells, queriesPerOp) = (10, 4, 16, 8)
  private val appendSize = math.max(50, rows / 40)
  private val deleteSize = math.max(20, rows / 100)
  /** The recall@10 an IVF probe of 4 of 16 cells must keep on this data. */
  private val recallFloor = 0.9

  private var baseBytes = 0L
  private var appended = 0L
  private val deleted = mutable.Set.empty[Long]
  private val purged = mutable.Set.empty[Long]
  private var queryOps = 0

  private def input(name: String) = s"$dir/input/$name.parquet"

  val unitName = "queries"
  val checkNames = Seq("recall_at_10", "no_deleted_id_returned",
    "replay_leaves_row_count", "purge_removes_tombstoned")

  def roots: Seq[String] = Seq(idx)
  private def physicalRows: Long = rows + appended - purged.size
  def liveBytes: Long =
    ((rows + appended - deleted.size).toDouble * baseBytes / rows).toLong

  def setup(): Unit = {
    baseBytes = Gen.write(gen.vectors(1, rows + 1L), input("base"))
    val emb = spark.read.parquet(input("base"))
    val cents = Similarity.kMeansCentroidsSampled(emb, "id", "v", gen.dim, cells,
      sampleFraction = 0.25)
    Similarity.ivfWriteIndex(emb, "id", "v", gen.dim, cells, idx, cents)
  }

  /** Position of the next operation in the current timed phase; negative
    * for the warm-up. Each phase writes at fixed positions among its first
    * six operations, which it always runs: a delete, an append with its
    * replay and the phase's one purge; after that one write every ten
    * operations, deletes and appends in turn. The fixed positions keep
    * `write_amp` and `space_amp` independent of how many operations fit in
    * the phase.
    */
  private var phaseOp = Int.MinValue
  private var writes = 0
  private var current: Option[(String, Int)] = None

  override def startPhase(): Unit = phaseOp = 0
  override def minOps: Int = 6

  private def kindAt(j: Int): Option[String] = j match {
    case 1 => Some("delete")
    case 3 => Some("append")
    case 5 => Some("purge")
    case _ if j >= 15 && (j - 15) % 10 == 0 =>
      Some(if ((j - 15) / 10 % 2 == 0) "delete" else "append")
    case _ => None
  }

  def prepare(i: Int): Unit = {
    current = kindAt(phaseOp).map { kind => writes += 1; (kind, writes - 1) }
    if (phaseOp >= 0) phaseOp += 1
    current.foreach {
      case ("append", w) =>
        val (from, until) = gen.appendRange(w, appendSize)
        Gen.write(gen.vectors(from, until), input(s"append_$w"))
      case ("delete", w) =>
        import spark.implicits._
        Gen.write(gen.deleteIds(w, deleteSize).toDF("id").coalesce(1), input(s"delete_$w"))
      case _ =>
    }
  }

  def op(i: Int, tr: Tracer): OpResult = current match {
    case None =>
      val qids = gen.queryIds(i, queriesPerOp)
      val hits = tr.span("Similarity") {
        tr.frame("Similarity.ivfTopKMultiIndexed")(
            Similarity.ivfTopKMultiIndexed(spark, idx, qids, k, nProbe))
          .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      tr.count("Similarity.results", hits.length.toDouble)
      OpResult(qids.size.toLong, 0L, Query(qids, hits))
    case Some((kind, w)) =>
      val w0 = Probes.fsBytesWritten()
      val (bytesIn, removed) = kind match {
        case "append" =>
          val path = input(s"append_$w")
          def append(): Long = {
            val before = Probes.fsBytesWritten()
            tr.span("Index.append") {
              Similarity.ivfAppendIndex(spark.read.parquet(path), "id", "v", idx, Some(s"a$w"))
            }
            Probes.fsBytesWritten() - before
          }
          append()
          // a crash-replayed batch must be a no-op: it writes nothing
          if (append() == 0) tr.count("Index.replay_noops", 1)
          (2 * Probes.treeBytes(path), 0L)
        case "delete" =>
          val path = input(s"delete_$w")
          tr.span("Index.delete") {
            Tombstones.delete(spark.read.parquet(path), "id", idx, Some(s"d$w"))
          }
          (Probes.treeBytes(path), 0L)
        case _ =>
          (0L, tr.span("Index.compact")(Tombstones.purge(spark, idx, partitionCols = Seq("cell"))))
      }
      tr.count("Index.bytes_written", (Probes.fsBytesWritten() - w0).toDouble)
      OpResult(0L, bytesIn, Write(kind, w, removed), primary = false)
  }

  def check(i: Int, res: OpResult, c: Checks): Unit = res.payload match {
    case Query(qids, hits) =>
      val bad = hits.count(h => deleted(h._2))
      c("no_deleted_id_returned", bad == 0, s"op $i: $bad deleted ids returned")
      if (queryOps % 4 == 0) {
        val live = Tombstones.exclude(spark.read.parquet(idx), idx)
        val truth = Similarity.bruteForceTopKMulti(live, "id", "v", qids, k)
          .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
        val got = hits.toSet
        val recall = truth.count(got).toDouble / math.max(1, truth.length)
        c("recall_at_10", recall >= recallFloor,
          f"op $i: recall@$k $recall%.3f below the floor $recallFloor")
      }
      queryOps += 1
    case Write(kind, w, removed) =>
      kind match {
        case "append" => appended += appendSize
        case "delete" => deleted ++= gen.deleteIds(w, deleteSize)
        case _ =>
          val expected = deleted.count(id => !purged(id))
          purged ++= deleted
          c("purge_removes_tombstoned", removed == expected,
            s"op $i: purge removed $removed rows, $expected were tombstoned")
      }
      if (kind == "append") {
        val n = spark.read.parquet(idx).count()
        c("replay_leaves_row_count", n == physicalRows,
          s"op $i: index holds $n rows after append and replay, expected $physicalRows")
      }
  }

  override def layerFigures(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    val results = tr.counts("Similarity.results")
    val scanned = ops.filter(_.primary).map(_.scanRows).sum
    Map("Similarity.rows_scanned_per_result" -> (if (results > 0) scanned / results else 0.0),
      "Index.files" -> Probes.treeFiles(idx).size.toDouble)
  }

  def info: Map[String, Any] = Map(
    "rows" -> rows, "dim" -> gen.dim, "clusters" -> gen.clusters, "cells" -> cells,
    "n_probe" -> nProbe, "k" -> k, "queries_per_op" -> queriesPerOp,
    "append_rows" -> appendSize, "delete_ids" -> deleteSize, "recall_floor" -> recallFloor,
    "base_input_bytes" -> baseBytes, "appended_rows" -> appended,
    "deleted_ids" -> deleted.size, "purged_ids" -> purged.size)
}
