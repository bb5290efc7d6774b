package graft.perfbench

import scala.collection.mutable

/** What one timed operation reports back to the harness. `units` are input
  * units processed (rows, documents or queries), `inputBytes` the bytes of
  * generated input files the operation read. Only `primary` operations (all
  * of them, except the index writes of `vector_probe`) enter `op_p50_s` and
  * `rows_per_s`, so those do not depend on the mix of kinds in a phase.
  */
final case class OpResult(units: Long, inputBytes: Long, payload: Any = null,
                          primary: Boolean = true)

/** The harness's record of one operation. `scanRows` (rows read by SQL
  * scans) is measured only in the traced run; a `warmup` operation is
  * checked but left out of every timing.
  */
final case class OpRecord(op: Int, seconds: Double, units: Long, inputBytes: Long,
                          bytesWritten: Long, failed: Boolean, scanRows: Double,
                          prepareS: Double, checkS: Double, primary: Boolean,
                          warmup: Boolean = false)

/** Output checks. Every named check a workload declares must run at least
  * once per run, or the run is not correct; a failed check fails the
  * operation it belongs to.
  */
final class Checks(val declared: Seq[String]) {
  val ran = mutable.LinkedHashMap(declared.map(_ -> 0): _*)
  val failed = mutable.LinkedHashMap(declared.map(_ -> 0): _*)
  val failures = mutable.ArrayBuffer.empty[String]
  private var opFailed = false

  def apply(name: String, ok: Boolean, detail: => String): Unit = {
    require(ran.contains(name), s"undeclared check $name")
    ran(name) += 1
    if (!ok) {
      failed(name) += 1
      opFailed = true
      if (failures.size < 50) failures += s"$name: $detail"
    }
  }

  /** Whether any check failed since the last call. */
  def takeFailed(): Boolean = { val f = opFailed; opFailed = false; f }
}

/** One benchmark workload. The harness calls `setup` (timed, repeated on
  * fresh directories), then per operation `prepare` (untimed input
  * generation), `op` (timed) and `check` (untimed).
  */
trait Workload {
  def unitName: String
  def checkNames: Seq[String]
  def setup(): Unit
  def prepare(i: Int): Unit
  def op(i: Int, tr: Tracer): OpResult
  def check(i: Int, res: OpResult, c: Checks): Unit
  /** Called when a timed phase starts, after any warm-up operation. */
  def startPhase(): Unit = ()
  /** Operations a timed phase runs even when its seconds are up. */
  def minOps: Int = 1
  /** Directories the program writes its targets and indexes under. */
  def roots: Seq[String]
  /** Bytes of live user data the roots should hold now. */
  def liveBytes: Long
  /** Input sizes and planted truth, for the artifact. */
  def info: Map[String, Any]
  /** Workload-specific per-layer figures of the traced operations. */
  def layerFigures(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = Map.empty
  def close(): Unit = ()
}
