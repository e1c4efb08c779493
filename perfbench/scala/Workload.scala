package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One operation the client issued: wall seconds from call to return. */
final case class Op(name: String, layer: String, seconds: Double, ok: Boolean)

/** What one iteration did: its operations, the correctness failures found
  * in its outputs, and workload quantities that per-row metrics divide by:
  * `rows` and `at_rest_bytes`, the rows the workload's data at rest holds
  * and the bytes it takes on disk.
  */
final case class Iteration(ops: Seq[Op], failures: Seq[String], quantities: Map[String, Double]) {
  def seconds: Double = ops.map(_.seconds).sum
}

/** Everything a workload needs from the run: the session, the seed, the
  * directory it may write under, the committed data and digests, and the
  * tracer when the run is traced.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
                val benchDir: String, val python: String, val tracer: Tracer) {
  val dataDir: String = s"$benchDir/data"
  private var n = 0
  /** A fresh, empty directory under the run's work root. */
  def freshRoot(tag: String): String = synchronized {
    n += 1
    val p = s"$work/$tag-$n"
    Files2.deleteTree(p)
    new java.io.File(p).mkdirs()
    p
  }

  def tracing: Boolean = tracer != null && tracer.recording

  /** `body` inside a tracer span when tracing is on (the span is null
    * otherwise).
    */
  def span[T](name: String, layer: String)(body: Span => T): T =
    if (tracing) tracer.span(name, layer)(body) else body(null)

  /** Run one client operation, timed; an exception is a failed operation. */
  def op(name: String, layer: String)(body: Span => Unit): Op = {
    val t0 = System.nanoTime()
    val ok = try { span(name, layer)(body); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] operation $name failed: $e")
        false
    }
    Op(name, layer, (System.nanoTime() - t0) / 1e9, ok)
  }
}

trait Workload {
  /** Make the inputs from the seed; returns their description (table,
    * row and byte counts, query lists) for the result record.
    */
  def setup(): Map[String, Any]

  /** Unmeasured iterations at the end of set-up, so that timing starts
    * with warm plans (a long-running service's view).
    */
  def warmUps: Int = 1

  /** One iteration under a fresh root that is deleted afterwards. */
  def iteration(i: Int): Iteration

  /** Per-layer numbers of the iteration just run, from the tracer's spans
    * and jobs. Every layer this workload does not touch reports zero.
    */
  def layers(it: Iteration): Map[String, Double]
}
