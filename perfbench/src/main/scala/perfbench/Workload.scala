package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation's outcome: its wall time and the latency samples
  * it contributes to `op_p50_ms`/`op_p90_ms` (the operation itself for
  * board queries and gates; each 500-record flush for the sink writer).
  */
final case class Sample(op: String, ms: Double, latencies: Seq[Double], ok: Boolean)

/** A closed-loop workload with one client: the runner calls [[run]] for
  * each operation of a pass in turn, and starts the next operation only
  * when the previous one returned.
  */
trait Workload {
  /** Per-JVM state built once, before the first pass: generated inputs,
    * memoized index builds (reached through the first pass itself).
    */
  def prepare(spark: SparkSession): Unit

  /** The operations of one pass, in execution order. */
  def passOps(pass: Int): Seq[String]

  /** Run one operation; the returned sample's time covers the full
    * result. `check` asks for an output check (outside the timed region);
    * a failed check marks the sample not ok.
    */
  def run(spark: SparkSession, op: String, check: Boolean): Sample

  /** Release per-pass state (fakes, cached blocks) outside timing. */
  def endPass(spark: SparkSession): Unit = ()
}
