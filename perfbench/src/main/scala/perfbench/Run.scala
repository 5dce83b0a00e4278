package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measures and counts. Every operation the client attempts
  * (tick, read, maintenance call) is counted; a failed or wrong-result
  * operation counts in `failed`. */
final class Rec {
  val freshness = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var late = 0
  var busyNs = 0L
  var rowsApplied = 0L
  var payloadBytes = 0L
  var bytesWritten = 0L
  /** Work counts a seed must fix exactly (compared by the self-test). */
  val work = mutable.LinkedHashMap.empty[String, Long]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Forget what set-up and warm-up measured; failures stay counted. */
  def startMeasuring(): Unit = {
    freshness.clear(); reads.clear(); work.clear()
    late = 0; busyNs = 0L; rowsApplied = 0L; payloadBytes = 0L; bytesWritten = 0L
  }

  def add(name: String, v: Long): Unit = work(name) = work.getOrElse(name, 0L) + v

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 10) errors += what
  }

  /** Count one attempted operation; a false check counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  /** Run one attempted operation; an exception counts as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$what: ${e.toString.take(300)}")
        None
    }
  }

  /** Time a read call; returns its result. */
  def read[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    reads += (System.nanoTime() - t0) / 1e9
    r
  }
}

/** Everything one workload instance needs. `dir` is private to the
  * instance; `inputs` holds generated inputs shared by the set-ups of one
  * run. The client thread is the only caller of an instance's methods. */
final case class Env(spark: SparkSession, seed: Long, dir: String,
    tracer: Tracer, rec: Rec, feed: BatchFeed, scale: Double, inputs: String)

/** One set-up workload: seeded state, warmed up, ready for ticks. */
trait Instance {
  /** The fixed length of operation k's slot: op k+1 is due this long
    * after op k. */
  def slotMs(k: Int): Long
  def warmup(): Unit
  /** Operation k (a tick or a read), due at `dueNs`. */
  def op(k: Int, dueNs: Long): Unit
  /** Check the final state against the generator's model. */
  def finish(): Unit
  /** Bytes under the table root ÷ bytes of the live rows. */
  def spaceAmp: Double
  def close(): Unit
}

/** Open-loop pacing over a fixed schedule: operation k is due at t0 plus
  * the slots of operations 0..k-1. The client never starts an operation
  * early; it starts late when earlier operations ran past their slots, and
  * that lateness stays in freshness. `ops` is how many slots fit in
  * `seconds`. */
final class Pacer(slotMs: Int => Long, seconds: Int) {
  private val dues = Iterator.iterate((0, 0L)) { case (k, t) => (k + 1, t + slotMs(k)) }
    .map(_._2).takeWhile(_ <= seconds * 1000L).toVector
  val ops: Int = dues.size - 1
  private val t0 = System.nanoTime() + 100000000L
  def due(k: Int): Long = t0 + dues(k) * 1000000L

  /** Wait for op k's due time; true if the client reaches it more than
    * a millisecond late. */
  def await(k: Int): Boolean = {
    val d = due(k)
    var now = System.nanoTime()
    if (now - d > 1000000L) true
    else {
      while (now < d) {
        java.util.concurrent.locks.LockSupport.parkNanos(d - now)
        now = System.nanoTime()
      }
      false
    }
  }
}
