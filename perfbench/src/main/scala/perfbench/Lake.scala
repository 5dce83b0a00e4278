package perfbench

import graft.streaming.{MergeTable, Snapshots}

/** Watches one MergeTable root between ticks: commits, files added and
  * removed, bytes written, and the maintenance cadence the workloads
  * share. All calls come from the client thread while no writer runs. */
final class LakeWatch(env: Env, root: String, smallBytes: Long,
    targetBytes: Long, maxSmall: Int, sweepEvery: Int, retain: Int) {
  private val spark = env.spark
  private val tr = env.tracer
  private val rec = env.rec
  private val bytes = new ByteTracker(root)
  private var gen = 0L
  private var names = Set.empty[String]

  def currentGen: Long = Snapshots.currentGen(spark, root).getOrElse(0L)
  private def manifestNames: Set[String] =
    MergeTable.currentManifest(spark, root).map(_.name).toSet

  /** Start counting from the current state (after seed and warm-up). */
  def baseline(): Unit = {
    gen = currentGen
    names = manifestNames
    bytes.delta()
  }

  /** After a tick and its maintenance: fold the table's changes since the
    * last call into the work counts. */
  def settle(): Unit = {
    val g = currentGen
    val now = manifestNames
    rec.add("commits", g - gen)
    rec.add("files_added", (now -- names).size.toLong)
    rec.add("files_removed", (names -- now).size.toLong)
    val b = bytes.delta()
    rec.add("bytes_written", b)
    rec.bytesWritten += b
    tr.count("lake.files_added", (now -- names).size)
    tr.count("lake.files_removed", (names -- now).size)
    tr.count("lake.bytes_written", b.toDouble)
    gen = g
    names = now
  }

  /** The maintenance a writer runs after each commit: OPTIMIZE when the
    * small-file debt passes `maxSmall`, and a sweep of superseded
    * generations every `sweepEvery` ticks. Each call is an attempted
    * operation. */
  def maintain(tick: Int): Unit = {
    val due = rec.attempt("shouldOptimize") {
      tr.span("lake.should_optimize") {
        MergeTable.shouldOptimize(spark, root, smallBytes, maxSmall)
      }
    }
    if (due.contains(true)) rec.attempt("optimize") {
      tr.span("lake.optimize") {
        MergeTable.optimize(spark, root, smallBytes, targetBytes)
      }
      rec.add("optimize_runs", 1)
      tr.count("lake.optimize_runs", 1)
    }
    if (tick % sweepEvery == sweepEvery - 1) rec.attempt("sweep") {
      tr.span("lake.sweep") {
        MergeTable.sweep(spark, root, retainPredecessors = retain)
      }
    }
  }

  /** Live data files and deletion-vector files of the current generation. */
  def liveFiles: (Int, Int) = {
    val m = MergeTable.genMeta(spark, Snapshots.genDir(root, currentGen))
    (m.entries.size, m.dvs.size)
  }

  def totalBytes: Long = bytes.total()
}
