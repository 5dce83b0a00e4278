package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval at a layer boundary. `name` is `layer.op`; spans of
  * one tick share `tick`; `parent` is the id of the enclosing span
  * (0 = the tick itself is the root). Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, tick: Int, name: String,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span store and counters for the traced run. Spans are kept
  * in memory and summarised when the run ends. A disabled tracer runs
  * the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val observed = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** The tick whose spans are being recorded; set by the client before
    * it hands a tick to the source, read by the sink thread. */
  @volatile var tick: Int = -1

  def span[T](name: String, tick: Int = this.tick)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally record(name, tick, t0, System.nanoTime())
    }

  /** Record a finished span. Layer spans are leaves; the client records
    * one `tick` span per tick, which is the parent of every other span
    * of that tick. */
  def record(name: String, tick: Int, start: Long, end: Long): Unit =
    if (enabled) synchronized {
      spans += Span(ids.incrementAndGet(), if (name == "tick") 0L else -1L,
        tick, name, start, end)
    }

  /** A per-call value reported by a layer itself (seconds), summarised
    * as a median. */
  def observe(name: String, v: Double): Unit =
    if (enabled) synchronized(observed.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)
  def observedMedian(name: String): Double = synchronized {
    observed.get(name).filter(_.nonEmpty).map(Stats.median(_)).getOrElse(0.0)
  }

  def reset(): Unit = synchronized { spans.clear(); counts.clear(); observed.clear() }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized(counts(name) = counts.getOrElse(name, 0.0) + v)

  /** Write every span as one JSON line (times in nanoseconds). */
  def dump(path: String): Unit = {
    val lines = snapshot._1.map(s => Json.of(Map("id" -> s.id, "parent" -> s.parent,
      "tick" -> s.tick, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def snapshot: (Seq[Span], Map[String, Double]) =
    synchronized((spans.toList, counts.toMap))

  /** Median duration of the spans named `name` (0 when none ran). */
  def medianOf(name: String): Double = {
    val d = snapshot._1.filter(_.name == name).map(_.seconds)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  /** Per layer: mean self time per tick (layer spans are leaves, so a
    * layer's self time is the union of its spans), and the median share
    * of each tick's wall time that no layer span covers. */
  def selfTimes(ticks: Int): (Map[String, Double], Double) = {
    val (all, _) = snapshot
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L
      var a = -1L
      var b = -1L
      iv.filter { case (x, y) => y > x }.sortBy(_._1).foreach { case (x, y) =>
        if (x > b) { if (b > a) total += b - a; a = x; b = y }
        else b = math.max(b, y)
      }
      if (b > a) total += b - a
      total
    }
    val leaves = all.filter(_.name != "tick")
    val self = leaves.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.groupBy(_.tick).values.map(t => union(t.map(s => (s.start, s.end)))).sum /
        1e9 / math.max(1, ticks)
    }
    val byTick = leaves.groupBy(_.tick)
    val uncovered = all.filter(_.name == "tick").map { t =>
      val wall = (t.end - t.start).toDouble
      val kids = byTick.getOrElse(t.tick, Nil)
        .map(s => (math.max(s.start, t.start), math.min(s.end, t.end)))
      if (wall <= 0) 0.0 else (wall - union(kids)) / wall
    }
    (self, if (uncovered.isEmpty) 0.0 else Stats.median(uncovered))
  }
}

/** Scheduler counters from a SparkListener: jobs, stages, tasks,
  * shuffle bytes written and bytes spilled. */
final class SchedulerCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def values: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "shuffle_write_b" -> shuffleWrite.get,
    "spill_b" -> spill.get)
}

/** Hands finished micro-batches of the benchmark's streaming query to the
  * client thread. Idle triggers (no input rows) are dropped. */
final class BatchFeed extends StreamingQueryListener {
  import BatchFeed.Batch
  private val q = new LinkedBlockingQueue[Batch]()
  @volatile var failure: Option[String] = None

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x))
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      q.put(Batch(p.batchId, offsetRows(p).getOrElse(p.numInputRows),
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        System.nanoTime(), System.currentTimeMillis()))
  }

  private def offsetRows(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Option[Long] =
    p.sources.headOption.flatMap { s =>
      def count(o: String) = if (o == null || o == "null") Some(0L) else o.trim.toLongOption
      for (e <- count(s.endOffset); b <- count(s.startOffset)) yield e - b
    }

  /** The next finished non-empty batch, or a failure after `timeoutMs`. */
  def next(timeoutMs: Long): Batch = {
    val b = q.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    if (b == null)
      throw new IllegalStateException(
        s"no micro-batch finished within $timeoutMs ms" +
          failure.map(f => s": $f").getOrElse(""))
    b
  }
  def clear(): Unit = q.clear()
}

object BatchFeed {
  /** `rows` is the batch's source offset range when the source reports
    * plain counts (tcp-changelog), else Spark's input row count. */
  final case class Batch(batchId: Long, rows: Long, startMs: Long,
      durations: Map[String, Long], receivedNs: Long, receivedMs: Long) {
    /** The trigger's start on the nanoTime clock (millisecond precision). */
    def startNs: Long = receivedNs - (receivedMs - startMs) * 1000000L
  }
}

object Jvm {
  def gc: (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  /** Heap in use after a full collection, MiB: what the program retains,
    * independent of how far the collector let the heap grow. Spark's
    * context cleaner drops broadcast and shuffle blocks only after a
    * collection has found their owners unreachable, and that frees more in
    * turn (in one run: 116, 115, 82.6, 82.6 MiB), so this collects at least
    * four times, half a second apart, and until two readings agree to
    * 0.05 MiB. */
  def liveHeapMb: Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(500)
      prev = cur
      cur = used()
      rounds += 1
    } while ((rounds < 3 || math.abs(prev - cur) >= 0.05) && rounds < 10)
    cur
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Wall-clock epoch millis at which this JVM started. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** The streaming engine's part of a tick, from the micro-batch's
  * progress report: the wait from hand-off to trigger start, the trigger
  * phases before and after the sink (as spans), and the per-phase
  * durations Spark reports (as observations). */
object Stream {
  def spans(tr: Tracer, tick: Int, handoffNs: Long, b: BatchFeed.Batch): Unit = {
    val d = b.durations.withDefaultValue(0L)
    val start = math.max(handoffNs, b.startNs)
    val end = b.startNs + d("triggerExecution") * 1000000L
    val sinkStart = end - (d("addBatch") + d("commitOffsets")) * 1000000L
    tr.record("stream.trigger_wait", tick, handoffNs, start)
    tr.record("stream.pre_sink", tick, start, sinkStart)
    tr.record("stream.post_sink", tick, end - d("commitOffsets") * 1000000L, end)
    tr.count("stream.batches", 1)
    tr.observe("stream.trigger_wait", (start - handoffNs) / 1e9)
    Seq("latestOffset" -> "stream.latest_offset", "queryPlanning" -> "stream.planning",
      "addBatch" -> "stream.add_batch", "walCommit" -> "stream.wal_commit")
      .foreach { case (key, name) => tr.observe(name, d(key) / 1e3) }
  }
}
