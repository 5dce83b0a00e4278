package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  *   perfbench.Main --workload <binlog_merge|dynamo_staged_load|warehouse_queries>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --result <file>
  *     [--scale <x>] [--spans <file>]
  * }}}
  *
  * Builds the workload's seed state [[SetupReps]] times (each from
  * scratch; the last one is warmed up and measured), then runs as many
  * operations open-loop as the workload's fixed schedule fits in `--seconds`,
  * checks the final state, and writes one JSON object to `--result` (and,
  * when tracing, every span to `--spans`). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, result: String, scale: Double, spans: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("result"), m.getOrElse("scale", "1").toDouble, m.get("spans"))
  }

  /** Seed-state builds per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** Spark's cores: half the machine's, at most two, so the JVM's own GC
    * and JIT threads and anything else on the machine leave the tasks'
    * cores alone. */
  val Cores: Int = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors / 2))

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .config(graft.Sessions.conf(Cores.toString))
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, env: Env): Instance = name match {
    case "binlog_merge" => new BinlogMerge(env)
    case "dynamo_staged_load" => new DynamoStagedLoad(env)
    case "warehouse_queries" => new WarehouseQueries(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def loadavg: String = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  /** (all, steal) CPU time of the machine so far, in clock ticks, from
    * /proc/stat: steal is time a virtual CPU waited for its host. */
  def cpuTicks: (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadavg
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    val sched = new SchedulerCounters
    spark.sparkContext.addSparkListener(sched)
    val feed = new BatchFeed
    spark.streams.addListener(feed)
    val tracer = new Tracer(a.trace)
    val inputs = s"${a.work}/inputs"
    val g0 = System.nanoTime()
    if (a.workload == "warehouse_queries") WarehouseQueries.inputs(spark, inputs, a.seed, a.scale)
    val genS = (System.nanoTime() - g0) / 1e9

    // build the seed state several times from scratch (the last build is
    // measured), then warm the last one up
    var inst: Instance = null
    var rec: Rec = null
    var carried = 0L
    val seeds = (1 to SetupReps).map { rep =>
      if (inst != null) {
        inst.close()
        carried += rec.failed
        Dirs.deleteRecursively(Paths.get(a.work, s"setup-${rep - 1}"))
      }
      rec = new Rec
      tracer.reset()
      feed.clear()
      val env = Env(spark, a.seed, s"${a.work}/setup-$rep", tracer, rec, feed, a.scale, inputs)
      val t0 = System.nanoTime()
      inst = make(a.workload, env)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    inst.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    rec.failed += carried
    rec.attempted += carried
    val seedS = Stats.median(seeds)

    tracer.reset()
    rec.startMeasuring()
    val (gc0, gcn0) = Jvm.gc
    val sched0 = sched.values
    val pacer = new Pacer(inst.slotMs, a.seconds)
    val ops = pacer.ops
    val (cpuAll0, steal0) = cpuTicks
    val proc0 = processCpuNs
    val m0 = System.nanoTime()
    (0 until ops).foreach { k =>
      if (pacer.await(k)) rec.late += 1
      inst.op(k, pacer.due(k))
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val procCpuS = (processCpuNs - proc0) / 1e9
    val (cpuAll1, steal1) = cpuTicks
    val f0 = System.nanoTime()
    inst.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    val (gc1, gcn1) = Jvm.gc
    Thread.sleep(300) // let the listener bus deliver the last task ends
    val sched1 = sched.values
    val spaceAmp = inst.spaceAmp
    val liveHeap = Jvm.liveHeapMb
    inst.close()
    val rss = Jvm.peakRssMb

    def pct(xs: collection.Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    val fresh = rec.freshness
    val reads = rec.reads
    // every reported percentile needs at least ten samples beyond it
    val freshTail = Stats.tailLevel(fresh.size)
    val readTail = Stats.tailLevel(reads.size)
    rec.check(freshTail.nonEmpty, s"freshness median rests on ${fresh.size} samples")
    rec.check(readTail.nonEmpty, s"read median rests on ${reads.size} samples")

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + seedS + warmS, "s"),
      "freshness_p50_s" -> (pct(fresh, 0.5), "s"),
      "freshness_tail_s" -> (pct(fresh, freshTail.getOrElse(0.5)), "s"),
      "applied_rows_per_s" -> (rec.rowsApplied / math.max(1e-9, rec.busyNs / 1e9), "rows/s"),
      "read_p50_s" -> (pct(reads, 0.5), "s"),
      "read_tail_s" -> (pct(reads, readTail.getOrElse(0.5)), "s"),
      "write_amp" -> (rec.bytesWritten.toDouble / math.max(1L, rec.payloadBytes), "ratio"),
      "space_amp" -> (spaceAmp, "ratio"),
      "live_heap_mb" -> (liveHeap, "MiB"))

    val metrics =
      if (!a.trace) e2e
      else Layers.perLayer(tracer, ops, sessionS, seedS, warmS,
        sched0, sched1, gc1 - gc0, gcn1 - gcn0, pct(fresh, 0.5), pct(reads, 0.5))

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "slot_ms" -> (0 until math.min(ops, 16)).map(inst.slotMs), "ops" -> ops,
      "measured_s" -> measuredS, "finish_s" -> finishS,
      "process_cpu_s" -> procCpuS,
      "steal_share" -> (steal1 - steal0).toDouble / math.max(1L, cpuAll1 - cpuAll0),
      "late_share" -> rec.late.toDouble / math.max(1, ops),
      "freshness_samples" -> fresh.size, "read_samples" -> reads.size,
      "tail_percentile" -> Map("freshness" -> freshTail, "read" -> readTail),
      "failed_op_ratio" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "work" -> rec.work,
      "input_gen_s" -> genS, "seed_s" -> seeds, "warmup_s" -> warmS,
      "session_s" -> sessionS, "peak_rss_mb" -> rss,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> load0, "loadavg_end" -> loadavg,
      "spark_master" -> spark.sparkContext.master,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).filter(f => f.startsWith("-X")).toSeq,
      "freshness_series" -> fresh.map(x => math.rint(x * 1e4) / 1e4),
      "errors" -> rec.errors)
    if (a.trace) {
      record("end_to_end_traced") = e2e.map { case (k, (v, _)) => k -> v }
      record("not_exercised") = metrics.collect { case (k, (0.0, _)) => k }.toSeq
    }
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> (rec.failed == 0),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "record" -> record)
    Files.write(Paths.get(a.result), Json.of(out).getBytes("UTF-8"))
    a.spans.foreach(tracer.dump)
    spark.stop()
  }
}
