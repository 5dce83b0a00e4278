package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, by the library's module names.
  * Times are medians per call unless named `self_s` (mean self time per
  * operation); `spark.*` are per operation; other counts are totals over
  * the measured phase unless named `per_tick`. A layer a workload does not exercise reports
  * 0 and is listed under `not_exercised` in the run record. */
object Layers {
  val Layers: Seq[String] = Seq("stream", "cdc", "lake", "plans", "query", "stage", "reconcile")

  def perLayer(tr: Tracer, ops: Int, sessionS: Double, seedS: Double, warmS: Double,
      sched0: Map[String, Long], sched1: Map[String, Long], gcS: Double, gcN: Long,
      freshP50: Double, readP50: Double): mutable.LinkedHashMap[String, (Double, String)] = {
    val (_, c) = tr.snapshot
    def n(k: String) = c.getOrElse(k, 0.0)
    val (self, uncovered) = tr.selfTimes(ops)
    val considered = n("lake.files_considered")
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "setup.session_s" -> (sessionS, "s"),
      "setup.seed_s" -> (seedS, "s"),
      "setup.warmup_s" -> (warmS, "s"),
      "stream.trigger_wait_s" -> (tr.observedMedian("stream.trigger_wait"), "s"),
      "stream.latest_offset_s" -> (tr.observedMedian("stream.latest_offset"), "s"),
      "stream.planning_s" -> (tr.observedMedian("stream.planning"), "s"),
      "stream.add_batch_s" -> (tr.observedMedian("stream.add_batch"), "s"),
      "stream.wal_commit_s" -> (tr.observedMedian("stream.wal_commit"), "s"),
      "stream.batches_per_tick" -> (n("stream.batches") / math.max(1, ops), "count"),
      "cdc.decode_s" -> (tr.medianOf("cdc.decode"), "s"),
      "lake.fence_s" -> (tr.medianOf("lake.fence"), "s"),
      "lake.prepare_s" -> (tr.medianOf("lake.prepare"), "s"),
      "lake.commit_s" -> (tr.medianOf("lake.commit"), "s"),
      "lake.commit_attempts" -> (n("lake.commit_attempts"), "count"),
      "lake.files_added" -> (n("lake.files_added"), "count"),
      "lake.files_removed" -> (n("lake.files_removed"), "count"),
      "lake.bytes_written" -> (n("lake.bytes_written"), "B"),
      "lake.optimize_runs" -> (n("lake.optimize_runs"), "count"),
      "lake.optimize_s" -> (tr.medianOf("lake.optimize"), "s"),
      "lake.read_key_s" -> (tr.medianOf("lake.read_key"), "s"),
      "lake.read_pruned_s" -> (tr.medianOf("lake.read_pruned"), "s"),
      "lake.read_in_s" -> (tr.medianOf("lake.read_in"), "s"),
      "lake.change_feed_s" -> (tr.medianOf("lake.change_feed"), "s"),
      "lake.files_considered" -> (considered, "count"),
      "lake.files_read" -> (n("lake.files_read"), "count"),
      "lake.prune_ratio" -> (if (considered > 0) 1.0 - n("lake.files_read") / considered else 0.0, "ratio"),
      "lake.live_files" -> (n("lake.live_files"), "count"),
      "lake.dv_files" -> (n("lake.dv_files"), "count"),
      "plans.sql_read_s" -> (tr.medianOf("plans.sql_read"), "s")) ++
      WarehouseQueries.QueryNames.map(q => s"query.${q}_s" -> (tr.medianOf(s"query.$q"), "s")) ++
      Seq(
      "stage.hop_s" -> (tr.observedMedian("stage.hop"), "s"),
      "stage.load_s" -> (tr.medianOf("stage.load"), "s"),
      "stage.files_loaded" -> (n("stage.files_loaded"), "count"),
      "stage.files_listed" -> (n("stage.files_listed"), "count"),
      "reconcile.count_s" -> (tr.medianOf("reconcile.count"), "s"),
      "reconcile.rows_scanned" -> (n("reconcile.rows_scanned"), "count")) ++
      Seq("jobs", "stages", "tasks", "shuffle_write_b", "spill_b").map { k =>
        s"spark.$k" ->
          ((sched1(k) - sched0(k)).toDouble / math.max(1, ops), if (k.endsWith("_b")) "B" else "count")
      } ++
      Seq("jvm.gc_s" -> (gcS, "s"), "jvm.gc_count" -> (gcN.toDouble, "count")) ++
      Layers.map(l => s"$l.self_s" -> (self.getOrElse(l, 0.0), "s")) ++
      Seq("trace.uncovered_share" -> (uncovered, "ratio"),
        "trace.freshness_p50_s" -> (freshP50, "s"),
        "trace.read_p50_s" -> (readP50, "s"))
    m
  }
}
