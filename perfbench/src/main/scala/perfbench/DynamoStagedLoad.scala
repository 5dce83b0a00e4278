package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{Reconcile, StagedFiles}
import graft.pipeline.Pipelines

/** Seeded DynamoDB-stream envelopes (INSERT / MODIFY / REMOVE with a
  * NEW_IMAGE in AttributeValue wire JSON), one NDJSON file per tick. The
  * model counts the rows the warehouse must hold: one per INSERT or
  * MODIFY envelope, overall and per key. */
final class DynamoGen(seed: Long) {
  import DynamoGen.Tick

  private val rnd = new SplittableRandom(seed)
  private val live = mutable.ArrayBuffer.empty[String]
  private val pos = mutable.HashMap.empty[String, Int]
  private var nextId = 0L
  val perKey = mutable.HashMap.empty[String, Long]
  var upserts = 0L
  var liveBytes = 0L
  private val zipf = new Zipf(4096, 1.1)
  private val symbols = Vector("AAPL", "AMZN", "GOOG", "MSFT", "NVDA", "TSLA", "META", "NFLX")

  private def image(id: String): String = {
    val qty = 1 + rnd.nextInt(500)
    val price = f"${1 + rnd.nextInt(90000) / 100.0}%.2f"
    val side = rnd.nextBoolean()
    val sym = symbols(rnd.nextInt(symbols.size))
    s"""{"id":{"S":"$id"},"symbol":{"S":"$sym"},"qty":{"N":"$qty"},""" +
      s""""price":{"N":"$price"},"buy":{"BOOL":$side},""" +
      s""""tags":{"L":[{"S":"t${rnd.nextInt(10)}"}]}}"""
  }
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def tick(k: Int, rows: Int): Tick = {
    val b = new StringBuilder
    var ups = 0
    var payload = 0L
    var probe = ""
    var i = 0
    while (i < rows) {
      val r = rnd.nextInt(100)
      val (event, id) =
        if (r < 20 || live.size < 2) {
          val id = s"trade-$nextId"; nextId += 1
          pos(id) = live.size; live += id
          ("INSERT", id)
        } else {
          val id = live(zipf.sample(rnd) % live.size)
          if (r < 90) ("MODIFY", id)
          else {
            val j = pos.remove(id).get
            val last = live.remove(live.size - 1)
            if (last != id) { live(j) = last; pos(last) = j }
            ("REMOVE", id)
          }
        }
      val img = image(id)
      val secs = k * 5L + i / 20
      val ts = java.time.Instant.ofEpochSecond(1700000000L + secs, (i % 20) * 1000000L)
      b ++= s"""{"eventName":"$event","key":"$id","newImage":"${esc(img)}","ts":"$ts"}"""
      b += '\n'
      payload += img.length
      if (event != "REMOVE") {
        ups += 1
        perKey(id) = perKey.getOrElse(id, 0L) + 1
        liveBytes += img.length
        probe = id
      }
      i += 1
    }
    upserts += ups
    Tick(b.toString, ups, payload, probe)
  }
}

object DynamoGen {
  final case class Tick(body: String, upserts: Int, payload: Long, probe: String)
}

/** dynamo_staged_load: one atomically landed envelope file per tick into
  * the live `Pipelines.stageChangeStreamQuery` (→ `StagedFiles.stageBatch`),
  * then `Pipelines.loadTick` and `Reconcile.counts` of staged rows against
  * warehouse rows. Never touches MergeTable. */
final class DynamoStagedLoad(env: Env) extends Instance {
  import DynamoStagedLoad._
  private val spark = env.spark
  private val tr = env.tracer
  private val rec = env.rec
  private val landing = s"${env.dir}/envelopes"
  private val landingTmp = s"${env.dir}/envelopes_tmp"
  private val pipe = s"${env.dir}/pipeline"
  private val stage = s"$pipe/stage"
  private val warehouse = s"$pipe/warehouse"
  private val rows = math.max(10, (TickRows * env.scale).toInt)
  def slotMs(k: Int): Long = PeriodMs

  private val gen = new DynamoGen(env.seed)
  Files.createDirectories(Paths.get(landing))
  Files.createDirectories(Paths.get(landingTmp))
  private val bytes = new ByteTracker(pipe)
  private var nextBatch = 0L
  private var tickNo = 0

  private val query: StreamingQuery = Pipelines.stageChangeStreamQuery(spark,
    landing, stage, s"${env.dir}/checkpoint",
    Trigger.ProcessingTime(s"$TriggerMs milliseconds"), name = "bench_stage")

  /** Land the tick's file atomically: written beside the landing
    * directory, then renamed into it. */
  private def land(k: Int, body: String): Unit = {
    val tmp = Paths.get(landingTmp, f"tick-$k%06d.json")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(landing, f"tick-$k%06d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def stagedRows = spark.read.schema(Pipelines.TradeWarehouseSchema)
    .json(s"$stage/${StagedFiles.ProcessedDir}/*${StagedFiles.DataSuffix}")
  private def warehouseRows = spark.read.parquet(warehouse)

  private def runTick(dueNs: Long, measured: Boolean): Unit = {
    val k = tickNo; tickNo += 1
    val t = gen.tick(k, rows)
    tr.tick = k
    val handoff = System.nanoTime()
    land(k, t.body)
    val done = rec.attempt(s"tick $k") {
      val b = env.feed.next(TickTimeoutMs)
      // the file source reports no row offsets; the staging and the
      // reconciliation below check the batch's contents
      require(b.batchId == nextBatch, s"tick $k arrived as batch ${b.batchId}, expected $nextBatch")
      nextBatch += 1
      if (tr.enabled) {
        Stream.spans(tr, k, handoff, b)
        tr.observe("stage.hop", b.durations.getOrElse("addBatch", 0L) / 1e3)
      }
      val listed = tr.span("stage.list") { StagedFiles.listUnprocessed(spark, stage).size }
      val loaded = tr.span("stage.load") { Pipelines.loadTick(spark, stage, warehouse) }
      tr.count("stage.files_listed", listed)
      tr.count("stage.files_loaded", loaded)
      require(loaded == (if (t.upserts > 0) 1 else 0),
        s"tick $k loaded $loaded staged files")
      require(StagedFiles.listUnprocessed(spark, stage).isEmpty,
        s"tick $k left staged files unprocessed")
      val c = tr.span("reconcile.count") {
        Reconcile.counts(stagedRows, warehouseRows).head()
      }
      val (src, dst) = (c.getAs[Long]("source_count"), c.getAs[Long]("target_count"))
      tr.count("reconcile.rows_scanned", (src + dst).toDouble)
      require(c.getAs[Long]("lag") == 0L && dst == gen.upserts,
        s"tick $k reconciles staged $src vs warehouse $dst rows, " +
          s"model has ${gen.upserts}")
      val visible = System.nanoTime()
      if (measured) {
        rec.freshness += (visible - dueNs) / 1e9
        rec.busyNs += visible - handoff
        rec.rowsApplied += rows
        rec.payloadBytes += t.payload
        rec.add("ticks", 1); rec.add("rows_applied", rows); rec.add("batches", 1)
        rec.add("files_loaded", loaded)
      }
    }
    // the probe: the warehouse holds one row per upsert of the tick's key
    if (done.isDefined && t.probe.nonEmpty) {
      val got = rec.read {
        tr.span("stage.read_key") {
          warehouseRows.filter(col("key") === t.probe).count()
        }
      }
      val want = gen.perKey(t.probe)
      rec.check(got == want, s"probe of ${t.probe} read $got rows, model has $want")
    }
    if (tr.enabled) tr.record("tick", k, handoff, System.nanoTime())
    if (measured) {
      val d = bytes.delta()
      rec.bytesWritten += d
      rec.add("bytes_written", d)
    }
  }

  def warmup(): Unit = {
    (0 until WarmupTicks).foreach(_ => runTick(System.nanoTime(), measured = false))
    bytes.delta()
  }

  def op(k: Int, dueNs: Long): Unit = runTick(dueNs, measured = true)

  def finish(): Unit = {
    val n = rec.attempt("final count") { warehouseRows.count() }
    rec.check(n.contains(gen.upserts), s"warehouse holds $n rows, model ${gen.upserts}")
    val perKey = rec.attempt("final per-key counts") {
      warehouseRows.groupBy("key").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    rec.check(perKey.contains(gen.perKey.toMap), "warehouse per-key counts differ from the model")
  }

  def spaceAmp: Double = bytes.total().toDouble / gen.liveBytes

  def close(): Unit = query.stop()
}

object DynamoStagedLoad {
  val TickRows = 100
  val PeriodMs = 920L
  val TriggerMs = 5L
  val WarmupTicks = 8
  val TickTimeoutMs = 60000L
}
