package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Reconcile
import graft.sources.TcpChangelogServer
import graft.streaming.{MergeStream, MergeTable}

/** Seeded Debezium changelog over a keyed table, with its last-wins model.
  * Each tick holds `rows` changes: about 70 % updates and 10 % deletes of
  * live keys chosen Zipf-skewed, and 20 % inserts of new keys. */
final class BinlogGen(seed: Long, initialRows: Int) {
  import BinlogGen.{Img, Tick}

  private val rnd = new SplittableRandom(seed)
  val model = mutable.HashMap.empty[Long, Img]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  private var nextKey = 1L
  private var ver = 0L
  private val zipf = new Zipf(initialRows, 1.1)

  private def img(): Img = {
    ver += 1
    Img(ver, rnd.nextLong(1000000L), s"n-${java.lang.Long.toString(rnd.nextLong(1L << 40), 36)}")
  }
  private def addLive(k: Long): Unit = { pos(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = pos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; pos(last) = i }
  }

  // seeded initial table, live keys in a seeded order (so the Zipf-hot
  // ranks land on keys spread over the key range)
  locally {
    val keys = (1L to initialRows.toLong).toArray
    var i = keys.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1); val t = keys(i); keys(i) = keys(j); keys(j) = t; i -= 1
    }
    (1L to initialRows.toLong).foreach(k => model(k) = img())
    keys.foreach(addLive)
    nextKey = initialRows + 1L
  }

  def afterJson(k: Long, v: Img): String =
    s"""{"id":$k,"ver":${v.ver},"amt":${v.amt},"name":"${v.name}"}"""

  def initialFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(model.toSeq.sortBy(_._1).map { case (k, v) =>
        Row(k, v.ver, v.amt, v.name) }: _*), BinlogGen.Schema)

  def payloadBytes(k: Long, v: Img): Long = afterJson(k, v).length.toLong
  def liveBytes: Long = model.iterator.map { case (k, v) => payloadBytes(k, v) }.sum

  def tick(k: Int, rows: Int): Tick = {
    val lines = new Array[String](rows)
    var payload = 0L
    var probe = 0L
    var i = 0
    while (i < rows) {
      val r = rnd.nextInt(100)
      val ts = 1700000000000L + k * 1000L + i
      if (r < 20 || live.size < 2) {
        val key = nextKey; nextKey += 1
        val v = img(); model(key) = v; addLive(key)
        val a = afterJson(key, v)
        lines(i) = s"""{"payload":{"op":"c","before":null,"after":$a,"ts_ms":$ts}}"""
        payload += a.length; probe = key
      } else {
        val key = live(zipf.sample(rnd) % live.size)
        if (r < 90) {
          val v = img(); model(key) = v
          val a = afterJson(key, v)
          lines(i) = s"""{"payload":{"op":"u","before":null,"after":$a,"ts_ms":$ts}}"""
          payload += a.length
        } else {
          model.remove(key); removeLive(key)
          val b = s"""{"id":$key}"""
          lines(i) = s"""{"payload":{"op":"d","before":$b,"after":null,"ts_ms":$ts}}"""
          payload += b.length
        }
        probe = key
      }
      i += 1
    }
    Tick(lines.toSeq, probe, payload)
  }
}

object BinlogGen {
  final case class Img(ver: Long, amt: Long, name: String)
  final case class Tick(lines: Seq[String], probe: Long, payload: Long)

  val Fields: Seq[(String, DataType)] = Seq("id" -> LongType, "ver" -> LongType,
    "amt" -> LongType, "name" -> StringType)
  val Schema: StructType = StructType(Fields.map { case (n, t) =>
    StructField(n, t, nullable = n != "id") })
}

/** binlog_merge: seeded Debezium ticks over `tcp-changelog` into a
  * copy-on-write MergeTable through `MergeStream.intoTableOcc`, one
  * micro-batch per tick, OPTIMIZE/sweep after each commit, one
  * `readWhereKey` probe per tick. */
final class BinlogMerge(env: Env) extends Instance {
  import BinlogMerge._
  private val spark = env.spark
  private val tr = env.tracer
  private val rec = env.rec
  private val root = s"${env.dir}/lake"
  private val rows = TickRows
  def slotMs(k: Int): Long = PeriodMs

  private val gen = new BinlogGen(env.seed, math.max(1000, (SeedRows * env.scale).toInt))
  tr.span("setup.seed_table") {
    MergeTable.create(spark, root, gen.initialFrame(spark), "id", nFiles = 8)
  }
  private val lake = new LakeWatch(env, root, smallBytes = 48L << 10,
    targetBytes = 256L << 10, maxSmall = 8, sweepEvery = 8, retain = 2)
  private val server = new TcpChangelogServer
  private var nextBatch = 0L
  private var tickNo = 0

  private val query: StreamingQuery = {
    val src = spark.readStream.format("tcp-changelog")
      .option("port", server.port.toString)
      .option("eventsPerBatch", rows.toString).load()
    val ckpt = s"${env.dir}/checkpoint"
    if (!tr.enabled)
      MergeStream.intoTableOcc(src, root, "id", BinlogGen.Fields, ckpt,
        StreamId, triggerMs = TriggerMs)
    else
      // the sink body of intoTableOcc, as the same public calls, each in
      // a span: fence → decode → prepare → commit
      src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            val s = batch.sparkSession
            val applied = tr.span("lake.fence") {
              MergeTable.appliedStreamBatchIds(s, root).get(StreamId).exists(_ >= batchId)
            }
            if (!applied) {
              val changes = MergeStream.debeziumToChanges(batch, BinlogGen.Fields)
              tr.span("cdc.decode") {
                changes.write.format("noop").mode("overwrite").save()
              }
              val h = tr.span("lake.prepare") {
                MergeTable.prepareMerge(s, root, changes, "id")
              }.copy(streamBatch = Some(StreamId -> batchId))
              val o = tr.span("lake.commit") {
                MergeTable.commitPrepared(s, root, h, maxAttempts = 20)
              }
              tr.count("lake.commit_attempts", o.attempts)
            }
          }
          ()
        }
        .trigger(Trigger.ProcessingTime(s"$TriggerMs milliseconds"))
        .start()
  }

  /** One tick: hand it to the source, wait until its micro-batch has
    * committed, probe one changed key, run maintenance. */
  private def runTick(dueNs: Long, measured: Boolean): Unit = {
    val k = tickNo; tickNo += 1
    val t = gen.tick(k, rows)
    tr.tick = k
    val handoff = System.nanoTime()
    server.append(t.lines)
    val ok = rec.attempt(s"tick $k") {
      val b = env.feed.next(TickTimeoutMs)
      val visible = System.nanoTime()
      require(b.batchId == nextBatch && b.rows == rows,
        s"tick $k arrived as batch ${b.batchId} with ${b.rows} rows " +
          s"(expected batch $nextBatch with $rows)")
      nextBatch += 1
      if (tr.enabled) Stream.spans(tr, k, handoff, b)
      if (measured) {
        rec.freshness += (visible - dueNs) / 1e9
        rec.rowsApplied += rows
        rec.payloadBytes += t.payload
        rec.add("ticks", 1); rec.add("rows_applied", rows); rec.add("batches", 1)
      }
      visible
    }
    // the probe: the tick's last changed key must read back as the model has it
    if (ok.isDefined) probe(t.probe)
    val m0 = System.nanoTime()
    lake.maintain(k)
    val end = System.nanoTime()
    if (tr.enabled) tr.record("tick", k, handoff, end)
    if (measured) {
      rec.busyNs += (ok.getOrElse(handoff) - handoff) + (end - m0)
      lake.settle()
    }
  }

  private def probe(key: Long): Unit = {
    val got = rec.read {
      tr.span("lake.read_key") {
        MergeTable.readWhereKey(spark, root, key, key).collect().toSeq
      }
    }
    val want = gen.model.get(key).map(v => Row(key, v.ver, v.amt, v.name)).toSeq
    rec.check(got == want, s"probe of key $key read $got, model has $want")
  }

  def warmup(): Unit = {
    (0 until WarmupTicks).foreach(_ => runTick(System.nanoTime(), measured = false))
    lake.baseline()
  }

  def op(k: Int, dueNs: Long): Unit = runTick(dueNs, measured = true)

  def finish(): Unit = {
    val table = MergeTable.read(spark, root)
    val model = gen.model.toSeq.map { case (k, v) => Row(k, v.ver, v.amt, v.name) }
    val modelDf = spark.createDataFrame(java.util.Arrays.asList(model: _*), BinlogGen.Schema)
    val diff = rec.attempt("final keyDiff") {
      Reconcile.keyDiff(modelDf, table, "id").count()
    }
    rec.check(diff.contains(0L), s"final keyDiff has $diff keys")
    val c = rec.attempt("final counts") {
      Reconcile.counts(modelDf, table).head()
    }
    rec.check(c.exists(r => r.getAs[Long]("lag") == 0L &&
      r.getAs[Long]("target_count") == model.size.toLong), s"final counts $c")
    val rowsEqual = rec.attempt("final rows") {
      table.exceptAll(modelDf).isEmpty && modelDf.exceptAll(table).isEmpty
    }
    rec.check(rowsEqual.contains(true), "final table differs from the model")
    val (files, dvs) = lake.liveFiles
    tr.count("lake.live_files", files)
    tr.count("lake.dv_files", dvs)
  }

  def spaceAmp: Double = lake.totalBytes.toDouble / gen.liveBytes

  def close(): Unit = {
    try query.stop() finally server.close()
  }
}

object BinlogMerge {
  val StreamId = "binlog"
  val SeedRows = 20000
  val TickRows = 100
  val PeriodMs = 920L
  val TriggerMs = 5L
  val WarmupTicks = 8
  val TickTimeoutMs = 60000L
}
