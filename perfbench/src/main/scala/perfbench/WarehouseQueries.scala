package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.SnapshotSqlCatalog
import graft.streaming.{MergeTable, Snapshots}

/** Seeded TPC-H-shaped star schema (row counts of the given scale factor)
  * plus events, written as parquet the way the library's queries read
  * them (`<dir>/<table>.parquet`). Orders are generated on the driver,
  * because they also seed the lake table and its model. */
object StarGen {
  final case class Order(cust: Long, status: String, price: Long, entry: Long, ver: Long)

  val LakeSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("price_cents", LongType), StructField("o_entry", LongType),
    StructField("ver", LongType)))

  private val Statuses = Vector("F", "O", "P")

  def customers(sf: Double): Int = math.max(100, (150000 * sf).toInt)

  def orders(seed: Long, sf: Double): java.util.TreeMap[Long, Order] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    val n = math.max(1000, (1500000 * sf).toInt)
    val m = new java.util.TreeMap[Long, Order]()
    (1L to n.toLong).foreach(k => m.put(k, order(rnd, k, customers(sf), 0L)))
    m
  }

  def order(rnd: SplittableRandom, key: Long, nCust: Int, ver: Long): Order =
    Order(1L + rnd.nextInt(nCust), Statuses(rnd.nextInt(3)),
      100L + rnd.nextLong(50000000L), key / 8 + rnd.nextInt(4), ver)

  def lakeRow(k: Long, o: Order): Row = Row(k, o.cust, o.status, o.price, o.entry, o.ver)

  /** Write the star schema and the lake table's seed rows under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
      model: java.util.TreeMap[Long, Order]): Unit = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def pick(salt: Int, xs: String*) =
      element_at(array(xs.map(lit): _*), (pmod(h(salt), lit(xs.size.toLong)) + 1).cast("int"))
    val nCust = customers(sf)
    val nOrders = model.size
    val base = 757382400000000L // 1994-01-01, micros
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
      .write.parquet(s"$dir/region.parquet")
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
      .write.parquet(s"$dir/nation.parquet")
    spark.range(1, nCust + 1L).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(h(2), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(h(3), lit(1100000L)) / 100.0 - 1000.0).as("c_acctbal"),
      pick(4, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")
    val orderRows = model.asScala.iterator.map { case (k, o) =>
      Row(k, o.cust, o.status, o.price / 100.0, o.entry) }.toSeq
    spark.createDataFrame(orderRows.asJava, StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("entry", LongType))))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        timestamp_micros(lit(base) + (col("entry") * 86400000000L / 256).cast("long")).as("o_orderdate"),
        element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .map(lit): _*), (pmod(col("o_orderkey"), lit(5L)) + 1).cast("int")).as("o_orderpriority"))
      .write.parquet(s"$dir/orders.parquet")
    val qty = (pmod(h(5), lit(50L)) + 1).cast("double")
    spark.range(0, nOrders * 4L).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h(6), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(7), lit(1000L)) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pmod(h(8), lit(100000L)) / 100.0), 2).as("l_extendedprice"),
      (pmod(h(9), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(10), lit(9L)) / 100.0).as("l_tax"),
      pick(11, "A", "N", "R").as("l_returnflag"),
      pick(12, "F", "O").as("l_linestatus"),
      timestamp_micros(lit(base) + pmod(h(13), lit(2500L)) * 86400000000L).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
    spark.range(0, math.max(1000L, (1000000 * sf).toLong)).select(
      (col("id") + 1).as("event_id"),
      timestamp_micros(lit(1700000000000000L) + pmod(h(14), lit(86400000000L * 30))).as("ts"),
      (pmod(h(15), lit(5000L)) + 1).as("user_id"),
      pick(16, "view", "click", "purchase", "signup").as("event_type"),
      round(pmod(h(17), lit(100000L)) / 100.0, 2).as("value"),
      lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    spark.createDataFrame(model.asScala.iterator.map { case (k, o) => lakeRow(k, o) }
      .toSeq.asJava, LakeSchema).write.parquet(s"$dir/lake_seed.parquet")
  }
}

/** warehouse_queries: one client runs a seeded read mix over a
  * merge-on-read MergeTable seeded from orders and over the star schema,
  * and every few operations applies a `mergeOccExactlyOnce` tick. */
final class WarehouseQueries(env: Env) extends Instance {
  import StarGen.Order
  import WarehouseQueries._
  private val spark = env.spark
  private val tr = env.tracer
  private val rec = env.rec
  private val sfDir = s"${env.inputs}/star"
  private val root = s"${env.dir}/lake_orders"
  private val sf = Sf * env.scale
  /** A slot about twice the operation's usual service time, so a slow
    * kind does not push a backlog onto the reads behind it. */
  def slotMs(k: Int): Long =
    if (isTick(WarmupOps + k)) TickSlotMs
    else SlotMs(ReadMix(readsBefore(WarmupOps + k) % ReadMix.size))

  private def isTick(k: Int) = k % TickEvery == TickEvery - 1
  private def readsBefore(k: Int) = k - k / TickEvery

  private val model = StarGen.orders(env.seed, sf)
  private val rnd = new SplittableRandom(env.seed * 131 + 3)
  private val nCust = StarGen.customers(sf)
  private var nextKey = model.lastKey() + 1
  private var seq = 0L
  private var tickNo = 0L
  private var reads = 0
  private var queries = 0
  private val zipf = new Zipf(math.max(16, model.size / 4), 1.1)
  // live keys in a seeded order, so the Zipf-hot ranks spread over the key range
  private val liveKeys = {
    val ks = mutable.ArrayBuffer.empty[Long] ++ model.keySet.asScala
    (ks.size - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = ks(i); ks(i) = ks(j); ks(j) = t
    }
    ks
  }
  private val livePos = mutable.HashMap.empty[Long, Int] ++ liveKeys.zipWithIndex
  private var liveBytes = model.asScala.iterator.map { case (k, o) => rowBytes(k, o) }.sum

  /** (generation, key → (before, after)) of each recent data tick. */
  private val history = mutable.Queue.empty[(Long, Map[Long, (Option[Order], Option[Order])])]
  private val queryHash = mutable.HashMap.empty[String, Int]

  tr.span("setup.seed_table") {
    MergeTable.create(spark, root, spark.read.parquet(s"$sfDir/lake_seed.parquet"),
      "o_orderkey", nFiles = 16)
    SnapshotSqlCatalog.registerMerge(spark, "lake_orders", root)
  }
  private val lake = new LakeWatch(env, root, smallBytes = 96L << 10,
    targetBytes = 512L << 10, maxSmall = 12, sweepEvery = 16, retain = 4)

  /** Bytes of a row image as JSON: the payload unit of write and space
    * amplification. */
  private def rowBytes(k: Long, o: Order): Long =
    (s"""{"o_orderkey":$k,"o_custkey":${o.cust},"o_orderstatus":"${o.status}",""" +
      s""""price_cents":${o.price},"o_entry":${o.entry},"ver":${o.ver}}""").length.toLong

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))
  private def want(it: Iterable[(Long, Order)]): Seq[Row] =
    it.toSeq.sortBy(_._1).map { case (k, o) => StarGen.lakeRow(k, o) }
  private def modelRange(lo: Long, hi: Long): Iterable[(Long, Order)] =
    model.subMap(lo, true, hi, true).asScala

  /** Files the read's scan opens, out of the current manifest's. */
  private def pruning(df: DataFrame): Unit =
    if (tr.enabled) {
      val names = MergeTable.currentManifest(spark, root).map(_.name).toSet
      val read = df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).count(names)
      tr.count("lake.files_considered", names.size)
      tr.count("lake.files_read", read)
    }

  private def readCheck(kind: String, span: String)(df: => DataFrame)(expected: => Seq[Row]): Unit = {
    val got = rec.attempt(kind) {
      rec.read(tr.span(span) {
        val d = df
        pruning(d)
        rowsOf(d)
      })
    }
    got.foreach { g =>
      val w = expected
      rec.check(g == w, s"$kind read ${g.size} rows, model has ${w.size}" +
        s" (first diff: ${g.diff(w).take(2)} / ${w.diff(g).take(2)})")
    }
  }

  private def randomKey(): Long = liveKeys(zipf.sample(rnd) % liveKeys.size)
  private def entryBand(w: Long): (Long, Long) = {
    val lo = randomKey() / 8
    (lo, lo + w)
  }

  /** The next read of the mix. Kinds come in a fixed cycle, so every seed
    * runs the same composition; the seed picks keys and bands. */
  private def read(): Unit = {
    val kind = ReadMix(reads % ReadMix.size)
    reads += 1
    kind match {
      case "key_point" =>
        val key = if (reads % 5 == 0) nextKey + 5 else randomKey() // some misses
        readCheck("readWhereKey point", "lake.read_key")(
          MergeTable.readWhereKey(spark, root, key, key))(want(Option(model.get(key)).map(key -> _)))
      case "key_range" =>
        val lo = randomKey(); val hi = lo + 200
        readCheck("readWhereKey range", "lake.read_key")(
          MergeTable.readWhereKey(spark, root, lo, hi))(want(modelRange(lo, hi)))
      case "col_range" =>
        val (lo, hi) = entryBand(40)
        readCheck("readWhereCol entry band", "lake.read_pruned")(
          MergeTable.readWhereCol(spark, root, "o_entry", lo, hi))(
          want(modelRange(8 * (lo - 4), 8 * hi + 8).filter { case (_, o) => o.entry >= lo && o.entry <= hi }))
      case "pruned" =>
        val (lo, hi) = entryBand(120)
        readCheck("readWhere pruned", "lake.read_pruned")(
          MergeTable.readWhere(spark, root,
            col("o_entry").between(lo, hi) && col("o_orderstatus") === "F"))(
          want(modelRange(8 * (lo - 4), 8 * hi + 8)
            .filter { case (_, o) => o.entry >= lo && o.entry <= hi && o.status == "F" }))
      case "in_list" =>
        val keys = Seq.fill(12)(randomKey()).distinct
        readCheck("readWhere IN-list", "lake.read_in")(
          MergeTable.readWhere(spark, root, col("o_orderkey").isin(keys: _*)))(
          want(keys.flatMap(x => Option(model.get(x)).map(x -> _))))
      case "change_feed" => changeFeed()
      case "sql" => sqlRead()
      case "query" =>
        entryQuery(QueryNames(queries % QueryNames.size))
        queries += 1
    }
  }

  private def changeFeed(): Unit = {
    val gTo = lake.currentGen
    val gFrom = gTo - FeedWindow
    val retained = Snapshots.generations(spark, root).toSet
    if (retained.contains(gFrom)) {
      val window = history.filter { case (g, _) => g > gFrom && g <= gTo }
      val net = mutable.LinkedHashMap.empty[Long, (Option[Order], Option[Order])]
      window.foreach { case (_, ch) => ch.foreach { case (key, (b, a)) =>
        net(key) = (net.get(key).map(_._1).getOrElse(b), a)
      } }
      val expected = net.toSeq.flatMap { case (key, (b, a)) =>
        if (b == a) Nil
        else b.map(o => ("d", StarGen.lakeRow(key, o))).toSeq ++
          a.map(o => ("i", StarGen.lakeRow(key, o))).toSeq
      }.map { case (c, r) => Row.fromSeq(r.toSeq :+ c) }.sortBy(r => (r.getLong(0), r.getString(6)))
      val got = rec.attempt("changesBetween") {
        rec.read(tr.span("lake.change_feed") {
          MergeTable.changesBetween(spark, root, gFrom, gTo)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "price_cents", "o_entry", "ver", "change")
            .collect().toSeq
        })
      }
      got.foreach { g =>
        val s = g.sortBy(r => (r.getLong(0), r.getString(6)))
        rec.check(s == expected, s"changesBetween($gFrom, $gTo) read ${s.size} rows, " +
          s"model has ${expected.size}")
      }
    } else sqlRead()
  }

  private def sqlRead(): Unit = {
    val lo = randomKey(); val hi = lo + 2000
    val got = rec.attempt("sql read") {
      rec.read(tr.span("plans.sql_read") {
        spark.sql(
          s"""SELECT o_orderstatus, count(*) AS n, sum(price_cents) AS s
             |FROM lake_orders WHERE o_orderkey BETWEEN $lo AND $hi
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      })
    }
    got.foreach { g =>
      val w = modelRange(lo, hi).groupBy(_._2.status).toSeq.sortBy(_._1)
        .map { case (s, xs) => (s, xs.size.toLong, xs.map(_._2.price).sum) }
      rec.check(g == w, s"sql read [$lo, $hi] gave $g, model $w")
    }
  }

  private def entryQuery(name: String): Unit = {
    val got = rec.attempt(name) {
      rec.read(tr.span(s"query.$name") {
        graft.SparkEntry.queries(name)(spark, sfDir).collect()
      })
    }
    got.foreach { rows =>
      val h = scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted)
      val first = queryHash.getOrElseUpdate(name, h)
      rec.check(rows.nonEmpty && h == first, s"$name result hash changed")
    }
  }

  /** One merge-on-read tick of seeded changes, exactly once. */
  private def tick(dueNs: Long, measured: Boolean): Unit = {
    tickNo += 1
    val changes = mutable.LinkedHashMap.empty[Long, (Option[Order], Option[Order])]
    val rows = (0 until TickRows).map { _ =>
      val r = rnd.nextInt(100)
      seq += 1
      if (r < 20) {
        val key = nextKey; nextKey += 1
        val o = StarGen.order(rnd, key, nCust, tickNo)
        set(changes, key, Some(o))
        Row.fromSeq("u" +: seq +: StarGen.lakeRow(key, o).toSeq)
      } else {
        val key = randomKey()
        if (r < 90) {
          val o = StarGen.order(rnd, key, nCust, tickNo).copy(entry = model.get(key).entry)
          set(changes, key, Some(o))
          Row.fromSeq("u" +: seq +: StarGen.lakeRow(key, o).toSeq)
        } else {
          set(changes, key, None)
          Row("d", seq, key, null, null, null, null, null)
        }
      }
    }
    val df = spark.createDataFrame(rows.asJava, StructType(
      StructField("op", StringType) +: StructField("seq", LongType) +: StarGen.LakeSchema.fields))
    val t0 = System.nanoTime()
    val out = rec.attempt(s"mor tick $tickNo") {
      val o =
        if (!tr.enabled)
          MergeTable.mergeOccExactlyOnce(spark, root, df, "o_orderkey", StreamId, tickNo,
            mode = "mor")
        else {
          val applied = tr.span("lake.fence") {
            MergeTable.appliedStreamBatchIds(spark, root).get(StreamId).exists(_ >= tickNo)
          }
          if (applied) None
          else {
            val h = tr.span("lake.prepare") {
              MergeTable.prepareMergeMor(spark, root, df, "o_orderkey")
            }.copy(streamBatch = Some(StreamId -> tickNo))
            val c = tr.span("lake.commit") { MergeTable.commitPrepared(spark, root, h, maxAttempts = 20) }
            tr.count("lake.commit_attempts", c.attempts)
            Some(c)
          }
        }
      o.getOrElse(throw new IllegalStateException(s"tick $tickNo refused as a replay")).gen
    }
    val visible = System.nanoTime()
    out.foreach { g =>
      history.enqueue(g -> changes.toMap)
      while (history.size > 16) history.dequeue()
    }
    val m0 = System.nanoTime()
    lake.maintain(tickNo.toInt)
    val end = System.nanoTime()
    if (measured) {
      rec.busyNs += (visible - t0) + (end - m0)
      rec.rowsApplied += TickRows
      rec.add("ticks", 1); rec.add("rows_applied", TickRows)
      lake.settle()
    }
  }

  private def set(ch: mutable.LinkedHashMap[Long, (Option[Order], Option[Order])],
      key: Long, after: Option[Order]): Unit = {
    val before = Option(model.get(key))
    ch(key) = (ch.get(key).map(_._1).getOrElse(before), after)
    before.foreach(o => liveBytes -= rowBytes(key, o))
    after match {
      case Some(o) =>
        model.put(key, o); liveBytes += rowBytes(key, o)
        if (!livePos.contains(key)) { livePos(key) = liveKeys.size; liveKeys += key }
      case None =>
        model.remove(key)
        livePos.remove(key).foreach { i =>
          val last = liveKeys.remove(liveKeys.size - 1)
          if (last != key) { liveKeys(i) = last; livePos(last) = i }
        }
    }
    rec.payloadBytes += after.map(o => rowBytes(key, o)).getOrElse(s"""{"o_orderkey":$key}""".length.toLong)
  }

  def warmup(): Unit = {
    QueryNames.foreach(entryQuery)
    (0 until WarmupOps).foreach(k => runOp(k, System.nanoTime(), measured = false))
    lake.baseline()
  }

  private def runOp(k: Int, dueNs: Long, measured: Boolean): Unit = {
    tr.tick = k
    val t0 = System.nanoTime()
    if (isTick(k)) tick(dueNs, measured) else read()
    val end = System.nanoTime()
    if (tr.enabled) tr.record("tick", k, t0, end)
    // every operation's response time from its due time
    if (measured) rec.freshness += (end - dueNs) / 1e9
  }

  def op(k: Int, dueNs: Long): Unit = runOp(WarmupOps + k, dueNs, measured = true)

  def finish(): Unit = {
    val all = rec.attempt("final table") { rowsOf(MergeTable.read(spark, root)) }
    rec.check(all.contains(want(model.asScala)), "final table differs from the model")
    val (files, dvs) = lake.liveFiles
    tr.count("lake.live_files", files)
    tr.count("lake.dv_files", dvs)
  }

  def spaceAmp: Double = lake.totalBytes.toDouble / liveBytes

  def close(): Unit = ()
}

object WarehouseQueries {
  /** The benchmark's inputs: the seeded star schema, written once per run
    * (input generation, not part of set-up time). */
  def inputs(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit =
    StarGen.write(spark, s"$dir/star", seed, Sf * scale, StarGen.orders(seed, Sf * scale))

  val StreamId = "warehouse"
  val Sf = 0.01
  val TickSlotMs = 1500L
  val TickEvery = 8
  val TickRows = 50
  val FeedWindow = 3
  val WarmupOps = 4
  /** One cycle of the read mix. A quarter of the reads are `SparkEntry`
    * queries, so a run's measured reads hold every one of [[QueryNames]]. */
  val ReadMix = Seq("key_point", "query", "key_range", "col_range", "query", "pruned", "in_list",
    "sql", "key_point", "query", "key_range", "change_feed", "query", "pruned", "in_list",
    "col_range")
  val SlotMs: Map[String, Long] = Map("key_point" -> 250L, "key_range" -> 300L,
    "col_range" -> 350L, "pruned" -> 350L, "in_list" -> 350L, "change_feed" -> 1700L,
    "sql" -> 450L, "query" -> 900L)
  val QueryNames = Seq("g_reconcile_counts", "w_last_wins_dedup", "j_star_bucketed", "g_group_agg")
}
