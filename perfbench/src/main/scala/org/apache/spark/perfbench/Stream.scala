package org.apache.spark.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat_ws, lit}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.streaming.{EventBus, KvSink}

/** Seeded event generator for `EventBus.FileBus`: one writer thread, the
  * reference producer's topic mix (views : cart : wishlist : orders =
  * 70 : 20 : 8 : 2, `producer.py:233-237`), `EventBus.schemas` value
  * shapes, and each event's creation stamp in `timestamp`. A file is
  * written under a hidden name and then renamed, so the file source never
  * reads a partial file.
  *
  * Key domains and ranges are the reference producer's, as FIXTURES.md §2
  * records them: 8 products across 4 categories (`producer.py:62-71`),
  * 100 users (`producer.py:73`), cart quantity 1-3 (`producer.py:125-144`),
  * 1-5 items per order (`producer.py:170`), the five payment methods
  * (`producer.py:164-207`). FIXTURES.md keeps neither the product names,
  * category names and prices nor an order item's quantity range: the names
  * here are placeholders, prices are drawn once per seed, and an item's
  * quantity takes the cart's 1-3. Fields no aggregate reads (session,
  * referrer, address) follow the FIXTURES.md §2 examples. */
final class EventGen(dir: File, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val categories = Seq("electronics", "clothing", "home", "sports")
  /** (id, name, category, price in cents) */
  private val products = (1 to 8).map(i => (i.toLong, s"Product $i", categories((i - 1) % categories.size),
    500 + rnd.nextInt(20000)))
  private val payments = Seq("credit_card", "debit_card", "paypal", "apple_pay", "google_pay")
  private var seq = 0L
  var events = 0L
  var bytes = 0L
  /** file name → creation stamp (epoch ns) of its newest event */
  val newest = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile var lateMaxS = 0.0

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"
  private def q(s: String): String = "\"" + s + "\""

  private def event(stampNs: Long): (String, String) = {
    seq += 1
    val pick = rnd.nextInt(100)
    val (topic, kind) =
      if (pick < 70) (EventBus.ProductViews, "product_view")
      else if (pick < 90) (EventBus.CartAdd, "add_to_cart")
      else if (pick < 98) (EventBus.WishlistAdd, "add_to_wishlist")
      else (EventBus.Orders, "order_completed")
    val ts = java.time.Instant.ofEpochMilli(stampNs / 1000000L).toString
    val common = Seq(s""""event_id":"e$seed-$seq"""", s""""event_type":"$kind"""",
      f""""user_id":"user_${1 + rnd.nextInt(100)}%03d"""", s""""timestamp":"$ts"""",
      s""""session_id":"session_${1000 + rnd.nextInt(9000)}"""")
    def product(p: (Long, String, String, Int)) = Seq(s""""product_id":${p._1}""",
      s""""product_name":${q(p._2)}""", s""""product_category":${q(p._3)}""",
      s""""product_price":${money(p._4)}""")
    val p = products(rnd.nextInt(products.size))
    val fields = topic match {
      case EventBus.ProductViews => common ++ product(p) ++
        Seq(s""""page_url":"/product/${p._1}"""", """"referrer":"google"""")
      case EventBus.CartAdd =>
        val n = 1 + rnd.nextInt(3)
        common ++ product(p) ++ Seq(s""""quantity":$n""", s""""total_amount":${money(p._4.toLong * n)}""")
      case EventBus.WishlistAdd => common ++ product(p)
      case _ =>
        val items = (0 until 1 + rnd.nextInt(5)).map { _ =>
          val it = products(rnd.nextInt(products.size))
          val n = 1 + rnd.nextInt(3)
          val json = (product(it) ++ Seq(s""""quantity":$n""", s""""item_total":${money(it._4.toLong * n)}"""))
            .mkString("{", ",", "}")
          (json, it._4.toLong * n)
        }
        common ++ Seq(s""""order_id":"order_$seed-$seq"""", s""""items":${items.map(_._1).mkString("[", ",", "]")}""",
          s""""total_amount":${money(items.map(_._2).sum)}""", s""""payment_method":"${payments(rnd.nextInt(payments.size))}"""",
          """"shipping_address":{"street":"1 Main St","city":"Springfield","state":"IL","zip_code":"62701","country":"US"}""")
    }
    val value = fields.mkString("{", ",", "}")
    (topic, value)
  }

  /** Writes one file of `n` events, each stamped at its creation. */
  def write(name: String, n: Int): Unit = {
    val sb = new StringBuilder
    var stamp = 0L
    (0 until n).foreach { _ =>
      stamp = Trace.nowNs
      val (topic, value) = event(stamp)
      sb ++= s"""{"topic":"$topic","value":"${value.replace("\\", "\\\\").replace("\"", "\\\"")}"}""" += '\n'
    }
    val body = sb.result().getBytes(StandardCharsets.UTF_8)
    val tmp = new File(dir, s".$name.tmp").toPath
    Files.write(tmp, body)
    Files.move(tmp, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    newest.put(name, stamp)
    events += n
    bytes += body.length
  }

  /** Open loop: tick `i` is due at `start + i * tick`, whatever the engine
    * does; lateness is the write start minus the due time. */
  def live(ratePerS: Int, tickMs: Int, seconds: Double): Thread = {
    val perTick = ratePerS * tickMs / 1000
    val ticks = (seconds * 1000 / tickMs).toInt
    val t = new Thread(() => {
      val start = Trace.nowNs
      (0 until ticks).foreach { i =>
        val due = start + i * tickMs * 1000000L
        val wait = due - Trace.nowNs
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMaxS = math.max(lateMaxS, (Trace.nowNs - due) / 1e9)
        write(f"live-$i%06d.json", perTick)
      }
    }, "perfbench-generator")
    t.start()
    t
  }
}

/** `event_stream`: the realtime dashboard path. Five EventBus aggregates
  * over one FileBus feed KvSinks in update mode. A catch-up phase drains a
  * pre-written backlog (the at-least-once replay after a consumer
  * restart); a live phase then feeds a fixed 2,000 events/s. */
object EventStream {
  val RatePerS = 2000
  val TickMs = 100
  val BacklogFiles = 20

  /** name → (aggregate over the ingest envelope, KvSink key column) */
  val Queries: Seq[(String, DataFrame => DataFrame, String)] = Seq(
    ("product_views", EventBus.productViews, "product_id"),
    ("category_views", EventBus.categoryViews, "product_category"),
    ("user_activity", (e: DataFrame) => EventBus.userActivity(e)
      .withColumn("k", concat_ws("|", col("user_id"), col("event_type"))), "k"),
    ("cart_totals", (e: DataFrame) => EventBus.cartTotals(e).withColumn("k", lit("all")), "k"),
    ("order_category_revenue", EventBus.orderCategoryRevenue, "product_category"))

  private val wire = StructType(Seq(StructField("topic", StringType), StructField("value", StringType)))

  final case class Upsert(query: String, batchId: Long, startNs: Long, endNs: Long)

  /** Writes the backlog before the clock starts; returns the timed run. */
  def prepare(ctx: Ctx): () => Main.Outcome = {
    val bus = new File("bus").getAbsoluteFile
    bus.mkdirs()
    val gen = new EventGen(bus, ctx.args.seed)
    (0 until BacklogFiles).foreach(i => gen.write(f"backlog-$i%06d.json", RatePerS * TickMs / 1000))
    () => run(ctx, bus, gen)
  }

  private def run(ctx: Ctx, bus: File, gen: EventGen): Main.Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val backlogEvents = gen.events
    val upserts = new ConcurrentLinkedQueue[Upsert]()
    val sinks = Queries.map { case (name, _, key) => name -> new KvSink(key) }.toMap
    val t0 = Trace.nowNs
    sc.setLocalProperty(Trace.SpanKey, "stream")
    val queries = Queries.map { case (name, agg, _) =>
      val sink = sinks(name)
      agg(EventBus.ingest(EventBus.FileBus(bus.getPath).load(spark))).writeStream
        .outputMode(OutputMode.Update)
        .queryName(name)
        .option("checkpointLocation", new File(s"chk/$name").getAbsolutePath)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val s = Trace.nowNs
          sink.upsert(b)
          upserts.add(Upsert(name, id, s, Trace.nowNs))
          ()
        }.start()
    }
    sc.setLocalProperty(Trace.SpanKey, null)
    queries.foreach(_.processAllAvailable())
    val catchupS = (Trace.nowNs - t0) / 1e9
    ctx.heap.sample()
    gen.live(RatePerS, TickMs, ctx.args.seconds).join()
    queries.foreach(_.processAllAvailable())
    ctx.heap.sample()
    queries.foreach(_.stop())
    val timedS = (Trace.nowNs - t0) / 1e9
    val crashed = queries.flatMap(q => q.exception.map(e => s"${q.name}: $e"))

    // batch → files it read, from each query's file-source log
    val filesOf: Map[(String, Long), Seq[String]] = Queries.flatMap { case (name, _, _) =>
      val logDir = new File(s"chk/$name/sources/0")
      Option(logDir.listFiles).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap { f =>
        scala.util.Using.resource(scala.io.Source.fromFile(f))(_.getLines().drop(1).flatMap { line =>
          for {
            p <- """"path":"([^"]+)"""".r.findFirstMatchIn(line)
            b <- """"batchId":(\d+)""".r.findFirstMatchIn(line)
          } yield (name, b.group(1).toLong) -> p.group(1).split('/').last
        }.toList)
      }
    }.distinct.groupMap(_._1)(_._2)
    val ups = upserts.asScala.toSeq
    val liveUps = ups.filter(u => filesOf.getOrElse((u.query, u.batchId), Nil).exists(_.startsWith("live-")))
    val lags = liveUps.map { u =>
      (u.endNs - filesOf((u.query, u.batchId)).map(f => gen.newest.get(f).longValue).max) / 1e9
    }

    // correctness: every KvSink equals the same aggregate run in batch
    // over every generated event
    val all = EventBus.ingest(spark.read.schema(wire).json(bus.getPath)).cache()
    val mismatched = Queries.flatMap { case (name, agg, key) =>
      val want = agg(all).collect().map(r => String.valueOf(r.getAs[Any](key)) -> rowMap(r)).toMap
      val got = sinks(name).snapshot
      if (got == want) None
      else Some(name -> (s"$name: KvSink holds ${got.size} keys, batch ${want.size}, " +
        s"${(want.keySet ++ got.keySet).count(k => got.get(k) != want.get(k))} differ"))
    }.toMap
    val lastBatch = ups.groupBy(_.query).view.mapValues(_.map(_.batchId).max).toMap
    val ops = ups.sortBy(u => (u.query, u.batchId)).map { u =>
      Main.Op(s"${u.query}#${u.batchId}", (u.endNs - u.startNs) / 1e9,
        !(mismatched.contains(u.query) && lastBatch(u.query) == u.batchId))
    } ++ crashed.map(c => Main.Op(c, 0.0, ok = false))
    val (tailP, tailV) = Stats.tail(lags)
    val chkBytes = Disk.bytes(new File("chk"))
    val layer = if (!ctx.trace.enabled) Map.empty[String, Double] else {
      ctx.trace.drain(sc)
      traced(ctx, ups, liveUps, filesOf, gen)
    }
    Main.Outcome(ops, timedS,
      e2e = Map("latency_s" -> Stats.median(lags), "rate_per_s" -> backlogEvents / catchupS,
        "out_bytes_per_input_byte" -> chkBytes.toDouble / gen.bytes),
      report = Map("stream_lag_p50_s" -> Stats.median(lags), "stream_lag_tail_s" -> tailV,
        "stream_lag_tail" -> Map("percentile" -> tailP, "n" -> lags.size),
        "stream_catchup_eps" -> backlogEvents / catchupS, "catchup_s" -> catchupS,
        "backlog_events" -> backlogEvents, "events" -> gen.events,
        "live_s" -> (ctx.args.seconds: Int), "live_events_per_s" -> RatePerS),
      layer = layer,
      failures = crashed ++ mismatched.values,
      golden = Map.empty)
  }

  private def rowMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap

  private def traced(ctx: Ctx, ups: Seq[Upsert], liveUps: Seq[Upsert],
      filesOf: Map[(String, Long), Seq[String]], gen: EventGen): Map[String, Double] = {
    val t = ctx.trace
    val progress = t.progress.synchronized(t.progress.toList).map(_.progress).filter(_.numInputRows > 0)
    val upsertOf = ups.map(u => (u.query, u.batchId) -> u).toMap
    // micro-batch spans with their KvSink upsert as the child span
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val s0 = start.getEpochSecond * 1000000000L + start.getNano
      val id = t.record(s"stream.${p.name}.batch", t.root, s0, s0 + p.durationMs.get("triggerExecution") * 1000000L)
      upsertOf.get((p.name, p.batchId)).foreach(u => t.record(s"stream.${p.name}.kv_upsert", id, u.startNs, u.endNs))
    }
    val liveKeys = liveUps.map(u => (u.query, u.batchId)).toSet
    val live = progress.filter(p => liveKeys((p.name, p.batchId)))
    def p50(key: String): Double = Stats.median(live.map(_.durationMs.get(key).doubleValue / 1e3))
    val lastPerQuery = progress.groupBy(_.name).values.map(_.maxBy(_.batchId))
    val batchSelf = t.all.filter(_.name.endsWith(".batch")).map(t.selfSeconds)
    Layer.sparkWork("stream", t).view.filterKeys(k => k == "stream.task_s" || k == "stream.shuffle_write_mb").toMap ++
      Map(
        "stream.trigger_p50_s" -> p50("triggerExecution"),
        "stream.trigger_tail_s" -> Stats.tail(live.map(_.durationMs.get("triggerExecution").doubleValue / 1e3))._2,
        "stream.addbatch_p50_s" -> p50("addBatch"),
        "stream.planning_p50_s" -> p50("queryPlanning"),
        "stream.getbatch_p50_s" -> p50("getBatch"),
        "stream.walcommit_p50_s" -> p50("walCommit"),
        "stream.kv_upsert_p50_s" -> Stats.median(liveUps.map(u => (u.endNs - u.startNs) / 1e9)),
        "stream.batch_self_p50_s" -> Stats.median(batchSelf),
        "stream.rows_per_batch_p50" -> Stats.median(progress.map(_.numInputRows.toDouble)),
        "stream.batches" -> progress.size.toDouble,
        "stream.state_rows_end" -> lastPerQuery.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
        "stream.state_mb_end" -> lastPerQuery.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / 1048576.0,
        "stream.backlog_files_max" -> liveKeys.toSeq.map(k => filesOf(k).size.toDouble).maxOption.getOrElse(0.0),
        "stream.gen_late_max_s" -> gen.lateMaxS)
  }
}
