package org.apache.spark.perfbench

import java.io.File

import graft.pipeline.Runner

/** Files under a directory: path → size. */
object Disk {
  def files(root: File): Map[String, Long] =
    if (!root.exists) Map.empty
    else if (root.isFile) Map(root.getPath -> root.length)
    else Option(root.listFiles).toSeq.flatten.flatMap(files).toMap

  def bytes(root: File): Long = files(root).values.sum
}

/** The lake and StageCache figures a traced run adds after each operation. */
object Layer {
  def sparkWork(prefix: String, t: Trace): Map[String, Double] = {
    val w = t.workOf(prefix)
    Map(s"$prefix.task_s" -> w.taskNs / 1e9, s"$prefix.gc_s" -> w.gcMs / 1e3,
      s"$prefix.shuffle_write_mb" -> w.shuffleWriteBytes / 1048576.0,
      s"$prefix.spill_mb" -> w.spillBytes / 1048576.0, s"$prefix.jobs" -> w.jobs.toDouble)
  }

  /** Spark storage blocks held (StageCache pins, caches), sampled after
    * every operation of a traced run. */
  final class Residency(ctx: Ctx) {
    private var peakMb, endMb, blocksPeak = 0.0
    def sample(): Unit = if (ctx.trace.enabled) {
      val infos = ctx.spark.sparkContext.getRDDStorageInfo
      endMb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
      peakMb = math.max(peakMb, endMb)
      blocksPeak = math.max(blocksPeak, infos.map(_.numCachedPartitions).sum.toDouble)
    }
    def metrics: Map[String, Double] = Map("stagecache.resident_mb_peak" -> peakMb,
      "stagecache.resident_mb_end" -> endMb, "stagecache.blocks_peak" -> blocksPeak)
  }
}

/** Compare `got` digests with the golden ones of this tree whose keys
  * `scope` accepts; in record mode the caller writes `got` out instead.
  * Returns the failing keys. */
object Golden {
  def check(ctx: Ctx, got: Map[String, (Long, Long)], rowsOnly: Set[String],
      scope: String => Boolean): Seq[String] = {
    if (ctx.args.record.isDefined) Nil
    else {
      val want = ctx.golden.collect { case (k, v: Map[_, _]) if scope(k) =>
        val m = v.asInstanceOf[Map[String, Any]]
        k -> (m("rows").toString.toLong, m("digest").toString.toLong)
      }
      val missing = (want.keySet -- got.keySet).toSeq.map(k => s"$k: missing")
      val extra = (got.keySet -- want.keySet).toSeq.map(k => s"$k: not in golden")
      val wrong = got.toSeq.flatMap { case (k, (rows, digest)) =>
        want.get(k).flatMap { case (wr, wd) =>
          if (wr != rows) Some(s"$k: rows $rows != $wr")
          else if (!rowsOnly(k) && wd != digest) Some(s"$k: digest $digest != $wd")
          else None
        }
      }
      (missing ++ extra ++ wrong).sorted
    }
  }

  def record(got: Map[String, (Long, Long)]): Map[String, Any] =
    got.map { case (k, (r, d)) => k -> Map("rows" -> r, "digest" -> d) }
}

/** `lake_build`: the nightly job, then the analyst session. Runner's five
  * layer calls in order over the fixed raw drop, into a fresh lake dir and
  * warehouse; then, in the same JVM, `Session.Count` analyst sessions, each
  * over its own copy of the drop (see [[Session]]). */
object LakeBuild {
  val Layers = Seq("bronze", "silver", "gold", "corpus", "maintenance")
  /** The raw drop the bronze, silver and gold layers take in. */
  val RawTables = Seq("events", "orders", "lineitem", "customer", "supplier", "nation", "region", "part")

  def prepare(ctx: Ctx): () => Main.Outcome = {
    val sessionDirs = Session.copies(ctx)
    () => run(ctx, sessionDirs)
  }

  private def run(ctx: Ctx, sessionDirs: Seq[String]): Main.Outcome = {
    val spark = ctx.spark
    val sf = ctx.args.fixture
    val lake = new File("lake").getAbsolutePath
    val warehouse = new File("spark-warehouse")
    def outputs: Map[String, Long] = Disk.files(new File(lake)) ++ Disk.files(warehouse)
    val residency = new Layer.Residency(ctx)
    var before = outputs
    val perLayer = Layers.map { l =>
      val call: () => Unit = l match {
        case "bronze" => () => Runner.runBronze(spark, sf, lake)
        case "silver" => () => Runner.runSilver(spark, sf, lake)
        case "gold" => () => Runner.runGold(spark, sf, lake)
        case "corpus" => () => Runner.runCorpus(spark, sf, lake)
        case "maintenance" => () => Runner.runMaintenance(spark, lake)
      }
      val ((ok, err), s) = ctx.trace.span(spark.sparkContext, s"lake.$l") {
        try { call(); (true, "") } catch { case e: Throwable => (false, s"$l: $e") }
      }
      residency.sample()
      ctx.heap.sample()
      val after = outputs
      val written = after.filter { case (p, n) => !before.get(p).contains(n) }
      before = after
      (l, s.seconds, ok, err, written)
    }
    val outBytes = outputs.values.sum
    // correctness: every lake table, checked after the timed layers and
    // before the sessions add their warehouse tables
    val tables = tableDirs(new File(lake)).map(d => d.getPath.stripPrefix(lake + "/") -> d) ++
      tableDirs(warehouse).map(d => s"warehouse/${d.getName}" -> d)
    val digests = Digest.all(tables.map { case (name, d) => name -> (() => read(spark, d).drop("_inserted_at")) } ++
      RawTables.map(t => s"raw/$t" -> (() => spark.read.parquet(s"$sf/$t.parquet"))))
    val raw = RawTables.map(t => t -> digests(s"raw/$t")._1).toMap
    val got = digests.filter { case (k, _) => !k.startsWith("raw/") }
    val balance = RawTables.flatMap { t =>
      val kept = got.get(s"bronze/$t").map(_._1).getOrElse(-1L)
      val bad = got.get(s"bronze/${t}_bad/quarantine").map(_._1).getOrElse(-1L)
      if (kept + bad == raw(t)) None else Some(s"bronze/$t: valid $kept + quarantined $bad != raw ${raw(t)}")
    }
    val mismatches = Golden.check(ctx, got, Set.empty, !_.startsWith(Session.Prefix)) ++ balance
    def layerOf(msg: String): String = msg.takeWhile(_ != '/') match {
      case "warehouse" => "gold"
      case _ if msg.startsWith("corpus/chunks_clustered") => "maintenance"
      case l => l
    }
    val badLayers = mismatches.map(layerOf).toSet

    // the sessions start from the same state in every run: the lake's
    // pinned stages and caches released, its garbage collected
    graft.StageCache.clear(spark)
    spark.catalog.clearCache()
    System.gc()
    val session = Session.run(ctx, sessionDirs, residency)

    val ops = perLayer.map { case (l, s, ok, _, _) => Main.Op(l, s, ok && !badLayers(l)) } ++ session.ops
    val walls = perLayer.map(_._2)
    val etlWall = walls.take(3).sum
    val rawRows = raw.values.sum
    val inputBytes = (RawTables :+ "documents").map(t => new File(s"$sf/$t.parquet").length).sum
    val (tailP, _) = Stats.tail(walls)
    val validRows = RawTables.map(t => got.get(s"bronze/$t").map(_._1).getOrElse(0L)).sum
    val layer = if (!ctx.trace.enabled) Map.empty[String, Double] else {
      ctx.trace.drain(spark.sparkContext)
      perLayer.flatMap { case (l, s, _, _, written) =>
        Layer.sparkWork(s"lake.$l", ctx.trace) ++ Map(
          s"lake.$l.wall_s" -> s,
          s"lake.$l.out_mb" -> written.values.sum / 1048576.0,
          s"lake.$l.files" -> written.keys.count(_.endsWith(".parquet")).toDouble)
      }.toMap ++ session.layer ++ residency.metrics + ("lake.bronze.valid_ratio" -> validRows.toDouble / rawRows)
    }
    Main.Outcome(ops, walls.sum + session.walls.sum,
      e2e = Map("latency_s" -> walls.sum, "rate_per_s" -> Session.Entries.size / session.wall,
        "out_bytes_per_input_byte" -> outBytes.toDouble / inputBytes),
      report = Map("lake_wall_s" -> walls.sum, "etl_rows_per_s" -> rawRows / etlWall,
        "lake_bytes_per_input_byte" -> outBytes.toDouble / inputBytes, "raw_rows" -> rawRows,
        "layer_tail" -> Map("percentile" -> tailP, "n" -> walls.size),
        "layer_walls_s" -> perLayer.map(p => p._1 -> p._2).toMap) ++ session.report,
      layer = layer,
      failures = perLayer.collect { case (_, _, false, err, _) => err } ++ mismatches ++ session.failures,
      golden = Golden.record(got) ++ session.golden)
  }

  /** Table roots: dirs that hold part files or `k=v` partitions, without
    * descending into a table. */
  def tableDirs(root: File): Seq[File] = {
    val kids = Option(root.listFiles).toSeq.flatten
    if (kids.exists(f => f.isFile && f.getName.startsWith("part-")) ||
        kids.exists(f => f.isDirectory && f.getName.contains("="))) Seq(root)
    else kids.filter(_.isDirectory).sortBy(_.getName).flatMap(tableDirs)
  }

  /** Reads a table in the format its part files carry (the quarantine
    * sink writes CSV with a header, the ingestion report JSON). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: File): org.apache.spark.sql.DataFrame = {
    val parts = Disk.files(dir).keys.map(_.split('/').last).filter(_.startsWith("part-"))
    if (parts.exists(_.endsWith(".csv"))) spark.read.option("header", "true").csv(dir.getPath)
    else if (parts.exists(_.endsWith(".json"))) spark.read.json(dir.getPath)
    else spark.read.parquet(dir.getPath)
  }
}

/** The analyst session that follows the nightly job: one closed-loop client
  * runs the session's registry entries once each, in a seed-permuted order;
  * each entry's result is digested by one Spark action (every column of
  * every row), which stands in for the `noop` sink and feeds the check.
  *
  * A run holds `Count` sessions, each over its own copy of the raw drop.
  * Every engine cache a session fills (StageCache stages, the VectorOps and
  * Models memos, the bucketed warehouse tables, the model artifacts) is
  * keyed by data dir, so each session starts with every cache cold, and
  * `StageCache.clear` releases its pins after it. The JVM is warm: the
  * lake build before the sessions loaded and compiled the engine. */
object Session {
  /** Golden keys of the session entries. */
  val Prefix = "session/"

  /** Entries with no cross-engine oracle: the oracle gate checks their
    * row count only, and so does this benchmark. */
  val RowsOnly = Set("q02b_kpi_approx").map(Prefix + _)

  /** The session: the q- and a-family entries that share a StageCache
    * stage or a VectorOps memo with another entry (q01_core/q01_kpi,
    * q07_scored, the a10 and a10c memos), and q09b, which builds and writes
    * a bucketed warehouse. */
  val Entries: Seq[String] = Seq(
    "q01_sales_overview", "q02_kpi_totals", "q02b_kpi_approx",
    "q07_rfm", "q08_rfm_summary", "q09b_scorecard_bucketed",
    "a10_ann_incremental", "a10c_ann_compacted", "a11_diversity_prune")

  /** Sessions in one run. */
  val Count = 2

  final case class Result(ops: Seq[Main.Op], walls: Seq[Double], wall: Double,
      report: Map[String, Any], layer: Map[String, Double], failures: Seq[String],
      golden: Map[String, Any])

  /** One copy of the raw drop per session, made in set-up. */
  def copies(ctx: Ctx): Seq[String] = (1 to Count).map { i =>
    val d = new File("session", s"drop-$i").getAbsoluteFile
    copy(new File(ctx.args.fixture), d)
    d.getPath
  }

  private def copy(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles).toSeq.flatten.foreach { f =>
      val t = new File(to, f.getName)
      if (f.isDirectory) copy(f, t) else java.nio.file.Files.copy(f.toPath, t.toPath)
    }
  }

  def run(ctx: Ctx, dirs: Seq[String], residency: Layer.Residency): Result = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.args.seed)
    val orders = dirs.map(_ => rnd.shuffle(Entries))
    // (session, entry, seconds, digest or error)
    val results = dirs.zip(orders).zipWithIndex.flatMap { case ((dir, order), i) =>
      val rs = order.map { name =>
        val fn = graft.SparkEntry.queries(name)
        val (r, s) = ctx.trace.span(spark.sparkContext, s"${family(name)}.$name") {
          try Right(Digest.of(fn(spark, dir))) catch { case e: Throwable => Left(s"$name: $e") }
        }
        residency.sample()
        (i + 1, name, s.seconds, r)
      }
      ctx.heap.sample()
      graft.StageCache.clear(spark)
      rs
    }
    val checked = (1 to dirs.size).map { i =>
      val got = results.collect { case (`i`, n, _, Right(d)) => Prefix + n -> d }.toMap
      i -> (got, Golden.check(ctx, got, RowsOnly, _.startsWith(Prefix)).map(m => s"session $i: $m"))
    }.toMap
    val ops = results.map { case (i, n, s, r) =>
      Main.Op(s"session-$i/$n", s, r.isRight && !checked(i)._2.exists(_.startsWith(s"session $i: $Prefix$n:")))
    }
    val walls = (1 to dirs.size).map(i => results.filter(_._1 == i).map(_._3).sum)
    val wall = Stats.median(walls)
    val entryWalls = results.map(_._3)
    val (tailP, tailV) = Stats.tail(entryWalls)
    val layer = if (!ctx.trace.enabled) Map.empty[String, Double] else {
      ctx.trace.drain(spark.sparkContext)
      // per session: Spark work summed over the sessions, divided by their number
      Seq("analytics", "vector").flatMap { f =>
        val mine = results.filter(r => family(r._2) == s"mix.$f")
        val sums = (1 to dirs.size).map(i => mine.filter(_._1 == i).map(_._3).sum)
        Layer.sparkWork(s"mix.$f", ctx.trace).map { case (k, v) => k -> v / dirs.size } ++
          Map(s"mix.$f.sum_s" -> Stats.median(sums), s"mix.$f.p50_s" -> Stats.median(mine.map(_._3)))
      }.toMap
    }
    Result(ops, walls, wall,
      report = Map("mix_wall_s" -> wall, "mix_p50_s" -> Stats.median(entryWalls), "mix_tail_s" -> tailV,
        "mix_tail" -> Map("percentile" -> tailP, "n" -> entryWalls.size),
        "session_walls_s" -> walls, "session_orders" -> orders,
        "session_entry_s" -> results.map(r => s"session-${r._1}/${r._2}" -> r._3).toMap),
      layer = layer,
      failures = results.collect { case (i, _, _, Left(e)) => s"session $i: $e" } ++
        checked.values.flatMap(_._2).toSeq.sorted,
      golden = Golden.record(checked(1)._1))
  }

  /** q entries run the `analytics` + `operators` layer, a entries `llm.VectorOps`. */
  def family(name: String): String = if (name.startsWith("a")) "mix.vector" else "mix.analytics"
}
