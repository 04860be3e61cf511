package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One benchmark run in a fresh JVM. `run.py` starts it in a fresh run
  * directory (the working directory, which also holds `spark-warehouse/`,
  * the model artifacts and every lake, bus and checkpoint dir) and reads
  * the JSON it writes to `--out`.
  *
  * Arguments: `--workload lake_build|event_stream --seed N
  * --seconds S --trace 0|1 --fixture DIR --out FILE [--golden FILE]
  * [--record-golden FILE]`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      fixture: String, out: String, golden: Option[String], record: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("fixture")).getAbsolutePath, m("out"), m.get("golden"), m.get("record-golden"))
  }

  /** Operation outcome: a Runner layer call, a registry entry or a
    * micro-batch. */
  final case class Op(name: String, seconds: Double, ok: Boolean)

  /** What a workload hands back: its operations, the length of its timed
    * work, its end-to-end figures under the benchmark's metric names, the
    * workload-named figures for the report, per-layer figures (traced run)
    * and check failures. */
  final case class Outcome(ops: Seq[Op], timedS: Double, e2e: Map[String, Double],
      report: Map[String, Any], layer: Map[String, Double],
      failures: Seq[String], golden: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val heap = new HeapPeak
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Engine.session(s"local[$cores]", cores)
    val trace = new Trace(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    if (a.trace) {
      spark.sparkContext.addSparkListener(trace.listener)
      spark.streams.addListener(trace.streamListener)
    }
    val golden = a.golden.filter(p => new File(p).exists).map(p => Json.parse(Files.readString(Paths.get(p))))
      .getOrElse(Map.empty[String, Any])
    val ctx = Ctx(spark, a, trace, golden, heap)
    val work: () => Outcome = a.workload match {
      case "lake_build" => LakeBuild.prepare(ctx)
      case "event_stream" => EventStream.prepare(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val firstOpMs = System.currentTimeMillis()
    val o = work()
    trace.drain(spark.sparkContext)
    val traced: Map[String, Double] = if (!a.trace) Map.empty else
      o.layer ++ Map(
        "trace.latency_s" -> o.e2e("latency_s"),
        "trace.listener_s" -> trace.listenerNs.get / 1e9,
        "trace.root_self_s" -> trace.rootSelfSeconds)
    if (a.trace) Files.writeString(Paths.get("spans.json"), trace.spansJson)
    val probe = calibration(spark, cores)
    a.record.filter(_ => o.golden.nonEmpty).foreach(p => Files.writeString(Paths.get(p), Json.write(o.golden)))
    val failed = o.ops.count(!_.ok)
    val result = Map[String, Any](
      "first_op_epoch_ms" -> firstOpMs,
      "timed_s" -> o.timedS,
      "attempted" -> o.ops.size,
      "failed" -> failed,
      "failures" -> o.failures,
      "e2e" -> (o.e2e + ("live_heap_peak_mb" -> heap.peakMb)),
      "report" -> o.report,
      "layer" -> traced,
      "ops" -> o.ops.map(op => Map("name" -> op.name, "s" -> op.seconds, "ok" -> op.ok)),
      "nproc" -> cores,
      "probe_s" -> probe)
    Files.writeString(Paths.get(a.out), Json.write(result))
    spark.stop()
  }

  /** Fixed, data-independent CPU task (the `Bench.sentinel` probe, sized
    * down): min of three timings, taken after the measured work. */
  private def calibration(spark: SparkSession, cores: Int): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 5000000L, 1L, cores).select(sum(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }.min
}

final case class Ctx(spark: SparkSession, args: Main.Args, trace: Trace,
    golden: Map[String, Any], heap: HeapPeak)

/** Live heap at operation boundaries: the heap in use right after a full
  * collection, which the workload runs after each of its operations,
  * outside their timing. The highest heap after any collection would
  * track when G1 starts its concurrent cycle (about 45% of the heap), not
  * the data the program keeps: old-generation garbage stays counted until
  * that cycle ends. */
final class HeapPeak {
  private var peakBytes = 0L

  def sample(): Unit = {
    System.gc()
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peakBytes / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * as (percentile, value); the maximum when there are too few samples. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val p = (99 to 50 by -1).find(q => n * (100 - q) / 100.0 >= 10)
    p match {
      case Some(q) => (q, percentile(xs, q / 100.0))
      case None => (100, if (xs.isEmpty) Double.NaN else xs.max)
    }
  }
}

object Digest {
  /** Row hashes of a frame: a 64-bit hash of every row, columns by name,
    * maps as sorted entries. */
  private def hashed(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }
    df.select((if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)).as("h"))
  }

  /** Order-insensitive digest of a frame: row count and the wrapping sum
    * of its row hashes. One Spark action computes every column of every
    * row. */
  def of(df: DataFrame): (Long, Long) = {
    val r = hashed(df).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Digests of many frames in one Spark action. The frames are opened
    * eight at a time: opening a CSV or JSON table runs a Spark job of its
    * own to read the header or infer the schema. */
  def all(opens: Seq[(String, () => DataFrame)]): Map[String, (Long, Long)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val frames = try opens.map { case (k, f) => k -> pool.submit(() => f()) }.map { case (k, f) => k -> f.get }
      finally pool.shutdown()
    val got = frames.map { case (k, df) => hashed(df).select(lit(k).as("k"), col("h")) }.reduce(_ union _)
      .groupBy("k").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    frames.map { case (k, _) => k -> got.getOrElse(k, (0L, 0L)) }.toMap // an empty frame has no group
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)

  def parse(s: String): Map[String, Any] = mapper.readValue(s, classOf[Map[String, Any]])
}
