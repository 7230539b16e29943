package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Latencies and item rates of one closed-loop timed window. A failed op
  * is counted as attempted and failed, its time stays in the window's
  * wall, its rate is 0 and its latency counts as infinite (it missed
  * every limit); a percentile that lands on a failed op reads the
  * window's whole wall time, the longest any op of the window could have
  * taken. */
final class Loop {
  val latencies = mutable.ArrayBuffer.empty[Double]
  private val rates = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var wallS = 0.0

  /** Time one op that completes `f`'s returned number of items; false
    * when it failed. */
  def time(name: String)(f: => Long): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val items = try Some(f) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $name failed: $e")
        e.printStackTrace()
        None
    }
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[perfbench] op $name ${if (items.isDefined) "ok" else "FAILED"} $s s")
    wallS += s
    latencies += items.fold(Double.PositiveInfinity)(_ => s)
    rates += items.fold(0.0)(_ / s)
    if (items.isEmpty) failed += 1
    items.isDefined
  }

  /** Items per second of the median op: a median, like the latency, so an
    * op slowed by the host does not move it. */
  def itemsPerS: Double = Stats.median(rates.toSeq)
  def p(q: Double): Double = {
    val v = Stats.quantile(latencies.toSeq, q)
    if (v.isInfinite) wallS else v
  }
}

/** The loops of one timed window: `ops` gives the latency, `work` the
  * throughput. They are one loop unless the workload separates them. */
final class Window(val ops: Loop, val work: Loop)

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Everything one workload run shares: the session, its private work dir
  * (deleted by the caller when the run ends), the seed, the optional
  * tracer, and the correctness checks recorded so far. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val perturb: String) {
  var tracer: Option[Tracer] = None
  private var opId = 0L
  /** check name -> (passed, failed, first failure) */
  val checks = mutable.LinkedHashMap.empty[String, (Int, Int, String)]

  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name, opId)(f))

  /** An outer span per client operation; layer spans nest inside it. */
  def op[T](name: String)(f: => T): T = { opId += 1; span(s"op.$name")(f) }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    val (p, f, d) = checks.getOrElse(name, (0, 0, ""))
    checks(name) =
      if (ok) (p + 1, f, d)
      else {
        System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
        (p, f + 1, if (d.isEmpty) detail else d)
      }
  }

  def allChecksPass: Boolean = checks.nonEmpty && checks.values.forall(_._2 == 0)

  def path(name: String): String = s"$work/$name"

  def rm(name: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path(name)))
}

/** A benchmark workload: `setUp` is run several times (each repetition
  * rebuilds every input from the seed and leaves the state the timed
  * window uses), `step` runs timed ops until the window closes, and
  * `verify` runs the end-of-run correctness checks. */
trait Workload {
  def setUp(ctx: Ctx, rep: Int): Unit
  def step(ctx: Ctx, w: Window, i: Int): Unit
  def verify(ctx: Ctx): Unit
  /** true when throughput is counted on other ops than latency */
  def separateWork: Boolean = false
  /** per-layer metrics this workload can add from its own state */
  def layerMetrics(ctx: Ctx): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cores = opts("cores").toInt
    val wl: Workload = workload match {
      case "ingest" => new Ingest
      case "compare" => new CompareWorkload
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val tap = new TimingTap(System.err)
    if (traced) System.setErr(new java.io.PrintStream(tap, true))
    val spark = session(cores, work)
    val ctx = new Ctx(spark, work, seed, seconds, opts.getOrElse("perturb", ""))
    val (metrics, windows) = try run(wl, ctx, traced, tap, opts("traces")) finally spark.stop()
    val loops = windows.flatMap(w => Seq(w.ops, w.work).distinct)
    val failed = loops.map(_.failed).sum
    // a failed op is a wrong result too: the run must not read as a pass
    val correct = ctx.allChecksPass && failed == 0
    ctx.checks.foreach { case (n, (p, f, d)) =>
      println(s"check ${if (f == 0) "ok  " else "FAIL"} $n passed=$p failed=$f${if (d.isEmpty) "" else " first failure: " + d}")
    }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit, n)) =>
      println(f"metric $k%-40s $v%16.6f $unit%-10s n=$n")
      s""""$k":{"value":$v,"unit":"$unit"}"""
    }.mkString(",")
    val json = s"""{"correct":$correct,"attempted":${loops.map(_.attempted).sum},""" +
      s""""failed":$failed,"metrics":{$body}}"""
    Files.write(Paths.get(opts("result")), json.getBytes(StandardCharsets.UTF_8))
    sys.exit(if (correct) 0 else 1)
  }

  /** A Spark session whose every file (shuffle, spill, warehouse) stays in
    * the run's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  type Metrics = Map[String, (Double, String, Int)]

  private def window(wl: Workload, ctx: Ctx, seconds: Double): Window = {
    val ops = new Loop
    val w = new Window(ops, if (wl.separateWork) new Loop else ops)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { wl.step(ctx, w, i); i += 1 }
    w
  }

  def run(wl: Workload, ctx: Ctx, traced: Boolean, tap: TimingTap,
          traceDir: String): (Metrics, Seq[Window]) = {
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setUp(ctx, rep)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-up seconds: ${setups.mkString(", ")}")
    if (!traced) {
      val w = window(wl, ctx, ctx.seconds)
      verify(wl, ctx)
      (Map(
        "setup_s" -> (Stats.median(setups), "s", setups.size),
        "items_per_s" -> (w.work.itemsPerS, "items/s", w.work.latencies.size),
        "op_p50_ms" -> (w.ops.p(0.5) * 1e3, "ms", w.ops.latencies.size)), Seq(w))
    } else {
      // half the window untraced, half traced: the difference between the
      // two halves is the tracing overhead
      val plain = window(wl, ctx, ctx.seconds / 2)
      ctx.spark.conf.set("spark.graft.timing", "true")
      val tracer = new Tracer(ctx.spark)
      ctx.spark.sparkContext.addSparkListener(tracer)
      ctx.tracer = Some(tracer)
      tap.scope = () => tracer.current
      val w = window(wl, ctx, ctx.seconds / 2)
      val extra = wl.layerMetrics(ctx)
      tracer.drained()
      ctx.tracer = None
      tap.scope = () => ""
      ctx.spark.sparkContext.removeSparkListener(tracer)
      ctx.spark.conf.set("spark.graft.timing", "false")
      verify(wl, ctx)
      writeSpans(new File(traceDir, s"spans-${ctx.seed}.jsonl"), tracer)
      val layers = Layers.fromTrace(tracer, tap) ++ Micro.all(ctx.seed) ++ extra ++ Map(
        "trace.untraced.items_per_s" -> plain.work.itemsPerS,
        "trace.traced.items_per_s" -> w.work.itemsPerS,
        "trace.untraced.op_p50_ms" -> plain.ops.p(0.5) * 1e3,
        "trace.traced.op_p50_ms" -> w.ops.p(0.5) * 1e3,
        "trace.overhead_ratio" -> w.ops.p(0.5) / plain.ops.p(0.5),
        "client.op_p90_ms" -> w.ops.p(0.9) * 1e3)
      val n = w.ops.latencies.size
      (Layers.complete(layers).map { case (k, v) => k -> (v, Layers.unitOf(k), n) }, Seq(plain, w))
    }
  }

  /** End-of-run checks; one that throws counts as a failed check. */
  private def verify(wl: Workload, ctx: Ctx): Unit =
    try wl.verify(ctx) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        ctx.check("verify_completed", ok = false, e.toString)
    }

  private def writeSpans(f: File, t: Tracer): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, t.jsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] ${t.spans.size} spans written to $f")
  }
}
