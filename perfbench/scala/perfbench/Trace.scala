package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One traced call: `op` is the id of the client operation it belongs to. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
                 val startNs: Long) {
  var endNs: Long = startNs
  def secs: Double = (endNs - startNs) / 1e9
}

/** Stage and task metrics of the jobs one span launched. */
final class SpanAgg {
  var jobs, stages, tasks = 0L
  var cpuNs, inputRows, inputBytes, shuffleWriteBytes, outputBytes = 0L
  var runMs, fetchWaitMs, gcMs, spillBytes, schedulerDelayMs = 0L
}

/** Spans kept in memory plus a SparkListener that attributes every job to
  * the span that launched it. The span id travels as a Spark local
  * property, which Spark copies onto every job the calling thread starts
  * (broadcast and subquery jobs included). Only the one client thread
  * opens spans. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  /** task slots: local[n] runs n tasks at a time */
  val cores: Int = sc.defaultParallelism
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Span] = Nil
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val aggs = mutable.HashMap.empty[Int, SpanAgg]

  def span[T](name: String, op: Long)(f: => T): T = {
    val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), op, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Name of the innermost open span, "" outside every span. */
  def current: String = open.headOption.fold("")(_.name)

  private def agg(span: Int): SpanAgg = aggs.getOrElseUpdate(span, new SpanAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    agg(id).jobs += 1
    e.stageIds.foreach(stageSpan(_) = id)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan.getOrElse(e.stageId, -1))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.inputRows += m.inputMetrics.recordsRead
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.outputBytes += m.outputMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.gcMs += m.jvmGCTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's definition: task time not spent deserializing,
      // running, or shipping the result
      a.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }

  /** Metrics of `s`'s own jobs (call after [[drained]]). */
  def aggOf(s: Span): SpanAgg = synchronized(aggs.getOrElse(s.id, new SpanAgg))

  def drained(): this.type = { org.apache.spark.PerfbenchBus.drain(sc); this }

  /** Spans as JSON lines, each with its jobs' metrics. */
  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    val a = aggOf(s)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${a.jobs},"stages":${a.stages},""" +
      s""""tasks":${a.tasks},"run_ms":${a.runMs},"cpu_ns":${a.cpuNs},"input_rows":${a.inputRows},""" +
      s""""input_bytes":${a.inputBytes},"shuffle_write_bytes":${a.shuffleWriteBytes},""" +
      s""""output_bytes":${a.outputBytes},"fetch_wait_ms":${a.fetchWaitMs},"gc_ms":${a.gcMs},""" +
      s""""spill_bytes":${a.spillBytes},"scheduler_delay_ms":${a.schedulerDelayMs}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Collects the `[graft-timing] <label> <wall>s user=<u>s sys=<s>s` lines
  * IndexBuilder prints to stderr when `spark.graft.timing=true`, summing
  * wall and user seconds per (innermost open span, label), and passes all
  * output through. Append and upsert print some of the build's labels
  * too; the span keeps their lines apart from the build's. */
final class TimingTap(underlying: PrintStream) extends OutputStream {
  private val line = new java.io.ByteArrayOutputStream()
  private val Timing = """\[graft-timing\] (\S+)\s+([0-9.]+)s user=\s*([0-9.]+)s.*""".r
  /** the innermost open span's name, read when a timing line arrives */
  @volatile var scope: () => String = () => ""
  val wall = mutable.HashMap.empty[(String, String), Double].withDefaultValue(0.0)
  val user = mutable.HashMap.empty[(String, String), Double].withDefaultValue(0.0)

  override def write(b: Int): Unit = synchronized {
    underlying.write(b)
    if (b == '\n') {
      new String(line.toByteArray, StandardCharsets.UTF_8) match {
        case Timing(label, w, u) =>
          val key = (scope(), label)
          wall(key) += w.toDouble
          user(key) += u.toDouble
        case _ =>
      }
      line.reset()
    } else line.write(b)
  }

  override def flush(): Unit = underlying.flush()
}
