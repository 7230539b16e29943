package perfbench

/** The per-layer metrics of a traced run. Every name is printed on every
  * traced run; a layer the workload does not exercise reads 0. Span-derived
  * figures are means per call of the named span, so they do not grow with
  * the length of the window. */
object Layers {
  /** IndexBuilder's `[graft-timing]` phase labels, summed over one build. */
  val BuildPhases = Seq("stage:write", "group:heavy-detect", "group:segments",
    "group:docmap", "group:lineage", "finalize:termstats")
  val Writes = Seq("append", "upsert", "delete", "compact")

  /** (name, unit) of every per-layer metric. */
  val all: Seq[(String, String)] = Seq(
    ("analyze.tokenize_mb_per_s", "MB/s"),
    ("index.build.wall_s", "s"),
    ("index.build.cpu_s", "s"),
    ("index.build.tasks", "count"),
    ("index.build.shuffle_write_bytes", "bytes"),
    ("index.build.spill_bytes", "bytes"),
    ("index.build.gc_s", "s"),
    ("index.build.output_bytes", "bytes"),
    ("index.build.cycle_share", "ratio"),
    ("index.build.busy_share", "ratio")) ++
    BuildPhases.flatMap { p =>
      val n = p.replace(':', '_')
      Seq((s"index.build.$n.wall_s", "s"), (s"index.build.$n.user_s", "s"))
    } ++
    Writes.flatMap(w => Seq((s"index.write.$w.wall_s", "s"),
      (s"index.write.$w.jobs", "count"))) ++ Seq(
    ("index.write.cycle_share", "ratio"),
    ("index.write.busy_share", "ratio"),
    ("index.codec.encode_mpostings_per_s", "Mpostings/s"),
    ("index.codec.decode_mpostings_per_s", "Mpostings/s"),
    ("index.bytes.segments", "bytes"),
    ("index.bytes.docmap", "bytes"),
    ("index.bytes.termstats", "bytes"),
    ("index.bytes_per_input_byte", "ratio"),
    ("table.load_ms", "ms"),
    ("table.snapshots", "count"),
    ("search.call_ms", "ms"),
    ("search.cpu_s", "s"),
    ("search.input_rows", "count"),
    ("search.input_bytes", "bytes"),
    ("search.shuffle_write_bytes", "bytes"),
    ("search.fetch_wait_s", "s"),
    ("search.gc_s", "s"),
    ("search.spill_bytes", "bytes"),
    ("search.jobs_per_call", "count"),
    ("search.stages_per_call", "count"),
    ("search.tasks_per_call", "count"),
    ("search.scheduler_delay_s", "s"),
    ("search.cycle_share", "ratio"),
    ("search.busy_share", "ratio"),
    ("compare.parse_us_per_line", "us"),
    ("compare.diff_us_per_pair", "us")) ++
    Seq("pipeline", "report", "export").flatMap(p =>
      Seq((s"compare.$p.wall_s", "s"), (s"compare.$p.cpu_s", "s"))) ++ Seq(
    ("compare.malformed_lines", "count"),
    ("client.op_p90_ms", "ms"),
    ("trace.untraced.items_per_s", "items/s"),
    ("trace.traced.items_per_s", "items/s"),
    ("trace.untraced.op_p50_ms", "ms"),
    ("trace.traced.op_p50_ms", "ms"),
    ("trace.overhead_ratio", "ratio"))

  private val units = all.toMap

  def unitOf(name: String): String = units(name)

  /** Every per-layer metric, 0 where the run did not measure it. */
  def complete(measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- units.keySet
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    units.keys.map(k => k -> measured.getOrElse(k, 0.0)).toMap
  }

  def fromTrace(t: Tracer, tap: TimingTap): Map[String, Double] = {
    val byName = t.spans.groupBy(_.name)
    def spans(name: String): Seq[Span] = byName.getOrElse(name, Nil).toSeq
    /** mean over `name`'s spans of `f`, 0 when there are none */
    def mean(name: String)(f: Span => Double): Double = {
      val ss = spans(name)
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    }
    def agg(name: String)(f: SpanAgg => Double): Double = mean(name)(s => f(t.aggOf(s)))

    val builds = spans("index.build").size
    val build = Map(
      "index.build.wall_s" -> mean("index.build")(_.secs),
      "index.build.cpu_s" -> agg("index.build")(_.cpuNs / 1e9),
      "index.build.tasks" -> agg("index.build")(_.tasks.toDouble),
      "index.build.shuffle_write_bytes" -> agg("index.build")(_.shuffleWriteBytes.toDouble),
      "index.build.spill_bytes" -> agg("index.build")(_.spillBytes.toDouble),
      "index.build.gc_s" -> agg("index.build")(_.gcMs / 1e3),
      "index.build.output_bytes" -> agg("index.build")(_.outputBytes.toDouble)) ++
      (if (builds == 0) Nil else BuildPhases.flatMap { p =>
        val n = p.replace(':', '_')
        Seq(s"index.build.$n.wall_s" -> tap.wall(("index.build", p)) / builds,
          s"index.build.$n.user_s" -> tap.user(("index.build", p)) / builds)
      })
    val writes = Writes.flatMap { w =>
      Seq(s"index.write.$w.wall_s" -> mean(s"index.write.$w")(_.secs),
        s"index.write.$w.jobs" -> agg(s"index.write.$w")(_.jobs.toDouble))
    }
    val calls = spans("search.call")
    val search = Map(
      "search.call_ms" -> (if (calls.isEmpty) 0.0 else Stats.median(calls.map(_.secs * 1e3))),
      "search.cpu_s" -> agg("search.call")(_.cpuNs / 1e9),
      "search.input_rows" -> agg("search.call")(_.inputRows.toDouble),
      "search.input_bytes" -> agg("search.call")(_.inputBytes.toDouble),
      "search.shuffle_write_bytes" -> agg("search.call")(_.shuffleWriteBytes.toDouble),
      "search.fetch_wait_s" -> agg("search.call")(_.fetchWaitMs / 1e3),
      "search.gc_s" -> agg("search.call")(_.gcMs / 1e3),
      "search.spill_bytes" -> agg("search.call")(_.spillBytes.toDouble),
      "search.jobs_per_call" -> agg("search.call")(_.jobs.toDouble),
      "search.stages_per_call" -> agg("search.call")(_.stages.toDouble),
      "search.tasks_per_call" -> agg("search.call")(_.tasks.toDouble),
      "search.scheduler_delay_s" -> agg("search.call")(_.schedulerDelayMs / 1e3))
    val compare = Seq("pipeline", "report", "export").flatMap { p =>
      Seq(s"compare.$p.wall_s" -> mean(s"compare.$p")(_.secs),
        s"compare.$p.cpu_s" -> agg(s"compare.$p")(_.cpuNs / 1e9))
    }
    // where a cycle's time goes: the share of client-op time spent inside
    // each layer's spans, and how busy the cores were in them (task run
    // time over cores x wall; the rest is driver-side planning, job
    // launch and cores left idle)
    val opWall = t.spans.filter(_.name.startsWith("op.")).map(_.secs).sum
    def group(names: Seq[String]): Seq[Span] = names.flatMap(spans)
    val writeSpans = Writes.map(w => s"index.write.$w")
    val shares = Seq("index.build" -> Seq("index.build"), "index.write" -> writeSpans,
      "search" -> Seq("search.call")).flatMap { case (layer, names) =>
      val ss = group(names)
      val wall = ss.map(_.secs).sum
      val run = ss.map(s => t.aggOf(s).runMs / 1e3).sum
      Seq(s"$layer.cycle_share" -> (if (opWall > 0) wall / opWall else 0.0),
        s"$layer.busy_share" -> (if (wall > 0) run / (t.cores * wall) else 0.0))
    }
    build ++ writes ++ search ++ compare ++ shares
  }
}
