package perfbench

import graft.compare.{Harness, Reports, Triples}
import graft.corpus.{CorpusGen, SourceFile}
import graft.index.{BuildConfig, IndexBuilder}
import graft.search.Wand
import graft.table.{Snapshot, SnapshotCatalog}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

/** Input sizes. They are bounded by run time: 48 runs and two builds
  * must finish within the hour the benchmark is given, so an `ingest` run
  * (three set-ups, one cycle, checks) takes 40-75 s and a `compare` run
  * 25-40 s on a 4-core host, depending on the host's load. At these
  * sizes a traced `ingest` cycle spends all its time in build, write and
  * fresh-read spans, but the cores run tasks for only 26-48% of it: the
  * rest is graft's per-job driver work (planning, job launch, result
  * collection; ~180 jobs a cycle). The index (~7 MB) stays far below
  * graft's 128 MB shared-decode budget. */
object Sizes {
  val IngestDocs = 5000
  val AppendDocs = 500
  val UpsertDocs = 250
  val DeleteDocs = 150
  val FreshReadQueries = 256 // after every ingest write
  val Triples = 40000
  val ReplayQueries = 8      // Golden-vs-WAND sample
  val K = 10
}

object Common {
  def buildConfig(docs: Int): BuildConfig =
    BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = math.max(500, docs / 16),
      saltBuckets = 4, trustedInput = true)

  def corpus(ctx: Ctx, name: String): Dataset[SourceFile] =
    ctx.spark.read.parquet(ctx.path(name)).as(Encoders.product[SourceFile])

  /** Generate `docs` documents and materialize them as parquet. */
  def materialize(ctx: Ctx, name: String, docs: Int): Unit = {
    ctx.rm(name)
    CorpusGen.corpus(ctx.spark, docs, ctx.seed, Gen.NumRepos).write.parquet(ctx.path(name))
  }

  def load(ctx: Ctx, dir: String): Snapshot = ctx.span("table.load") {
    SnapshotCatalog.load(ctx.spark, dir).getOrElse(
      throw new IllegalStateException(s"no snapshot at $dir"))
  }

  def build(ctx: Ctx, corpusName: String, dir: String, docs: Int): Snapshot =
    ctx.span("index.build") {
      IndexBuilder.build(ctx.spark, corpus(ctx, corpusName), ctx.path(dir), buildConfig(docs))
    }

  /** Every top-k row set must be well formed: per query at most `k` rows,
    * ranks `1..n` without gaps, scores non-increasing, distinct non-null
    * doc ids, and only asked-for query ids. */
  def checkTopK(ctx: Ctx, what: String, rows: Array[Row], asked: Set[Int], k: Int): Unit = {
    val bad = rows.groupBy(_.getAs[Int]("query_id")).collectFirst {
      case (q, _) if !asked(q) => s"unasked query $q"
      case (q, rs) if rs.length > k => s"query $q returned ${rs.length} > $k rows"
      case (q, rs) if {
        val s = rs.sortBy(_.getAs[Int]("rank"))
        s.map(_.getAs[Int]("rank")).toSeq != (1 to s.length) ||
          s.sliding(2).exists(p => p.length == 2 &&
            p(0).getAs[Double]("score") < p(1).getAs[Double]("score")) ||
          s.exists(_.getAs[String]("doc_id") == null) ||
          s.map(_.getAs[String]("doc_id")).distinct.length != s.length
      } => s"query $q: ranks, scores or doc ids malformed"
    }
    ctx.check(what, bad.isEmpty, bad.getOrElse(""))
  }

  /** WAND must equal Golden, rank for rank with bit-identical scores. */
  def replayCheck(ctx: Ctx, dir: String, corpus: DataFrame): Unit = {
    val snap0 = SnapshotCatalog.load(ctx.spark, ctx.path(dir)).get
    val snap =
      if (ctx.perturb != "score") snap0
      else {
        // self-test: commit a snapshot whose pinned avgdl is off by one
        // token, so every WAND score drifts from Golden's
        val s = snap0.copy(id = snap0.id + 1, parentId = snap0.id,
          stats = snap0.stats.copy(totalTokens = snap0.stats.totalTokens + snap0.stats.numDocs))
        SnapshotCatalog.commit(ctx.spark, ctx.path(dir), s)
        s
      }
    val queries = CorpusGen.queries(Sizes.ReplayQueries, Gen.mix(ctx.seed, 0x60deL))
    val stats = Harness.correctness(
      Harness.replay(ctx.spark, snap, corpus, queries, Sizes.K))
    ctx.check("wand_equals_golden", stats.total > 0 && stats.identical == stats.total,
      s"${stats.identical}/${stats.total} rank rows identical")
  }

  def dirBytes(path: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(path))

  /** Index size and snapshot-manifest load time of the index at `dir`,
    * built from the corpus `corpusName`. */
  def indexLayer(ctx: Ctx, dir: String, corpusName: String): Map[String, Double] = {
    val inputBytes = corpus(ctx, corpusName).agg(sum(length(col("content")))).head().getLong(0)
    val loads = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      load(ctx, ctx.path(dir))
      (System.nanoTime() - t0) / 1e6
    }
    val snap = load(ctx, ctx.path(dir))
    val seg = snap.segmentDirs.distinct.map(dirBytes).sum.toDouble
    val dm = snap.docmapDirs.distinct.map(dirBytes).sum.toDouble
    val ts = dirBytes(snap.termstatsDir).toDouble
    Map("table.load_ms" -> Stats.median(loads),
      "table.snapshots" -> SnapshotCatalog.listIds(ctx.spark, ctx.path(dir)).size.toDouble,
      "index.bytes.segments" -> seg, "index.bytes.docmap" -> dm, "index.bytes.termstats" -> ts,
      "index.bytes_per_input_byte" -> (seg + dm + ts) / inputBytes)
  }
}

/** Fresh index builds from a materialized corpus, each followed by
  * append / upsert / delete / compact writes of seeded batches with a
  * 256-query search after every write. Throughput is docs written per
  * second of the whole cycle; the op latency is one write plus its fresh
  * read. */
final class Ingest extends Workload {
  override def separateWork = true
  private val N = Sizes.IngestDocs
  private var lastDir = ""
  private val expectedLive = (N + Sizes.AppendDocs - Sizes.DeleteDocs).toLong

  def setUp(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    Common.materialize(ctx, "corpus", N)
    ctx.rm("append"); ctx.rm("upsert")
    (N until N + Sizes.AppendDocs).map(i => CorpusGen.fileFor(i, seed, Gen.NumRepos))
      .toDS().write.parquet(ctx.path("append"))
    Gen.upsertIdx(seed, N, Sizes.UpsertDocs).map(Gen.updated(_, seed))
      .toDS().write.parquet(ctx.path("upsert"))
    // the warm build and the first search
    ctx.rm("warm")
    freshRead(ctx, Common.build(ctx, "corpus", "warm", N), -1)
    ctx.rm("warm")
  }

  private def freshRead(ctx: Ctx, snap: Snapshot, i: Long): Unit = {
    val qs = Gen.queryBatch(ctx.seed, i, Sizes.FreshReadQueries)
    val rows = ctx.span("search.call") {
      Wand.searchSnapshot(ctx.spark, snap, qs, Sizes.K).collect()
    }
    Common.checkTopK(ctx, "fresh_read_topk_well_formed", rows, qs.map(_.query_id).toSet, Sizes.K)
  }

  private def write(ctx: Ctx, w: Gen.Write, dir: String): Long = {
    val spark = ctx.spark
    val d = ctx.path(dir)
    val cfg = Common.buildConfig(N)
    ctx.span(s"index.write.${w.name}") {
      w match {
        case Gen.Append =>
          IndexBuilder.append(spark, Common.corpus(ctx, "append"), d, cfg); Sizes.AppendDocs
        case Gen.Upsert =>
          IndexBuilder.upsert(spark, Common.corpus(ctx, "upsert"), d, cfg); Sizes.UpsertDocs
        case Gen.Delete =>
          IndexBuilder.delete(spark, d, col("path").isin(deletedPaths(ctx): _*), cfg)
          Sizes.DeleteDocs
        case Gen.Compact =>
          IndexBuilder.compact(spark, d, cfg); 0L
      }
    }
  }

  /** One cycle; a failed write ends it, and a failed cycle counts 0 docs,
    * so a failure never reads as speed. */
  private def cycle(ctx: Ctx, w: Window, dir: String): Unit = {
    ctx.rm(dir)
    val ok = w.work.time("cycle") {
      ctx.op("build")(Common.build(ctx, "corpus", dir, N))
      Gen.writes.zipWithIndex.foreach { case (wr, j) =>
        val done = w.ops.time(wr.name)(ctx.op(s"write.${wr.name}") {
          // self-test: an upsert that fails must fail the run
          if (ctx.perturb == "fail-write" && wr == Gen.Upsert)
            throw new IllegalStateException("upsert failed on purpose (--perturb fail-write)")
          val n = write(ctx, wr, dir)
          freshRead(ctx, Common.load(ctx, ctx.path(dir)), j)
          n
        })
        if (!done) throw new IllegalStateException(s"cycle ended by the failed ${wr.name}")
      }
      N.toLong + Sizes.AppendDocs + Sizes.UpsertDocs + Sizes.DeleteDocs
    }
    if (ok) checkLive(ctx, dir)
  }

  private def checkLive(ctx: Ctx, dir: String): Unit = {
    val snap = SnapshotCatalog.load(ctx.spark, ctx.path(dir)).get
    val live = ctx.spark.read.parquet(snap.docmapDirs: _*).count() -
      (if (snap.tombstoneDirs.isEmpty) 0L else ctx.spark.read.parquet(snap.tombstoneDirs: _*).count())
    ctx.check("live_doc_count", snap.stats.numDocs == expectedLive && live == expectedLive,
      s"snapshot says ${snap.stats.numDocs}, docmap has $live live rows, expected $expectedLive")
  }

  def step(ctx: Ctx, w: Window, i: Int): Unit = {
    if (lastDir.nonEmpty) ctx.rm(lastDir)
    lastDir = s"idx-$i"
    cycle(ctx, w, lastDir)
  }

  private def deletedPaths(ctx: Ctx): Seq[String] =
    Gen.deleteIdx(ctx.seed, N, Sizes.DeleteDocs, Sizes.UpsertDocs)
      .map(CorpusGen.fileFor(_, ctx.seed, Gen.NumRepos).path)

  /** The corpus the index should hold now: base docs with upserted ones
    * replaced and deleted ones gone, plus the appended batch. */
  private def current(ctx: Ctx): DataFrame = {
    val key = Seq("repo", "path", "commit")
    val up = Common.corpus(ctx, "upsert").toDF()
    Common.corpus(ctx, "corpus").toDF()
      .filter(!col("path").isin(deletedPaths(ctx): _*))
      .join(up.select(key.map(col): _*), key, "left_anti")
      .unionByName(up).unionByName(Common.corpus(ctx, "append").toDF())
  }

  def verify(ctx: Ctx): Unit = {
    val snap = SnapshotCatalog.load(ctx.spark, ctx.path(lastDir)).get
    val bad = Harness.shaViolations(ctx.spark, snap, current(ctx)).count()
    ctx.check("sha_violations_empty", bad == 0, s"$bad rows violate the sha invariant")
    Common.replayCheck(ctx, lastDir, current(ctx))
  }

  override def layerMetrics(ctx: Ctx): Map[String, Double] =
    Common.indexLayer(ctx, lastDir, "corpus")
}

/** The traffic comparator on seeded triples: parse → compare → reports →
  * JSON-lines export, over a file of lines with a known mix. */
final class CompareWorkload extends Workload {
  private var mix: Gen.TripleMix = _
  private var parsed = 0L

  def setUp(ctx: Ctx, rep: Int): Unit = {
    val (lines, m) = Gen.triples(ctx.seed, Sizes.Triples)
    mix = m
    ctx.rm("triples")
    val kept = if (ctx.perturb == "drop-triple") lines.tail else lines
    val spark = ctx.spark
    import spark.implicits._
    kept.toDS().repartition(4).write.text(ctx.path("triples"))
    // two warm passes: pass time keeps falling through the first few
    for (_ <- 0 until 2) pass(ctx, "warm")
    ctx.rm("warm")
  }

  private def pass(ctx: Ctx, export: String): Long = {
    val spark = ctx.spark
    val lines = spark.read.textFile(ctx.path("triples"))
    val cmp = ctx.span("compare.pipeline") {
      val c = Triples.compare(Triples.parse(spark, lines)).persist()
      c.count()
      c
    }
    try {
      val (stats, perf) = ctx.span("compare.report") {
        (Reports.correctness(cmp), Reports.performance(cmp))
      }
      ctx.rm(export)
      ctx.span("compare.export") {
        Triples.toJsonLines(cmp).write.text(ctx.path(export))
      }
      ctx.check("compare_counts_match_mix",
        stats.total == mix.parsed && stats.identical == mix.identical &&
          stats.statusMatch == mix.statusMatch,
        s"got total=${stats.total} identical=${stats.identical} statusMatch=${stats.statusMatch}, " +
          s"expected $mix")
      ctx.check("latency_report_counts",
        perf.map(_.cluster).sorted == Seq("primary", "shadow") && perf.forall(_.count == mix.parsed),
        s"performance rows ${perf.mkString(",")}")
      parsed = stats.total
      mix.lines.toLong
    } finally cmp.unpersist()
  }

  def step(ctx: Ctx, w: Window, i: Int): Unit =
    w.ops.time("compare")(ctx.op("compare")(pass(ctx, "export")))

  private def malformed(ctx: Ctx): Long =
    ctx.spark.read.textFile(ctx.path("triples")).count() - parsed

  def verify(ctx: Ctx): Unit = {
    val bad = malformed(ctx)
    ctx.check("malformed_lines", bad == mix.malformed,
      s"$bad lines did not parse, expected ${mix.malformed}")
    val exported = ctx.spark.read.textFile(ctx.path("export")).count()
    ctx.check("exported_lines", exported == mix.parsed,
      s"exported $exported lines, expected ${mix.parsed}")
  }

  override def layerMetrics(ctx: Ctx): Map[String, Double] =
    Map("compare.malformed_lines" -> malformed(ctx).toDouble)
}
