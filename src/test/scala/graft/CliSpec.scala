package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.compare.{DiffEntry, ParsedRequest, ParsedResponse, Reports, Triple}
import graft.table.SnapshotCatalog

/** The CLI's export surface (K3/K4 wired to `report`/`stream` — the
  * reference's `stream-report --export-reports` workflow, cli.py:43-63).
  * Cli.main owns the SparkSession lifecycle, so the spec drives the
  * factored runExports/parseExports with the shared test session. */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parseExports: diff/perf accepted, junk rejected") {
    assert(Cli.parseExports(Nil) == Map.empty)
    assert(Cli.parseExports(List("--export", "diff=/tmp/d.txt", "--export", "perf=/tmp/p")) ==
      Map("diff" -> "/tmp/d.txt", "perf" -> "/tmp/p"))
    intercept[Exception] { Cli.parseExports(List("--export", "bogus=/x")) }
    intercept[Exception] { Cli.parseExports(List("--export")) }
  }

  test("runExports writes the DiffReport text and PerformanceReport CSV from the latest table") {
    import spark.implicits._
    val out = TestSpark.tempDir("cli-export")
    val cmp = Seq(
      (Triple(ParsedRequest(None, "GET", "/x", Map.empty, ""),
        ParsedResponse(None, Some(200), Some(10L), Map("x-h" -> "1"), """{"hits":1}"""),
        ParsedResponse(None, Some(500), Some(20L), Map("x-h" -> "1"), """{"hits":2}""")), false),
      (Triple(ParsedRequest(None, "GET", "/y", Map.empty, ""),
        ParsedResponse(None, Some(200), Some(30L), Map.empty, "{}"),
        ParsedResponse(None, Some(200), Some(40L), Map.empty, "{}")), true))
      .toDF("t", "identical")
      .select(col("t.request").as("request"), col("t.primary").as("primary"),
        col("t.shadow").as("shadow"),
        typedLit(Seq.empty[DiffEntry]).as("status_diff"),
        typedLit(Seq.empty[DiffEntry]).as("headers_diff"),
        typedLit(Seq.empty[DiffEntry]).as("body_diff"),
        col("identical"))
    Reports.dumpVersioned(cmp, out)
    val diffFile = s"$out/diff_report.txt"
    val perfDir = s"$out/perf_csv"
    Cli.runExports(spark, out, Map("diff" -> diffFile, "perf" -> perfDir))
    // DiffReport: reference-shaped summary + the mismatch block with
    // difflib hint rows, headers restored from the flattened table
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(diffFile))
    assert(txt.contains("2 response were compared."))
    assert(txt.contains("1 were identical, for a match rate of 50.00%"))
    assert(txt.contains("=" * 40))
    assert(txt.contains("- Status code: 200\n?              ^\n\n+ Status code: 500"))
    assert(txt.contains("Headers: {'x-h': '1'}"))
    assert(!txt.contains("/y")) // identical row renders no block
    // PerformanceReport CSV: header + both rows
    val csv = spark.read.option("header", "true").csv(perfDir)
    assert(csv.count() == 2)
    assert(csv.columns.toSeq == Seq("request_uri", "request_method",
      "primary_status", "primary_latency", "shadow_status", "shadow_latency", "identical"))
    assert(csv.filter(col("request_uri") === "/x")
      .head().getAs[String]("shadow_latency") == "20")
  }

  test("runSearch dispatches OR / boolean / prefix / fuzzy and resolves the docmap") {
    import spark.implicits._
    val dir = TestSpark.tempDir("cli-search-idx")
    val corpus = graft.corpus.CorpusGen.corpus(spark, 300L, seed = 42L)
    graft.index.IndexBuilder.build(spark, corpus, dir,
      graft.index.BuildConfig(numShards = 4, commitEvery = 4))
    // OR mode: identical to Wand.search on the same text
    val got = Cli.runSearch(spark, dir, 5, Seq("spark", "query")).cache()
    assert(got.count() == 5)
    assert(got.select("rank").as[Int].collect().toSeq == (1 to 5))
    // docmap resolution: every row carries the corpus repo/path identity
    assert(got.filter($"repo".isNull || $"path".isNull).count() == 0)
    val snap = SnapshotCatalog.current(spark, dir)
    val expOr = graft.search.Wand.searchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "spark query")), 5)
    assert(got.select("rank", "doc_id").as[(Int, String)].collect().toSet ==
      expOr.select("rank", "doc_id").as[(Int, String)].collect().toSet)
    got.unpersist(false)
    // boolean marker dispatch: must_not excludes its term from every hit
    val bool = Cli.runSearch(spark, dir, 5, Seq("+spark", "-merge"))
    val expBool = graft.search.Wand.booleanSearchSnapshot(spark, snap,
      Seq(graft.search.BoolQuery.parse(0, "+spark -merge")), 5)
    assert(bool.select("rank", "doc_id").as[(Int, String)].collect().toSet ==
      expBool.select("rank", "doc_id").as[(Int, String)].collect().toSet)
    // prefix and fuzzy markers route to their expansions
    val pre = Cli.runSearch(spark, dir, 5, Seq("spar*"))
    val expPre = graft.search.Wand.prefixSearchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "spar*")), 5)
    assert(pre.select("rank", "doc_id").as[(Int, String)].collect().toSet ==
      expPre.select("rank", "doc_id").as[(Int, String)].collect().toSet)
    val fuz = Cli.runSearch(spark, dir, 5, Seq("sparc~"))
    val expFuz = graft.search.Wand.fuzzySearchSnapshot(spark, snap,
      Seq(graft.corpus.RefQuery(0, "sparc~")), 5)
    assert(fuz.select("rank", "doc_id").as[(Int, String)].collect().toSet ==
      expFuz.select("rank", "doc_id").as[(Int, String)].collect().toSet)
    // a lone "-" or "+" (no word body) is NOT a boolean marker
    intercept[IllegalArgumentException] { Cli.runSearch(spark, dir, 0, Seq("x")) }
  }

  test("runQuery: simple_query_string end to end, lenient on bad syntax") {
    import spark.implicits._
    val dir = TestSpark.tempDir("cli-query-idx")
    val corpus = graft.corpus.CorpusGen.corpus(spark, 300L, seed = 43L)
    graft.index.IndexBuilder.build(spark, corpus, dir,
      graft.index.BuildConfig(numShards = 4, commitEvery = 4, positions = true))
    val got = Cli.runQuery(spark, dir, 5, "def + parse | import").cache()
    assert(got.count() == 5)
    assert(got.filter($"repo".isNull || $"path".isNull).count() == 0)
    val snapQ = graft.table.SnapshotCatalog.load(spark, dir).get
    val exp = graft.search.SimpleQueryString.searchSnapshot(spark, snapQ,
      Seq(0 -> "def + parse | import"), 5)
    assert(got.select("rank", "doc_id").as[(Int, String)].collect().toSet ==
      exp.select("rank", "doc_id").as[(Int, String)].collect().toSet)
    got.unpersist(false)
    // default_operator AND tightens or keeps the match set
    val andN = Cli.runQuery(spark, dir, 300, "def parse", defaultAnd = true).count()
    val orN = Cli.runQuery(spark, dir, 300, "def parse").count()
    assert(andN <= orN && orN > 0)
    // lenient: syntax garbage and pure negation return EMPTY, not errors
    assert(Cli.runQuery(spark, dir, 5, ")( -def |").count() == 0)
  }
}
