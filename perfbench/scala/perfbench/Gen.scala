package perfbench

import java.util.SplittableRandom
import graft.corpus.{CorpusGen, RefQuery, SourceFile}

/** Seeded input generators. Everything the benchmark feeds graft is a pure
  * function of the run's seed. */
object Gen {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rank in [0, n) with P(r) ∝ 1/(r+1). */
  def zipf(rnd: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.exp(rnd.nextDouble() * math.log(n + 1.0)) - 1.0).toInt)

  /** `n` Zipf-skewed query texts for batch number `call`. */
  def queryBatch(seed: Long, call: Long, n: Int): Seq[RefQuery] =
    CorpusGen.queries(n, mix(seed, 0x5eac4L + call))

  // ---- ingest write sequence ----

  sealed trait Write { def name: String }
  case object Append extends Write { val name = "append" }
  case object Upsert extends Write { val name = "upsert" }
  case object Delete extends Write { val name = "delete" }
  case object Compact extends Write { val name = "compact" }

  /** The writes of one ingest cycle, in lifecycle order. The order is
    * fixed: the first write after a build also pays the first read of a
    * multi-generation index, so a seeded order would move that cost
    * between write kinds from run to run. */
  val writes: Seq[Write] = Seq(Append, Upsert, Delete, Compact)

  /** Doc indexes of the base corpus a write touches: upserts and deletes
    * draw disjoint sets, so the expected live count is exact. */
  def upsertIdx(seed: Long, baseDocs: Int, n: Int): Seq[Long] =
    distinctIdx(seed, 0x0b5e47L, baseDocs, n, Set.empty)

  def deleteIdx(seed: Long, baseDocs: Int, n: Int, upserts: Int): Seq[Long] =
    distinctIdx(seed, 0xde1e7eL, baseDocs, n, upsertIdx(seed, baseDocs, upserts).toSet)

  private def distinctIdx(seed: Long, salt: Long, bound: Int, n: Int,
                          exclude: Set[Long]): Seq[Long] = {
    val rnd = new SplittableRandom(mix(seed, salt))
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val i = rnd.nextInt(bound).toLong
      if (!exclude(i)) out += i
    }
    out.toSeq
  }

  val NumRepos = 100

  /** A base-corpus document with new content (an upsert's new version). */
  def updated(idx: Long, seed: Long): SourceFile =
    CorpusGen.fileFor(idx, seed, NumRepos)
      .copy(content = CorpusGen.contentFor(idx, mix(seed, 0x9bd47eL)))

  // ---- comparator triples ----

  /** The generator's known mix; `malformed` lines never parse. */
  final case class TripleMix(lines: Int, identical: Int, statusMatch: Int, malformed: Int) {
    def parsed: Int = lines - malformed
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def gzipB64(s: String): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  private def side(status: Int, latency: Int, body: String, extra: String): String =
    s"""{"HTTP-Version":"HTTP/1.1","Status-Code":"$status","Reason-Phrase":"OK",""" +
      s""""response_time_ms":$latency,"body":"$body","Content-Type":"application/json"$extra}"""

  /** One triple line of kind `k` for request `i`:
    * 0 identical, 1 differs only in masked volatile fields, 2 body diff,
    * 3 status diff, 4 gzip bodies (identical once decoded), 5 malformed. */
  def tripleLine(seed: Long, i: Int): (Int, String) = {
    val rnd = new SplittableRandom(mix(seed, 0x7419L + i))
    val u = rnd.nextInt(100)
    val kind = if (u < 40) 0 else if (u < 60) 1 else if (u < 75) 2 else if (u < 85) 3
      else if (u < 95) 4 else 5
    val q = CorpusGen.poolWord(zipf(rnd, CorpusGen.poolSize))
    val hits = rnd.nextInt(1000)
    def body(took: Int, total: Int) =
      s"""{"took":$took,"timed_out":false,"hits":{"total":$total,"max_score":1.5,""" +
        s""""hits":[{"_id":"d$i","_source":{"q":"$q","n":$total}}]}}"""
    val req = s"""{"Request-URI":"/code/_search?q=$q","Method":"GET","HTTP-Version":"HTTP/1.1",""" +
      s""""body":"${b64(s"""{"query":{"match":{"content":"$q"}}}""")}","Host":"search:9200","timestamp":${1700000000000L + i}}"""
    val lp = 1 + rnd.nextInt(200)
    val ls = 1 + rnd.nextInt(200)
    val line = kind match {
      case 0 =>
        val b = b64(body(5, hits))
        s"""{"request":$req,"primaryResponse":${side(200, lp, b, "")},"shadowResponse":${side(200, ls, b, "")}}"""
      case 1 =>
        s"""{"request":$req,"primaryResponse":${side(200, lp, b64(body(5, hits)), ""","date":"Mon"""")},""" +
          s""""shadowResponse":${side(200, ls, b64(body(9, hits)), ""","date":"Tue"""")}}"""
      case 2 =>
        s"""{"request":$req,"primaryResponse":${side(200, lp, b64(body(5, hits)), "")},""" +
          s""""shadowResponse":${side(200, ls, b64(body(5, hits + 1)), "")}}"""
      case 3 =>
        val b = b64(body(5, hits))
        s"""{"request":$req,"primaryResponse":${side(200, lp, b, "")},"shadowResponse":${side(500, ls, b, "")}}"""
      case 4 =>
        val b = gzipB64(body(5, hits))
        val gz = ""","content-encoding":"gzip""""
        s"""{"request":$req,"primaryResponse":${side(200, lp, b, gz)},"shadowResponse":${side(200, ls, b, gz)}}"""
      case _ =>
        // a triple whose shadow response lost its Status-Code
        s"""{"request":$req,"primaryResponse":${side(200, lp, b64(body(5, hits)), "")},""" +
          s""""shadowResponse":{"response_time_ms":$ls,"body":"${b64("{}")}"}}"""
    }
    (kind, line)
  }

  def triples(seed: Long, n: Int): (Seq[String], TripleMix) = {
    val generated = (0 until n).map(tripleLine(seed, _))
    val count = generated.groupBy(_._1).map { case (k, v) => k -> v.size }.withDefaultValue(0)
    val mix = TripleMix(n, identical = count(0) + count(1) + count(4),
      statusMatch = n - count(5) - count(3), malformed = count(5))
    (generated.map(_._2), mix)
  }
}
