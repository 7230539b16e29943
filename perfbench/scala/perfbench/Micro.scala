package perfbench

import graft.analyze.Tokenizer
import graft.compare.{JsonDiff, Triples}
import graft.corpus.CorpusGen
import graft.index.Codec

/** Single-thread kernel rates on fixed seeded samples, each the median of
  * several repetitions after as many warm-up calls (the kernels may not
  * have run yet in this JVM, and one call is not enough for the JIT). */
object Micro {
  private val Reps = 10

  /** Median seconds of one call of `f`. */
  private def secs(f: => Unit): Double = {
    for (_ <- 0 until Reps) f
    Stats.median((0 until Reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
  }

  def tokenize(seed: Long): Map[String, Double] = {
    val docs = (0L until 2000L).map(CorpusGen.contentFor(_, seed)).toArray
    val mb = docs.map(_.length.toLong).sum / 1e6
    var sink = 0L
    val s = secs(docs.foreach(d => sink += Tokenizer.tokenize(d).length))
    require(sink > 0)
    Map("analyze.tokenize_mb_per_s" -> mb / s)
  }

  def codec(seed: Long): Map[String, Double] = {
    val rnd = new java.util.SplittableRandom(Gen.mix(seed, 0xc0dec))
    val n = 1 << 18
    val ords = new Array[Long](n)
    val tfs = Array.fill(n)(1L + Gen.zipf(rnd, 16))
    val dls = Array.fill(n)(40L + rnd.nextInt(160))
    var o = 0L
    var i = 0
    while (i < n) { o += 1 + rnd.nextInt(12); ords(i) = o; i += 1 }
    var blocks: Array[Codec.Block] = null
    val enc = secs { blocks = Codec.buildBlocks(ords, tfs, dls, 120.0) }
    var sum = 0L
    val dec = secs(blocks.foreach { b =>
      sum += Codec.decodeBlockDocs(b).length + Codec.decodeBlockTfs(b).length
    })
    require(sum > 0)
    Map("index.codec.encode_mpostings_per_s" -> n / enc / 1e6,
      "index.codec.decode_mpostings_per_s" -> n / dec / 1e6)
  }

  def compare(seed: Long): Map[String, Double] = {
    val lines = (0 until 2000).map(Gen.tripleLine(seed, _)._2).toArray
    var parsed = 0
    val parse = secs(lines.foreach(l => if (Triples.parseLine(l).isDefined) parsed += 1))
    val pairs = lines.flatMap(Triples.parseLine).map(t => (t.primary.body, t.shadow.body))
    var diffs = 0
    val diff = secs(pairs.foreach { case (a, b) =>
      diffs += JsonDiff.diff(a, b, Triples.bodyMaskPaths).length
    })
    require(parsed > 0 && diffs > 0)
    Map("compare.parse_us_per_line" -> parse / lines.length * 1e6,
      "compare.diff_us_per_pair" -> diff / pairs.length * 1e6)
  }

  def all(seed: Long): Map[String, Double] = tokenize(seed) ++ codec(seed) ++ compare(seed)
}
