package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** The per-group shared-decode budget: its setting is validated once per
  * search, and a block is cached only when it fits whole. */
class DecodeBudgetSpec extends AnyFunSuite {

  test("decodeCacheMb: unset is 128 MB, a valid value is MB, a malformed one names the key") {
    assert(Wand.decodeCacheBytes(None) == 128L * 1024 * 1024)
    assert(Wand.decodeCacheBytes(Some("3")) == 3L * 1024 * 1024)
    for (bad <- Seq("abc", "12x", "", "0", "-5", "1.5", Long.MaxValue.toString)) {
      val e = intercept[IllegalArgumentException](Wand.decodeCacheBytes(Some(bad)))
      assert(e.getMessage.contains("spark.graft.decodeCacheMb"), bad)
    }
  }

  test("the decode budget never goes negative") {
    val b = new Wand.DecodeBudget(100L)
    assert(b.take(64L) && b.remaining == 36L)
    assert(!b.take(64L) && b.remaining == 36L) // a block that does not fit is not cached
    assert(b.take(36L) && b.remaining == 0L)
    assert(!b.take(1L) && b.remaining == 0L)
    val rnd = new scala.util.Random(7L)
    val r = new Wand.DecodeBudget(1L << 20)
    for (_ <- 0 until 10000) {
      r.take(rnd.nextInt(4096).toLong << 3)
      assert(r.remaining >= 0L)
    }
  }
}
