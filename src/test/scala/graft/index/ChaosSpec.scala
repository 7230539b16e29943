package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.corpus.CorpusGen
import graft.search.{Golden, Wand}
import graft.table.SnapshotCatalog

/** Seeded random interleaving of the WHOLE index lifecycle —
  * append / delete / compact / rollback in arbitrary order — with the
  * golden-vs-WAND bit-identity invariant asserted after EVERY step.
  * Pairwise lifecycle tests (EngineSpec, LifecycleSpec) pin each
  * transition; this pins the interaction matrix (delete on a rolled-back
  * state, compact over mixed tombstone generations, append after a
  * rollback past a compaction, ...) that no enumerated test covers. */
class ChaosSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("random append/delete/compact/rollback interleave stays bit-identical") {
    val dir = TestSpark.tempDir("graft-chaos")
    val all = CorpusGen.corpus(spark, 1200L, seed = 101L).cache()
    val withId = all.withColumn("doc_id", IndexBuilder.docIdCol).cache()
    val queries = CorpusGen.queries(6, seed = 101L)
    val k = 5
    val nSlices = 6
    def sliceOf(i: Int) = all.filter(pmod(xxhash64($"path"), lit(nSlices)) === i)
    val sliceIds: Map[Int, Set[String]] = (0 until nSlices).map(i =>
      i -> withId.filter(pmod(xxhash64($"path"), lit(nSlices)) === i)
        .select("doc_id").as[String].collect().toSet).toMap
    def delIds(bucket: Int): Set[String] = withId
      .filter(pmod(xxhash64($"path"), lit(13)) === bucket)
      .select("doc_id").as[String].collect().toSet

    // driver-side mirror of the table state, snapshotted per commit so
    // rollback can restore it
    var live: Set[String] = sliceIds(0)
    var appended: Set[Int] = Set(0)
    var states = Map.empty[Long, (Set[String], Set[Int])]

    var snap = IndexBuilder.build(spark, sliceOf(0), dir,
      BuildConfig(numShards = 4, commitEvery = 4, heavyThreshold = 200, saltBuckets = 4))
    states += snap.id -> ((live, appended))

    def checkIdentity(step: String): Unit = {
      val docs = withId.filter($"doc_id".isin(live.toSeq: _*))
        .select($"doc_id", $"content")
      val golden = Golden.topK(spark, docs, queries, k)
        .withColumnRenamed("doc_id", "g_doc").withColumnRenamed("score", "g_score")
      val fast = Wand.searchSnapshot(spark, SnapshotCatalog.current(spark, dir), queries, k)
        .withColumnRenamed("doc_id", "f_doc").withColumnRenamed("score", "f_score")
      val bad = golden.join(fast, Seq("query_id", "rank"), "full_outer")
        .filter($"g_doc".isNull || $"f_doc".isNull ||
          $"g_doc" =!= $"f_doc" || $"g_score" =!= $"f_score").count()
      assert(bad == 0, s"golden/WAND diverged after $step (live=${live.size})")
    }
    checkIdentity("build")

    val rng = new scala.util.Random(7)
    (1 to 10).foreach { step =>
      val freshSlices = (0 until nSlices).filterNot(appended.contains)
      val op = rng.nextInt(4) match {
        case 0 if freshSlices.nonEmpty => "append"
        case 1 => "delete"
        case 2 => "compact"
        case 3 if states.size > 1 => "rollback"
        case _ => if (freshSlices.nonEmpty) "append" else "compact"
      }
      op match {
        case "append" =>
          val s = freshSlices(rng.nextInt(freshSlices.length))
          snap = IndexBuilder.append(spark, sliceOf(s), dir)
          live = live ++ sliceIds(s); appended += s
        case "delete" =>
          val b = rng.nextInt(13)
          val victims = delIds(b) & live
          // keep the corpus non-empty so top-k stays meaningful
          if (victims.nonEmpty && (live -- victims).size > 100) {
            snap = IndexBuilder.delete(spark, dir,
              pmod(xxhash64(col("path")), lit(13)) === b)
            live = live -- victims
          }
        case "compact" =>
          snap = IndexBuilder.compact(spark, dir)
        case "rollback" =>
          val target = states.keys.toSeq.sorted.apply(rng.nextInt(states.size))
          snap = SnapshotCatalog.rollback(spark, dir, target)
          val (l, a) = states(target)
          live = l; appended = a
      }
      states += snap.id -> ((live, appended))
      checkIdentity(s"step $step ($op)")
    }
    // the mirror agrees with the table: docmap minus tombstones == live
    val finalSnap = SnapshotCatalog.load(spark, dir).get
    val dm = spark.read.parquet(finalSnap.docmapDirs: _*)
    val liveTable =
      if (finalSnap.tombstoneDirs.isEmpty) dm
      else dm.join(spark.read.parquet(finalSnap.tombstoneDirs: _*)
        .select("shard", "ord"), Seq("shard", "ord"), "left_anti")
    assert(liveTable.select("doc_id").as[String].collect().toSet == live)

    // expiring the (rollback-branched) history down to the newest two
    // snapshots must leave the current state byte-identically queryable
    val ex = SnapshotCatalog.expireSnapshots(spark, dir, retainLast = 2)
    assert(ex.expiredIds.nonEmpty)
    checkIdentity("expire")
  }
}
