package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spatial.{DistributedKnn, PointCellIndex}
import graft.synth.SynthWorld

class DistributedKnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Rows of a [[DistributedKnn.knn]] result, per point id, in rank order
    * as (rank, nearest_tid, nearest_dist_m), read by column name. */
  private def ranked(got: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Int, Long, Double)]] =
    got.collect().toSeq.map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("rank"), r.getAs[Long]("nearest_tid"), r.getAs[Double]("nearest_dist_m"))))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).sortBy(_._1) }

  test("distributed ring-join nearest matches the broadcast index exactly") {
    val cfg = SynthWorld.Config(seed = 7L, gridP = 2, gridC = 2,
      streetsPerCity = 4, buildingsPerStreet = 5, pages = 0L)
    val targets = SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon))
    // query points: jittered around buildings + a few far-away points
    val rng = new scala.util.Random(99)
    val near = targets.take(60).zipWithIndex.map { case ((_, la, lo), i) =>
      (i.toLong, la + rng.nextDouble() * 0.02 - 0.01, lo + rng.nextDouble() * 0.02 - 0.01)
    }
    val far = Seq((1000L, 47.9, 7.9), (1001L, 40.1, 0.1))
    val points = (near ++ far).toDF("id", "lat", "lon")
    val targetsDf = targets.toDF("tid", "tlat", "tlon")

    val level = 12
    val got = ranked(DistributedKnn.knn(spark, points, targetsDf, level, k = 1, maxRing = 64))

    val idx = PointCellIndex.build(targets, level)
    for ((id, la, lo) <- near ++ far) {
      val want = idx.nearest(la, lo, maxRing = 64).get
      assert(got.contains(id), s"point $id unresolved")
      assert(got(id).map(_._1) == Seq(1), s"point $id: ranks ${got(id)}")
      assert(got(id).head._2 == want._1, s"point $id: got ${got(id)}, want $want")
      assert(math.abs(got(id).head._3 - want._2) < 1e-9)
    }
  }

  test("distributed top-k matches the broadcast index rank-for-rank (k=3)") {
    val cfg = SynthWorld.Config(seed = 7L, gridP = 2, gridC = 2,
      streetsPerCity = 4, buildingsPerStreet = 5, pages = 0L)
    val targets = SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon))
    val rng = new scala.util.Random(43)
    val near = targets.take(40).zipWithIndex.map { case ((_, la, lo), i) =>
      (i.toLong, la + rng.nextDouble() * 0.02 - 0.01, lo + rng.nextDouble() * 0.02 - 0.01)
    }
    val far = Seq((1000L, 47.9, 7.9), (1001L, 40.1, 0.1))
    val points = (near ++ far).toDF("id", "lat", "lon")
    val targetsDf = targets.toDF("tid", "tlat", "tlon")

    val level = 12
    val got = ranked(DistributedKnn.knn(spark, points, targetsDf, level, k = 3, maxRing = 64))

    val idx = PointCellIndex.build(targets, level)
    for ((id, la, lo) <- near ++ far) {
      val want = idx.knn(la, lo, k = 3, maxRing = 64)
      assert(want.size == 3)
      assert(got(id).map(_._1) == Seq(1, 2, 3), s"point $id: ranks ${got(id)}")
      for ((w, g) <- want.zip(got(id))) {
        assert(g._2 == w._1, s"point $id rank ${g._1}: got $g, want $w")
        assert(math.abs(g._3 - w._2) < 1e-9)
      }
    }
    assert(got.values.map(_.size).sum == (near.size + far.size) * 3)
  }

  // the kNN oracle: seeded worlds and query points at three levels and three
  // pool sizes, each checked rank for rank against the broadcast index. Of
  // the three far points, two sit at the world's corners and (20, 30) lies
  // outside it, beyond 64 rings at levels 10 and 12, so it must be dropped
  // there and found at level 8.
  for (level <- Seq(8, 10, 12); k <- Seq(1, 3, 5)) {
    val seed = 100L * level + k
    test(s"distributed kNN matches the broadcast index rank for rank (level $level, k = $k, seed $seed)") {
      val cfg = SynthWorld.Config(seed = seed, gridP = 2, gridC = 2,
        streetsPerCity = 4, buildingsPerStreet = 5, pages = 0L)
      val targets = SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon))
      // jittered around the first 20 buildings, then uniform over the
      // world's [40, 48) × [0, 8), where the nearest targets sit many rings
      // out and the termination bound decides the answer
      val rng = new scala.util.Random(seed)
      val near = targets.take(20).zipWithIndex.map { case ((_, la, lo), i) =>
        (i.toLong, la + rng.nextDouble() * 0.02 - 0.01, lo + rng.nextDouble() * 0.02 - 0.01)
      } ++ (20L until 60L).map(i => (i, 40.0 + rng.nextDouble() * 8.0, rng.nextDouble() * 8.0))
      val far = Seq((1000L, 47.9, 7.9), (1001L, 40.1, 0.1), (1002L, 20.0, 30.0))
      val got = ranked(DistributedKnn.knn(spark, (near ++ far).toDF("id", "lat", "lon"),
        targets.toDF("tid", "tlat", "tlon"), level, k = k, maxRing = 64))

      val idx = PointCellIndex.build(targets, level)
      for ((id, la, lo) <- near ++ far) {
        val want = idx.knn(la, lo, k = k, maxRing = 64)
        val rows = got.getOrElse(id, Nil)
        assert(rows.map(_._1) == (1 to want.size), s"point $id: ranks ${rows.map(_._1)}")
        assert(rows.map(_._2) == want.map(_._1), s"point $id: got $rows, want $want")
        for ((g, w) <- rows.zip(want)) assert(math.abs(g._3 - w._2) < 1e-9)
      }
      assert((0L until 20L).forall(id => got.get(id).exists(_.size == k)))
      if (level == 8) assert(got.contains(1002L), "level 8's 64 rings reach the grid")
      else assert(!got.contains(1002L), s"level $level's 64 rings cannot reach the grid")
    }
  }

  test("coarse-level top-k dedups wrap-duplicate targets (antimeridian rings)") {
    // level 5 → 32 grid columns, maxRing 64: a seam-adjacent target cell
    // sits at ring r AND ring 32-r of the same point, in different
    // geometric batches — without pool dedup the same neighbor would rank
    // twice and displace the true 3rd
    val points = Seq((1L, 0.0, 179.0)).toDF("id", "lat", "lon")
    val targets = Seq((1L, 0.0, -179.0), (2L, 0.0, 170.0), (3L, 5.0, 179.0), (4L, 0.0, 0.0))
    val got = ranked(DistributedKnn.knn(spark, points,
        targets.toDF("tid", "tlat", "tlon"), level = 5, k = 3, maxRing = 64))(1L)
      .map { case (rank, tid, _) => (rank, tid) }
    val brute = targets
      .map(t => (t._1, graft.cells.CellIndex.haversineM(0.0, 179.0, t._2, t._3)))
      .sortBy(x => (x._2, x._1)).take(3).map(_._1)
    assert(got.map(_._2).distinct.length == 3, s"duplicate neighbor in $got")
    assert(got.map(_._2).toSeq == brute, s"got $got, want ranks of $brute")
  }

  test("top-k with fewer targets than k returns what exists, correctly ranked") {
    val points = Seq((1L, 44.0, 4.0)).toDF("id", "lat", "lon")
    val targets = Seq((9L, 44.01, 4.0), (5L, 44.02, 4.0)).toDF("tid", "tlat", "tlon")
    val got = ranked(DistributedKnn.knn(spark, points, targets, level = 12, k = 5, maxRing = 64))
    assert(got(1L).map { case (rank, tid, _) => (rank, tid) } == Seq((1, 9L), (2, 5L)))
  }

  test("sparse world: >=16 empty rings before the hit completes without plan blowup") {
    // one target ~1 degree away at level 12 (0.0439-degree cell rows) — the
    // loop walks ~23 empty rings before the first hit; each round's frames
    // sit behind truncated plans, so the plan stays flat and the run finishes
    val points = (0L until 8L).map(i => (i, 44.0 + i * 0.001, 4.0)).toDF("id", "lat", "lon")
    val targets = Seq((7L, 45.0, 4.0)).toDF("tid", "tlat", "tlon")
    val t0 = System.nanoTime()
    val got = ranked(DistributedKnn.knn(spark, points, targets, level = 12, k = 1, maxRing = 64))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.size == 8 && got.values.forall(_.map(_._2) == Seq(7L)))
    assert(secs < 120.0, f"sparse ring walk took $secs%.1f s — plan blowup")
  }

  test("knn leaves the session's persistent RDDs as it found them") {
    val points = (0L until 50L).map(i =>
      (i, 44.0 + (i % 10) * 0.001, 4.0 + (i / 10) * 0.001)).toDF("id", "lat", "lon")
    val targets = Seq((1L, 44.005, 4.002), (2L, 44.5, 4.5)).toDF("tid", "tlat", "tlon")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r1 = DistributedKnn.knn(spark, points, targets, level = 12, k = 1)
    val r2 = DistributedKnn.knn(spark, points, targets, level = 12, k = 1)
    assert(r1.count() == 50 && r2.count() == 50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == baseline,
      "targetsByCell, every round's top-k and unresolved frame must all be freed")
  }

  test("points with no target within maxRing are dropped, not mis-assigned") {
    val points = Seq((1L, 0.0, 0.0)).toDF("id", "lat", "lon")
    val targets = Seq((9L, 45.0, 90.0)).toDF("tid", "tlat", "tlon")
    val got = DistributedKnn.knn(spark, points, targets, level = 12, k = 1, maxRing = 2)
    assert(got.count() == 0)
    val none = DistributedKnn.knn(spark, points.limit(0), targets, level = 12, k = 3)
    assert(none.columns.toSeq == Seq("id", "rank", "nearest_tid", "nearest_dist_m"))
    assert(none.count() == 0)
  }
}
