package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import graft.hier.Hierarchy
import graft.ops.Relational
import graft.react.BigraphState
import graft.sim.Ann
import graft.synth.SynthWorld
import graft.web.{Flagship, Geocode}

/** Library calls keep no cache of their own: once its result is consumed, a
  * call leaves the session's persistent RDDs exactly as it found them (a
  * caller caches what it reuses, and owns that cache), and two concurrent
  * calls on one session return their sequential results. */
class CacheLifetimeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Boundary ⊃ street ⊃ building ⊃ one agent; no hyperedges, no contacts. */
  private def tinyState(): BigraphState = BigraphState(
    Seq((0L, "Boundary", "B", -1L), (1L, "Street", "s1", 0L),
      (2L, "Building", "b", 1L), (10L, "Agent", "a", 2L)).toDF("id", "ctrl", "name", "parent"),
    Seq.empty[(String, Long)].toDF("edge_key", "place_id"),
    Seq.empty[(Long, Long)].toDF("agent_a", "agent_b"))

  /** Relations 10 ∋ 20 ∋ 30, plus an unrelated relation 99. */
  private def members(): DataFrame = Seq(
    (10L, "relation", 20L), (10L, "way", 100L),
    (20L, "relation", 30L), (20L, "node", 200L),
    (30L, "way", 300L),
    (99L, "node", 999L)).toDF("rel_id", "member_kind", "member_ref")

  private val consumers: Seq[(String, () => Any)] = Seq(
    "Ann.ivfTopK" -> (() => Ann.ivfTopK(spark, sf).collect()),
    "Ann.ivfCandidatePairs" -> (() => Ann.ivfCandidatePairs(spark, sf)),
    "Ann.cosineNearDup" -> (() => Ann.cosineNearDup(spark, sf).collect()),
    "BigraphState.places" -> (() => tinyState().places.count()),
    "Relational.closure" -> (() => Relational.closure(spark, sf).collect()),
    "Hierarchy.memberClosure" -> (() => Hierarchy.memberClosure(members()).collect()))

  for ((name, consume) <- consumers)
    test(s"$name leaves the session's persistent RDDs as it found them") {
      val baseline = persistentRdds
      consume()
      val after = persistentRdds
      assert(after == baseline, s"$name changed the persistent RDDs from ${baseline.size} " +
        s"to ${after.size}: left ${after -- baseline}, freed ${baseline -- after}")
    }

  /** Runs `a` and `b` at once, each on its own thread of the session. */
  private def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val (fa, fb) = (Future(a), Future(b))
    (Await.result(fa, 10.minutes), Await.result(fb, 10.minutes))
  }

  test("two concurrent ivfTopK calls on one session return their sequential results") {
    // a second corpus, so the two calls train different indexes
    val other = java.nio.file.Files.createTempDirectory("graft-ivf-other").toString
    StressBench.writeEmbeddings(spark, 500L, other)
    def first = sortedRows(Ann.ivfTopK(spark, sf, k = 3))
    def second = sortedRows(Ann.ivfTopK(spark, other, k = 2))
    val sequential = (first, second)
    assert(sequential._1 != sequential._2, "the two calls must differ to tell them apart")
    assert(concurrently(first, second) == sequential)
  }

  test("two concurrent Geocode.assign calls with different boundary sets at the same levels " +
    "return their sequential results") {
    def geocoded(cfg: SynthWorld.Config): Seq[String] = sortedRows(Geocode.assign(spark,
      Geocode.geoparsePresent(SynthWorld.pages(spark, cfg).toDF()), Flagship.boundaries(cfg),
      SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon)),
      Flagship.CoverLevel, Flagship.TileLevel, Flagship.SnapLevel, assumeCoords = true))
    val c1 = SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2, streetsPerCity = 3,
      buildingsPerStreet = 4, pages = 400L)
    val c2 = SynthWorld.Config(seed = 7L, gridP = 3, gridC = 1, streetsPerCity = 2,
      buildingsPerStreet = 3, pages = 400L)
    assert(Flagship.boundaries(c1).map(_.chain) != Flagship.boundaries(c2).map(_.chain))
    val sequential = (geocoded(c1), geocoded(c2))
    assert(sequential._1.nonEmpty && sequential._2.nonEmpty)
    assert(concurrently(geocoded(c1), geocoded(c2)) == sequential)
  }
}
