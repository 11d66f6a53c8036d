package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.bigraph.Assembly
import graft.hier.{Hierarchy, PlacePipeline}
import graft.react.{BigraphState, Reactions}
import graft.synth.SynthWorld

/** `sim` and `bfs` over a built synthetic world (gridP=1: one city of three
  * streets × two buildings, 42 places) with three agents, eight rules
  * including the Agent-nesting ones. The literals were captured from the
  * whole-forest formulation, where every state re-joined all place rows; the
  * world + agent-delta state must reproduce them exactly. */
class SynthBrsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** agents a, b in the first building of the buildings-in-streets pool,
    * c in the last one */
  private lazy val s0: BigraphState = {
    val cfg = SynthWorld.Config(seed = 3L, gridP = 1, gridC = 1,
      streetsPerCity = 3, buildingsPerStreet = 2)
    val (b, e) = SynthWorld.boundaryExtracts(spark, cfg)
    val s = Assembly.toState(spark, PlacePipeline.build(spark, e, Hierarchy.metadata(b)))
    val pool = s.places.as("b").filter(col("b.ctrl") === "Building")
      .join(s.places.as("p"), col("b.parent") === col("p.id") && col("p.ctrl") === "Street")
      .select(col("b.name")).distinct().orderBy("name").collect().map(_.getString(0))
    assert(pool.toSeq == Seq("B0 H0 100000", "B0 H1 100000", "B0 H2 100000",
      "B1 H0 100000", "B1 H1 100000", "B1 H2 100000"))
    Seq(pool(0) -> "a", pool(0) -> "b", pool.last -> "c")
      .foldLeft(s) { case (st, (bldg, name)) => Reactions.addAgentToBuilding(st, bldg, name) }
  }

  private val rules: Seq[(String, BigraphState => DataFrame)] = Seq(
    "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
    "enter_building" -> (s => Reactions.enterMatches(s, "Building", Some("Street"))),
    "move_across" -> (s => Reactions.moveAcrossMatches(s)),
    "leave_street" -> (s => Reactions.leaveMatches(s, "Street")),
    "enter_street" -> (s => Reactions.enterMatches(s, "Street")),
    "enter_building_from_boundary" -> (s => Reactions.enterMatches(s, "Building", Some("Boundary"))),
    "enter_agent" -> (s => Reactions.enterMatches(s, "Agent")),
    "leave_agent" -> (s => Reactions.leaveMatches(s, "Agent")))

  test("sim reproduces the whole-forest trace and end state") {
    val (end, n, trace) = Reactions.sim(s0, rules, steps = 12, seed = 7L)
    assert(n == 12)
    assert(trace == Seq("leave_building", "move_across", "move_across", "move_across",
      "move_across", "move_across", "enter_agent", "leave_agent", "move_across",
      "enter_agent", "move_across", "move_across"))
    assert(end.whereIs("a") == Some((42L, "Agent", "b")))
    assert(end.whereIs("b") == Some((35L, "Building", "B0 H0 100000")))
    assert(end.whereIs("c") == Some((28L, "Street", "V0 Street 100000")))
  }

  test("bfs reproduces the whole-forest transition graph") {
    val tg = Reactions.bfs(s0, rules, maxStates = 10, maxOccurrencesPerRule = 3)
    assert(tg.truncated && tg.states.length == 10)
    assert(tg.edges == Seq((0, "leave_building", 1), (0, "leave_building", 2),
      (0, "leave_building", 3), (0, "enter_agent", 4), (0, "enter_agent", 5),
      (1, "leave_building", 6), (1, "leave_building", 7), (1, "enter_building", 0),
      (1, "enter_building", 8), (1, "move_across", 9), (2, "leave_building", 6),
      (2, "enter_building", 0), (3, "leave_building", 7), (3, "enter_building", 0),
      (4, "leave_agent", 0), (5, "leave_agent", 0), (6, "enter_building", 2),
      (6, "enter_building", 1), (7, "enter_building", 3), (8, "leave_building", 1)))
    // each state's (a, b, c) parents
    assert(tg.states.map(_.agents.map(_.parent)) == Seq(
      Seq(35L, 35L, 40L), Seq(29L, 35L, 40L), Seq(35L, 29L, 40L), Seq(35L, 35L, 31L),
      Seq(42L, 35L, 40L), Seq(35L, 41L, 40L), Seq(29L, 29L, 40L), Seq(29L, 35L, 31L),
      Seq(36L, 35L, 40L), Seq(25L, 35L, 40L)))
    val tg2 = Reactions.bfs(s0, rules.take(5), maxStates = 6, maxOccurrencesPerRule = 2)
    assert(tg2.truncated && tg2.states.length == 6)
    assert(tg2.edges == Seq((0, "leave_building", 1), (0, "leave_building", 2),
      (1, "leave_building", 3), (1, "leave_building", 4), (1, "enter_building", 0),
      (1, "enter_building", 5), (2, "leave_building", 3), (2, "enter_building", 0),
      (3, "enter_building", 2), (5, "leave_building", 1)))
  }
}
