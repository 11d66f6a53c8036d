package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.bigraph.Assembly
import graft.hier.{BoundaryElem, BoundaryMeta, Hierarchy, PlacePipeline, PlaceStats}
import graft.react.{BigraphState, Reactions}
import graft.synth.SynthWorld

/** Synthetic boundary extracts → PlacePipeline.build + stats →
  * Assembly.toState → Reactions.addAgentToBuilding → seeded Reactions.sim
  * steps → a bounded Reactions.bfs (the reference CLI's -sim/-bfs path). */
final class HierarchyReact(gridP: Int, gridC: Int, simSteps: Int, bfsStates: Int,
                           bfsOccurrences: Int) extends Workload {
  private val (streets, buildingsPerStreet) = (10, 8)
  private var metas: Seq[BoundaryMeta] = Nil
  private var elems: Dataset[BoundaryElem] = _
  private var pick: String = _
  private var firstTrace: Option[Seq[String]] = None
  private var firstStates: Option[Int] = None

  def describe: String =
    s"gridP=$gridP gridC=$gridC streets=$streets buildings=$buildingsPerStreet " +
      s"nodes=${expected.nNodes} sim_steps=$simSteps bfs_max_states=$bfsStates " +
      s"bfs_max_occurrences_per_rule=$bfsOccurrences"

  /** PlaceStats counted from the generator's structure: 1 + P² + P²C²
    * boundaries; per city 2s streets plus its two border-crossing streets
    * re-claimed at each of the two enclosing levels, s·b buildings, and 2s²
    * junction atoms plus the crossing streets' shared border node at those
    * levels. */
  private lazy val expected: PlaceStats = {
    val cities = gridP.toLong * gridP * gridC * gridC
    PlaceStats.fromCounts(1L + gridP * gridP + cities, cities * (2 * streets + 4),
      cities * streets * buildingsPerStreet, cities * (2L * streets * streets + 4),
      nHyperedges = 0, nOpen = 0, idParameter = false)
  }

  private val rules: Seq[(String, BigraphState => DataFrame)] = Seq(
    "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
    "enter_building" -> (s => Reactions.enterMatches(s, "Building", Some("Street"))),
    "move_across_linked_streets" -> (s => Reactions.moveAcrossMatches(s)),
    "leave_street" -> (s => Reactions.leaveMatches(s, "Street")),
    "enter_street" -> (s => Reactions.enterMatches(s, "Street")))

  /** The world under seed-derived ids and names (a disjoint translated copy:
    * same structure, so the same expected counts). */
  def generate(run: Run, dir: Path): Unit = {
    val spark = run.spark
    val cfg = SynthWorld.Config(seed = run.seed, gridP = gridP, gridC = gridC,
      streetsPerCity = streets, buildingsPerStreet = buildingsPerStreet)
    val (b0, e0) = SynthWorld.boundaryExtracts(spark, cfg)
    val (b, e) = SynthWorld.shiftWorld(spark, b0, e0,
      off = (math.floorMod(run.seed, 1000L) + 1) * 1000000000000L, suffix = s" s${run.seed}")
    if (elems != null) elems.unpersist()
    metas = Hierarchy.metadata(b)
    elems = e.repartition(run.cores * 2).cache()
    elems.count()
  }

  override def reset(run: Run): Unit = {
    run.spark.catalog.clearCache()
    elems.cache().count()
  }

  private def checkStats(run: Run, st: PlaceStats): Seq[String] =
    run.expect(st.nBoundaries == expected.nBoundaries && st.nStreets == expected.nStreets &&
      st.nBuildings == expected.nBuildings && st.nJunctions == expected.nJunctions &&
      st.nNodes == expected.nNodes, s"stats $st, expected $expected")

  def iteration(run: Run, traced: Boolean): Unit = {
    val spark = run.spark
    val ((tables, st), tHier) = run.op("hier") {
      val t = run.step("hier.build")(PlacePipeline.build(spark, elems, metas))
      (t, run.step("hier.stats")(PlacePipeline.stats(t)))
    }(r => checkStats(run, r._2))
    val (state, tState) = run.op("bigraph.to_state")(Assembly.toState(spark, tables))(_ => Nil)
    if (pick == null) pick = pickBuilding(run, state)
    val (s1, tAdd) = run.op("react.add_agent") {
      val s = Reactions.addAgentToBuilding(state, pick, "agent-0")
      if (traced) s.places.count() // barrier: the new frame is cached lazily
      s
    }(s => run.expect(s.whereIs("agent-0").exists(_._3 == pick), s"agent-0 at ${s.whereIs("agent-0")}"))
    val ((_, taken, trace), tSim) = run.op("react.sim") {
      val r = Reactions.sim(s1, rules, steps = simSteps, seed = run.seed)
      run.attr("steps", r._2.toDouble)
      r
    } { case (_, n, tr) =>
      val ok = firstTrace.forall(_ == tr)
      if (firstTrace.isEmpty) firstTrace = Some(tr)
      run.expect(n == simSteps && ok, s"sim took $n steps, trace ${tr.mkString(",")} vs ${firstTrace.get.mkString(",")}")
    }
    val collects0 = Reactions.fullStateCollects.get()
    val (tg, tBfs) = run.op("react.bfs") {
      val g = Reactions.bfs(s1, rules, maxStates = bfsStates, maxOccurrencesPerRule = bfsOccurrences)
      run.attr("states", g.states.length.toDouble)
      run.attr("full_state_collects", (Reactions.fullStateCollects.get() - collects0).toDouble)
      g
    } { g =>
      val ok = firstStates.forall(_ == g.states.length)
      if (firstStates.isEmpty) firstStates = Some(g.states.length)
      run.expect(ok && g.states.length > 1, s"bfs reached ${g.states.length} states, first run ${firstStates.get}")
    }
    run.sample("hier_nodes_per_s", st.nNodes / tHier)
    run.sample("to_state_s", tState)
    run.sample("add_agent_s", tAdd)
    run.sample("react_step_s", tSim / math.max(1, taken))
    run.sample("bfs_state_s", tBfs / tg.states.length)
  }

  /** The CLI's seeded pick among buildings that sit in a street. */
  private def pickBuilding(run: Run, s: BigraphState): String = {
    val pool = s.places.as("b").filter(col("b.ctrl") === "Building")
      .join(s.places.as("p"), col("b.parent") === col("p.id") && col("p.ctrl") === "Street")
      .select(col("b.name")).distinct().orderBy("name").collect().map(_.getString(0))
    pool(math.floorMod(SynthWorld.mix(run.seed), pool.length.toLong).toInt)
  }
}
