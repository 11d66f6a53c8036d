package graft

import org.apache.spark.sql.functions._
import graft.bigraph.Assembly
import graft.hier.PlacePipeline
import graft.react.Reactions

/** CLI mirroring the reference binary's surface (bin/botw.ml:171-203):
  *
  *   runMain graft.BotwCli <level> <relId> <name> [dataDir] [flags...]
  *     -write-json <path>   S5 sink after build
  *     -load <path>         skip build, load bigraph JSON (botw.ml:18-27)
  *     -one-reaction        B1 + leave_building (botw.ml:58-83)
  *     -all-reactions       the full 8-rule sequence (botw.ml:84-167)
  *     -seed <n>            building pick seed (replaces Random.self_init, F7)
  *     -id-parameter        names in ctrl params, no ID atoms/links (botw.ml:186-188)
  *     -write-dot <path>    S7 dot sink (botw.ml:185, 44-57)
  *     -bfs <maxStates>     BRS bfs state-space exploration (builder.mli:140-150)
  *     -sim <steps>         BRS seeded random walk (builder.mli:152-160)
  *     -rewrite <maxSteps>  BRS priority-class reduction to fixpoint (builder.mli:136)
  *
  * Prints the S8 stats block (hierarchy.ml:236-286) in the reference's
  * format, then per-reaction timings.
  */
object BotwCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BotwCli <level> <relId> <name> [dataDir] [flags]")
    val (level, relId, name) = (args(0).toInt, args(1).toLong, args(2))
    val rest = args.drop(3)
    val dataDir = rest.headOption.filterNot(_.startsWith("-")).getOrElse("/root/reference/data")
    def flag(f: String): Boolean = rest.contains(f)
    def flagArg(f: String): Option[String] =
      rest.zipWithIndex.collectFirst { case (`f`, i) if i + 1 < rest.length => rest(i + 1) }

    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[botw] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    val idParameter = flag("-id-parameter")
    var state = flagArg("-load") match {
      case Some(path) => timed("load")(Assembly.loadJson(spark, path))
      case None =>
        val (_, tables) = timed("build") {
          PlacePipeline.fromOsmDir(spark, dataDir, level, relId, name)
        }
        for (out <- flagArg("-write-json")) timed("write-json") {
          Assembly.writeJson(spark, tables, out, idParameter)
        }
        Assembly.toState(spark, tables)
    }
    for (out <- flagArg("-write-dot")) timed("write-dot") {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Assembly.toDot(state))
    }

    // stats (S8); the count identities live in PlaceStats.fromCounts
    val nJ = state.countCtrl("Junction")
    val nB = state.countCtrl("Boundary")
    val nS = state.countCtrl("Street")
    val nBu = state.countCtrl("Building")
    val nHyper = state.junctionEdges.select("edge_key").distinct().count()
    val nOpen = state.junctionEdges.filter(col("edge_key").endsWith("@OPEN") ||
      col("edge_key").startsWith("node ")).select("edge_key").distinct().count()
    val st = graft.hier.PlaceStats.fromCounts(nB, nS, nBu, nJ, nHyper, nOpen, idParameter)
    println(s"Number of nodes: ${st.nNodes}")
    println(s"Number of edges: ${st.nEdges}")
    println(s"Number of outer names:${st.nOpenNames}")
    println(s"Number of boundaries: ${st.nBoundaries}")
    println(s"Number of streets: ${st.nStreets}")
    println(s"Number of buildings: ${st.nBuildings}")
    println(s"Number of junctions: ${st.nJunctions}")

    if (flag("-one-reaction") || flag("-all-reactions")) {
      val seed = flagArg("-seed").map(_.toLong).getOrElse(42L)
      // F7: seeded pick from the buildings-in-streets pool (A7)
      val pool = state.places.as("b").filter(col("b.ctrl") === "Building")
        .join(state.places.as("p"),
          col("b.parent") === col("p.id") && col("p.ctrl") === "Street")
        .select(col("b.name")).distinct().orderBy("name").collect().map(_.getString(0))
      require(pool.nonEmpty, "no buildings in streets")
      // floorMod, not .abs: Long.MinValue.abs is still negative
      val pick = pool(math.floorMod(graft.synth.SynthWorld.mix(seed), pool.length.toLong).toInt)
      println(s"[botw] picked building: $pick")
      state = timed("add_agent_to_building")(
        Reactions.addAgentToBuilding(state, pick, "agent-0"))
      state = timed("leave_building")(Reactions.leave(state, "Building")).getOrElse(state)
      if (flag("-all-reactions")) {
        def step(label: String)(r: => Option[graft.react.BigraphState]): Unit =
          timed(label)(r) match {
            case Some(next) => state = next
            case None => println(s"[botw] $label: no occurrence")
          }
        step("move_across_linked_streets")(Reactions.moveAcrossLinkedStreets(state))
        step("enter_building")(Reactions.enter(state, "Building"))
        step("enter_building_from_street")(
          Reactions.enter(state, "Building", Some("Street")))
        step("leave_street")(Reactions.leave(state, "Street"))
        step("enter_building_from_boundary")(
          Reactions.enter(state, "Building", Some("Boundary")))
        step("enter_street")(Reactions.enter(state, "Street"))
        step("connect_to_nearby_agent")(Reactions.connectToNearbyAgent(state))
      }
      println(s"[botw] agent at: ${state.whereIs("agent-0")}")

      // BRS exploration surface (builder.mli:140-160)
      val brsRules: Seq[(String, graft.react.BigraphState => org.apache.spark.sql.DataFrame)] = Seq(
        "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
        "enter_building" -> (s => Reactions.enterMatches(s, "Building", Some("Street"))),
        "move_across_linked_streets" -> (s => Reactions.moveAcrossMatches(s)),
        "leave_street" -> (s => Reactions.leaveMatches(s, "Street")),
        "enter_street" -> (s => Reactions.enterMatches(s, "Street")))
      for (m <- flagArg("-bfs")) timed("bfs") {
        val tg = Reactions.bfs(state, brsRules, maxStates = m.toInt)
        println(s"[botw] bfs: ${tg.states.length} states, ${tg.edges.size} transitions" +
          (if (tg.truncated) " (truncated at max)" else ""))
      }
      for (n <- flagArg("-sim")) timed("sim") {
        val (end, taken, trace) = Reactions.sim(state, brsRules, steps = n.toInt, seed = seed)
        println(s"[botw] sim: $taken steps [${trace.mkString(", ")}]; " +
          s"agent at: ${end.whereIs("agent-0")}")
      }
      // reference's main reduction entry point (builder.mli:136): reduce to
      // a fixpoint under two priority classes. The rewrite rule set is the
      // DRAINING subset (leave rules over move) — including the enter rules
      // could never terminate, since each is the inverse of a
      // higher-priority leave rule (enter_street would re-enable
      // leave_street every step and the reduction would ping-pong to the
      // bound); with leaves preferred the agent drains outward to its
      // boundary and no class matches: a genuine fixpoint
      for (m <- flagArg("-rewrite")) timed("rewrite") {
        val prio = Seq(
          brsRules.filter { case (n, _) => n.startsWith("leave") },
          brsRules.filter { case (n, _) => n.startsWith("move") })
        val (end, taken, trace) = Reactions.rewritePrioritized(state, prio, maxSteps = m.toInt)
        println(s"[botw] rewrite: $taken applications" +
          (if (taken < m.toInt) " (fixpoint)" else " (bound)") +
          s" [${trace.mkString(", ")}]; agent at: ${end.whereIs("agent-0")}")
      }
    }
    spark.stop()
  }
}
