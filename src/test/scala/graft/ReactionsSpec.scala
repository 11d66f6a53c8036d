package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.bigraph.{Assembly, BigraphJson}
import graft.hier.{PlacePipeline, PlaceStats}
import graft.react.Reactions

/** Reaction rules (SURVEY.md §2.9) applied to the real Dover bigraph, and
  * the S5/S6 JSON round trip. Mirrors bin/botw.ml's -all-reactions
  * sequence: add agent → leave_building → move_across_linked_streets →
  * enter_building → leave_street → enter_street → contacts. */
class ReactionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import ReferenceFixtures.{dataDir, need, outDir}
  private val doverGolden = s"$outDir/10-2604777-Dover.json"

  private lazy val doverTables =
    PlacePipeline.fromOsmDir(spark, need(dataDir), 10, 2604777L, "Dover")._2

  test("S5/S6: written JSON round-trips to the identical canonical structure") {
    val path = java.nio.file.Files.createTempFile("graft-dover", ".json").toString
    Assembly.writeJson(spark, doverTables, path)
    val reread = BigraphJson.readGolden(path)
    val direct = BigraphJson.canonOf(doverTables)
    assert(reread.boundaryChains == direct.boundaryChains)
    assert(reread.streetChains == direct.streetChains)
    assert(reread.buildingChains == direct.buildingChains)
    assert(reread.junctionsByStreet == direct.junctionsByStreet)
    assert(reread.edges == direct.edges)
    assert(reread.nNodes == direct.nNodes && reread.nEdges == direct.nEdges
      && reread.nOpen == direct.nOpen)
  }

  test("S6 loads the reference golden into a reaction-ready state") {
    val s = Assembly.loadJson(spark, need(doverGolden))
    assert(s.countCtrl("Boundary") == 1 && s.countCtrl("Street") == 391 &&
      s.countCtrl("Building") == 158 && s.countCtrl("Junction") == 1084)
  }

  test("reaction sequence moves the agent through the hierarchy deterministically") {
    var s = Assembly.toState(spark, doverTables)
    // pick a building that sits in a street (A7 buildings_in_streets pool)
    val b = s.places.as("b").filter(col("b.ctrl") === "Building")
      .join(s.places.as("p"), col("b.parent") === col("p.id") && col("p.ctrl") === "Street")
      .select(col("b.name")).orderBy(col("name")).limit(1).collect()(0).getString(0)

    s = Reactions.addAgentToBuilding(s, b, "agent-1")         // B1
    assert(s.whereIs("agent-1").map(_._2) == Some("Building"))

    s = Reactions.leave(s, "Building").get                    // B2
    assert(s.whereIs("agent-1").map(_._2) == Some("Street"))
    val street0 = s.whereIs("agent-1").get._1

    val moved = Reactions.moveAcrossLinkedStreets(s)          // B5
    assert(moved.isDefined, "Dover has junction-linked streets")
    s = moved.get
    assert(s.whereIs("agent-1").map(_._2) == Some("Street"))
    assert(s.whereIs("agent-1").get._1 != street0, "agent must change street")

    // B4: apply if the new street has a building; else no occurrence —
    // same as the reference's BRS.apply returning None (botw.ml:84-167)
    Reactions.enter(s, "Building", viaParentCtrl = Some("Street")) match {
      case Some(next) =>
        s = next
        assert(s.whereIs("agent-1").map(_._2) == Some("Building"))
        s = Reactions.leave(s, "Building").get
      case None =>
        assert(s.whereIs("agent-1").map(_._2) == Some("Street"))
    }
    s = Reactions.leave(s, "Street").get                      // B2 leave_street
    assert(s.whereIs("agent-1").map(_._2) == Some("Boundary"))

    s = Reactions.enter(s, "Street").get                      // B3 enter_street
    assert(s.whereIs("agent-1").map(_._2) == Some("Street"))
  }

  test("connect_to_nearby_agent links each co-located pair exactly once (AppCond)") {
    var s = Assembly.toState(spark, doverTables)
    val b = s.places.filter(col("ctrl") === "Building").orderBy(col("name"))
      .limit(1).collect()(0).getString(2)
    s = Reactions.addAgentToBuilding(s, b, "a1")
    s = Reactions.addAgentToBuilding(s, b, "a2")
    s = Reactions.addAgentToBuilding(s, b, "a3")
    val (after, steps) = Reactions.fix(s, Reactions.connectToNearbyAgent)
    assert(steps == 3, s"3 pairs expected, got $steps") // C(3,2), each once
    assert(Reactions.connectToNearbyAgent(after).isEmpty)
  }

  test("fix past the truncation boundary never frees caller-owned or live shared frames") {
    // contacts-only rule: every state SHARES the places frame with s0, so a
    // frame-freeing bug here evicts the caller's cache (regression: the %16
    // truncation branch once enqueued next.places without the s0 filter)
    var s = Assembly.toState(spark, doverTables)
    val b = s.places.filter(col("ctrl") === "Building").orderBy(col("name"))
      .limit(1).collect()(0).getString(2)
    for (i <- 1 to 7) s = Reactions.addAgentToBuilding(s, b, s"fx$i")
    val s0 = s
    s0.places.cache() // the caller owns this cache; places itself is uncached
    assert(s0.places.storageLevel.useMemory, "test setup: s0.places must be cached")
    val (after, steps) = Reactions.fix(s0, Reactions.connectToNearbyAgent)
    assert(steps == 21) // C(7,2) pairs, crosses the step-16 truncation
    assert(after.contacts.count() == 21)
    assert(s0.places.storageLevel.useMemory,
      "fix must not unpersist the caller-owned places frame it never rewrote")
  }

  test("BRS step enumerates every occurrence; random_step is seeded-deterministic") {
    var s = Assembly.toState(spark, doverTables)
    val bs = s.places.filter(col("ctrl") === "Building").orderBy(col("name"))
      .limit(3).collect().map(_.getString(2))
    s = Reactions.addAgentToBuilding(s, bs(0), "s1")
    s = Reactions.addAgentToBuilding(s, bs(1), "s2")
    s = Reactions.addAgentToBuilding(s, bs(2), "s3")
    // step over leave_building: one successor per agent-in-building
    val succ = Reactions.step(s, Reactions.leaveMatches(s, "Building"))
    assert(succ.length == 3)
    // each successor moved exactly one agent out of its building
    for (st <- succ) {
      val stillIn = st.places.as("a").filter(col("a.ctrl") === "Agent")
        .join(st.places.as("p"),
          col("a.parent") === col("p.id") && col("p.ctrl") === "Building").count()
      assert(stillIn == 2)
    }
    // random_step: same seed → same successor; empty matches → None
    val r1 = Reactions.randomStep(s, Reactions.leaveMatches(s, "Building"), seed = 7L).get
    val r2 = Reactions.randomStep(s, Reactions.leaveMatches(s, "Building"), seed = 7L).get
    assert(r1.places.orderBy("id").collect().toSeq == r2.places.orderBy("id").collect().toSeq)
    assert(Reactions.randomStep(s, Reactions.enterMatches(s, "Agent"), 1L).isEmpty)
  }

  test("BRS step is bounded: maxOccurrences caps the enumerated successors") {
    var s = Assembly.toState(spark, doverTables)
    val bs = s.places.filter(col("ctrl") === "Building").orderBy(col("name"))
      .limit(3).collect().map(_.getString(2))
    s = Reactions.addAgentToBuilding(s, bs(0), "m1")
    s = Reactions.addAgentToBuilding(s, bs(1), "m2")
    s = Reactions.addAgentToBuilding(s, bs(2), "m3")
    val m = Reactions.leaveMatches(s, "Building")
    assert(Reactions.step(s, m).length == 3)
    // the bound caps the driver collect AND keeps the canonical prefix
    val bounded = Reactions.step(s, m, maxOccurrences = 2)
    assert(bounded.length == 2)
    val all = Reactions.step(s, m)
    for ((b, a) <- bounded.zip(all.take(2)))
      assert(b.places.orderBy("id").collect().toSeq ==
        a.places.orderBy("id").collect().toSeq)
  }

  test("dot parity vs the reference golden (Dover): node and edge counts match") {
    // the golden JSON IS the reference's Dover bigraph; our dot renders its
    // place nodes (ID atoms are a serialization artifact, not drawn), the
    // nesting forest as solid arcs, and each k-port junction hyperedge as a
    // (k-1)-arc dashed chain — so expected counts derive directly from the
    // reference structure
    val s = Assembly.loadJson(spark, need(doverGolden))
    val dot = Assembly.toDot(s, maxNodes = 10000)
    val nodeLines = dot.linesIterator.count(_.matches("""  n\d+ \[label=.*"""))
    val solid = dot.linesIterator.count(_.matches("""  n\d+ -> n\d+;"""))
    val dashed = dot.linesIterator.count(_.endsWith("[style=dashed dir=none];"))
    val nPlaces = s.places.count()
    val nNest = s.places.filter(col("parent") >= 0).count()
    val nHyper = s.junctionEdges.groupBy("edge_key").count()
      .filter(col("count") > 1).agg(sum(col("count") - 1)).collect()(0).getLong(0)
    assert(nPlaces == 1 + 391 + 158 + 1084) // Dover golden control counts
    assert(nodeLines == nPlaces, s"dot nodes $nodeLines != places $nPlaces")
    assert(solid == nNest, s"dot solid arcs $solid != nesting edges $nNest")
    assert(dashed == nHyper, s"dot dashed arcs $dashed != hyperedge chain arcs $nHyper")
  }

  test("-id-parameter mode: nodes = B+S+Bu+J, edges = junction links only, loader round-trips") {
    val stDefault = PlacePipeline.stats(doverTables)
    val stParam = PlaceStats.fromCounts(stDefault.nBoundaries, stDefault.nStreets,
      stDefault.nBuildings, stDefault.nJunctions,
      nHyperedges = doverTables.junctionEdges.count(), nOpen = stDefault.nOpenNames,
      idParameter = true)
    val (b, s, bu, j) = (stParam.nBoundaries, stParam.nStreets, stParam.nBuildings, stParam.nJunctions)
    assert(stParam.nNodes == b + s + bu + j)
    assert(stDefault.nNodes == 2 * (b + s + bu) + j)
    assert(stParam.nEdges == stDefault.nEdges - (b + s + bu))
    assert(stParam.nOpenNames == stDefault.nOpenNames)
    // writer emits param-mode JSON the loader reads back with names intact
    val path = java.nio.file.Files.createTempFile("graft-dover-param", ".json").toString
    Assembly.writeJson(spark, doverTables, path, idParameter = true)
    val loaded = Assembly.loadJson(spark, path)
    assert(loaded.places.count() == stParam.nNodes)
    assert(loaded.countCtrl("Building") == bu)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(!txt.contains("\"ID\""), "param mode must not emit ID atoms")
  }

  test("S7 dot sink renders nesting and junction hyperedges") {
    val state = Assembly.toState(spark, doverTables)
    val dot = Assembly.toDot(state)
    assert(dot.startsWith("digraph bigraph {"))
    assert(dot.contains("shape=box"), "boundary node missing")
    assert(dot.contains("shape=house"), "building nodes missing")
    assert(dot.contains("[style=dashed dir=none]"), "junction hyperedges missing")
    assert(dot.trim.endsWith("}"))
  }

  test("B7 fix reaches a fixpoint: repeated leave_building empties all buildings of agents") {
    var s = Assembly.toState(spark, doverTables)
    val bs = s.places.filter(col("ctrl") === "Building").orderBy(col("name"))
      .limit(2).collect().map(_.getString(2))
    s = Reactions.addAgentToBuilding(s, bs(0), "x1")
    s = Reactions.addAgentToBuilding(s, bs(1), "x2")
    val (after, steps) = Reactions.fix(s, st => Reactions.leave(st, "Building"))
    assert(steps == 2)
    val stillIn = after.places.as("a").filter(col("a.ctrl") === "Agent")
      .join(after.places.as("p"), col("a.parent") === col("p.id") && col("p.ctrl") === "Building")
      .count()
    assert(stillIn == 0)
  }
}
