package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.react.{BigraphState, Reactions}

/** BRS `bfs`/`sim` (reference builder.mli:140-160): bounded state-space
  * exploration with exact canonical dedup, and the seeded random walk. */
class BrsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Boundary 0 ⊃ {street 1 ⊃ building 3, street 2}; junctions 4∈s1, 5∈s2
    * share hyperedge e1 (so move_across_linked_streets links s1↔s2);
    * agent 10 starts inside the building. Reachable agent positions:
    * building, s1, s2, boundary — exactly 4 canonical states. */
  private def world(): BigraphState = BigraphState(
    Seq(
      (0L, "Boundary", "B", -1L),
      (1L, "Street", "s1", 0L),
      (2L, "Street", "s2", 0L),
      (3L, "Building", "b", 1L),
      (4L, "Junction", "n4", 1L),
      (5L, "Junction", "n5", 2L),
      (10L, "Agent", "a", 3L)).toDF("id", "ctrl", "name", "parent"),
    Seq(("e1", 4L), ("e1", 5L)).toDF("edge_key", "place_id"),
    Seq.empty[(Long, Long)].toDF("agent_a", "agent_b"))

  private val rules: Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)] = Seq(
    "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
    "enter_building" -> (s => Reactions.enterMatches(s, "Building", Some("Street"))),
    "move_across" -> (s => Reactions.moveAcrossMatches(s)),
    "leave_street" -> (s => Reactions.leaveMatches(s, "Street")),
    "enter_street" -> (s => Reactions.enterMatches(s, "Street")))

  test("bfs explores the full reachable space with exact canonical dedup") {
    val tg = Reactions.bfs(world(), rules)
    assert(!tg.truncated)
    assert(tg.states.length == 4,
      s"agent ∈ {building, s1, s2, boundary} — got ${tg.states.length} states")
    // b→s1; s1→{b, s2, 0}; s2→{s1, 0}; 0→{s1, s2}
    assert(tg.edges.size == 8, s"expected 8 labeled transitions, got ${tg.edges}")
    val byRule = tg.edges.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byRule == Map("leave_building" -> 1, "enter_building" -> 1,
      "move_across" -> 2, "leave_street" -> 2, "enter_street" -> 2))
    // state 0 is s0: the agent sits in the building
    assert(tg.states(0).whereIs("a").map(_._2) == Some("Building"))
    // deterministic: a second exploration yields the identical graph
    val tg2 = Reactions.bfs(world(), rules)
    assert(tg2.edges == tg.edges && tg2.states.length == tg.states.length)
  }

  test("bfs collects full state rows once per DISTINCT state, not per successor") {
    // 4 distinct states but 8 generated successors: duplicates are found on
    // the driver by the exact canonical key (sorted agent rows and contact
    // pairs), and only a state seen for the first time is admitted and
    // counted as a full-state collect
    val before = Reactions.fullStateCollects.get()
    val tg = Reactions.bfs(world(), rules)
    val delta = Reactions.fullStateCollects.get() - before
    assert(tg.states.length == 4)
    assert(tg.edges.size == 8) // 8 successors generated, 4 of them fresh
    assert(delta == tg.states.length.toLong,
      s"expected ${tg.states.length} full-state collects, got $delta")
  }

  test("stepTruncated reports when the occurrence bound binds") {
    val s = world()
    val leaveB = Reactions.leaveMatches(s, "Building") // exactly 1 occurrence
    assert(Reactions.stepTruncated(s, leaveB, maxOccurrences = 8)._2 == false)
    // move the agent to the boundary → both streets are enterable siblings
    val atBoundary = Reactions.leave(s, "Building")
      .flatMap(Reactions.leave(_, "Street")).get
    val m = Reactions.enterMatches(atBoundary, "Street")
    val (succs1, trunc1) = Reactions.stepTruncated(atBoundary, m, maxOccurrences = 1)
    assert(succs1.size == 1 && trunc1, "2 occurrences past a bound of 1 must flag truncation")
    val (succs2, trunc2) = Reactions.stepTruncated(atBoundary, m, maxOccurrences = 2)
    assert(succs2.size == 2 && !trunc2)
  }

  test("a non-positive occurrence cap fails loudly in sim, bfs and stepTruncated") {
    val s = world()
    val errs = Seq(
      intercept[IllegalArgumentException](
        Reactions.sim(s, rules, steps = 3, seed = 1L, maxOccurrencesPerRule = 0)),
      intercept[IllegalArgumentException](Reactions.bfs(s, rules, maxOccurrencesPerRule = 0)),
      intercept[IllegalArgumentException](
        Reactions.stepTruncated(s, Reactions.leaveMatches(s, "Building"), maxOccurrences = 0)))
    for (e <- errs) assert(e.getMessage.contains("maxOccurrences"), e.getMessage)
  }

  test("bfs respects maxStates and reports truncation (the reference's MAX)") {
    val tg = Reactions.bfs(world(), rules, maxStates = 2)
    assert(tg.truncated)
    assert(tg.states.length == 2)
    // every recorded edge stays within the admitted states
    assert(tg.edges.forall { case (f, _, t) => f < 2 && t < 2 })
  }

  test("sim is seeded-deterministic and the walk stays in the reachable space") {
    val (end1, n1, trace1) = Reactions.sim(world(), rules, steps = 12, seed = 99L)
    val (_, n2, trace2) = Reactions.sim(world(), rules, steps = 12, seed = 99L)
    assert(n1 == 12 && n2 == 12 && trace1 == trace2)
    val pos = end1.whereIs("a").map(_._2)
    assert(Set[Option[String]](Some("Building"), Some("Street"), Some("Boundary")).contains(pos))
    // a different seed takes a different walk (with overwhelming probability
    // over 12 steps × ≥1 branching states)
    val (_, _, trace3) = Reactions.sim(world(), rules, steps = 12, seed = 100L)
    assert(trace3 != trace1)
  }

  test("sim stops at deadlock like the reference's DEADLOCK") {
    // a world with no junction links and no streets: the only rule that
    // could fire has no occurrence
    val dead = BigraphState(
      Seq((0L, "Boundary", "B", -1L), (3L, "Building", "b", 0L),
        (10L, "Agent", "a", 3L)).toDF("id", "ctrl", "name", "parent"),
      Seq.empty[(String, Long)].toDF("edge_key", "place_id"),
      Seq.empty[(Long, Long)].toDF("agent_a", "agent_b"))
    val (_, n, trace) = Reactions.sim(dead,
      Seq("move_across" -> (s => Reactions.moveAcrossMatches(s))), steps = 5, seed = 1L)
    assert(n == 0 && trace.isEmpty)
  }

  test("priority classes: a higher class with an occurrence preempts lower ones") {
    // class 1 = {leave_building, move_across}; class 2 = everything else.
    // From the street states class 1 always fires (move), so leave_street /
    // enter_* are permanently preempted: the Boundary state is unreachable
    // and only {building, s1, s2} with 3 transitions survive.
    val prio = Seq(
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
        "move_across" -> (s => Reactions.moveAcrossMatches(s))),
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "enter_building" -> (s => Reactions.enterMatches(s, "Building", Some("Street"))),
        "leave_street" -> (s => Reactions.leaveMatches(s, "Street")),
        "enter_street" -> (s => Reactions.enterMatches(s, "Street"))))
    val tg = Reactions.bfsPrioritized(world(), prio)
    assert(tg.states.length == 3, s"boundary state must be preempted, got ${tg.states.length}")
    assert(tg.edges.map(_._2).toSet == Set("leave_building", "move_across"))
    assert(tg.edges.size == 3) // b→s1, s1→s2, s2→s1
    // flat bfs (one class) still reaches all 4 states
    assert(Reactions.bfs(world(), rules).states.length == 4)
    // sim under the same priorities can only ever fire class-1 rules
    val (_, n, trace) = Reactions.simPrioritized(world(), prio, steps = 8, seed = 5L)
    assert(n == 8 && trace.toSet.subsetOf(Set("leave_building", "move_across")))
  }

  test("PRISM/.lab/.dot exports carry the full transition structure") {
    val tg = Reactions.bfs(world(), rules)
    val prism = tg.toPrism
    val lines = prism.trim.split("\n")
    assert(lines.head == s"${tg.states.length} ${tg.edges.size}")
    assert(lines.length == 1 + tg.edges.size)
    // every transition line is "src dst" within range
    for (l <- lines.tail) {
      val Array(f, t) = l.split(" ").map(_.toInt)
      assert(f >= 0 && f < tg.states.length && t >= 0 && t < tg.states.length)
    }
    val lab = tg.toLab(Seq(
      "agent_in_building" -> (s => s.whereIs("a").exists(_._2 == "Building")),
      "agent_at_boundary" -> (s => s.whereIs("a").exists(_._2 == "Boundary")),
      "never" -> (_ => false)))
    assert(lab.contains("""label "agent_in_building" = x = 0;"""))
    assert(lab.linesIterator.count(_.startsWith("label")) == 2, "empty predicate must be omitted")
    val dot = tg.toDot()
    assert(dot.linesIterator.count(_.contains("shape=circle")) == tg.states.length)
    assert(dot.linesIterator.count(_.contains("->")) == tg.edges.size)
    assert(dot.contains("""label="move_across""""))
  }

  test("sim's one-row seeded pick reproduces the round-4 collected-list trace") {
    // the pick is uniform over the SAME canonical-prefix occurrence pool the
    // old per-step collect materialized, so traces are bit-identical on any
    // seed; this literal was captured from the collected-list implementation
    val (_, n, trace) = Reactions.sim(world(), rules, steps = 12, seed = 99L)
    assert(n == 12)
    assert(trace == Seq("leave_building", "leave_street", "enter_street",
      "leave_street", "enter_street", "enter_building", "leave_building",
      "leave_street", "enter_street", "move_across", "leave_street", "enter_street"))
  }

  test("rewrite reduces to the fixpoint and counts applications (builder.mli:136)") {
    // flat class [leave_building, leave_street]: building → s1 → boundary,
    // then no occurrence — fixpoint after exactly 2 applications
    val (end, n, trace) = Reactions.rewrite(world(), Seq(
      "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
      "leave_street" -> (s => Reactions.leaveMatches(s, "Street"))))
    assert(n == 2 && trace == Seq("leave_building", "leave_street"))
    assert(end.whereIs("a").map(_._2) == Some("Boundary"))
  }

  test("rewrite priority classes: a low-class rule never fires while a high one matches") {
    // start the agent in s1 (leave the building first); class 1 move_across
    // matches in EVERY street state (s1↔s2 cycle), so class 2 leave_street —
    // which also matches every step — must never fire; the cycle runs to
    // the maxSteps bound
    val s1 = Reactions.leave(world(), "Building").get
    val (_, n, trace) = Reactions.rewritePrioritized(s1, Seq(
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "move_across" -> (s => Reactions.moveAcrossMatches(s))),
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "leave_street" -> (s => Reactions.leaveMatches(s, "Street")))),
      maxSteps = 9)
    assert(n == 9 && trace.forall(_ == "move_across"))
    // with the preempting class exhausted (no junctions), the lower class fires
    val noLinks = BigraphState(
      s1.places, spark.emptyDataFrame.select(
        org.apache.spark.sql.functions.lit("").as("edge_key"),
        org.apache.spark.sql.functions.lit(0L).as("place_id")).limit(0),
      s1.contacts)
    val (end2, n2, trace2) = Reactions.rewritePrioritized(noLinks, Seq(
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "move_across" -> (s => Reactions.moveAcrossMatches(s))),
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "leave_street" -> (s => Reactions.leaveMatches(s, "Street")))))
    assert(n2 == 1 && trace2 == Seq("leave_street"))
    assert(end2.whereIs("a").map(_._2) == Some("Boundary"))
  }

  test("rewrite's one-probe union: never-matching rules change nothing") {
    // the tagged-union probe must pick the same occurrence and map rule
    // indices back to the right names when empty matchers pad the classes
    val base = Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
      "leave_building" -> (s => Reactions.leaveMatches(s, "Building")),
      "leave_street" -> (s => Reactions.leaveMatches(s, "Street")))
    val padded =
      Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
        "never_a" -> (s => Reactions.leaveMatches(s, "NoSuchCtrl"))) ++ base ++
        Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
          "never_b" -> (s => Reactions.enterMatches(s, "NoSuchCtrl")))
    val (endB, nB, traceB) = Reactions.rewrite(world(), base)
    val (endP, nP, traceP) = Reactions.rewrite(world(), padded)
    assert(nB == 2 && traceB == Seq("leave_building", "leave_street"))
    assert(nP == nB && traceP == traceB)
    assert(endB.whereIs("a") == endP.whereIs("a"))
    // sim's grouped per-class count: padded classes leave the seeded trace
    // bit-identical (zero-count rules never enter the weighted pick)
    val (_, n1, t1) = Reactions.sim(world(), rules, steps = 6, seed = 99L)
    val paddedRules = Seq[(String, BigraphState => org.apache.spark.sql.DataFrame)](
      "never_a" -> (s => Reactions.leaveMatches(s, "NoSuchCtrl"))) ++ rules
    val (_, n2, t2) = Reactions.sim(world(), paddedRules, steps = 6, seed = 99L)
    assert(n1 == 6 && n2 == 6 && t1 == t2)
  }

  test("PRISM reward exports: state rewards from predicates, transition rewards from rules") {
    val tg = Reactions.bfs(world(), rules)
    val srew = tg.toStateRewards(Seq(
      ("in_building", s => s.whereIs("a").exists(_._2 == "Building"), 5L),
      ("at_boundary", s => s.whereIs("a").exists(_._2 == "Boundary"), 7L),
      ("everywhere_zero", _ => true, 0L)))
    val sLines = srew.trim.split("\n")
    assert(sLines.head == s"${tg.states.length} 2", srew)
    assert(sLines.tail.contains("0 5"), "s0 (agent in building) rewards 5")
    assert(sLines.tail.count(_.endsWith(" 7")) == 1, "exactly one boundary state")
    // transition rewards: only the two move_across edges carry a reward
    val trew = tg.toTransitionRewards(Map("move_across" -> 3L))
    val tLines = trew.trim.split("\n")
    assert(tLines.head == s"${tg.states.length} 2", trew)
    val moveEdges = tg.edges.collect { case (f, "move_across", t) => s"$f $t 3" }.sorted
    assert(tLines.tail.toSeq == moveEdges)
  }

  test("bfs leaves no cached state frames behind") {
    val baseline = spark.sparkContext.getPersistentRDDs.size
    Reactions.bfs(world(), rules)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline)
  }
}
