package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.react.{BigraphState, Reactions}

/** Differential spec: every built-in matcher over the world + agent-delta
  * state returns exactly the rows of its plain whole-forest formulation —
  * self-joins of the `places` table, kept here as a test-only oracle — on
  * random micro-worlds (ScalaCheck generators, fixed seeds). */
class MatcherOracleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Place = (Long, String, String, Long)
  private case class Micro(places: Seq[Place], edges: Seq[(String, Long)], contacts: Seq[(Long, Long)])

  private val ctrls = Seq("Boundary", "Street", "Building", "Junction", "Agent")

  /** Places in creation order, each parented by an earlier place or the
    * root (-1) — any ctrl under any ctrl, so agents nest in agents and
    * junctions sit under non-Street parents (half of the Junctions and Agents
    * go into a Street). Ids are distinct but unordered. Every Junction is
    * on one or two hyperedges, a quarter of the other places too (those
    * memberships must be ignored); contacts link agents in either
    * orientation. */
  private val genMicro: Gen[Micro] = for {
    n <- Gen.choose(2, 14)
    cs <- Gen.listOfN(n, Gen.frequency(2 -> "Boundary", 3 -> "Street", 2 -> "Building",
      4 -> "Junction", 4 -> "Agent"))
    parentPicks <- Gen.listOfN(n, Gen.choose(0, 1000))
    inStreet <- Gen.listOfN(n, Gen.frequency(2 -> true, 1 -> false))
    ids <- Gen.pick(n, 0L until 60L)
    idOrder <- Gen.listOfN(n, Gen.choose(0, 1 << 20))
    nEdges <- Gen.choose(0, 2)
    memberPick <- Gen.listOfN(n, Gen.choose(0, 3))
    alsoE0 <- Gen.listOfN(n, Gen.frequency(4 -> false, 1 -> true))
    contactPicks <- Gen.listOfN(4, Gen.zip(Gen.choose(0, 1000), Gen.choose(0, 1000)))
    nContacts <- Gen.choose(0, 4)
  } yield {
    val idOf = ids.toVector.zip(idOrder).sortBy(_._2).map(_._1)
    val places = (0 until n).map { i =>
      // Junctions and Agents favour an earlier Street, so links are walkable
      val streets = (0 until i).filter(cs(_) == "Street")
      val p =
        if (inStreet(i) && streets.nonEmpty && Set("Junction", "Agent")(cs(i)))
          streets(parentPicks(i) % streets.size)
        else parentPicks(i) % (i + 1) - 1 // -1 (root) or an earlier place
      (idOf(i), cs(i), s"${cs(i).toLowerCase}$i", if (p < 0) -1L else idOf(p))
    }
    val edges = (0 until n).filter(_ => nEdges > 0).flatMap { i =>
      val ks =
        if (cs(i) == "Junction") Set(memberPick(i) % nEdges) ++ Option.when(alsoE0(i))(0)
        else Option.when(memberPick(i) == 0)(0).toSet
      ks.toSeq.sorted.map(e => (s"e$e", idOf(i)))
    }
    val agents = places.filter(_._2 == "Agent").map(_._1)
    val contacts =
      if (agents.isEmpty) Nil
      else contactPicks.take(nContacts).map { case (x, y) =>
        (agents(x % agents.size), agents(y % agents.size))
      }.filter { case (x, y) => x != y }
    Micro(places, edges, contacts)
  }

  // ── the whole-forest oracle: every pattern as self-joins of `places` ──

  private def oLeave(p: DataFrame, ctrl: String): DataFrame =
    p.as("a").filter(col("a.ctrl") === "Agent")
      .join(p.as("p"), col("a.parent") === col("p.id") && col("p.ctrl") === lit(ctrl))
      .select(col("a.id"), col("p.parent"))

  private def oEnter(p: DataFrame, ctrl: String, via: Option[String]): DataFrame = {
    var m = p.as("a").filter(col("a.ctrl") === "Agent")
      .join(p.as("t"), col("t.parent") === col("a.parent") && col("t.ctrl") === lit(ctrl) &&
        col("t.id") =!= col("a.id"))
    for (pc <- via)
      m = m.join(p.as("p"), col("a.parent") === col("p.id") && col("p.ctrl") === lit(pc))
    m.select(col("a.id"), col("t.id"))
  }

  private def oMove(p: DataFrame, e: DataFrame): DataFrame = {
    val j = p.filter(col("ctrl") === "Junction").join(e, col("id") === col("place_id"))
      .select(col("id").as("jid"), col("parent").as("street"), col("edge_key"))
    p.as("a").filter(col("a.ctrl") === "Agent")
      .join(p.as("st"), col("a.parent") === col("st.id") && col("st.ctrl") === "Street")
      .join(j.as("j1"), col("j1.street") === col("st.id"))
      .join(j.as("j2"), col("j2.edge_key") === col("j1.edge_key") &&
        col("j2.street") =!= col("j1.street"))
      .select(col("a.id"), col("j2.street")).distinct()
  }

  private def oConnect(p: DataFrame, c: DataFrame): DataFrame = {
    val agents = p.filter(col("ctrl") === "Agent").select(col("id"), col("parent"))
    agents.as("x").join(agents.as("y"),
        col("x.parent") === col("y.parent") && col("x.id") < col("y.id"))
      .select(col("x.id").as("agent_a"), col("y.id").as("agent_b"))
      .join(c, Seq("agent_a", "agent_b"), "left_anti")
  }

  /** (label, matcher under test, oracle) for every built-in matcher and ctrl
    * argument, including ctrl "Agent" on both sides of every pattern. */
  private def pairs(s: BigraphState, p: DataFrame, e: DataFrame, c: DataFrame)
      : Seq[(String, DataFrame, DataFrame)] =
    ctrls.map(k => (s"leave $k", Reactions.leaveMatches(s, k), oLeave(p, k))) ++
      (for (k <- ctrls; via <- None +: ctrls.map(Some(_)))
        yield (s"enter $k via $via", Reactions.enterMatches(s, k, via), oEnter(p, k, via))) ++
      Seq(("move", Reactions.moveAcrossMatches(s), oMove(p, e)),
        ("connect", Reactions.connectMatches(s), oConnect(p, c)))

  /** Every labeled row of the matchers (or of the oracles), sorted — one
    * union query per side. */
  private def rows(parts: Seq[(String, DataFrame)]): Seq[(String, Long, Long)] =
    parts.map { case (l, df) => df.toDF("x", "y").select(lit(l), col("x"), col("y")) }
      .reduce(_ union _).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  /** Asserts the state against the oracle over `places`; returns the labels
    * of the matchers that had occurrences. */
  private def checkAgainstOracle(tag: String, s: BigraphState, places: Seq[Place],
                                 m: Micro): Set[String] = {
    val p = places.toDF("id", "ctrl", "name", "parent")
    val e = m.edges.toDF("edge_key", "place_id")
    val c = s.contactPairs.toDF("agent_a", "agent_b")
    val ps = pairs(s, p, e, c)
    val got = rows(ps.map(x => (x._1, x._2)))
    val want = rows(ps.map(x => (x._1, x._3)))
    assert(got == want, s"$tag: matcher rows differ from the whole-forest oracle for $m")
    assert(s.places.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sorted == places.sorted, s"$tag: places view differs for $m")
    val byId = places.map(x => x._1 -> x).toMap
    for ((_, "Agent", name, parent) <- places)
      assert(s.whereIs(name) == byId.get(parent).map(q => (q._1, q._2, q._3)), s"$tag: whereIs($name)")
    want.map(_._1).toSet
  }

  private val worlds: Seq[Micro] =
    (1 to 24).map(i => genMicro.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("generated micro-worlds cover the edge cases") {
    def agents(m: Micro) = m.places.filter(_._2 == "Agent")
    val ctrlOf = (m: Micro) => m.places.map(x => x._1 -> x._2).toMap
    assert(worlds.exists(agents(_).size >= 3), "several agents")
    assert(worlds.exists(m => agents(m).exists(a => ctrlOf(m).get(a._4).contains("Agent"))),
      "agents nested in agents")
    assert(worlds.exists(m => m.places.exists(j => j._2 == "Junction" &&
      !ctrlOf(m).get(j._4).contains("Street") && m.edges.exists(_._2 == j._1))),
      "junctions under non-Street parents")
    assert(worlds.exists(m => m.edges.isEmpty && m.contacts.isEmpty && agents(m).nonEmpty),
      "empty junction and contact tables")
    assert(worlds.exists(_.contacts.nonEmpty), "contacts")
  }

  test("every matcher equals its whole-forest oracle, before and after a reaction") {
    val matched = scala.collection.mutable.Set.empty[String]
    for ((m, i) <- worlds.zipWithIndex) {
      val s = BigraphState(m.places.toDF("id", "ctrl", "name", "parent"),
        m.edges.toDF("edge_key", "place_id"), m.contacts.toDF("agent_a", "agent_b"))
      matched ++= checkAgainstOracle(s"world $i", s, m.places, m)
      // the canonically-first reparenting occurrence across all matchers:
      // the successor's delta must match the oracle over the moved forest
      val any = ctrls.flatMap(k => Seq(Reactions.leaveMatches(s, k), Reactions.enterMatches(s, k))) :+
        Reactions.moveAcrossMatches(s)
      for (r <- any.reduce(_ union _).orderBy("agent", "target").limit(1).collect()) {
        val (agent, target) = (r.getLong(0), r.getLong(1))
        val succ = Reactions.step(s, any.reduce(_ union _), maxOccurrences = 1).head
        val moved = m.places.map(x => if (x._1 == agent) x.copy(_4 = target) else x)
        matched ++= checkAgainstOracle(s"world $i after moving $agent to $target", succ, moved, m)
      }
    }
    // the comparison is not vacuous: every pattern family had occurrences
    for (l <- Seq("leave Street", "leave Agent", "enter Building via None",
      "enter Agent via None", "enter Street via Some(Boundary)", "enter Junction via Some(Agent)",
      "move", "connect"))
      assert(matched(l), s"no generated world had an occurrence of $l: $matched")
  }

  test("reparent rejects an id that is not an Agent, naming it") {
    val s = BigraphState(
      Seq((0L, "Boundary", "B", -1L), (1L, "Street", "s1", 0L), (10L, "Agent", "a", 1L))
        .toDF("id", "ctrl", "name", "parent"),
      Seq.empty[(String, Long)].toDF("edge_key", "place_id"),
      Seq.empty[(Long, Long)].toDF("agent_a", "agent_b"))
    val streetMatcher: BigraphState => DataFrame = _ => Seq((1L, 0L)).toDF("agent", "target")
    val viaRewrite = intercept[IllegalArgumentException](
      Reactions.rewrite(s, Seq("bogus" -> streetMatcher), maxSteps = 1))
    assert(viaRewrite.getMessage.contains("place 1 is not an Agent"), viaRewrite.getMessage)
    val viaSim = intercept[IllegalArgumentException](
      Reactions.sim(s, Seq("bogus" -> streetMatcher), steps = 1, seed = 1L))
    assert(viaSim.getMessage.contains("place 1 is not an Agent"), viaSim.getMessage)
    intercept[IllegalArgumentException](Reactions.step(s, streetMatcher(s)).head)
    // the Agent itself still moves
    val ok: BigraphState => DataFrame = _ => Seq((10L, 0L)).toDF("agent", "target")
    assert(Reactions.rewrite(s, Seq("ok" -> ok), maxSteps = 1)._1.whereIs("a")
      .contains((0L, "Boundary", "B")))
  }
}
