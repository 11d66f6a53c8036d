package graft.react

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** One Agent of a state's delta — the only place rows reactions move. */
final case class Agent(id: Long, name: String, parent: Long)

/** The fixed part of a bigraph world (SURVEY.md §2.9): every non-Agent place
  * and the junction link hypergraph. No reaction rule rewrites either, so
  * the move index over them is derived ONCE per world and shared by every
  * state and every matcher query:
  *
  *   index: (id, ctrl, name, parent, parent_ctrl)  parent -1 = region;
  *          parent_ctrl = ctrl of the parent row (null when there is none)
  *   junctionEdges: (edge_key STRING, place_id LONG)  hyperedge membership
  *   streetLinks: (street, target)  distinct pairs: a Junction in Street
  *          `street` shares a hyperedge with a Junction in place `target`
  *          ≠ `street` — move_across_linked_streets' whole 3-way join
  *
  * [[graft.bigraph.Assembly.toState]] caches them (its parent join yields
  * parent_ctrl and the Junction ports for free); the
  * `BigraphState(places, edges, contacts)` constructor leaves them uncached
  * — those frames are the caller's. */
final case class World(index: DataFrame, junctionEdges: DataFrame, streetLinks: DataFrame) {
  def places: DataFrame = index.select("id", "ctrl", "name", "parent")

  /** Largest place id of the world (-1 when empty): fresh agents number past it. */
  lazy val maxId: Long = {
    val r = index.agg(max(col("id"))).collect()(0)
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }
}

object World {
  /** A world from (id, ctrl, name, parent, parent_ctrl) place rows and
    * (edge_key, place_id) hyperedge membership. */
  def apply(index: DataFrame, junctionEdges: DataFrame): World =
    World(index, junctionEdges, streetLinks(index.filter(col("ctrl") === "Junction")
      .join(junctionEdges, col("id") === col("place_id"))
      .select(col("edge_key"), col("parent").as("street"), col("parent_ctrl"))))

  /** The street links from Junction ports (edge_key, street, parent_ctrl),
    * `street` being the Junction's parent: ONE self-join on the hyperedge. */
  def streetLinks(ports: DataFrame): DataFrame =
    ports.filter(col("parent_ctrl") === "Street").as("j1")
      .join(ports.as("j2"), col("j2.edge_key") === col("j1.edge_key") &&
        col("j2.street") =!= col("j1.street"))
      .select(col("j1.street").as("street"), col("j2.street").as("target"))
      .distinct()
}

/** Bigraph world state for reaction rules (SURVEY.md §2.9): a fixed [[World]]
  * plus a driver-local delta — the Agent rows and the agent contact links
  * (B6). A reaction rewrites only the delta, so a state costs
  * O(agents + contacts) driver rows and a rewrite never touches the world's
  * O(places) rows; the trade-off is that every state's delta lives on the
  * driver.
  *
  * Each reaction is a declarative transformation: the LHS pattern is ONE join
  * of the agent delta with a branch of the world's move index (or with the
  * delta itself, for Agent-ctrl patterns), the rewrite is a point update of
  * the delta — no SAT search (reference uses MiniSAT subgraph isomorphism,
  * builder.ml:237-238; our rules match by keyed joins, SURVEY.md §2.9).
  * "First occurrence" is the canonical minimum over the match keys, making
  * every rule deterministic (reference's solver order is unspecified;
  * SURVEY.md §7.5).
  */
final case class BigraphState(world: World, agents: Vector[Agent], contactPairs: Vector[(Long, Long)]) {
  def spark: SparkSession = world.index.sparkSession

  def junctionEdges: DataFrame = world.junctionEdges

  /** The agent delta as a local relation (id, ctrl, name, parent). */
  lazy val agentRows: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(agents.map(a => Row(a.id, "Agent", a.name, a.parent)): _*),
    BigraphState.placeSchema)

  /** world ∪ delta: (id, ctrl, name, parent), parent -1 = region. */
  private[react] def forest: DataFrame = world.places.unionByName(agentRows)

  /** The whole place forest, marked cached on first read. A view for callers
    * and exports — no matcher or reaction reads it. */
  lazy val places: DataFrame = forest.cache()

  /** (agent_a, agent_b) contact links as a local relation. */
  lazy val contacts: DataFrame = {
    val sp = spark
    import sp.implicits._
    contactPairs.toDF("agent_a", "agent_b")
  }

  def countCtrl(ctrl: String): Long =
    if (ctrl == "Agent") agents.size.toLong
    else world.index.filter(col("ctrl") === ctrl).count()

  /** Location of an agent: (parent id, parent ctrl, parent name). */
  def whereIs(agentName: String): Option[(Long, String, String)] = {
    val agentById = agents.map(a => a.id -> a).toMap
    agents.iterator.filter(_.name == agentName).map { a =>
      agentById.get(a.parent).map(p => (p.id, "Agent", p.name)).orElse(
        world.index.filter(col("id") === a.parent).select("id", "ctrl", "name")
          .collect().headOption.map(r => (r.getLong(0), r.getString(1), r.getString(2))))
    }.collectFirst { case Some(loc) => loc }
  }
}

object BigraphState {
  private[react] val placeSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("ctrl", StringType),
    StructField("name", StringType), StructField("parent", LongType, nullable = false)))

  /** A state from whole-forest tables — places (id, ctrl, name, parent),
    * junctionEdges (edge_key, place_id), contacts (agent_a, agent_b): the
    * Agent rows and the contacts are collected as the delta, the other rows
    * become an uncached [[World]]. */
  def apply(places: DataFrame, junctionEdges: DataFrame, contacts: DataFrame): BigraphState = {
    val index = places.filter(!(col("ctrl") <=> "Agent")).as("c")
      .join(places.select(col("id").as("p_id"), col("ctrl").as("parent_ctrl")),
        col("c.parent") === col("p_id"), "left")
      .select(col("c.id").as("id"), col("c.ctrl").as("ctrl"), col("c.name").as("name"),
        col("c.parent").as("parent"), col("parent_ctrl"))
    val agents = places.filter(col("ctrl") === "Agent").select("id", "name", "parent")
      .collect().map(r => Agent(r.getLong(0), r.getString(1), r.getLong(2))).toVector
    val pairs = contacts.select("agent_a", "agent_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    BigraphState(World(index, junctionEdges), agents, pairs)
  }
}

object Reactions {

  /** Rewrite helper: set `parent` of one Agent. Fails loudly on an id that
    * is not an Agent of the state — a matcher returning one would otherwise
    * move a place that reactions never rewrite. */
  private def reparent(s: BigraphState, agent: Long, newParent: Long): BigraphState = {
    val i = s.agents.indexWhere(_.id == agent)
    require(i >= 0, s"reparent: place $agent is not an Agent of this state")
    s.copy(agents = s.agents.updated(i, s.agents(i).copy(parent = newParent)))
  }

  /** B1 add_agent_to_building (builder.ml:240-276): insert Agent under the
    * canonically-first Building with `buildingName`; error if absent. */
  def addAgentToBuilding(s: BigraphState, buildingName: String, agentName: String): BigraphState = {
    val b = s.world.index.filter(col("ctrl") === "Building" && col("name") === buildingName)
      .orderBy(col("id")).limit(1).collect()
    require(b.nonEmpty, s"""Building name "$buildingName" not found""")
    val id = (s.world.maxId +: s.agents.map(_.id)).max + 1
    s.copy(agents = s.agents :+ Agent(id, agentName, b(0).getAs[Long]("id")))
  }

  /** The relation a pattern's `ctrl`-side node ranges over: Agents live in
    * the delta, every other ctrl in the world's index. */
  private def placesOf(s: BigraphState, ctrl: String): DataFrame =
    if (ctrl == "Agent") s.agentRows else s.world.index

  /** `branch` ⋈ delta on branch.`key` = agent.parent: each branch row once
    * per Agent whose parent is its `key`, that Agent's id in column `agent`.
    * The delta rides in the plan as a map literal parent → agent ids, so the
    * join is a lookup inside ONE scan of the branch — a broadcast of the
    * delta would cost a job of its own per matcher query. */
  private def joinAgents(s: BigraphState, branch: DataFrame, key: String): DataFrame = {
    val byParent: Map[Long, Seq[Long]] = s.agents.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    branch.filter(col(key).isin(byParent.keys.toSeq: _*))
      .withColumn("agent", explode(element_at(typedLit(byParent), col(key))))
  }

  /** All occurrences of leave_* (builder.ml:309-332) as a Dataset:
    * (agent, target) where target = the grandparent the agent moves beside. */
  def leaveMatches(s: BigraphState, ctrl: String): DataFrame =
    joinAgents(s, placesOf(s, ctrl).filter(col("ctrl") === lit(ctrl)), "id")
      .select(col("agent"), col("parent").as("target"))

  /** B2 leave_*: Agent nested in a `ctrl` ⇒ beside it (builder.ml:309-332). */
  def leave(s: BigraphState, ctrl: String): Option[BigraphState] =
    applyFirst(s, leaveMatches(s, ctrl))

  /** All occurrences of enter_* (builder.ml:334-351): (agent, target). A
    * world target's parent IS the agent's parent, so the index's
    * parent_ctrl decides `viaParentCtrl`; an Agent target is a delta row,
    * whose parent's ctrl is looked up in the forest. */
  def enterMatches(s: BigraphState, ctrl: String,
                   viaParentCtrl: Option[String] = None): DataFrame = {
    val m = joinAgents(s, placesOf(s, ctrl).filter(col("ctrl") === lit(ctrl)), "parent")
      .filter(col("id") =!= col("agent"))
    viaParentCtrl.fold(m) { pc =>
      if (ctrl == "Agent")
        m.as("t").join(s.forest.as("p"), col("t.parent") === col("p.id") && col("p.ctrl") === lit(pc))
          .select("t.*")
      else m.filter(col("parent_ctrl") === lit(pc))
    }.select(col("agent"), col("id").as("target"))
  }

  /** B3/B4 enter_* (+ optional parent-ctrl constraint for
    * enter_building_from_street/_from_boundary, builder.ml:334-351):
    * Agent beside a `ctrl` sibling ⇒ nested in it. */
  def enter(s: BigraphState, ctrl: String, viaParentCtrl: Option[String] = None): Option[BigraphState] =
    applyFirst(s, enterMatches(s, ctrl, viaParentCtrl))

  /** All occurrences of move_across_linked_streets (builder.ml:353-368):
    * (agent, target street) — the agent's Street looked up in the world's
    * street links (distinct per street, so distinct per agent). */
  def moveAcrossMatches(s: BigraphState): DataFrame =
    joinAgents(s, s.world.streetLinks, "street").select(col("agent"), col("target"))

  /** B5 move_across_linked_streets (builder.ml:353-368): Agent in Street s₁
    * beside a Junction on hyperedge e; another Junction on e sits in
    * Street s₂ ≠ s₁ ⇒ Agent moves to s₂. */
  def moveAcrossLinkedStreets(s: BigraphState): Option[BigraphState] =
    applyFirst(s, moveAcrossMatches(s))

  /** All occurrences of connect_to_nearby_agent (builder.ml:381-408) after
    * the AppCond anti join: (agent_a, agent_b) pairs not yet linked. Both
    * sides are delta rows, so the pairs are formed on the driver. */
  def connectMatches(s: BigraphState): DataFrame = {
    val linked = s.contactPairs.toSet
    val pairs = for (x <- s.agents; y <- s.agents
                     if x.parent == y.parent && x.id < y.id && !linked((x.id, y.id)))
      yield (x.id, y.id)
    val sp = s.spark
    import sp.implicits._
    pairs.toDF("agent_a", "agent_b")
  }

  /** B6 connect_to_nearby_agent (builder.ml:381-408): two Agents sharing a
    * parent, not already linked (the AppCond as a left_anti join), get a
    * contact link. */
  def connectToNearbyAgent(s: BigraphState): Option[BigraphState] = {
    val fresh = connectMatches(s)
      .orderBy(col("agent_a"), col("agent_b")).limit(1).collect()
    fresh.headOption.map(r => s.copy(contactPairs = s.contactPairs :+ ((r.getLong(0), r.getLong(1)))))
  }

  /** Canonical first occurrence of a reparenting match set (§7.5: "first" =
    * minimum (agent, target), replacing the solver's unspecified order). */
  private def applyFirst(s: BigraphState, matches: DataFrame): Option[BigraphState] =
    matches.orderBy(col("agent"), col("target")).limit(1).collect()
      .headOption.map(r => reparent(s, r.getLong(0), r.getLong(1)))

  /** BRS `step` (builder.mli:124-133): enumerate occurrences of a
    * reparenting rule and return one successor state per occurrence —
    * library-surface parity with the reference's step (the binary itself
    * only ever calls apply/fix). `matches` is one of the *Matches Datasets.
    *
    * BOUNDED: the reference materializes every SAT occurrence in memory;
    * here the canonical-order LIMIT is pushed into the query, so a large
    * state cannot flood the driver (`maxOccurrences` occurrences collected,
    * ids only). Successors are built lazily (LazyList) — a caller that
    * consumes only the first few never constructs the rest. When the limit
    * binds, [[stepTruncated]] reports it (mirroring
    * TransitionGraph.truncated); this overload logs loudly instead of
    * silently shortening the list. */
  def step(s: BigraphState, matches: DataFrame,
           maxOccurrences: Int = 1024): Seq[BigraphState] = {
    val (succs, truncated) = stepTruncated(s, matches, maxOccurrences)
    if (truncated)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"step: occurrence enumeration truncated at maxOccurrences=$maxOccurrences " +
          "(use stepTruncated for the indicator, or raise the bound)")
    succs
  }

  /** [[step]] with an explicit truncation indicator: (successors, true when
    * more than `maxOccurrences` occurrences existed — the reference's MAX
    * posture, builder.mli:139). Probes limit+1 rows so the signal costs no
    * extra job. */
  def stepTruncated(s: BigraphState, matches: DataFrame,
                    maxOccurrences: Int = 1024): (Seq[BigraphState], Boolean) = {
    // clamp: limit(Int.MaxValue + 1) would overflow to a negative limit and
    // fail the query — MaxValue-1 keeps the +1 truncation probe valid
    val cap = math.min(maxOccurrences, Int.MaxValue - 1)
    val rows =
      matches.orderBy(col("agent"), col("target")).limit(cap + 1).collect()
    (LazyList.from(rows.take(cap))
      .map(r => reparent(s, r.getLong(0), r.getLong(1))),
      rows.length > cap)
  }

  /** The i-th (0-based) occurrence in canonical (agent, target) order, as
    * ONE collected row — executor-side row_number over an unpartitioned
    * window (a single-partition sort of THIS state's occurrences only; the
    * chosen rule pays one extra scan instead of the driver paying O(i)
    * rows). Shared by [[randomStep]] and [[simPrioritized]]'s seeded pick. */
  private def occurrenceAt(matches: DataFrame, i: Long): org.apache.spark.sql.Row = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("agent"), col("target"))
    matches.withColumn("rn", row_number().over(w))
      .filter(col("rn") === i + 1).collect()(0)
  }

  /** BRS `random_step` (builder.mli:129-133): apply one occurrence chosen
    * uniformly by a SEEDED pick over the canonical order (determinism rule
    * §7.5 replaces the reference's Random.self_init). Occurrences are
    * COUNTED on executors and only the chosen row is collected — O(1)
    * driver rows regardless of match-set size. floorMod, not .abs:
    * Long.MinValue.abs is negative. */
  def randomStep(s: BigraphState, matches: DataFrame, seed: Long): Option[BigraphState] = {
    val n = matches.count()
    if (n == 0) None
    else {
      val r = occurrenceAt(matches,
        math.floorMod(graft.synth.SynthWorld.mix(seed), n))
      Some(reparent(s, r.getLong(0), r.getLong(1)))
    }
  }

  /** Count of states admitted into a [[bfs]] transition graph — one per
    * DISTINCT state, never one per generated successor; asserted by
    * BrsSpec's driver-traffic test and reported by the benchmark. */
  private[graft] val fullStateCollects = new java.util.concurrent.atomic.AtomicLong

  /** Canonical identity of a state within its world: the sorted agent rows
    * and contact pairs. The world is shared by every state a reaction
    * sequence reaches and node ids are stable across reactions, so two such
    * states are isomorphic for BRS purposes iff these are equal (SURVEY.md
    * §2.9) — an exact O(agents + contacts) key, computed on the driver. */
  private def canon(s: BigraphState): (Vector[Agent], Vector[(Long, Long)]) =
    (s.agents.sortBy(a => (a.id, a.parent)), s.contactPairs.sorted)

  /** The transition system explored by [[bfs]]: canonical states (index 0 =
    * s0) and labeled edges (fromState, ruleName, toState). `truncated` is
    * true when maxStates stopped the exploration (the reference's MAX
    * exception, builder.mli:139). */
  case class TransitionGraph(states: IndexedSeq[BigraphState],
                             edges: Seq[(Int, String, Int)],
                             truncated: Boolean) {

    /** PRISM explicit-transition export (reference `to_prism`,
      * builder.mli:161-164): header `<#states> <#transitions>`, then one
      * `src dst` line per transition in canonical order. */
    def toPrism: String =
      (s"${states.length} ${edges.length}" +:
        // numeric (src, dst) order — a lexicographic string sort would put
        // "10 0" before "2 0" past ten states
        edges.map { case (f, _, t) => (f, t) }.sorted
          .map { case (f, t) => s"$f $t" }).mkString("", "\n", "\n")

    /** PRISM label export (reference `to_lab`, builder.mli:165): for each
      * named predicate, the states satisfying it —
      * `label "name" = x = 0 | x = 3;` lines, empty predicates omitted. */
    def toLab(predicates: Seq[(String, BigraphState => Boolean)]): String =
      predicates.flatMap { case (name, p) =>
        val sat = states.indices.filter(i => p(states(i)))
        if (sat.isEmpty) None
        else Some(s"""label "$name" = ${sat.map(i => s"x = $i").mkString(" | ")};""")
      }.mkString("", "\n", "\n")

    /** Graphviz export of the transition graph (reference `to_dot` over a
      * graph, builder.mli:166): states as circles, transitions labeled by
      * rule name. */
    def toDot(name: String = "brs"): String = {
      val sb = new StringBuilder(s"digraph $name {\n")
      for (i <- states.indices) sb.append(s"""  s$i [shape=circle label="$i"];\n""")
      for ((f, rule, t) <- edges) sb.append(s"""  s$f -> s$t [label="$rule"];\n""")
      sb.append("}\n")
      sb.toString
    }

    /** PRISM explicit state-reward export (reference `to_state_rewards`,
      * builder.mli:163). The reference bakes rewards into predicates at
      * parse time; here the caller passes (name, predicate, reward) and a
      * state's reward is the SUM over the predicates it satisfies. Format:
      * `<#states> <#nonzero-reward states>` then one `state reward` line
      * per nonzero state in state order (the PRISM .srew layout). */
    def toStateRewards(predicates: Seq[(String, BigraphState => Boolean, Long)]): String = {
      val rewards = states.indices.map(i =>
        i -> predicates.collect { case (_, p, r) if p(states(i)) => r }.sum)
        .filter(_._2 != 0L)
      (s"${states.length} ${rewards.length}" +:
        rewards.map { case (i, r) => s"$i $r" }).mkString("", "\n", "\n")
    }

    /** PRISM explicit transition-reward export (reference
      * `to_transition_rewards`, builder.mli:164). The reference takes each
      * reaction's reward label; here the caller maps rule name → reward
      * (absent rules reward 0). Format: `<#states> <#nonzero transitions>`
      * then `src dst reward` lines in the same numeric (src, dst) order as
      * [[toPrism]] — parallel edges (two rules joining the same state
      * pair) keep one line each, exactly as toPrism keeps both
      * transitions. */
    def toTransitionRewards(ruleRewards: Map[String, Long]): String = {
      val rewarded = edges
        .map { case (f, rule, t) => (f, t, ruleRewards.getOrElse(rule, 0L)) }
        .filter(_._3 != 0L)
        .sortBy(e => (e._1, e._2, e._3))
      (s"${states.length} ${rewarded.length}" +:
        rewarded.map { case (f, t, r) => s"$f $t $r" }).mkString("", "\n", "\n")
    }
  }

  /** BRS `bfs` (builder.mli:140-150): breadth-first exploration of the
    * reachable state space under named reparenting rules, with exact
    * canonical dedup (a state reached twice — e.g. enter then leave — is
    * ONE node of the transition graph). Bounded by `maxStates` and by
    * `maxOccurrencesPerRule` per expansion, so a large world cannot flood
    * the driver. Deterministic: rules fire in given order, occurrences in
    * canonical (agent, target) order. */
  def bfs(s0: BigraphState,
          rules: Seq[(String, BigraphState => DataFrame)],
          maxStates: Int = 256,
          maxOccurrencesPerRule: Int = 64): TransitionGraph =
    bfsPrioritized(s0, Seq(rules), maxStates, maxOccurrencesPerRule)

  /** [[bfs]] with the reference's priority classes (`p_class`,
    * builder.mli:105-123): at each state, the FIRST class (highest
    * priority) with any occurrence is the only one expanded — lower classes
    * are preempted. A flat rule list is one class of equal priority. */
  def bfsPrioritized(s0: BigraphState,
                     priorities: Seq[Seq[(String, BigraphState => DataFrame)]],
                     maxStates: Int = 256,
                     maxOccurrencesPerRule: Int = 64): TransitionGraph = {
    val states = scala.collection.mutable.ArrayBuffer(s0)
    val seen = scala.collection.mutable.HashMap(canon(s0) -> 0)
    fullStateCollects.incrementAndGet()
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int)]
    var truncated = false
    var cutExpansions = 0
    var frontier = List(0)
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer.empty[Int]
      for (si <- frontier) {
        // the applicable class: first one where any rule has an occurrence
        val expansions = priorities.iterator.map { cls =>
          cls.flatMap { case (name, matcher) =>
            val (succs, cut) = stepTruncated(states(si), matcher(states(si)), maxOccurrencesPerRule)
            if (cut) cutExpansions += 1
            succs.map(succ => (name, succ))
          }
        }.find(_.nonEmpty).getOrElse(Nil)
        for ((name, succ) <- expansions) {
          val k = canon(succ)
          seen.get(k) match {
            case Some(ti) => edges += ((si, name, ti))
            case None if states.length >= maxStates => truncated = true
            case None =>
              val ti = states.length
              states += succ
              fullStateCollects.incrementAndGet()
              seen(k) = ti
              edges += ((si, name, ti))
              next += ti
          }
        }
      }
      frontier = next.toList
    }
    if (cutExpansions > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bfs: $cutExpansions rule expansions truncated at maxOccurrencesPerRule=" +
          s"$maxOccurrencesPerRule (raise the bound to explore every occurrence)")
    TransitionGraph(states.toIndexedSeq, edges.toSeq, truncated)
  }

  /** BRS `sim` (builder.mli:152-160): seeded random walk — at each step all
    * rule occurrences are enumerated in canonical order and ONE is chosen
    * uniformly by the seeded mix (determinism rule §7.5 replaces the
    * reference's Random.self_init). Stops at `steps` or at deadlock (no
    * occurrence — the reference's DEADLOCK). Returns the final state, the
    * number of steps taken, and the trace of fired rule names. */
  def sim(s0: BigraphState,
          rules: Seq[(String, BigraphState => DataFrame)],
          steps: Int, seed: Long,
          maxOccurrencesPerRule: Int = 1024): (BigraphState, Int, Seq[String]) =
    simPrioritized(s0, Seq(rules), steps, seed, maxOccurrencesPerRule)

  /** [[sim]] with priority classes: each step draws uniformly from the
    * highest-priority class that has an occurrence (builder.mli:105-123,
    * 152-160). */
  def simPrioritized(s0: BigraphState,
                     priorities: Seq[Seq[(String, BigraphState => DataFrame)]],
                     steps: Int, seed: Long,
                     maxOccurrencesPerRule: Int = 1024): (BigraphState, Int, Seq[String]) = {
    var s = s0
    var t = 0
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]
    var dead = false
    while (t < steps && !dead) {
      val sNow = s
      // ONE-ROW seeded pick: occurrences are COUNTED per rule on executors
      // (capped at maxOccurrencesPerRule — the same canonical-prefix pool
      // the round-4 per-step collect drew from, so traces are bit-identical
      // on any seed); the active class is the first with any occurrence.
      // Counting is ONE grouped job per probed class (rule-tagged union +
      // groupBy(rule).count) — the round-5 shape ran one count JOB per
      // rule per class per step. Driver traffic per step: one scalar per
      // live rule + the single chosen occurrence row.
      val counted = priorities.iterator.map { cls =>
        val ms = cls.map { case (_, matcher) => matcher(sNow) }
        val countsByRule =
          if (ms.isEmpty) Map.empty[Int, Long]
          else ms.iterator.zipWithIndex
            .map { case (m, ri) => m.select(lit(ri).as("rule")) }
            .reduce(_ unionByName _)
            .groupBy(col("rule")).agg(count(lit(1)).as("c"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        cls.iterator.zipWithIndex.flatMap { case ((name, _), ri) =>
          countsByRule.get(ri).filter(_ > 0)
            .map(c => (name, ms(ri), math.min(c, maxOccurrencesPerRule.toLong)))
        }.toList
      }.find(_.nonEmpty).getOrElse(Nil)
      if (counted.isEmpty) dead = true
      else {
        val total = counted.map(_._3).sum
        var i = math.floorMod(graft.synth.SynthWorld.mix(seed ^ t.toLong), total)
        var ri = 0
        while (i >= counted(ri)._3) { i -= counted(ri)._3; ri += 1 }
        val name = counted(ri)._1
        val chosen = occurrenceAt(counted(ri)._2, i)
        s = reparent(s, chosen.getLong(0), chosen.getLong(1))
        trace += name
        t += 1
      }
    }
    (s, t, trace.toSeq)
  }

  /** B7 fix: apply `rule` until no occurrence (bounded;
    * builder.mli:124-136). Returns (state, stepsApplied). */
  def fix(s0: BigraphState, rule: BigraphState => Option[BigraphState],
          maxSteps: Int = 1000): (BigraphState, Int) = {
    var s = s0
    var n = 0
    var more = true
    while (more && n < maxSteps) rule(s) match {
      case Some(next) => s = next; n += 1
      case None => more = false
    }
    (s, n)
  }

  /** BRS `rewrite` over a flat rule list (reference builder.mli:136
    * `rewrite : Big.t -> p_class list -> Big.t * int` with one class) —
    * see [[rewritePrioritized]]. */
  def rewrite(s0: BigraphState,
              rules: Seq[(String, BigraphState => DataFrame)],
              maxSteps: Int = 1000): (BigraphState, Int, Seq[String]) =
    rewritePrioritized(s0, Seq(rules), maxSteps)

  /** BRS `rewrite` (builder.mli:136): reduce `s0` to a fixpoint under
    * priority classes — the reference's main reduction entry point. Each
    * step re-scans the classes from the TOP: the first (highest-priority)
    * class with any occurrence fires, and within it the first rule in class
    * order applies its canonically-first occurrence (§7.5 determinism,
    * replacing the solver's unspecified order — the same class-preemption
    * rule as [[bfsPrioritized]], so a low-class rule never fires while any
    * higher-class rule still matches). Stops when no class has an
    * occurrence (the fixpoint) or at `maxSteps` (reparenting rule sets can
    * cycle — move_across is its own inverse — so the bound is load-bearing,
    * as in [[fix]]). Returns (final state, steps applied, fired-rule
    * trace); the reference returns the (state, steps) pair. */
  def rewritePrioritized(s0: BigraphState,
                         priorities: Seq[Seq[(String, BigraphState => DataFrame)]],
                         maxSteps: Int = 1000): (BigraphState, Int, Seq[String]) = {
    var s = s0
    var n = 0
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]
    var more = true
    val names = priorities.map(_.map(_._1))
    while (more && n < maxSteps) {
      val sNow = s
      // ONE probe job per step: every rule's matcher, tagged with its
      // (class, rule) indices, in one union; the (cls, rule, agent,
      // target) sort picks exactly the row the round-5 per-rule probe
      // loop found — classIdx leads, so class preemption is preserved (a
      // low-class rule never fires while any higher-class rule matches),
      // then rule order in class, then the canonical §7.5 occurrence.
      // The round-5 loop ran one limit(1) JOB per probed rule per step —
      // R × N driver-synchronized jobs over a fixpoint run.
      val taggedParts = priorities.iterator.zipWithIndex.flatMap { case (cls, ci) =>
        cls.iterator.zipWithIndex.map { case ((_, matcher), ri) =>
          matcher(sNow).select(col("agent"), col("target"))
            .withColumn("cls", lit(ci)).withColumn("rule", lit(ri))
        }
      }.toList
      val rows =
        if (taggedParts.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else taggedParts.reduce(_ unionByName _)
          .orderBy(col("cls"), col("rule"), col("agent"), col("target"))
          .limit(1).collect()
      (if (rows.isEmpty) None
       else Some((names(rows(0).getInt(2))(rows(0).getInt(3)), rows))) match {
        case Some((name, rows)) =>
          s = reparent(sNow, rows(0).getLong(0), rows(0).getLong(1))
          trace += name
          n += 1
        case None =>
          more = false
      }
    }
    (s, n, trace.toSeq)
  }
}
