package graft.hier

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The assembled place hierarchy as relational tables (the reference's
  * bigraph, SURVEY.md §1.1 re-expressed):
  *  - boundaries: one row per Boundary node
  *  - streets:    one row per Street node (bkey, street)
  *  - buildings:  one row per Building node (street null = directly under boundary)
  *  - junctionAtoms: one row per Junction node (bkey, street, nd)
  *  - junctionEdges: one hyperedge per (nd, closure boundary); `outer_name`
  *    non-null ⇔ the edge stays open at the root (boundary-crossing node)
  * Every table carries `chain`, the root-first display-name chain — the
  * canonical structural identity used for golden parity.
  */
case class PlaceTables(
    boundaries: DataFrame,
    streets: DataFrame,
    buildings: DataFrame,
    junctionAtoms: DataFrame,
    junctionEdges: DataFrame,
    errors: DataFrame)

case class PlaceStats(
    nBoundaries: Long, nStreets: Long, nBuildings: Long, nJunctions: Long,
    nNodes: Long, nEdges: Long, nOpenNames: Long)

object PlaceStats {
  /** The S8 count identities, in ONE place (PlacePipeline.stats and the
    * CLI's loaded-state stats both apply them): default mode gives every
    * named entity an ID atom and an ID link; -id-parameter mode gives
    * neither (hierarchy.ml:236-286 / builder.ml:86-101). */
  def fromCounts(nB: Long, nS: Long, nBu: Long, nJ: Long,
                 nHyperedges: Long, nOpen: Long, idParameter: Boolean): PlaceStats = {
    val entityFactor = if (idParameter) 1 else 2
    val idLinks = if (idParameter) 0L else nB + nS + nBu
    PlaceStats(nB, nS, nBu, nJ,
      nNodes = entityFactor * (nB + nS + nBu) + nJ,
      nEdges = idLinks + nHyperedges,
      nOpenNames = nOpen)
  }
}

/** The reference's sequential builder (builder.ml:53-231 +
  * hierarchy.ml:70-234) re-derived as a shuffle-minimal Dataset pipeline.
  *
  * The mutable `id_seen` traversal set becomes two window ranks over the
  * DFS post-order index (J3/J4 in SURVEY.md §2.3):
  *  - buildings: first post-order boundary containing the element claims it;
  *  - street ways: a way appears in successive post-order boundaries while
  *    every earlier appearance crossed that boundary's border (touched one
  *    of its outer-name nodes), and sticks at the first non-crossing one —
  *    hierarchy.ml:196-199,214-218's claim/unclaim as a running conjunction.
  */
object PlacePipeline {

  private def tag(k: String): Column = col("tags").getItem(k)

  def build(spark: SparkSession, elems: Dataset[BoundaryElem],
            metas: Seq[BoundaryMeta]): PlaceTables = {
    import spark.implicits._

    // Small dimension: one row per boundary. Broadcast into every join — the
    // hint sits at each join site, since `boundaries` reuses the frame
    // outside any join.
    val metaDf =
      metas.map(m => (m.bkey, m.level, m.name, m.parentKey, m.postIdx, m.path, m.nameChain))
        .toDF("bkey", "level", "bname_", "parent_bkey", "post_idx", "path", "chain")

    // ── P6/P7 classification dispatch (hierarchy.ml:107-176) ──
    val classified = elems.toDF()
      .withColumn("cls",
        when(tag("building").isNotNull,
          when(tag("addr:street").isNotNull, lit("bldg_street"))
            .otherwise(lit("bldg_plain")))
          .when(tag("admin_level").isNotNull, lit("admin"))
          .when(col("kind") === "node", lit("outer"))
          .when(tag("highway").isNotNull, lit("highway"))
          .otherwise(lit("error")))
      .withColumn("elem_key", concat(col("kind"), lit(" "), col("id")))

    // the reference raises TagNotFound on unnameable elements; we surface
    // them as an error table instead of failing the job (SURVEY.md §2.2 P7)
    val errors = classified.filter(
      col("cls") === "error" ||
        (col("cls") === "bldg_street" && tag("name").isNull && tag("addr:housenumber").isNull) ||
        (col("cls") === "bldg_plain" && tag("name").isNull))

    // every downstream branch (outer nodes, claims, streets ×2, junctions)
    // re-reads this — cache the classified+meta join once, with every
    // tags-derived column computed HERE so the open string map never enters
    // the cache or any shuffle (F2/F3 naming, P6 street)
    val withMeta = classified
      .withColumn("b_street",
        when(col("cls") === "bldg_street", tag("addr:street")).otherwise(lit(null)))
      .withColumn("b_name",
        when(col("cls") === "bldg_street",
          coalesce(tag("name"), concat(tag("addr:housenumber"), lit(" "), tag("addr:street"))))
          .when(col("cls") === "bldg_plain", tag("name")))
      .withColumn("s_name",
        when(col("cls") === "highway", coalesce(tag("name"), tag("ref"), col("elem_key"))))
      .drop("tags")
      .join(broadcast(metaDf), "bkey")
      .cache()

    // ── outer names: every bare node in the extract (hierarchy.ml:151-156).
    // A bounded dimension (border nodes), consumed ONLY as two broadcast
    // aggregates — collect_set dedups, so the former distinct+cache stage
    // is folded into them ──
    val outerRows = withMeta.filter(col("cls") === "outer")
      .select(col("bkey"), col("id").as("nd"))
    // bkey → its outer-node set (the crossing probe)
    val outerSets = outerRows.groupBy(col("bkey"))
      .agg(collect_set(col("nd")).as("outer_nds"))
    // nd → boundaries naming it outer (junction qualify + closure)
    val outerByNode = outerRows.groupBy(col("nd"))
      .agg(collect_set(col("bkey")).as("outer_bkeys"))

    // ── buildings: deepest-first claim = post-order rank 1 (J3) ──
    // display name/street are per-row functions — computed BEFORE the claim
    // shuffle so it carries 5 narrow strings, not the tags map. min_by
    // replaces the row_number window: post_idx is unique per (elem_key,
    // bkey) appearance, so argmin-by-post_idx IS rank 1 — and a declarative
    // aggregate gets map-side partial aggregation (most of an element's
    // ancestor appearances collapse before the exchange) where a window
    // must shuffle and sort every appearance
    val buildingsClaimed = withMeta
      .filter(col("cls").isin("bldg_street", "bldg_plain"))
      .withColumn("street", col("b_street"))
      .withColumn("bname", col("b_name"))
      .filter(col("bname").isNotNull)
      .groupBy(col("elem_key"))
      .agg(min_by(
        struct(col("bkey"), col("street"), col("bname"), col("chain"), col("post_idx")),
        col("post_idx")).as("w"))
      .select(col("w.bkey").as("bkey"), col("elem_key"), col("w.street").as("street"),
        col("w.bname").as("bname"), col("w.chain").as("chain"),
        col("w.post_idx").as("post_idx"))
      .cache() // shared by streets, buildings

    // ── street candidates: highway ways and relations (hierarchy.ml:158-176) ──
    // F3 display name: name | ref | typed id string
    val streetCandidates = withMeta.filter(col("cls") === "highway")
      .withColumn("street", col("s_name"))
      .select("bkey", "kind", "elem_key", "street", "nds", "chain", "post_idx")

    val wayCandidates = streetCandidates.filter(col("kind") === "way")

    // crossing(way, boundary): some member node is one of this boundary's
    // outer-name nodes (hierarchy.ml:214-218) → ONE broadcast join of the
    // per-boundary outer-node SET + arrays_overlap on the way's member
    // array. The explode → semi-join → distinct → join-back chain this
    // replaces cost two extra exchanges and a scan of the exploded members
    // inclusion: AND of `crossing` over all earlier post-order appearances
    val wPrev = Window.partitionBy(col("elem_key")).orderBy(col("post_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val waysIncluded = wayCandidates
      .join(broadcast(outerSets), Seq("bkey"), "left")
      .withColumn("crossing",
        coalesce(arrays_overlap(col("nds"), col("outer_nds")), lit(false)))
      .drop("outer_nds")
      .withColumn("included", coalesce(min(col("crossing")).over(wPrev), lit(true)))
      .filter(col("included"))
      .cache() // shared by street groups, junctions

    // highway relations never enter id_seen (junctions_of_streets iterates
    // ways only) → they appear in every extract that lists them
    val relsIncluded = streetCandidates.filter(col("kind") === "relation")

    val includedStreetElems = waysIncluded
      .select("bkey", "elem_key", "street", "nds", "chain")
      .unionByName(relsIncluded.select("bkey", "elem_key", "street", "nds", "chain"))

    // ── junctions (A4/A5, hierarchy.ml:188-234): per boundary, a node is a
    // junction iff ≥2 distinct street names meet there or it is an
    // outer-name node; one Junction atom per (boundary, street, node) ──
    // ONE aggregation does qualify + atom emission: collect_set dedupes the
    // street names per (boundary, node) — then the qualified sets
    // re-explode into atoms. `chain` is functionally dependent on bkey, so
    // it does NOT ride the explode/shuffle: the post-agg broadcast metaDf
    // join re-attaches it (the round-5 shape shipped a (street, chain)
    // struct per member — the ~60-char chain dominated the exchange bytes).
    val wayNodes = waysIncluded
      .select(col("bkey"), col("street"), explode(col("nds")).as("nd"))
    // is_outer ⟺ outer_bkeys(nd) contains bkey — the SAME broadcast
    // outerByNode join the closure needs, so qualify + closure share one
    // probe (the round-5 shape joined a second (bkey, nd) broadcast)
    val qualified = wayNodes
      .groupBy(col("bkey"), col("nd"))
      .agg(collect_set(col("street")).as("ss"))
      .join(broadcast(outerByNode), Seq("nd"), "left")
      .filter(size(col("ss")) > 1 ||
        array_contains(col("outer_bkeys"), col("bkey")))
    // closure = first self-or-ancestor boundary whose outer-name set misses
    // the node (builder.ml:216-226's per-boundary close) — computed PER ATOM
    // at build time with a codegen'd higher-order filter (no UDF), so both
    // the hyperedge grouping and the assembly's edge keys read it directly
    // (re-deriving it later via a display-chain join would double-count
    // atoms whose name chains repeat)
    val junctionAtoms = qualified
      .join(broadcast(metaDf.select(col("bkey"), col("path"), col("chain"))), Seq("bkey"))
      .withColumn("closure",
        coalesce(
          try_element_at(filter(col("path"),
            a => !array_contains(coalesce(col("outer_bkeys"), array()), a)), lit(1)),
          lit("OPEN")))
      .select(col("bkey"), col("nd"), col("closure"), col("chain"),
        explode(col("ss")).as("street"))
      .select(col("bkey"), col("street"), col("nd"),
        concat(col("chain"), lit(">"), col("street")).as("street_chain"),
        col("closure"))
      .cache() // terminal table, re-read by junctionEdges + stats + assembly

    // ── street groups (A1/A2): street names from included highway elements
    // ∪ claimed buildings' addr:street (hierarchy.ml:128-135,169-176) ──
    val streetsFromWays = includedStreetElems.select("bkey", "street", "chain")
    val streetsFromBldgs = buildingsClaimed.filter(col("street").isNotNull)
      .select("bkey", "street", "chain")
    val streets = streetsFromWays.unionByName(streetsFromBldgs)
      .distinct()
      .withColumn("street_chain", concat(col("chain"), lit(">"), col("street")))

    // ── building entities: deduped by display name per parent (Set semantics) ──
    val buildings = buildingsClaimed
      .select(col("bkey"), col("street"), col("bname"), col("chain"))
      .distinct()
      .withColumn("parent_chain",
        when(col("street").isNotNull, concat(col("chain"), lit(">"), col("street")))
          .otherwise(col("chain")))
      .withColumn("bchain", concat(col("parent_chain"), lit(">"), col("bname")))

    // ── boundary entities ──
    val boundaries = metaDf.select(
      col("bkey"), col("bname_").as("name"), col("parent_bkey"),
      col("chain"), col("level"), col("post_idx"))

    // ── junction hyperedges: merge atoms per (node, closure boundary)
    // (SURVEY.md §1.1) — closure already sits on each atom ──
    val junctionEdges = junctionAtoms
      .groupBy(col("nd"), col("closure"))
      .agg(sort_array(collect_list(col("street_chain"))).as("port_chains"),
        count(lit(1)).as("n_ports"))
      .withColumn("outer_name",
        when(col("closure") === "OPEN", concat(lit("node "), col("nd"))))

    PlaceTables(boundaries, streets, buildings, junctionAtoms, junctionEdges,
      errors.select("bkey", "elem_key", "cls", "tags"))
  }

  /** A6/S8 stats (hierarchy.ml:236-286): node count = entities + their ID
    * atoms + junction atoms; edge count = one closed ID link per named
    * entity + one hyperedge per (node, closure). Under `idParameter`
    * (reference flag -id-parameter, botw.ml:186-188 / builder.ml:86-101)
    * names live in the entity's own ctrl param: no ID atoms, no ID links —
    * nodes = B+S+Bu+J, edges = junction hyperedges only. */
  def stats(t: PlaceTables, idParameter: Boolean = false): PlaceStats = {
    // one aggregate over the edges yields edge count, open count AND the
    // atom count (nJ = Σ n_ports — every atom belongs to exactly one edge),
    // so junctionAtoms is never re-scanned here. The four jobs share the
    // build's cached intermediates and are independent — submit them
    // CONCURRENTLY so their stage barriers overlap instead of serializing
    // (values are plain counts; scheduling order cannot change them)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fB = Future(t.boundaries.count())
    val fS = Future(t.streets.count())
    val fBu = Future(t.buildings.count())
    val fE = Future(t.junctionEdges
      .agg(count(lit(1)), count(col("outer_name")),
        coalesce(sum(col("n_ports")), lit(0L))).collect()(0))
    val eAgg = Await.result(fE, Duration.Inf)
    val nE = eAgg.getLong(0)
    val nOpen = eAgg.getLong(1)
    val nJ = eAgg.getLong(2)
    PlaceStats.fromCounts(Await.result(fB, Duration.Inf),
      Await.result(fS, Duration.Inf), Await.result(fBu, Duration.Inf),
      nJ, nE, nOpen, idParameter)
  }

  /** End-to-end build from a reference-format data directory. */
  def fromOsmDir(spark: SparkSession, dataDir: String,
                 rootLevel: Int, rootId: Long, rootName: String): (Seq[BoundaryMeta], PlaceTables) = {
    val bs = Hierarchy.discover(spark, dataDir, rootLevel, rootId, rootName)
    val metas = Hierarchy.metadata(bs)
    val elems = Hierarchy.readElements(spark, dataDir, metas.map(_.bkey))
    (metas, build(spark, elems, metas))
  }
}
