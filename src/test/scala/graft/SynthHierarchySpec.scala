package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bigraph.{Assembly, BigraphJson}
import graft.hier.{Hierarchy, PlacePipeline, PlaceStats}
import graft.synth.SynthWorld

/** PlacePipeline on the synthetic per-boundary extracts, checked against
  * closed-form counts (the known-true containment oracle of the generated
  * world — FIXTURES.md §3). */
class SynthHierarchySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("planet-sharded build: two disjoint roots in ONE job equal two separate builds") {
    // SURVEY §1.1's multi-region shape: the hierarchy pipeline is keyed by
    // (bkey, elem_key) throughout, so disjoint root subtrees build in one
    // job with zero cross-talk — shard a planet by boundary subtree and
    // run ONE build over the union instead of one job per region
    val cfg = SynthWorld.Config(seed = 5L, gridP = 2, gridC = 2,
      streetsPerCity = 3, buildingsPerStreet = 2)
    val (bA, eA) = SynthWorld.boundaryExtracts(spark, cfg)
    val (bB, eB) = SynthWorld.shiftWorld(spark, bA, eA, off = 1000000000000L, suffix = " B")
    val tA = PlacePipeline.build(spark, eA, Hierarchy.metadata(bA))
    val tB = PlacePipeline.build(spark, eB, Hierarchy.metadata(bB))
    val tC = PlacePipeline.build(spark, eA.union(eB), Hierarchy.metadata(bA ++ bB))

    val aKeys = bA.map(_.bkey).toSet
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Set[String] =
      df.selectExpr(cols: _*).collect().map(_.mkString("|")).toSet
    // post_idx is a forest-global traversal index (world B's shifts by
    // |A| in the combined forest) — compare the semantic columns
    val bCols = Seq("bkey", "name", "parent_bkey", "chain", "level")
    val sCols = Seq("bkey", "street", "chain", "street_chain")
    val buCols = Seq("bkey", "street", "bname", "chain", "parent_chain", "bchain")
    val jaCols = Seq("bkey", "street", "nd", "street_chain", "closure")
    val jeCols = Seq("nd", "closure", "array_join(port_chains, ',')", "n_ports", "outer_name")
    // each shard's rows of the combined build == that shard's solo build
    import org.apache.spark.sql.functions.col
    def check(name: String, combined: org.apache.spark.sql.DataFrame,
              solo: org.apache.spark.sql.DataFrame, cols: Seq[String],
              partCol: String, inA: Boolean): Unit = {
      val part =
        if (partCol == "bkey")
          combined.filter(if (inA) col("bkey").isin(aKeys.toSeq: _*)
                          else !col("bkey").isin(aKeys.toSeq: _*))
        else // junction edges: world membership by the shifted node id
          combined.filter(if (inA) col("nd") < 1000000000000L
                          else col("nd") >= 1000000000000L)
      assert(rows(part, cols) == rows(solo, cols),
        s"$name (${if (inA) "A" else "B"}): combined-build shard differs from solo build")
    }
    for (inA <- Seq(true, false)) {
      val solo = if (inA) tA else tB
      check("boundaries", tC.boundaries, solo.boundaries, bCols, "bkey", inA)
      check("streets", tC.streets, solo.streets, sCols, "bkey", inA)
      check("buildings", tC.buildings, solo.buildings, buCols, "bkey", inA)
      check("junctionAtoms", tC.junctionAtoms, solo.junctionAtoms, jaCols, "bkey", inA)
      check("junctionEdges", tC.junctionEdges, solo.junctionEdges, jeCols, "nd", inA)
    }
    val (stA, stB, stC) = (PlacePipeline.stats(tA), PlacePipeline.stats(tB), PlacePipeline.stats(tC))
    assert(stC.nNodes == stA.nNodes + stB.nNodes && stC.nEdges == stA.nEdges + stB.nEdges)
  }

  test("synthetic extracts build to closed-form entity counts") {
    val cfg = SynthWorld.Config(seed = 5L, gridP = 2, gridC = 2,
      streetsPerCity = 3, buildingsPerStreet = 2)
    val (bounds, elems) = SynthWorld.boundaryExtracts(spark, cfg)
    val metas = Hierarchy.metadata(bounds)
    val t = PlacePipeline.build(spark, elems, metas)
    val st = PlacePipeline.stats(t)

    val p = cfg.gridP * cfg.gridP        // provinces
    val c = p * cfg.gridC * cfg.gridC    // cities
    val s = cfg.streetsPerCity
    val b = cfg.buildingsPerStreet
    assert(st.nBoundaries == 1 + p + c)
    // city: 2s streets; crossing ways H0,V0 reappear in province AND country
    assert(st.nStreets == c * 2 * s + c * 2 + c * 2, s"streets: $st")
    assert(st.nBuildings == c * s * b)
    // city: 2 atoms per intersection (s²); province/country: 2 each via the
    // unclaimed crossing ways at the shared border node
    assert(st.nJunctions == c * 2 * s * s + c * 2 + c * 2, s"junctions: $st")
    // one open hyperedge per city (border node outer at every level)
    assert(st.nOpenNames == c, s"open: $st")
    assert(st.nNodes == 2 * (st.nBoundaries + st.nStreets + st.nBuildings) + st.nJunctions)

    assert(t.errors.count() == 0)
    // every building claimed exactly once (deepest boundary)
    import org.apache.spark.sql.functions._
    val multi = t.buildings.groupBy("bname").count().filter(col("count") > 1).count()
    assert(multi == 0)
  }

  test("S5/S6/S7 round trips on a synthetic build: JSON write/read, param-mode load, dot") {
    val cfg = SynthWorld.Config(seed = 5L, gridP = 2, gridC = 1,
      streetsPerCity = 3, buildingsPerStreet = 2)
    val (bounds, elems) = SynthWorld.boundaryExtracts(spark, cfg)
    val t = PlacePipeline.build(spark, elems, Hierarchy.metadata(bounds))
    def tmpJson(): String = {
      val f = java.nio.file.Files.createTempFile("graft-synth", ".json")
      f.toFile.deleteOnExit()
      f.toString
    }

    // S5 → S6: the written JSON reads back to the tables' canonical form
    val path = tmpJson()
    Assembly.writeJson(spark, t, path)
    val reread = BigraphJson.readGolden(path)
    val direct = BigraphJson.canonOf(t)
    assert(reread.boundaryChains == direct.boundaryChains)
    assert(reread.streetChains == direct.streetChains)
    assert(reread.buildingChains == direct.buildingChains)
    assert(reread.junctionsByStreet == direct.junctionsByStreet)
    assert(reread.edges == direct.edges)
    assert((reread.nNodes, reread.nEdges, reread.nOpen) ==
      (direct.nNodes, direct.nEdges, direct.nOpen))
    // S8: canonOf's counts are the pipeline's; one open name per city
    val st = PlacePipeline.stats(t)
    assert((direct.nNodes, direct.nEdges, direct.nOpen) == (st.nNodes, st.nEdges, st.nOpenNames))
    assert(st.nOpenNames == cfg.gridP * cfg.gridP * cfg.gridC * cfg.gridC)

    // -id-parameter JSON loads back with names intact and no ID atoms
    val stParam = PlaceStats.fromCounts(st.nBoundaries, st.nStreets, st.nBuildings,
      st.nJunctions, nHyperedges = t.junctionEdges.count(), nOpen = st.nOpenNames,
      idParameter = true)
    val paramPath = tmpJson()
    Assembly.writeJson(spark, t, paramPath, idParameter = true)
    val loaded = Assembly.loadJson(spark, paramPath)
    assert(loaded.places.count() == stParam.nNodes)
    assert(loaded.countCtrl("Building") == stParam.nBuildings)
    assert(!java.nio.file.Files.readString(java.nio.file.Paths.get(paramPath)).contains("\"ID\""),
      "param mode must not emit ID atoms")

    // S7: each k-port junction hyperedge of the loaded state renders as a
    // (k-1)-arc dashed chain
    val dashed = Assembly.toDot(loaded).linesIterator.count(_.endsWith("[style=dashed dir=none];"))
    import org.apache.spark.sql.functions.{col, sum}
    val nHyper = loaded.junctionEdges.groupBy("edge_key").count()
      .filter(col("count") > 1).agg(sum(col("count") - 1)).collect()(0).getLong(0)
    assert(dashed > 0 && dashed == nHyper, s"dot dashed arcs $dashed != hyperedge chain arcs $nHyper")
  }
}
