package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bigraph.{BigraphCanon, BigraphJson}
import graft.hier.PlacePipeline

/** Golden structural parity against the reference's committed bigraph JSONs
  * (SURVEY.md §5.2(1)): exact per-control counts and canonicalized
  * name-chain multisets, starting with the primary fixture Dover
  * (2184 nodes / 1069 edges / 25 outer names / B=1 S=391 Bu=158 J=1084,
  * experiment_results_load.csv:21). */
class GoldenParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import ReferenceFixtures.{dataDir, need, outDir}

  private def check(rootLevel: Int, rootId: Long, rootName: String): Unit = {
    val golden = BigraphJson.readGolden(need(s"$outDir/$rootLevel-$rootId-$rootName.json"))
    val (_, tables) = PlacePipeline.fromOsmDir(spark, need(dataDir), rootLevel, rootId, rootName)
    val got = BigraphJson.canonOf(tables)

    val diffs =
      BigraphJson.diff("boundary", got.boundaryChains, golden.boundaryChains) ++
      BigraphJson.diff("street", got.streetChains, golden.streetChains) ++
      BigraphJson.diff("building", got.buildingChains, golden.buildingChains) ++
      BigraphJson.diff("junctions", got.junctionsByStreet, golden.junctionsByStreet) ++
      BigraphJson.diff("edge", got.edges, golden.edges)
    assert(diffs.isEmpty, s"\n${diffs.take(40).mkString("\n")}\n(${diffs.size} total diffs)")
    assert(got.nNodes == golden.nNodes, s"nodes ${got.nNodes} != ${golden.nNodes}")
    assert(got.nEdges == golden.nEdges, s"edges ${got.nEdges} != ${golden.nEdges}")
    assert(got.nOpen == golden.nOpen, s"open ${got.nOpen} != ${golden.nOpen}")
  }

  test("Dover (level 10, single boundary) matches golden structure") {
    check(10, 2604777L, "Dover")
  }

  test("Dover golden has the documented headline counts") {
    val g = BigraphJson.readGolden(need(s"$outDir/10-2604777-Dover.json"))
    assert(g.nNodes == 2184 && g.nEdges == 1069 && g.nOpen == 25)
    assert(g.boundaryChains.values.sum == 1)
    assert(g.streetChains.values.sum == 391)
    assert(g.buildingChains.values.sum == 158)
    assert(g.junctionsByStreet.values.sum == 1084)
  }

  test("Fenland (17 boundaries, multi-level) matches golden structure") {
    check(8, 295349L, "Fenland")
  }

  test("East Cambridgeshire (36 boundaries) matches golden structure") {
    check(8, 295352L, "East Cambridgeshire")
  }

  test("City of London (level 6) matches golden structure") {
    check(6, 51800L, "City of London")
  }

  test("canonical numbering stays distributed: no global Window in the toState plan") {
    val (_, tables) = PlacePipeline.fromOsmDir(spark, need(dataDir), 10, 2604777L, "Dover")
    val state = graft.bigraph.Assembly.toState(spark, tables)
    val plan = state.places.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"single-partition Window found in plan:\n$plan")
    // ids are a dense 0..n-1 ranking of uids
    val n = state.places.count()
    val ids = state.places.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == n - 1 && ids.distinct.length == n.toInt)
  }
}
