package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bigraph.{Assembly, BigraphJson}

/** S6 load-path parity across ALL seven committed goldens — including the
  * regions whose input extracts were stripped from the snapshot (Strasbourg,
  * Hong Kong Island, Mountain View): the loaded state's per-control counts
  * must equal the canonical reader's, and the node identity
  * nodes = 2·(B+S+Bu) + J must hold (every named entity carries one ID atom;
  * experiment_results_load.csv's invariant). */
class GoldenLoadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import ReferenceFixtures.{need, outDir}

  private val goldens = Seq(
    "10-2604777-Dover", "6-51800-City of London", "8-295349-Fenland",
    "8-295352-East Cambridgeshire", "8-71033-Strasbourg",
    "5-10264792-Hong Kong Island", "8-1544956-Mountain View")

  for (g <- goldens) test(s"load parity: $g") {
    val path = need(s"$outDir/$g.json")
    val canon = BigraphJson.readGolden(path)
    val state = Assembly.loadJson(spark, path)
    val nB = state.countCtrl("Boundary")
    val nS = state.countCtrl("Street")
    val nBu = state.countCtrl("Building")
    val nJ = state.countCtrl("Junction")
    assert(nB == canon.boundaryChains.values.sum)
    assert(nS == canon.streetChains.values.sum)
    assert(nBu == canon.buildingChains.values.sum)
    assert(nJ == canon.junctionsByStreet.values.sum)
    assert(canon.nNodes == 2 * (nB + nS + nBu) + nJ,
      s"ID-atom identity violated: ${canon.nNodes} vs ${2 * (nB + nS + nBu) + nJ}")
    // place forest is well-formed: every non-root parent exists
    import org.apache.spark.sql.functions._
    val orphans = state.places.as("c")
      .filter(col("c.parent") >= 0)
      .join(state.places.as("p"), col("c.parent") === col("p.id"), "left_anti")
      .count()
    assert(orphans == 0)
  }
}
