package graft.hier

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.osm.OsmXml
import graft.truncated

/** One resolved admin boundary in the containment forest.
  * Key codec stays typed — the display key `level-relId-name` is built at
  * I/O edges only, never re-split (names contain `-` and `/`;
  * reference F1, builder.ml:38,54-55).
  */
case class Boundary(bkey: String, level: Int, relId: Long, name: String, parentKey: String)

/** Driver-side metadata for each boundary: DFS post-order index (the exact
  * claim order of the reference's sequential traversal, builder.ml:53-75),
  * the self-first ancestor path, and the root-first name chain. */
case class BoundaryMeta(
    bkey: String,
    level: Int,
    name: String,
    parentKey: String,
    postIdx: Int,
    path: Seq[String], // self :: ancestors, root last
    nameChain: String) // rootName>…>selfName

/** Flattened OSM element tagged with the boundary extract it came from. */
case class BoundaryElem(
    bkey: String,
    kind: String,
    id: Long,
    nds: Seq[Long],
    tags: Map[String, String])

object Hierarchy {

  def bkey(level: Int, relId: Long, name: String): String = s"$level-$relId-$name"

  /** R1/R2 (hierarchy.ml:20-68, overpass.ml:55-99): iterative boundary
    * descent. Each pass parses the frontier's per-boundary extracts in
    * parallel on executors and collects only the (child, parent) candidate
    * edges (tiny — ≤ a few hundred boundaries per region; the reference's
    * max is 242). Parent conflicts resolve to the deepest (max admin_level)
    * containing boundary, ties to earliest discovery then key order —
    * hierarchy.ml:50-58's traversal-order rule without sequential state.
    */
  def discover(spark: SparkSession, dataDir: String,
               rootLevel: Int, rootId: Long, rootName: String): Seq[Boundary] = {
    val rootKey = bkey(rootLevel, rootId, rootName)
    var visited = Map(rootKey -> rootLevel)
    var frontier = Seq((rootKey, rootLevel))
    // (childKey, childLevel, childId, childName, parentKey, parentLevel, iter)
    val candidates = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Long, String, String, Int, Int)]
    var iter = 0
    while (frontier.nonEmpty) {
      val batch = frontier.map { case (k, lvl) => (k, lvl, s"$dataDir/$k.osm") }
      val found = spark.sparkContext
        .parallelize(batch, math.min(batch.size, 64))
        .flatMap { case (pk, plvl, path) =>
          OsmXml.parseFile(path)
            .filter(e => e.kind == "relation" && e.tags.contains("admin_level"))
            .flatMap { e =>
              // OSM data has non-integer admin_level values ("2;4") — skip
              // them instead of failing the stage (the reference would
              // raise; our posture is the errors-table one, SURVEY.md §2.2)
              e.tags("admin_level").toIntOption match {
                case Some(lvl) if lvl > plvl =>
                  val name = e.tags.getOrElse("name",
                    throw new IllegalStateException(s"relation ${e.id} has admin_level but no name"))
                  Some((bkey(lvl, e.id, name), lvl, e.id, name, pk, plvl))
                case _ => None
              }
            }
        }
        .collect()
      candidates ++= found.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, iter))
      val fresh = found.iterator
        .map(t => (t._1, t._2))
        .filter { case (k, _) => !visited.contains(k) }
        .toSeq.distinct
      visited ++= fresh
      frontier = fresh
      iter += 1
    }
    // EXACT replay of the reference's sequential resolution
    // (hierarchy.ml:20-68) over the collected candidate edges: DFS from the
    // root, each file's candidates in ascending id-STRING order (the OCaml
    // Map.fold order over osm_record.relations); first sight sets the parent
    // and recurses; a later STRICTLY-DEEPER parent replaces without
    // re-recursion; ties keep the first-seen parent. The edge set is a
    // bounded dimension (≤10^6 boundaries planet-wide) — driver replay is
    // free while the file parsing above stays distributed.
    val byParent = candidates.groupBy(_._5).map { case (pk, cs) =>
      pk -> cs.sortBy(_._3.toString)
    }
    val info = candidates.map(t => t._1 -> t).toMap
    val parentOf = scala.collection.mutable.LinkedHashMap(rootKey -> "0-0-root")
    val levelOf = scala.collection.mutable.Map(rootKey -> rootLevel)
    def dfs(key: String, lvl: Int): Unit =
      for ((ck, clvl, _, _, _, _, _) <- byParent.getOrElse(key, Seq.empty) if clvl > lvl) {
        parentOf.get(ck) match {
          case None =>
            parentOf(ck) = key; levelOf(ck) = clvl
            dfs(ck, clvl)
          case Some(prev) if levelOf.getOrElse(prev, Int.MaxValue) < lvl =>
            parentOf(ck) = key // deeper parent wins, no re-recursion
          case _ => ()
        }
      }
    dfs(rootKey, rootLevel)
    Seq(Boundary(rootKey, rootLevel, rootId, rootName, "0-0-root")) ++
      parentOf.iterator.collect {
        case (ck, pk) if ck != rootKey =>
          val t = info(ck)
          Boundary(ck, t._2, t._3, t._4, pk)
      }
  }

  /** DFS post-order over the resolved forest, children in DESCENDING key
    * order: invert_map_list (hierarchy.ml:6-10) PREPENDS during its
    * ascending fold, so builder.ml:57-68 visits each boundary's children
    * largest-key-first. Also derives ancestor paths and display name
    * chains. (OCaml compares byte-wise, Scala by UTF-16 code unit — they
    * agree on all BMP names in OSM data.) */
  def metadata(boundaries: Seq[Boundary]): Seq[BoundaryMeta] = {
    val byKey = boundaries.map(b => b.bkey -> b).toMap
    val children = boundaries.groupBy(_.parentKey).map { case (p, cs) =>
      p -> cs.map(_.bkey).sorted(Ordering[String].reverse)
    }
    val roots = boundaries.filter(b => !byKey.contains(b.parentKey)).map(_.bkey).sorted
    val out = scala.collection.mutable.ArrayBuffer.empty[BoundaryMeta]
    var idx = 0
    def dfs(k: String, ancestors: List[String], names: List[String]): Unit = {
      val b = byKey(k)
      val path = k :: ancestors
      val chain = (b.name :: names).reverse.mkString(">")
      children.getOrElse(k, Nil).foreach(c => dfs(c, path, b.name :: names))
      out += BoundaryMeta(k, b.level, b.name, b.parentKey, idx, path, chain)
      idx += 1
    }
    roots.foreach(dfs(_, Nil, Nil))
    out.toSeq
  }

  /** R4 `>>` recurse-down + R3 `complete` (query-raw.overpassql:52-89):
    * expand relations to ALL transitive members. Input rows
    * (rel_id, member_kind, member_ref); output (root_rel, kind, ref)
    * including indirect members through relation→relation edges. Iterative
    * join to fixpoint, each pass behind a [[graft.truncated]] plan (depth
    * ≤ 2-3 for OSM boundaries; bounded at 8 passes). Every pass's cache is
    * freed before the call returns; the result recomputes from their
    * lineage. */
  def memberClosure(members: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    var acc = members.select(col("rel_id").as("root_rel"),
      col("member_kind").as("kind"), col("member_ref").as("ref"))
    var frontier = acc.filter(col("kind") === "relation")
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val maxPasses = 8
    var i = 0
    while (i < maxPasses && !frontier.isEmpty) {
      val next = truncated(frontier.as("f")
        .join(members.as("m"), col("f.ref") === col("m.rel_id"))
        .select(col("f.root_rel").as("root_rel"),
          col("m.member_kind").as("kind"), col("m.member_ref").as("ref"))
        .exceptAll(acc))
      cached += next
      if (next.isEmpty) i = maxPasses
      else {
        acc = truncated(acc.unionByName(next))
        cached += acc
        frontier = next.filter(col("kind") === "relation")
        i += 1
      }
    }
    cached.foreach(_.unpersist(false))
    acc.distinct()
  }

  /** S3: parallel parse of the per-boundary OSM extracts into one flat
    * element Dataset. At deployment scale this is a partitioned parquet
    * table keyed by boundary; the XML path exists for the reference
    * fixtures and the synthetic generator's round-trip. */
  def readElements(spark: SparkSession, dataDir: String,
                   keys: Seq[String]): Dataset[BoundaryElem] = {
    import spark.implicits._
    val paths = keys.map(k => (k, s"$dataDir/$k.osm"))
    spark.sparkContext
      .parallelize(paths, math.min(math.max(1, paths.size), 64))
      .flatMap { case (k, p) =>
        OsmXml.parseFile(p).map(e => BoundaryElem(k, e.kind, e.id, e.nds, e.tags))
      }
      .toDS()
  }
}
