package graft.bigraph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.hier.PlaceTables
import graft.react.{BigraphState, World}

/** Assembly of PlaceTables into the numbered bigraph form: canonical
  * deterministic node ids (rank over uid — SURVEY.md §2.8/§7.5; OCaml fold
  * order is not replayed, goldens are compared canonically), parent
  * pointers, junction hyperedge membership. Also the S5 golden-format JSON
  * sink and the S6 loader into a reaction-ready [[BigraphState]]. */
object Assembly {

  /** The cached [[World]] of the tables — places (id, ctrl, name, parent,
    * parent_ctrl), junction edge membership (edge_key, place_id) and the
    * street links — with an empty agent delta. Region parent = -1. */
  def toState(spark: SparkSession, t: PlaceTables): BigraphState = {
    // uid scheme keys entities by construction (never by display chain)
    val bo = t.boundaries.select(
      concat(lit("B|"), col("bkey")).as("uid"),
      lit("Boundary").as("ctrl"), col("name"),
      when(col("parent_bkey") === "0-0-root", lit(null))
        .otherwise(concat(lit("B|"), col("parent_bkey"))).as("parent_uid"),
      lit(null).cast("string").as("edge_key"))
    val st = t.streets.select(
      concat(lit("S|"), col("bkey"), lit("|"), col("street")).as("uid"),
      lit("Street").as("ctrl"), col("street").as("name"),
      concat(lit("B|"), col("bkey")).as("parent_uid"),
      lit(null).cast("string").as("edge_key"))
    val bu = t.buildings.select(
      concat(lit("U|"), col("bkey"), lit("|"), coalesce(col("street"), lit("")),
        lit("|"), col("bname")).as("uid"),
      lit("Building").as("ctrl"), col("bname").as("name"),
      when(col("street").isNotNull,
        concat(lit("S|"), col("bkey"), lit("|"), col("street")))
        .otherwise(concat(lit("B|"), col("bkey"))).as("parent_uid"),
      lit(null).cast("string").as("edge_key"))
    // junction atoms carry their closure from the build — the hyperedge key
    // is the atom's own construction key (display chains can repeat, so a
    // re-join via (nd, street_chain) would duplicate atoms)
    val ju = t.junctionAtoms
      .select(
        concat(lit("J|"), col("bkey"), lit("|"), col("street"), lit("|"), col("nd")).as("uid"),
        lit("Junction").as("ctrl"),
        concat(lit("node "), col("nd")).as("name"),
        concat(lit("S|"), col("bkey"), lit("|"), col("street")).as("parent_uid"),
        concat(col("nd"), lit("@"), col("closure")).as("edge_key"))

    val all = numberByUid(spark, bo.unionByName(st).unionByName(bu).unionByName(ju))
      .cache()
    val withParent = all.as("c")
      .join(all.select(col("uid").as("p_uid"), col("id").as("p_id"), col("ctrl").as("p_ctrl")).as("p"),
        col("c.parent_uid") === col("p.p_uid"), "left")
      .select(col("c.id").as("id"), col("c.ctrl").as("ctrl"), col("c.name").as("name"),
        coalesce(col("p_id"), lit(-1L)).as("parent"), col("p_ctrl").as("parent_ctrl"),
        col("c.edge_key").as("edge_key"))
      .cache()
    val ports = withParent.filter(col("edge_key").isNotNull)
    val world = World(withParent.drop("edge_key"),
      ports.select(col("edge_key"), col("id").as("place_id")),
      World.streetLinks(ports.select(col("edge_key"), col("parent").as("street"),
        col("parent_ctrl"))).cache())
    // one action fills both caches — the numbered places with their parent
    // ctrl (the move index, built once here and read by every reaction) and
    // the street links — then the numbering intermediate is freed
    world.streetLinks.count()
    all.unpersist(false)
    BigraphState(world, Vector.empty, Vector.empty)
  }

  /** Canonical dense numbering by uid WITHOUT a global single-partition
    * window: range-repartition on uid (globally ordered partitions), sort
    * within each, then zipWithIndex — numbering stays distributed at any
    * node count (SURVEY.md §7.5; the one sanctioned RDD use: per-partition
    * index assignment). */
  private def numberByUid(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val sorted = df.repartitionByRange(col("uid")).sortWithinPartitions("uid")
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ StructField("id", LongType, nullable = false))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** S5: serialize to the reference's bigraph JSON schema
    * (output/<key>.json shape — place_graph sparse matrices, link_graph,
    * nodes; botw.ml:34-43). Node numbering is canonical (sorted uid), not
    * OCaml fold order; structural canon round-trips exactly.
    * `idParameter` mirrors the reference's -id-parameter flag
    * (builder.ml:86-101): entity names go in ctrl_params (arity 0), no ID
    * atoms and no ID links are emitted. */
  def writeJson(spark: SparkSession, t: PlaceTables, path: String,
                idParameter: Boolean = false): Unit = {
    val state = toState(spark, t)
    val places = state.places.collect().sortBy(_.getLong(0))
    val edgeRows = state.junctionEdges.collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    val n = places.length
    // ID atoms appended after entity nodes: one per named entity
    // (none in id-parameter mode)
    val entityIds =
      if (idParameter) Array.empty[Long]
      else places.filter(r => r.getString(1) != "Junction").map(_.getLong(0))
    val idAtomOf = entityIds.zipWithIndex.map { case (e, i) => e -> (n + i) }.toMap
    val total = n + entityIds.length

    val sb = new StringBuilder
    sb.append("{\"place_graph\":{")
    sb.append(s""""num_regions":2,"num_nodes":$total,"num_sites":0,""")
    def matrix(name: String, r: Int, c: Int, rows: Seq[(Int, Seq[Long])]): Unit = {
      val present = rows.filter(_._2.nonEmpty)
      sb.append(s""""$name":{"r":$r,"c":$c,"r_major":[""")
      sb.append(present.map { case (i, cs) => s"[$i,[${cs.sorted.mkString(",")}]]" }.mkString(","))
      sb.append("],\"c_major\":[")
      val cmaj = present.flatMap { case (i, cs) => cs.map(cc => (cc, i.toLong)) }
        .groupBy(_._1).toSeq.sortBy(_._1)
      sb.append(cmaj.map { case (cc, is) => s"[$cc,[${is.map(_._2).sorted.mkString(",")}]]" }.mkString(","))
      sb.append("]},")
    }
    val roots = places.filter(_.getLong(3) == -1L).map(_.getLong(0))
    matrix("rn", 2, total, Seq(
      0 -> idAtomOf.values.map(_.toLong).toSeq, 1 -> roots.toSeq))
    sb.append("\"rs\":{\"r\":2,\"c\":0,\"r_major\":[],\"c_major\":[]},")
    val childMap = places.filter(_.getLong(3) >= 0)
      .groupBy(_.getLong(3)).map { case (p, cs) => p.toInt -> cs.map(_.getLong(0)).toSeq }
    matrix("nn", total, total, childMap.toSeq.sortBy(_._1))
    sb.append(s""""ns":{"r":$total,"c":0,"r_major":[],"c_major":[]},"trans":null},""")

    // link graph: one closed 2-port edge per entity↔ID atom, one hyperedge
    // per junction edge_key (open ⇔ key ends @OPEN, outer name = node id)
    sb.append("\"link_graph\":[")
    val idLinks = entityIds.map(e => s"""{"inner":[],"outer":[],"ports":[[$e,1],[${idAtomOf(e)},1]]}""")
    val jLinks = edgeRows.toSeq.sortBy(_._1).map { case (key, ports) =>
      val outer =
        if (key.endsWith("@OPEN")) s"""[["Name","node ${key.takeWhile(_ != '@')}"]]"""
        else "[]"
      val ps = ports.map(_._2).sorted.map(p => s"[$p,1]").mkString(",")
      s"""{"inner":[],"outer":$outer,"ports":[$ps]}"""
    }
    sb.append((idLinks ++ jLinks).mkString(","))
    sb.append("],")

    // nodes
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    sb.append("\"nodes\":{\"ctrl\":[")
    val ctrlEntries =
      places.map { r =>
        val (id, c) = (r.getLong(0), r.getString(1))
        if (idParameter && c != "Junction") {
          val name = r.getString(2)
          s"""[$id,{"ctrl_name":"${esc(c)}","ctrl_params":[{"ctrl_string":"${esc(name)}"}],"ctrl_arity":0}]"""
        } else
          s"""[$id,{"ctrl_name":"${esc(c)}","ctrl_params":[],"ctrl_arity":1}]"""
      } ++ entityIds.map { e =>
        val name = places(e.toInt).getString(2)
        s"""[${idAtomOf(e)},{"ctrl_name":"ID","ctrl_params":[{"ctrl_string":"${esc(name)}"}],"ctrl_arity":1}]"""
      }
    sb.append(ctrlEntries.mkString(","))
    sb.append("],\"sort\":[")
    val sorts = (places.map(r => (r.getString(1), r.getLong(0))) ++
      entityIds.map(e => ("ID", idAtomOf(e).toLong)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, xs) => s"""["${esc(c)}",[${xs.map(_._2).sorted.mkString(",")}]]""" }
    sb.append(sorts.mkString(","))
    sb.append(s"],\"size\":$total}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** S7 dot sink (bin/botw.ml:44-57): render the place forest as Graphviz
    * dot — nesting edges solid, junction hyperedges dashed. */
  def toDot(state: BigraphState, maxNodes: Int = 5000): String = {
    val places = state.places.orderBy(col("id")).limit(maxNodes).collect()
    val ids = places.map(_.getLong(0)).toSet
    val sb = new StringBuilder("digraph bigraph {\n  rankdir=TB;\n")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    for (r <- places) {
      val shape = r.getString(1) match {
        case "Boundary" => "box"; case "Street" => "ellipse"
        case "Building" => "house"; case "Junction" => "point"; case _ => "diamond"
      }
      sb.append(s"""  n${r.getLong(0)} [label="${esc(r.getString(1))}:${esc(r.getString(2))}" shape=$shape];\n""")
    }
    for (r <- places if r.getLong(3) >= 0 && ids.contains(r.getLong(3)))
      sb.append(s"  n${r.getLong(3)} -> n${r.getLong(0)};\n")
    val edges = state.junctionEdges.collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    for ((_, ports) <- edges if ports.length > 1) {
      val ps = ports.map(_._2).filter(ids.contains).sorted
      for (Array(a, b) <- ps.sliding(2) if ps.length > 1)
        sb.append(s"  n$a -> n$b [style=dashed dir=none];\n")
    }
    sb.append("}\n")
    sb.toString
  }

  /** S6: load a bigraph JSON (golden or our own) into a reaction-ready
    * state (bin/botw.ml:18-27 load path). */
  def loadJson(spark: SparkSession, path: String): BigraphState = {
    val (ctrl, parentOf, edges, idLinkName) = BigraphJson.decode(path)
    import spark.implicits._
    val placeRows = ctrl.toSeq.collect {
      case (id, (c, param)) if c != "ID" =>
        (id.toLong, c, idLinkName.getOrElse(id, param.getOrElse(s"node?$id")),
          parentOf.get(id).map(_.toLong).getOrElse(-1L))
    }
    val jEdges = edges.zipWithIndex.flatMap { case (e, i) =>
      val jports = e.ports.filter(p => ctrl(p)._1 == "Junction")
      if (jports.isEmpty) Nil
      else jports.map(p => (e.outer.getOrElse(s"closed-$i"), p.toLong))
    }
    BigraphState(
      placeRows.toDF("id", "ctrl", "name", "parent"),
      jEdges.toDF("edge_key", "place_id"),
      Seq.empty[(Long, Long)].toDF("agent_a", "agent_b"))
  }
}
