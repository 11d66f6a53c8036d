package graft.bigraph

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.functions._
import graft.hier.{PlaceStats, PlaceTables}

/** Canonicalized bigraph structure — traversal-order-free identity used for
  * golden parity (SURVEY.md §5.2(1), §7.4: node numbering in the reference
  * JSONs encodes OCaml fold order, so we compare name-chain multisets, not
  * matrices). Chains are root-first display names joined by '>'.
  */
case class BigraphCanon(
    boundaryChains: Map[String, Int],
    streetChains: Map[String, Int],
    buildingChains: Map[String, Int],
    junctionsByStreet: Map[String, Int],
    edges: Map[(String, String), Int], // (sorted junction-port street chains "|", outer name or "")
    nNodes: Long, nEdges: Long, nOpen: Long)

/** Reader for the reference's serialized bigraph JSON
  * (`output/<key>.json`; schema observed at output/10-2604777-Dover.json —
  * S6 in SURVEY.md §2.1). */
object BigraphJson {

  private def multiset(xs: Seq[String]): Map[String, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** One link of the serialized link graph: its outer name, if any, and the
    * node ids of its ports. */
  private[bigraph] case class Link(outer: Option[String], ports: List[Int])

  /** Decodes the reference's serialized bigraph at `path` into node id →
    * (ctrl name, `ctrl_string` param), child → parent, the links, and each
    * entity's display name from the ID atom sharing its link. The one
    * decoder behind [[readGolden]] and [[Assembly.loadJson]]. */
  private[bigraph] def decode(path: String)
      : (Map[Int, (String, Option[String])], Map[Int, Int], List[Link], Map[Int, String]) = {
    val json = JsonMethods.parse(new java.io.File(path))

    // nodes.ctrl: [[id, {ctrl_name, ctrl_params:[{ctrl_string}], ctrl_arity}]]
    val ctrl: Map[Int, (String, Option[String])] =
      (json \ "nodes" \ "ctrl").asInstanceOf[JArray].arr.map {
        case JArray(JInt(id) :: obj :: Nil) =>
          val name = (obj \ "ctrl_name").asInstanceOf[JString].s
          val param = (obj \ "ctrl_params") match {
            case JArray(JObject(fields) :: _) =>
              fields.collectFirst { case ("ctrl_string", JString(s)) => s }
            case _ => None
          }
          id.toInt -> (name, param)
        case other => throw new IllegalStateException(s"bad ctrl entry: $other")
      }.toMap

    // nn.r_major: [[parent, [children...]]]
    val parentOf: Map[Int, Int] =
      (json \ "place_graph" \ "nn" \ "r_major").asInstanceOf[JArray].arr.flatMap {
        case JArray(JInt(p) :: JArray(cs) :: Nil) =>
          cs.map { case JInt(c) => c.toInt -> p.toInt; case o => throw new IllegalStateException(o.toString) }
        case other => throw new IllegalStateException(s"bad nn entry: $other")
      }.toMap

    // link_graph: [{inner, outer:[["Name", s]], ports:[[node, arity]]}]
    val edges = (json \ "link_graph").asInstanceOf[JArray].arr.map { e =>
      val outer = (e \ "outer") match {
        case JArray(JArray(_ :: JString(n) :: Nil) :: _) => Some(n)
        case _ => None
      }
      val ports = (e \ "ports").asInstanceOf[JArray].arr.map {
        case JArray(JInt(n) :: _) => n.toInt
        case o => throw new IllegalStateException(o.toString)
      }
      Link(outer, ports)
    }

    // entity display name = param of the ID atom sharing its link
    val idLinkName: Map[Int, String] = edges.flatMap { e =>
      e.ports.partition(p => ctrl(p)._1 == "ID") match {
        case (List(idp), List(ent)) => ctrl(idp)._2.map(ent -> _)
        case _ => None
      }
    }.toMap
    (ctrl, parentOf, edges, idLinkName)
  }

  def readGolden(path: String): BigraphCanon = {
    val (ctrl, parentOf, edges, idLinkName) = decode(path)

    def nameOf(n: Int): String = {
      val (c, param) = ctrl(n)
      idLinkName.getOrElse(n, param.getOrElse(s"?$c:$n"))
    }
    val chainCache = scala.collection.mutable.HashMap.empty[Int, String]
    def chain(n: Int): String = chainCache.getOrElseUpdate(n, parentOf.get(n) match {
      case Some(p) => chain(p) + ">" + nameOf(n)
      case None => nameOf(n)
    })

    def byCtrl(c: String): Seq[Int] = ctrl.collect { case (n, (`c`, _)) => n }.toSeq

    val junctionEdges = edges.filter(e => e.ports.forall(p => ctrl(p)._1 == "Junction"))
    val canonEdges = junctionEdges
      .map(e => (e.ports.map(p => chain(parentOf(p))).sorted.mkString("|"), e.outer.getOrElse("")))
    BigraphCanon(
      boundaryChains = multiset(byCtrl("Boundary").map(chain)),
      streetChains = multiset(byCtrl("Street").map(chain)),
      buildingChains = multiset(byCtrl("Building").map(chain)),
      junctionsByStreet = multiset(byCtrl("Junction").map(j => chain(parentOf(j)))),
      edges = canonEdges.groupBy(identity).map { case (k, v) => k -> v.size },
      nNodes = ctrl.size.toLong,
      nEdges = edges.size.toLong,
      nOpen = edges.count(_.outer.isDefined).toLong)
  }

  /** Same canonical form computed from our PlaceTables. */
  def canonOf(t: PlaceTables): BigraphCanon = {
    val b = multiset(t.boundaries.select("chain").collect().map(_.getString(0)).toSeq)
    val s = multiset(t.streets.select("street_chain").collect().map(_.getString(0)).toSeq)
    val bu = multiset(t.buildings.select("bchain").collect().map(_.getString(0)).toSeq)
    val j = multiset(t.junctionAtoms.select("street_chain").collect().map(_.getString(0)).toSeq)
    val e = t.junctionEdges
      .select(array_join(col("port_chains"), "|").as("pc"), coalesce(col("outer_name"), lit("")).as("o"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val st = PlaceStats.fromCounts(b.values.sum, s.values.sum, bu.values.sum, j.values.sum,
      nHyperedges = e.values.sum, nOpen = e.collect { case ((_, o), n) if o.nonEmpty => n }.sum,
      idParameter = false)
    BigraphCanon(b, s, bu, j, e, st.nNodes, st.nEdges, st.nOpenNames)
  }

  /** Pretty diff for test failure messages. */
  def diff[K](name: String, got: Map[K, Int], want: Map[K, Int]): Seq[String] = {
    val keys = (got.keySet ++ want.keySet).toSeq
    keys.flatMap { k =>
      val (g, w) = (got.getOrElse(k, 0), want.getOrElse(k, 0))
      if (g != w) Some(s"$name[$k]: got=$g want=$w") else None
    }
  }
}
