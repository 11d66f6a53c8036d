package graft.synth

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter

/** Deterministic synthetic world + Common-Crawl-style web-pages generator
  * (FIXTURES.md §3-4). Everything is a pure function of (seed, index):
  *  - a 3-level admin hierarchy (country ⊃ provinces ⊃ cities) with real
  *    rectangular geometry over lon [0,8] × lat [40,48]
  *  - streets and named buildings along them, with exact coordinates
  *  - a pages table (url, warc_ts, html, text, lang) whose text embeds
  *    geoparse-able "geo:lat,lon" markers drawn from the buildings, so every
  *    page has a known-true admin chain / tile / nearest building — the
  *    containment oracle for the spatial layer (north star,
  *    BASELINE.json:6,15). `text` is a pure function of `url`, and `html`
  *    wraps `text`, so byte-identical extraction is assertable by checksum.
  * Pages are generated distributively via spark.range — no driver
  * materialization, so the same generator shape scales to 10^12 rows.
  */
object SynthWorld {

  case class Config(
      seed: Long = 42L,
      gridP: Int = 3, // provinces = gridP²
      gridC: Int = 3, // cities per province = gridC²
      streetsPerCity: Int = 10,
      buildingsPerStreet: Int = 8,
      pages: Long = 10000L)

  val (lonMin, latMin, lonMax, latMax) = (0.0, 40.0, 8.0, 48.0)

  // ── deterministic hashing (splitmix64) ──
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  case class AdminRect(id: Long, level: Int, name: String, parentId: Long,
                       x0: Double, y0: Double, x1: Double, y1: Double) {
    def chain(byId: Map[Long, AdminRect]): String =
      byId.get(parentId).map(_.chain(byId) + ">").getOrElse("") + name
  }

  case class SynthBuilding(id: Long, name: String, street: String,
                           cityId: Long, lat: Double, lon: Double)

  /** The admin rectangles: 1 country + gridP² provinces + cities. */
  def adminRects(cfg: Config): Seq[AdminRect] = {
    val root = AdminRect(1L, 2, "Synthia", 0L, lonMin, latMin, lonMax, latMax)
    val pw = (lonMax - lonMin) / cfg.gridP
    val ph = (latMax - latMin) / cfg.gridP
    val provinces = for (pi <- 0 until cfg.gridP; pj <- 0 until cfg.gridP) yield {
      val pid = 100L + pi.toLong * cfg.gridP + pj
      AdminRect(pid, 6, s"Province-$pi-$pj", 1L,
        lonMin + pi * pw, latMin + pj * ph, lonMin + (pi + 1) * pw, latMin + (pj + 1) * ph)
    }
    val cities = provinces.flatMap { p =>
      val cw = (p.x1 - p.x0) / cfg.gridC
      val ch = (p.y1 - p.y0) / cfg.gridC
      for (ci <- 0 until cfg.gridC; cj <- 0 until cfg.gridC) yield {
        val cid = p.id * 1000L + ci.toLong * cfg.gridC + cj
        AdminRect(cid, 8, s"City-${p.id}-$ci-$cj", p.id,
          p.x0 + ci * cw, p.y0 + cj * ch, p.x0 + (ci + 1) * cw, p.y0 + (cj + 1) * ch)
      }
    }
    Seq(root) ++ provinces ++ cities
  }

  def rectWkb(r: AdminRect): Array[Byte] = {
    val gf = new GeometryFactory()
    val poly = gf.createPolygon(Array(
      new Coordinate(r.x0, r.y0), new Coordinate(r.x1, r.y0),
      new Coordinate(r.x1, r.y1), new Coordinate(r.x0, r.y1),
      new Coordinate(r.x0, r.y0)))
    new WKBWriter().write(poly)
  }

  /** All buildings, driver-side (bounded: cities × streets × buildings —
    * the dimension side of the spatial join; the fact side is pages). */
  def buildings(cfg: Config): Seq[SynthBuilding] = {
    val cities = adminRects(cfg).filter(_.level == 8)
    cities.flatMap { c =>
      (0 until cfg.streetsPerCity).flatMap { si =>
        val street = s"Street-${c.id}-$si"
        // horizontal street at fraction (si+0.5)/n of the city height,
        // inset from the city edges so jittered pages stay inside
        val y = c.y0 + (c.y1 - c.y0) * (si + 0.5) / cfg.streetsPerCity
        (0 until cfg.buildingsPerStreet).map { bi =>
          val x = c.x0 + (c.x1 - c.x0) * (bi + 0.5) / cfg.buildingsPerStreet
          val bid = c.id * 10000L + si.toLong * 100 + bi
          SynthBuilding(bid, s"Building-$bi $street", street, c.id, y, x)
        }
      }
    }
  }

  private val langs = Array("en", "de", "fr", "es", "zh")

  /** Pure text-of-url function — the byte-identical-extraction invariant
    * anchor. Coordinates are formatted at fixed 6 decimals, Locale.ROOT. */
  def pageText(urlIdx: Long, b: SynthBuilding, chain: String): String = {
    val h = mix(urlIdx * 31L + 7L)
    val filler = (0 until 8).map(k => s"w${(mix(h + k) & 0xff)}").mkString(" ")
    val lat = "%.6f".formatLocal(java.util.Locale.ROOT, b.lat)
    val lon = "%.6f".formatLocal(java.util.Locale.ROOT, b.lon)
    s"$filler visiting ${b.name} on ${b.street} in $chain geo:$lat,$lon $filler"
  }

  case class Page(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
                  text: String, lang: String)

  /** Distributed pages table: (url, warc_ts, html, text, lang) — the
    * BASELINE.json:15 input shape. */
  def pages(spark: SparkSession, cfg: Config): Dataset[Page] = {
    import spark.implicits._
    val bs = buildings(cfg)
    val byId = adminRects(cfg).map(r => r.id -> r).toMap
    val chains = bs.map(b => b.id -> byId(b.cityId).chain(byId)).toMap
    val bsB = spark.sparkContext.broadcast((bs.toArray, chains))
    val baseTs = 1704067200000L // 2024-01-01T00:00:00Z
    spark.range(cfg.pages).mapPartitions { it =>
      val (arr, ch) = bsB.value
      it.map { i =>
        val h = mix(cfg.seed ^ (i * 0x5851f42d4c957f2dL))
        val b = arr(((h >>> 16) % arr.length).toInt.abs)
        val text = pageText(i, b, ch(b.id))
        Page(
          url = s"https://synth.example/p/$i",
          warc_ts = new java.sql.Timestamp(baseTs + i * 1000L),
          html = s"<html><head><title>p$i</title></head><body>$text</body></html>"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          text = text,
          lang = langs((mix(h) & 0x7fffffff).toInt % langs.length))
      }
    }
  }

  /** The synthetic world as per-boundary OSM element extracts — the same
    * shape the reference's Overpass query produces per boundary
    * (FIXTURES.md §3): city extracts carry streets (horizontal+vertical
    * highway ways sharing junction nodes), named buildings with
    * addr:street, and border nodes; every element also appears in all
    * ancestor extracts (area queries nest), so the claims dedup has real
    * work; admin relations of all descendants appear in each ancestor.
    * Returns (boundaries, elements) ready for PlacePipeline.build. */
  def boundaryExtracts(spark: SparkSession, cfg: Config)
  : (Seq[graft.hier.Boundary], org.apache.spark.sql.Dataset[graft.hier.BoundaryElem]) = {
    import spark.implicits._
    import graft.hier.{Boundary, BoundaryElem}
    val rects = adminRects(cfg)
    val byId = rects.map(r => r.id -> r).toMap
    def key(r: AdminRect) = graft.hier.Hierarchy.bkey(r.level, r.id, r.name)
    val bounds = rects.map { r =>
      Boundary(key(r), r.level, r.id, r.name,
        if (r.parentId == 0) "0-0-root" else key(byId(r.parentId)))
    }
    def ancestorsOf(r: AdminRect): Seq[String] = {
      var cur = r
      val out = scala.collection.mutable.ArrayBuffer(key(cur))
      while (cur.parentId != 0) { cur = byId(cur.parentId); out += key(cur) }
      out.toSeq
    }
    // admin relations: each extract lists every strictly-deeper admin
    // relation in its area
    val adminElems = rects.flatMap { anc =>
      rects.filter(d => d.level > anc.level && ancestorsOf(d).contains(key(anc)))
        .map(d => BoundaryElem(key(anc), "relation", d.id, Nil,
          Map("admin_level" -> d.level.toString, "name" -> d.name,
              "boundary" -> "administrative")))
    }
    val cities = rects.filter(_.level == 8)
    val s = cfg.streetsPerCity
    // junction node ids: node(city, h, v) shared by h-street and v-street
    def nodeId(cityId: Long, h: Int, v: Int): Long = cityId * 100000L + h.toLong * 300 + v
    val cityElems = cities.iterator.flatMap { c =>
      val anc = ancestorsOf(c)
      val hWays = (0 until s).map { h =>
        BoundaryElem("", "way", c.id * 1000L + h, (0 until s).map(v => nodeId(c.id, h, v)),
          Map("highway" -> "residential", "name" -> s"H$h Street ${c.id}"))
      }
      val vWays = (0 until s).map { v =>
        BoundaryElem("", "way", c.id * 1000L + 500 + v, (0 until s).map(h => nodeId(c.id, h, v)),
          Map("highway" -> "residential", "name" -> s"V$v Street ${c.id}"))
      }
      val bldgs = for (h <- 0 until s; b <- 0 until cfg.buildingsPerStreet) yield
        BoundaryElem("", "way", c.id * 1000000L + h.toLong * 1000 + b, Nil,
          Map("building" -> "yes", "name" -> s"B$b H$h ${c.id}",
              "addr:street" -> s"H$h Street ${c.id}"))
      // border nodes: first h-street's first node is an outer name of the city
      val border = Seq(BoundaryElem("", "node", nodeId(c.id, 0, 0), Nil, Map.empty[String, String]))
      (hWays ++ vWays ++ bldgs ++ border).flatMap(e => anc.map(k => e.copy(bkey = k)))
    }.toSeq
    // RDD-backed, NOT createDataset(seq): a LocalRelation embeds all ~10⁵
    // rows in the logical plan, and every cache lookup / plan canonical-
    // ization downstream re-compares that data per query — measured ~7 s of
    // driver planning per hierarchy build at the bench size. An RDD root
    // has identity-based plan equality (same rows, same distribution).
    val all = adminElems ++ cityElems
    (bounds, spark.createDataset(spark.sparkContext.parallelize(all)))
  }

  /** A disjoint translated copy of a world's extracts — the planet-shard
    * fixture (SURVEY.md §1.1's multi-region partition column): same
    * structure, every element/boundary id offset and every boundary name
    * suffixed, so two (or more) shards build in ONE
    * [[graft.hier.PlacePipeline.build]] job as independent root subtrees of
    * the same forest. `off` must clear the largest base id (city-derived
    * way ids reach ~1.1e11 at the default grids). */
  def shiftWorld(spark: SparkSession,
                 bounds: Seq[graft.hier.Boundary],
                 elems: org.apache.spark.sql.Dataset[graft.hier.BoundaryElem],
                 off: Long, suffix: String)
      : (Seq[graft.hier.Boundary], org.apache.spark.sql.Dataset[graft.hier.BoundaryElem]) = {
    import spark.implicits._
    import graft.hier.{Boundary, Hierarchy}
    val keyMap = bounds.map(b =>
      b.bkey -> Hierarchy.bkey(b.level, b.relId + off, b.name + suffix)).toMap
    val b2 = bounds.map(b => Boundary(keyMap(b.bkey), b.level, b.relId + off,
      b.name + suffix, keyMap.getOrElse(b.parentKey, b.parentKey)))
    val keyMapB = spark.sparkContext.broadcast(keyMap)
    val e2 = elems.map { el =>
      el.copy(
        bkey = keyMapB.value(el.bkey),
        id = el.id + off,
        nds = el.nds.map(_ + off),
        // admin relation rows name the boundary — keep them in sync with
        // the shifted Boundary names; place names need no remap (elements
        // key on (bkey, kind+id), both already shifted)
        tags = if (el.tags.contains("admin_level"))
          el.tags.updated("name", el.tags.getOrElse("name", "") + suffix)
        else el.tags)
    }
    (b2, e2)
  }

  /** Expected admin chain per url — the containment oracle for tests. */
  def expectedChains(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    val bs = buildings(cfg)
    val byId = adminRects(cfg).map(r => r.id -> r).toMap
    val chains = bs.map(b => b.id -> byId(b.cityId).chain(byId)).toMap
    val bsB = spark.sparkContext.broadcast((bs.toArray, chains))
    spark.range(cfg.pages).mapPartitions { it =>
      val (arr, ch) = bsB.value
      it.map { i =>
        val h = mix(cfg.seed ^ (i * 0x5851f42d4c957f2dL))
        val b = arr(((h >>> 16) % arr.length).toInt.abs)
        (s"https://synth.example/p/$i", ch(b.id), b.id, b.name, b.lat, b.lon)
      }
    }.toDF("url", "expected_chain", "expected_building_id", "expected_building", "exp_lat", "exp_lon")
  }
}
