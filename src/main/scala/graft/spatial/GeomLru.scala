package graft.spatial

import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.WKBReader

/** Bounded per-task LRU of prepared geometries read from WKB, keyed by
  * (cell, id) — the refine cache of the fact×fact spatial joins over
  * [[DistributedPip.coverClips]] (the clipped bytes differ per cell). Each
  * task sees few distinct (cell, id) pairs because the join co-locates by
  * cell; the cap of 512 bounds executor memory when an AQE skew split still
  * co-locates many entries (entries are cheap to rebuild on a miss). The
  * map is a @transient lazy access-ordered LinkedHashMap, rebuilt per task
  * deserialization — tasks are single-threaded, so no synchronization. */
private[spatial] final class GeomLru extends Serializable {
  @transient private lazy val m =
    new java.util.LinkedHashMap[(Long, Long), PreparedGeometry](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Long), PreparedGeometry]): Boolean = size() > 512
    }
  def get(key: (Long, Long), wkb: Array[Byte]): PreparedGeometry = {
    var v = m.get(key)
    if (v == null) {
      v = PreparedGeometryFactory.prepare(new WKBReader().read(wkb))
      m.put(key, v)
    }
    v
  }
}
