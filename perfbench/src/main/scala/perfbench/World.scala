package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{OsmEntity, OsmKind, OsmMember, OsmTag}

/** Seeded hash RNG: every generated value is a pure function of
  * (seed, stream, index), so inputs are identical at any parallelism. */
object Rng {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def h(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 1000003L + stream) ^ i)
  def below(seed: Long, stream: Long, i: Long, n: Long): Long = Math.floorMod(h(seed, stream, i), n)
  /** uniform in [-1, 1) */
  def sym(seed: Long, stream: Long, i: Long): Double =
    (h(seed, stream, i) >>> 11).toDouble / (1L << 52).toDouble - 1.0
}

/** Shape of one generated OSM world.
  *
  * The admin part is a jittered grid of level-8 cells (`gx` x `gy`, each
  * `cell7` 1e-7 degrees wide) nested into level 6 (2x2 cells), 4 (4x4)
  * and 2 (12x12), so `gx` and `gy` must be multiples of 12. Every grid
  * edge is one boundary way (or two when split) shared by the areas on
  * both sides, as in real OSM. `holes` enclaves (inner rings that are
  * areas of their own), `islands` extra outer rings, and `broken`
  * relations with a missing member way (incomplete areas) exercise the
  * stitcher. Only levels in `centreLevels` get an admin_centre node.
  *
  * The bulk part is `bulkNodes`/`bulkWays`/`bulkRels` tagged entities
  * inside the grid extent, about 20% with several versions and some of
  * those deleted (visible=false) at their latest version. */
final case class WorldSpec(
    gx: Int, gy: Int, cell7: Long, seg: Int, splitEvery: Int,
    holes: Int, islands: Int, broken: Int, centreLevels: Set[Int],
    bulkNodes: Long, bulkWays: Long, bulkRels: Long) {
  require(gx % 12 == 0 && gy % 12 == 0, "grid dims must be multiples of 12")
  val lon0: Long = 50000000L // 5 degrees E
  val lat0: Long = 450000000L // 45 degrees N
  def lonHi: Long = lon0 + gx * cell7
  def latHi: Long = lat0 + gy * cell7
}

/** Ground truth of one admin area as the generator drew it: rings as
  * flat (lon7, lat7) vertex arrays, the centre as (lat7, lon7). */
final case class TruthArea(rel: Long, level: Int, name: String,
    rings: Vector[Array[Long]], centre: Option[(Long, Long)], complete: Boolean)

/** The generated admin part (driver-side: thousands of entities) plus
  * what the oracles need to know about it. */
final class AdminWorld(val spec: WorldSpec, val seed: Long,
    val entities: Vector[OsmEntity], val areas: Vector[TruthArea],
    val edgeWays: Vector[EdgeWay], val nodeById: Map[Long, OsmEntity],
    val wayById: Map[Long, OsmEntity], val relById: Map[Long, OsmEntity],
    val nextNodeId: Long, val nextRelId: Long)

/** One boundary way: its id, its interior (non-endpoint) node ids, the
  * relations that use it. */
final case class EdgeWay(wayId: Long, interior: Vector[Long], rels: Vector[Long])

object World extends Serializable {
  val AdminNodeBase = 9000000000L
  val AdminWayBase = 900000000L
  val AdminRelBase = 90000000L
  private val T0 = 1500000000000L // tsMillis base (whole seconds: PBF date granularity)
  private val Day = 86400000L

  def user(uid: Int): String = s"mapper$uid"

  private def adminTags(level: Int, name: String): Vector[OsmTag] = Vector(
    OsmTag("type", "boundary"), OsmTag("boundary", "administrative"),
    OsmTag("admin_level", level.toString), OsmTag("name", name))

  /** Build the admin part of the world for `spec` and `seed`. */
  def admin(spec: WorldSpec, seed: Long): AdminWorld = {
    val c = spec.cell7
    val ents = Vector.newBuilder[OsmEntity]
    var nextNode = AdminNodeBase
    var nextWay = AdminWayBase
    var nextRel = AdminRelBase
    def meta(id: Long, stream: Long): (Long, Long, Int) = {
      val uid = Rng.below(seed, stream, id, 500).toInt
      (T0 + Rng.below(seed, stream + 1, id, 1000L) * Day + Rng.below(seed, stream + 2, id, 86400L) * 1000L,
        1L + Rng.below(seed, stream + 3, id, 20000L), uid)
    }
    def node(lat7: Long, lon7: Long): Long = {
      val id = nextNode; nextNode += 1
      val (ts, cs, uid) = meta(id, 10)
      // a tenth of boundary nodes carry an older version at another spot
      if (Rng.below(seed, 11, id, 10) == 0)
        ents += OsmEntity(OsmKind.Node, id, 1, true, Some(lat7 + 3000L), Some(lon7 - 2000L),
          ts - Day, cs, uid, user(uid), Nil, Nil, Nil)
      val v = if (Rng.below(seed, 11, id, 10) == 0) 2 else 1
      ents += OsmEntity(OsmKind.Node, id, v, true, Some(lat7), Some(lon7), ts, cs, uid,
        user(uid), Nil, Nil, Nil)
      id
    }
    def way(refs: Vector[Long], tags: Vector[OsmTag]): Long = {
      val id = nextWay; nextWay += 1
      val (ts, cs, uid) = meta(id, 20)
      ents += OsmEntity(OsmKind.Way, id, 1, true, None, None, ts, cs, uid, user(uid),
        tags, refs, Nil)
      id
    }

    // jittered grid vertices
    val vx = Array.ofDim[Long](spec.gx + 1, spec.gy + 1)
    val vy = Array.ofDim[Long](spec.gx + 1, spec.gy + 1)
    val vid = Array.ofDim[Long](spec.gx + 1, spec.gy + 1)
    for (i <- 0 to spec.gx; j <- 0 to spec.gy) {
      val k = i.toLong * 100003L + j
      vx(i)(j) = spec.lon0 + i * c + (Rng.sym(seed, 1, k) * c / 6).toLong
      vy(i)(j) = spec.lat0 + j * c + (Rng.sym(seed, 2, k) * c / 6).toLong
      vid(i)(j) = node(vy(i)(j), vx(i)(j))
    }

    // one edge: vertex chain from grid vertex a to b with `seg` wiggly
    // interior points (displacement vanishes at the ends, so edges
    // meeting at a vertex never cross)
    final case class Edge(ids: Vector[Long], xs: Vector[Long], ys: Vector[Long], ways: Vector[Long])
    val bwTags = Vector(OsmTag("boundary", "administrative"))
    def mkEdge(key: Long, ax: Long, ay: Long, aid: Long, bx: Long, by: Long, bid: Long,
        seg: Int): Edge = {
      val dx = (bx - ax).toDouble; val dy = (by - ay).toDouble
      val len = math.sqrt(dx * dx + dy * dy)
      val ids = Vector.newBuilder[Long] += aid
      val xs = Vector.newBuilder[Long] += ax
      val ys = Vector.newBuilder[Long] += ay
      for (s <- 1 to seg) {
        val t = s.toDouble / (seg + 1)
        val d = math.sin(math.Pi * t) * Rng.sym(seed, 3, key * 1009L + s) * c / 25
        val x = ax + (dx * t - dy / len * d).round
        val y = ay + (dy * t + dx / len * d).round
        ids += node(y, x); xs += x; ys += y
      }
      ids += bid; xs += bx; ys += by
      val idv = ids.result()
      val split = spec.splitEvery > 0 && seg >= 2 && key % spec.splitEvery == 0
      val parts = if (split) Vector(idv.take(seg / 2 + 2), idv.drop(seg / 2 + 1)) else Vector(idv)
      val wids = parts.zipWithIndex.map { case (p, pi) =>
        // direction is arbitrary: a third of boundary ways run backwards
        val refs = if (Rng.below(seed, 4, key * 2 + pi, 3) == 0) p.reverse else p
        way(refs, bwTags)
      }
      Edge(idv, xs.result(), ys.result(), wids)
    }
    val hEdge = Array.ofDim[Edge](spec.gx, spec.gy + 1) // (i,j) -> (i+1,j)
    val vEdge = Array.ofDim[Edge](spec.gx + 1, spec.gy) // (i,j) -> (i,j+1)
    var ek = 0L
    for (i <- 0 until spec.gx; j <- 0 to spec.gy) {
      ek += 1
      hEdge(i)(j) = mkEdge(ek, vx(i)(j), vy(i)(j), vid(i)(j), vx(i + 1)(j), vy(i + 1)(j),
        vid(i + 1)(j), spec.seg)
    }
    for (i <- 0 to spec.gx; j <- 0 until spec.gy) {
      ek += 1
      vEdge(i)(j) = mkEdge(ek, vx(i)(j), vy(i)(j), vid(i)(j), vx(i)(j + 1), vy(i)(j + 1),
        vid(i)(j + 1), spec.seg)
    }

    val truth = Vector.newBuilder[TruthArea]
    val usedBy = scala.collection.mutable.HashMap.empty[Long, Vector[Long]]
    def relation(level: Int, name: String, outer: Seq[Long], inner: Seq[Long],
        centre: Option[(Long, Long)]): (Long, Option[(Long, Long)]) = {
      val id = nextRel; nextRel += 1
      val (ts, cs, uid) = meta(id, 30)
      val cNode = centre.map { case (la, lo) => node(la, lo) }
      val ms = outer.map(w => OsmMember(OsmKind.Way, w, "outer")) ++
        inner.map(w => OsmMember(OsmKind.Way, w, "inner")) ++
        cNode.map(n => OsmMember(OsmKind.Node, n, "admin_centre"))
      // members carry no meaningful order: shuffle them
      val shuffled = ms.zipWithIndex.sortBy { case (_, k) => Rng.h(seed, 31, id * 4099L + k) }.map(_._1)
      (outer ++ inner).foreach(w => usedBy(w) = usedBy.getOrElse(w, Vector.empty) :+ id)
      ents += OsmEntity(OsmKind.Relation, id, 1, true, None, None, ts, cs, uid, user(uid),
        adminTags(level, name), Nil, shuffled.toVector)
      (id, centre)
    }
    def centreOf(level: Int, cx: Long, cy: Long, k: Long): Option[(Long, Long)] =
      if (!spec.centreLevels(level)) None
      else Some((cy + (Rng.sym(seed, 5, k) * c / 20).toLong,
        cx + (Rng.sym(seed, 6, k) * c / 20).toLong))

    // perimeter of the block [i0, i0+w) x [j0, j0+w): member ways + ring
    def perimeter(i0: Int, j0: Int, w: Int): (Vector[Long], Array[Long]) = {
      val ways = Vector.newBuilder[Long]
      val ring = Array.newBuilder[Long]
      def walk(e: Edge, forward: Boolean): Unit = {
        ways ++= e.ways
        val idx = if (forward) e.xs.indices.dropRight(1) else e.xs.indices.reverse.dropRight(1)
        idx.foreach { k => ring += e.xs(k); ring += e.ys(k) }
      }
      for (i <- i0 until i0 + w) walk(hEdge(i)(j0), forward = true)
      for (j <- j0 until j0 + w) walk(vEdge(i0 + w)(j), forward = true)
      for (i <- (i0 until i0 + w).reverse) walk(hEdge(i)(j0 + w), forward = false)
      for (j <- (j0 until j0 + w).reverse) walk(vEdge(i0)(j), forward = false)
      (ways.result(), ring.result())
    }

    // enclaves and islands attach to hash-chosen level-8 cells
    val cells = for (i <- 0 until spec.gx; j <- 0 until spec.gy) yield (i, j)
    val holeCells = cells.sortBy { case (i, j) => Rng.h(seed, 7, i * 100003L + j) }
      .take(spec.holes).toSet
    val islandRows = (0 until spec.gy).sortBy(j => Rng.h(seed, 8, j)).take(spec.islands).toSet
    def closedRing(key: Long, x0: Long, y0: Long, x1: Long, y1: Long): (Vector[Long], Array[Long]) = {
      // a closed ring around a small box, four edges built like the grid's
      val a = node(y0, x0); val b = node(y0, x1); val cc = node(y1, x1); val d = node(y1, x0)
      val e1 = mkEdge(key, x0, y0, a, x1, y0, b, math.max(1, spec.seg / 4))
      val e2 = mkEdge(key + 1, x1, y0, b, x1, y1, cc, math.max(1, spec.seg / 4))
      val e3 = mkEdge(key + 2, x1, y1, cc, x0, y1, d, math.max(1, spec.seg / 4))
      val e4 = mkEdge(key + 3, x0, y1, d, x0, y0, a, math.max(1, spec.seg / 4))
      val es = Vector(e1, e2, e3, e4)
      val ring = es.flatMap(e => e.xs.indices.dropRight(1).flatMap(k => Seq(e.xs(k), e.ys(k)))).toArray
      (es.flatMap(_.ways), ring)
    }

    for ((i, j) <- cells) {
      val (outerWays, ring) = perimeter(i, j, 1)
      val bx = spec.lon0 + i * c; val by = spec.lat0 + j * c
      var inner = Vector.empty[Long]
      var rings = Vector(ring)
      if (holeCells((i, j))) {
        ek += 10
        val (ways, hr) = closedRing(ek, bx + 26 * c / 100, by + 26 * c / 100, bx + 2 * c / 5, by + 2 * c / 5)
        val (eid, ecen) = relation(8, s"enclave-$i-$j", ways, Nil,
          centreOf(8, bx + 13 * c / 40, by + 13 * c / 40, ek))
        truth += TruthArea(eid, 8, s"enclave-$i-$j", Vector(hr), ecen, complete = true)
        inner = ways; rings = rings :+ hr
      }
      var outer = outerWays
      if (i == spec.gx - 1 && islandRows(j)) {
        ek += 10
        val ix = spec.lonHi + c / 3
        val (ways, ir) = closedRing(ek, ix, by + c / 3, ix + c / 4, by + c / 3 + c / 4)
        outer = outer ++ ways; rings = rings :+ ir
      }
      val (rid, cen) = relation(8, s"L8-$i-$j", outer, inner,
        centreOf(8, bx + c / 2, by + c / 2, i * 100003L + j))
      truth += TruthArea(rid, 8, s"L8-$i-$j", rings, cen, complete = true)
    }
    for ((level, w) <- Seq(6 -> 2, 4 -> 4, 2 -> 12);
         i0 <- 0 until spec.gx by w; j0 <- 0 until spec.gy by w) {
      val (ways, ring) = perimeter(i0, j0, w)
      val name = s"L$level-$i0-$j0"
      val (rid, cen) = relation(level, name, ways, Nil,
        centreOf(level, spec.lon0 + i0 * c + w * c / 2 + c / 7, spec.lat0 + j0 * c + w * c / 2 + c / 9,
          level * 1000003L + i0 * 1009L + j0))
      truth += TruthArea(rid, level, name, Vector(ring), cen, complete = true)
    }
    // incomplete relations: one cell's perimeter with a member way missing
    for (b <- 0 until spec.broken) {
      val (i, j) = cells(Rng.below(seed, 9, b, cells.size).toInt)
      val (ways, _) = perimeter(i, j, 1)
      val (rid, cen) = relation(10, s"broken-$b", ways.drop(1), Nil, None)
      truth += TruthArea(rid, 10, s"broken-$b", Vector.empty, cen, complete = false)
    }

    val all = ents.result()
    def latest(kind: Byte) = all.filter(_.kind == kind).groupBy(_.id).map { case (id, vs) => id -> vs.maxBy(_.version) }
    val ways = latest(OsmKind.Way)
    val edges = (hEdge.iterator.flatMap(_.iterator) ++ vEdge.iterator.flatMap(_.iterator)).toVector
    val edgeWays = edges.flatMap(_.ways).map { w =>
      val wr = ways(w).refs
      EdgeWay(w, wr.slice(1, wr.length - 1).toVector, usedBy.getOrElse(w, Vector.empty))
    }
    new AdminWorld(spec, seed, all, truth.result(), edgeWays, latest(OsmKind.Node),
      ways, latest(OsmKind.Relation), nextNode, nextRel)
  }

  /** The bulk part, generated distributively from `spark.range`. Ids
    * start at 1 and stay below the admin id bases. */
  def bulk(spark: SparkSession, spec: WorldSpec, seed: Long): Dataset[OsmEntity] = {
    import spark.implicits._
    val s = spec
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    def versions(stream: Long, id: Long): (Int, Boolean) = {
      val multi = Rng.below(seed, stream, id, 5) == 0 // ~20% have history
      val n = if (multi) 2 + Rng.below(seed, stream + 1, id, 2).toInt else 1
      val deleted = multi && Rng.below(seed, stream + 2, id, 4) == 0
      (n, deleted)
    }
    def metaOf(stream: Long, id: Long, v: Int): (Long, Long, Int) = {
      val uid = Rng.below(seed, stream, id * 8 + v, 3000).toInt
      (T0 + Rng.below(seed, stream + 1, id, 2000L) * Day + v * Day +
        Rng.below(seed, stream + 2, id * 8 + v, 86400L) * 1000L,
        1L + Rng.below(seed, stream + 3, id * 8 + v, 200000L), uid)
    }
    val amen = Array("cafe", "school", "bench", "pharmacy", "post_box", "fuel")
    val hw = Array("residential", "primary", "secondary", "track", "footway", "service")
    val nodes = spark.range(1, s.bulkNodes + 1, 1, parts).as[Long].flatMap { id =>
      val (n, deleted) = versions(100, id)
      val lat = s.lat0 + Rng.below(seed, 110, id, s.gy * s.cell7)
      val lon = s.lon0 + Rng.below(seed, 111, id, s.gx * s.cell7)
      (1 to n).map { v =>
        val (ts, cs, uid) = metaOf(120, id, v)
        val vis = !(deleted && v == n)
        val tagged = vis && Rng.below(seed, 112, id * 8 + v, 10) < 3
        val tags =
          if (!tagged) Nil
          else {
            val t = Vector(OsmTag("amenity", amen(Rng.below(seed, 113, id, amen.length).toInt)),
              OsmTag("name", s"Place $id v$v"))
            if (Rng.below(seed, 114, id, 2) == 0) t else t.reverse // order is data
          }
        OsmEntity(OsmKind.Node, id, v, vis, Some(lat + v * 17L), Some(lon - v * 13L), ts, cs,
          uid, user(uid), tags, Nil, Nil)
      }
    }
    val ways = spark.range(1, s.bulkWays + 1, 1, parts).as[Long].flatMap { id =>
      val (n, deleted) = versions(200, id)
      (1 to n).map { v =>
        val (ts, cs, uid) = metaOf(220, id, v)
        val vis = !(deleted && v == n)
        val len = 2 + Rng.below(seed, 210, id * 8 + v, 9).toInt
        val start = 1 + Rng.below(seed, 211, id, math.max(1L, s.bulkNodes - 12))
        val refs = if (vis) (0 until len).map(k => start + k).toVector else Vector.empty[Long]
        val tags =
          if (!vis) Nil
          else Vector(OsmTag("highway", hw(Rng.below(seed, 212, id * 8 + v, hw.length).toInt)),
            OsmTag("name", s"Street $id"), OsmTag("surface", if (id % 2 == 0) "asphalt" else "gravel"))
        OsmEntity(OsmKind.Way, id, v, vis, None, None, ts, cs, uid, user(uid), tags, refs, Nil)
      }
    }
    val rels = spark.range(1, s.bulkRels + 1, 1, parts).as[Long].flatMap { id =>
      val (n, deleted) = versions(300, id)
      (1 to n).map { v =>
        val (ts, cs, uid) = metaOf(320, id, v)
        val vis = !(deleted && v == n)
        val nm = if (vis) 2 + Rng.below(seed, 310, id * 8 + v, 7).toInt else 0
        val members = (0 until nm).map { k =>
          val r = Rng.h(seed, 311, id * 64 + k)
          Math.floorMod(r, 3L) match {
            case 0 => OsmMember(OsmKind.Node, 1 + Math.floorMod(r >>> 8, s.bulkNodes), "stop")
            case 1 => OsmMember(OsmKind.Way, 1 + Math.floorMod(r >>> 8, math.max(1L, s.bulkWays)), "")
            case _ => OsmMember(OsmKind.Relation, 1 + Math.floorMod(r >>> 8, s.bulkRels), "subarea")
          }
        }.toVector
        val tags =
          if (!vis) Nil
          else Vector(OsmTag("type", "route"), OsmTag("route", "bus"), OsmTag("ref", s"$id"))
        OsmEntity(OsmKind.Relation, id, v, vis, None, None, ts, cs, uid, user(uid), tags, Nil, members)
      }
    }
    nodes.union(ways).union(rels)
  }

  /** The whole world: bulk plus admin. */
  def all(spark: SparkSession, aw: AdminWorld): Dataset[OsmEntity] = {
    import spark.implicits._
    bulk(spark, aw.spec, aw.seed).union(spark.createDataset(aw.entities))
  }
}
