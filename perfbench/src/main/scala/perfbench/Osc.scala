package perfbench

import graft.model.{OsmEntity, OsmKind, OsmTag}

/** Generates the fixed sequence of OsmChange (.osc) batches applied to
  * an [[AdminWorld]]. Every batch carries the same mix of real-world
  * edits to the admin boundaries, on different targets: moved boundary
  * nodes and a moved admin_centre, a rerouted boundary way, and a
  * retagged, a deleted and a created relation. Versions continue from
  * the world's and the earlier batches', so the batches apply in order. */
object Osc {

  final case class Batch(xml: String)

  private def fp7(v: Long): String = {
    val a = math.abs(v)
    (if (v < 0) "-" else "") + (a / 10000000L) + "." + f"${a % 10000000L}%07d"
  }

  private def iso(ts: Long): String = java.time.Instant.ofEpochMilli(ts).toString

  private def xml(e: OsmEntity): String = {
    val sb = new StringBuilder
    val kind = e.kind match {
      case OsmKind.Node => "node"
      case OsmKind.Way => "way"
      case _ => "relation"
    }
    sb ++= s"""  <$kind id="${e.id}" version="${e.version}" timestamp="${iso(e.tsMillis)}" changeset="${e.changeset}" uid="${e.uid}" user="${e.user}""""
    if (e.visible && e.kind == OsmKind.Node)
      sb ++= s""" lat="${fp7(e.lat7.get)}" lon="${fp7(e.lon7.get)}""""
    if (!e.visible) { sb ++= "/>\n"; return sb.result() }
    sb ++= ">\n"
    e.refs.foreach(r => sb ++= s"""    <nd ref="$r"/>\n""")
    e.members.foreach { m =>
      val t = m.mtype match {
        case OsmKind.Node => "node"
        case OsmKind.Way => "way"
        case _ => "relation"
      }
      sb ++= s"""    <member type="$t" ref="${m.ref}" role="${m.role}"/>\n"""
    }
    e.tags.foreach(t => sb ++= s"""    <tag k="${t.k}" v="${t.v}"/>\n""")
    sb ++= s"  </$kind>\n"
    sb.result()
  }

  private def document(blocks: Seq[(String, Seq[OsmEntity])]): String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb ++= "<osmChange version=\"0.6\" generator=\"perfbench\">\n"
    for ((action, es) <- blocks if es.nonEmpty) {
      sb ++= s"<$action>\n"
      es.foreach(e => sb ++= xml(e))
      sb ++= s"</$action>\n"
    }
    sb ++= "</osmChange>\n"
    sb.result()
  }

  /** The first `n` batches of the sequence, a function of the world and
    * the seed. */
  def batches(w: AdminWorld, n: Int): Vector[Batch] = {
    val seed = w.seed
    val c = w.spec.cell7
    val nodes = scala.collection.mutable.HashMap.empty[Long, OsmEntity] ++= w.nodeById
    val ways = scala.collection.mutable.HashMap.empty[Long, OsmEntity] ++= w.wayById
    val rels = scala.collection.mutable.HashMap.empty[Long, OsmEntity] ++= w.relById
    var nextNode = w.nextNodeId
    var nextRel = w.nextRelId
    var clock = 1700000000000L
    def bump(e: OsmEntity): OsmEntity = {
      clock += 60000L
      e.copy(version = e.version + 1, tsMillis = clock, changeset = 900000L + clock / 60000L % 100000L)
    }
    // interior boundary ways used by at least two areas, in a seeded order
    val shared = w.edgeWays.filter(e => e.rels.size >= 2 && e.interior.size >= 2)
      .sortBy(e => Rng.h(seed, 40, e.wayId))
    val adminL8 = w.areas.filter(a => a.level == 8 && a.complete && a.name.startsWith("L8"))
      .sortBy(a => Rng.h(seed, 41, a.rel))
    val withCentre = w.areas.filter(_.centre.isDefined).sortBy(a => Rng.h(seed, 42, a.rel))
    (0 until n).toVector.map { round =>
      val edits: Seq[Seq[(String, Seq[OsmEntity])]] = Seq(
        {
          // the middle interior node of four shared ways moves a little,
          // and so does one admin_centre node
          val moved = shared.slice(round * 4, round * 4 + 4).map { e =>
            val nd = nodes(e.interior(e.interior.size / 2))
            val k = nd.id
            val m = bump(nd).copy(
              lat7 = nd.lat7.map(_ + (Rng.sym(seed, 43, k) * c / 200).toLong),
              lon7 = nd.lon7.map(_ + (Rng.sym(seed, 44, k) * c / 200).toLong))
            nodes(m.id) = m; m
          }
          val a = withCentre.filter(x => rels.contains(x.rel))(round)
          val cn = nodes(rels(a.rel).members.find(_.role == "admin_centre").get.ref)
          val mc = bump(cn).copy(lat7 = cn.lat7.map(_ + c / 50), lon7 = cn.lon7.map(_ - c / 60))
          nodes(mc.id) = mc
          Seq("modify" -> (moved :+ mc))
        }, {
          // one shared way gets a new interior path through new nodes
          val e = shared(shared.size - 1 - round)
          val wy = ways(e.wayId)
          val a = nodes(wy.refs.head); val z = nodes(wy.refs.last)
          val k = 6
          val created = (1 to k).map { s =>
            val t = s.toDouble / (k + 1)
            val lat = a.lat7.get + ((z.lat7.get - a.lat7.get) * t).round +
              (math.sin(math.Pi * t) * Rng.sym(seed, 45, s) * c / 40).toLong
            val lon = a.lon7.get + ((z.lon7.get - a.lon7.get) * t).round +
              (math.sin(math.Pi * t) * Rng.sym(seed, 46, s) * c / 40).toLong
            clock += 1000L
            val nd = OsmEntity(OsmKind.Node, nextNode, 1, true, Some(lat), Some(lon), clock,
              950000L, 7, World.user(7), Nil, Nil, Nil)
            nextNode += 1
            nodes(nd.id) = nd; nd
          }
          val nw = bump(wy).copy(refs = (wy.refs.head +: created.map(_.id)) :+ wy.refs.last)
          ways(nw.id) = nw
          Seq("create" -> created, "modify" -> Seq(nw))
        }, {
          // one relation retagged, one deleted, one created
          val r = rels(adminL8(2 * round).rel)
          val retagged = bump(r).copy(tags = r.tags.map(t =>
            if (t.k == "name") t.copy(v = t.v + " (renamed)") else t) :+ OsmTag("note", "retagged"))
          rels(retagged.id) = retagged
          val gone = rels(adminL8(adminL8.size - 1 - round).rel)
          val deleted = bump(gone).copy(visible = false, tags = Nil, refs = Nil, members = Nil)
          rels.remove(gone.id)
          // a new level-9 area reusing the member ways of a level-8 one
          val src = rels(adminL8(2 * round + 1).rel)
          clock += 1000L
          val created = OsmEntity(OsmKind.Relation, nextRel, 1, true, None, None, clock, 960000L, 9,
            World.user(9),
            Vector(OsmTag("type", "boundary"), OsmTag("boundary", "administrative"),
              OsmTag("admin_level", "9"), OsmTag("name", s"new-$nextRel")),
            Nil, src.members.filter(_.mtype == OsmKind.Way))
          nextRel += 1
          rels(created.id) = created
          Seq("create" -> Seq(created), "modify" -> Seq(retagged), "delete" -> Seq(deleted))
        })
      val blocks = Seq("create", "modify", "delete").map(a =>
        a -> edits.flatten.filter(_._1 == a).flatMap(_._2))
      Batch(document(blocks))
    }
  }
}
