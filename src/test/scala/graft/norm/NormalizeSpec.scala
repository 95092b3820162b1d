package graft.norm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.OsmKind
import graft.pbf.PbfRead

/** The reference's master property (SURVEY.md §5): round-trip identity
  * through the normalized layer, with its exact relaxations. */
class NormalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixture = "/root/reference/tests/fixtures/niue-230612.osm.pbf"
  private lazy val osm = PbfRead.read(spark, fixture).cache()

  test("demux produces the 10 apidb tables with consistent counts") {
    val db = Normalize.demux(osm)
    assert(db.nodes.count() == 41861)
    assert(db.ways.count() == 3014)
    assert(db.relations.count() == 125)
    // explode inverses: re-nested counts match
    assert(db.wayNodes.groupBy("way_id", "version").count().count() == 3014)
    assert(db.users.count() == db.users.select("uid").distinct().count())
    assert(db.changesets.count() ==
      osm.filter(_.changeset >= 0).map(_.changeset).distinct().count())
    // tag explode preserves multiplicity
    val nTagRows = db.nodeTags.count() + db.wayTags.count() + db.relationTags.count()
    val nTags = osm.map(_.tags.size).reduce(_ + _)
    assert(nTagRows == nTags)
  }

  test("round-trip identity: reassemble(demux(osm)) ≡ osm (0 diffs)") {
    val db = Normalize.demux(osm)
    val back = Normalize.reassemble(spark, db)
    assert(back.count() == osm.count())
    assert(Normalize.diffCount(osm, back) == 0)
  }

  test("multi-version reassembly: version chains survive and never " +
      "cross-contaminate") {
    // the niue fixture is single-version; this drives the (id, version)
    // join keys with real history — version chains, a delete→recreate,
    // per-version tag/ref churn, empty lists on deleted versions
    val hist = graft.queries.OsmQueries.historyFixture(spark)
    val db = Normalize.demux(hist)
    val back = Normalize.reassemble(spark, db).cache()
    assert(back.count() == hist.count())
    assert(Normalize.diffCount(hist, back) == 0)
    // node 7's delete→recreate chain survives verbatim
    val n7 = back.filter(e => e.kind == OsmKind.Node && e.id == 7L)
      .collect().sortBy(_.version)
    assert(n7.map(_.version).toSeq == Seq(1, 2, 3, 4))
    assert(n7.map(_.visible).toSeq == Seq(true, false, true, true))
    assert(n7(1).tags.isEmpty && n7(2).tags.nonEmpty)
    // per-version way refs stay version-local (no cross-version bleed)
    val w2 = back.filter(e => e.kind == OsmKind.Way && e.id == 2L)
      .collect().sortBy(_.version)
    assert(w2.map(_.refs.length).toSeq == Seq(3, 4, 2)) // 2 + (v % 3)
    assert(w2.map(_.refs.toList).distinct.length == w2.length)
  }

  test("diffCount detects a single perturbed element") {
    val db = Normalize.demux(osm)
    val back = Normalize.reassemble(spark, db)
    val perturbed = back.map(e =>
      if (e.kind == OsmKind.Node && e.id == 448768937L) e.copy(lat7 = e.lat7.map(_ + 1))
      else e)
    assert(Normalize.diffCount(osm, perturbed) == 1)
  }

  test("history stats: fused counts on the history fixture, zeros on an empty stream") {
    import graft.queries.OsmQueries.{historyFixture, historyStats}
    assert(historyStats(historyFixture(spark)) == ((151L, 48L, 14L)))
    assert(historyStats(spark.emptyDataset[graft.model.OsmEntity]) == ((0L, 0L, 0L)))
  }
}
