package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expr.{GeoFunctions => G}
/** The dense kNN kernel against its definition: the (d2, rel)-ordered
  * top-k over every (point, centre) pair, written out here with the
  * wrapped distance stated independently (min(|Δlon|, 360° − |Δlon|)). */
class KnnTopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type Centres = Array[(Long, Long, Long)] // (rel, lat7, lon7)

  private def d2(lat: Long, lon: Long, c: (Long, Long, Long)): Long = {
    val dlat = lat - c._2
    val a = math.abs(lon - c._3)
    val dlon = math.min(a, 3600000000L - a)
    dlat * dlat + dlon * dlon
  }

  private def brute(pts: Seq[(Long, Long)], cs: Centres, k: Int): Seq[Long] =
    pts.flatMap { case (lat, lon) => cs.map(c => (d2(lat, lon, c), c._1)) }
      .sorted.take(k).map(_._2)

  private def kernel(pts: Seq[(Long, Long)], cs: Centres, k: Int): Seq[Long] = {
    val arr = new GenericArrayData(pts.map { case (a, b) => InternalRow(a, b) }.toArray[Any])
    RT.knnTop(arr, cs.map(_._1), cs.map(_._2), cs.map(_._3), k).toLongArray().toSeq
  }

  private def uniform(r: scala.util.Random): (Long, Long) =
    (r.nextLong(1800000001L) - 900000000L, r.nextLong(3600000001L) - 1800000000L)

  /** Coordinate generators, one per shape the search must stay exact on. */
  private val shapes: Seq[(String, scala.util.Random => (Long, Long))] = Seq(
    "uniform" -> uniform,
    // 80% in a hot region ~0.2° across, the rest anywhere
    "clustered" -> { r =>
      if (r.nextInt(10) < 8)
        (400000000L + r.nextLong(2000000L), 100000000L + r.nextLong(2000000L))
      else uniform(r)
    },
    // a 10° band on both sides of the antimeridian, ±180° included
    "antimeridian" -> { r =>
      val lon = 1750000000L + r.nextLong(50000001L)
      (r.nextLong(200000000L) - 100000000L, if (r.nextBoolean()) lon else -lon)
    },
    // within 1° of either pole, any longitude
    "poles" -> { r =>
      val lat = 890000000L + r.nextLong(10000001L)
      (if (r.nextBoolean()) lat else -lat, r.nextLong(3600000001L) - 1800000000L)
    },
    // five distinct positions: most centres share coordinates, so the
    // top-k is decided by the rel tie-break
    "duplicates" -> { r =>
      val i = r.nextInt(5).toLong
      (i * 100000000L - 200000000L, i * 700000000L - 1400000000L)
    })

  private def centres(n: Int, gen: scala.util.Random => (Long, Long),
      r: scala.util.Random): Centres = {
    val rels = r.shuffle((1 to n).map(_ * 7L + 1000L))
    rels.map { rel => val (a, b) = gen(r); (rel, a, b) }.toArray
  }

  test("knnTop equals the (d2, rel) top-k definition on every shape, " +
      "1 to 2,048 centres, k in {1, 3, nCentres}") {
    val r = new scala.util.Random(2026)
    for ((shape, gen) <- shapes; n <- Seq(1, 2, 25, 100, 1520, 2048)) {
      val cs = centres(n, gen, r)
      // urls of 1-3 points, some of them duplicates (multiset semantics)
      val urls = (0 until 60).map { _ =>
        val p = gen(r)
        Seq.fill(1 + r.nextInt(3))(if (r.nextBoolean()) p else gen(r))
      }
      for (k <- Seq(1, 3, n).distinct; pts <- if (k == n) urls.take(10) else urls)
        assert(kernel(pts, cs, k) == brute(pts, cs, k), s"$shape n=$n k=$k pts=$pts")
    }
  }

  test("knn_top agrees with the brute force in generated and interpreted code") {
    val r = new scala.util.Random(7)
    val cs = centres(500, shapes.toMap.apply("clustered"), r)
    val pts = Seq.fill(300)(shapes.toMap.apply("clustered")(r))
    import spark.implicits._
    val df = pts.zipWithIndex.map { case ((a, b), i) => (i % 100, a, b) }
      .toDF("url", "lat7", "lon7")
      .groupBy("url").agg(collect_list(struct(col("lat7"), col("lon7"))).as("pts"))
    val want = pts.zipWithIndex.groupBy(_._2 % 100).map { case (u, ps) =>
      u -> brute(ps.map(_._1), cs, 3) }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val got = df.select(col("url"), G.knn_top(col("pts"), cs.map(_._1), cs.map(_._2), cs.map(_._3), 3)).collect()
          .map(row => row.getInt(0) -> row.getSeq[Long](1)).toMap
        assert(got == want, mode)
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
