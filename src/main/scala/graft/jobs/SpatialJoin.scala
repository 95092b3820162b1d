package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{GeoFunctions => G}
import graft.jobs.AdminAreas.{AdminArea, CoverRow, CoverRowEx}

/** The flagship pipeline (SURVEY.md J5-J8, north rule): geoparse page
  * text → quadcell encode → multi-level cell equi-join against the
  * compacted admin cover → ray-casting PIP refine for boundary cells →
  * cell-ring-expansion kNN to nearest admin centre → z/x/y tile
  * aggregation. Everything is DataFrame + codegen expressions — the
  * spatial join is a plain Catalyst equi-join (AQE-optimizable), never a
  * custom physical operator, because the PIP→cell-join rewrite happens
  * at API level (SURVEY.md §4.3).
  *
  * Skew (J8): pages concentrate in few cells (cities). `saltBuckets > 0`
  * replicates cover rows of hot cells S ways and spreads their pages by
  * hash(url) — output-identical to the unsalted plan (asserted in spec).
  */
object SpatialJoin {

  final case class Params(
      coverMaxLevel: Int = 17,
      knnLevel: Int = 9,
      knnMaxRing: Int = 3,
      tileZoom: Int = 12,
      saltBuckets: Int = 0,
      hotCellMinPages: Long = 100000L,
      // kNN centre-index rows above which the broadcast hint is DROPPED
      // and the probe degrades to a plain shuffle equi-join (AQE picks
      // shuffled-hash): a forced broadcast() disables Spark's own size
      // check, and the probe disk is |centres|·(2·maxRing+1)² rows — at
      // ~10⁶ planet admin centres that is ~49M rows, past the broadcast
      // comfort zone. 4M rows ≈ 300 MB at ~80 B/row.
      knnBroadcastMaxRows: Long = 4000000L,
      // same rule for the containment join's cover side: per-executor
      // broadcast of the cell cover is the right plan while it fits
      // (boundary rows carry clipped edges, so rows are wider than the
      // kNN index's — bound lower), and a planet-detail cover beyond it
      // degrades to the shuffled equi-join deterministically
      coverBroadcastMaxRows: Long = 2000000L,
      // centre sides AT OR UNDER this row count take the DENSE kNN path:
      // the whole centre table rides the plan as one constant array and
      // each point scans it in a codegen loop — zero joins, zero index
      // fan-out, exactly the brute-force definition (so equivalence to
      // the cell-probe path is by construction). Per-point cost is
      // O(nCentres), so the bound must stay dimension-table-sized. 2048
      // covers a compact admin world of ~1.5k centres: there the index
      // path's knnLevel-9 probe disk is not selective (~1,200 centre
      // rows per point) and adds a checkpointed probe, a fallback join
      // and two gather joins, so scanning every centre costs no more per
      // point and plans no join. A planet's ~10⁶ admin centres exceed it
      // and keep the cell-probe index path.
      knnDenseMaxCentres: Long = 2048L)

  /** Geoparse: url + packed coordinate; drops pages with no mention.
    * Column pruning matters here — only (url, text) are read, never
    * html (SURVEY.md §4.2). */
  def geoparsedPoints(pages: DataFrame): DataFrame =
    pages.select(col("url"), G.geoparse_packed(col("text")).as("p"))
      .filter(col("p").isNotNull)
      .select(col("url"), G.packed_lat7(col("p")).as("lat7"),
        G.packed_lon7(col("p")).as("lon7"))

  /** Cover-side facts [[containmentJoin]] needs BEFORE planning: the
    * distinct cover levels (drives the ancestor explode), the row count
    * (drives the bounded-broadcast decision) and whether any fallback
    * cells exist (drives the union-branch skip). All three are
    * properties of the prepared cover, so [[prepare]] computes them
    * once per polygon side — per-page-batch joins then plan with ZERO
    * cover-side driver actions (the timed flagship pass used to run
    * three small jobs per pass, a fixed cost the many-pass high-core
    * bench rungs paid 4×). */
  final case class CoverInfo(levels: Seq[Int], nRows: Long, hasFallback: Boolean)

  /** One combined action over the (checkpointed) cover — the fused form
    * of the three per-call actions containmentJoin ran through round 8. */
  def coverInfoOf(cover: Dataset[CoverRowEx]): CoverInfo = {
    val r = cover.toDF("relation_id", "cell", "full", "corner_inside",
        "fallback", "edges")
      .agg(collect_set(shiftrightunsigned(col("cell"), 58).cast("int")).as("ls"),
        count(lit(1)).as("n"),
        max(col("fallback")).as("fb"))
      .head()
    CoverInfo(r.getSeq[Int](0).sorted, r.getLong(1),
      !r.isNullAt(2) && r.getBoolean(2))
  }

  /** J5: containment join. Returns the points' own columns (at minimum
    * url, lat7, lon7 — any extra columns such as an event timestamp
    * ride through, enabling the streaming window pipeline; they must
    * not collide with the cover column names) plus `relation_id`.
    * Refine is LOCALIZED (GeomCell): boundary cover rows carry their
    * clipped edges + SW-corner parity, so per-candidate cost is
    * O(edges-in-cell) — independent of polygon size — and the polygon
    * rings table never enters the hot path (only the rare `fallback`
    * cells join it). */
  def containmentJoin(spark: SparkSession, points: DataFrame,
      cover: Dataset[CoverRowEx], polygons: DataFrame, p: Params,
      info: Option[CoverInfo] = None): DataFrame = {
    val outCols = points.columns.toSeq.map(col) :+ col("relation_id")
    val coverDf = cover.toDF("relation_id", "cell", "full", "corner_inside",
      "fallback", "edges")
    // cover-side facts (levels / row count / fallback presence) come
    // precomputed from [[Prepared]] — zero cover-side actions per page
    // batch (the timed flagship pass used to pay three small jobs each
    // pass, which taxed the many-pass high-core rungs hardest) — or,
    // for direct callers, from ONE combined action in [[coverInfoOf]]
    val ci = info.getOrElse(coverInfoOf(cover))
    val levels = ci.levels
    val pts = points.withColumn("pcell",
      G.cell_encode(col("lat7"), col("lon7"), lit(p.coverMaxLevel)))
    val keyed = pts.withColumn("jcell", explode(array(
      levels.map(l => G.cell_ancestor(col("pcell"), lit(l))): _*)))

    // the cover is checkpointed by prepare(), so the bound's count is a
    // cheap cached-block scan; page-side stats after the explode are
    // Generate-underestimated, so without the explicit bound Spark
    // could pick either side at any true size
    val nCover = ci.nRows
    def boundedCover(df: DataFrame): DataFrame =
      graft.util.Joins.boundedBroadcast(df, nCover, p.coverBroadcastMaxRows)

    val cand =
      if (p.saltBuckets <= 1)
        keyed.join(boundedCover(coverDf), col("jcell") === col("cell"))
      else {
        // hot join keys measured exactly (one cheap agg), then salted
        val hot = keyed.groupBy("jcell").count()
          .filter(col("count") >= p.hotCellMinPages)
          .select(col("jcell").as("cell")).withColumn("hot", lit(true))
        val coverS = coverDf.join(broadcast(hot), Seq("cell"), "left_outer")
          .withColumn("salt", explode(when(col("hot").isNotNull,
            sequence(lit(0), lit(p.saltBuckets - 1))).otherwise(array(lit(0)))))
          .drop("hot")
        val keyedS = keyed.join(broadcast(hot), keyed("jcell") === hot("cell"), "left_outer")
          .drop("cell")
          .withColumn("salt", when(col("hot").isNotNull,
            pmod(xxhash64(col("url")), lit(p.saltBuckets)).cast("int")).otherwise(lit(0)))
          .drop("hot")
        keyedS.join(boundedCover(coverS), col("jcell") === col("cell") &&
          keyedS("salt") === coverS("salt"))
      }

    // branches recompute the candidate chain — a narrow all-codegen
    // pipeline from the source scan (no shuffle); streaming passes beat
    // materializing 10^7+ rows into the block manager (measured:
    // checkpoint contention inverted 8c vs 32c). The full-cell and
    // localized-refine cases share ONE pass (`full OR point_in_cell`
    // short-circuits, so full cells never evaluate the refine); only
    // the rare `fallback` cells re-read the source and touch polygons.
    val mainHits = cand.filter(!col("fallback"))
      .filter(col("full") || G.point_in_cell(col("lon7"), col("lat7"), col("cell"),
        col("corner_inside"), col("edges")))
      .select(outCols: _*)
    // skip the union's second branch when the cover has no fallback
    // cells at all (a property of the tiny polygon side, known from
    // CoverInfo; typical covers at detail level 17 have none).
    // Statically this halves the source scans; at runtime AQE's
    // empty-relation propagation already collapsed the empty-broadcast
    // branch (measured: no throughput delta), so the static skip is
    // for plan clarity and non-AQE sessions.
    if (!ci.hasFallback) mainHits
    else {
      val fallbackHits = cand.filter(col("fallback"))
        .join(polygons, "relation_id")
        .filter(G.point_in_rings(col("lon7"), col("lat7"), col("rings")))
        .select(outCols: _*)
      mainHits.union(fallbackHits)
    }
  }

  /** J6: nearest admin centre by cell probing. Distance is exact
    * integer squared planar L2 in 1e-7° space with antimeridian wrap —
    * deterministic at any parallelism.
    *
    * ONE lazy DAG over the pages (the only driver-side action is a
    * count of the SMALL centre side, which sizes the broadcast
    * decision), and ALL cell fan-out lives on the small centre side —
    * pages never explode
    * (round 2 exploded a (2·maxRing+1)² disk per page: 10^9 probe rows
    * at 2·10^7 pages; inverting the disk onto the centres made the
    * probe one row per page):
    *  - Probe: each centre explodes its Chebyshev-≤-maxRing cell DISK
    *    at knnLevel into a broadcast (cell → centre) index; pages
    *    left-join it on their single kcell → map-side-combined min
    *    distance; NULL marks pages with no centre in range. Disk
    *    membership is symmetric (|Δx| wraps, |Δy| clamps identically
    *    both ways), so the hit set is exactly round 2's.
    *  - Fallback probe (oceans, sparse regions — rare rows only):
    *    radius-1 disks around the page cell's ancestors at EVERY
    *    coarser level in one explode — level 0 sees every centre, so a
    *    hit is guaranteed when the centre table is nonempty. The index
    *    carries ONLY levels 0..knnLevel-1 (all `ancestor_probe` emits).
    *  - Exact gather: pick the gather level whose cell height just
    *    exceeds the found radius (so kneed ≤ 2), explode that disk
    *    (≤ 25 cells) per page, join the per-branch level-restricted
    *    centre index, argmin. Every centre within √d2found sits inside
    *    the disk at ANY level by the ceil(r/h)+1 ring bound, so the
    *    level choice (and the clamp below) only affects cost, never
    *    the result. Main-probe hits have √d2found < (maxRing+1)·h·√5,
    *    hence glvl ≥ knnLevel − ceil(log2((maxRing+1)√5)); clamping
    *    glvl into that range lets their index carry only those few
    *    levels instead of all knnLevel+1 (the round-2 broadcast-width
    *    problem at 10^6 planet centres). */
  /** Materialized kNN centre side: checkpointed rows + their count.
    * The count decides the broadcast-vs-shuffle strategy in
    * [[knnCentres]] (see `hinted` there); building it once per centre
    * dataset — e.g. inside [[Prepared]] — lets every page batch reuse
    * one materialization instead of re-checkpointing + recounting the
    * centre derivation per call. */
  final case class CentreIndex(centres: DataFrame, nCentres: Long) {
    /** Dense-path centre rows (c_rel, c_lat7, c_lon7) sorted by c_rel,
      * collected ONCE per index — repeated kNN calls over the same
      * prepared centre side (every bench pass, every gate sharing the
      * session prep) reuse the driver-side copy instead of re-running
      * the collect job. O(nCentres) and only materialized when the
      * dense path (nCentres ≤ knnDenseMaxCentres) asks for it. */
    lazy val collected: Seq[(Long, Long, Long)] = {
      val spark = centres.sparkSession
      import spark.implicits._
      centres.select(col("relation_id"), col("c_lat7"), col("c_lon7"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
  }
  object CentreIndex {
    def of(centres: DataFrame): CentreIndex = {
      // one cheap count of the SMALL side decides the join strategy
      // (the same move containmentJoin makes for its cover levels);
      // the count makes this eager, and checkpointing first makes it
      // pay for itself — the centre-derivation plan materializes ONCE
      // instead of re-running under each of the three index builds.
      val m = centres.localCheckpoint()
      CentreIndex(m, m.count())
    }
  }

  def knnCentres(spark: SparkSession, points: DataFrame,
      centres: DataFrame, p: Params): DataFrame =
    knnCentres(spark, points, CentreIndex.of(centres), p)

  /** Centre rows for the dense path — the memoized [[CentreIndex]]
    * collect (sorted by c_rel for a deterministic plan constant). Only
    * touched when nCentres ≤ knnDenseMaxCentres — the same driver-side
    * O(k) contract as the cover-level facts in [[CoverInfo]]. */
  private def collectCentres(centreIdx: CentreIndex): Seq[(Long, Long, Long)] =
    centreIdx.collected

  /** DENSE kNN: per-url top-k over the centre table shipped as codegen
    * reference arrays — one [[graft.expr.RT.knnTop]] kernel call per
    * url, no joins, no probe/gather machinery. This IS the brute-force
    * definition the oracle states ((d2, relation_id)-ordered over the
    * multiset of every (point, centre) pair), so it is exact at any k;
    * the per-url aggregation merges duplicate-url points exactly like
    * the general path's gather groupBy("url"). The only exchange is
    * that per-url groupBy, carrying (url, lat7, lon7). Used when the
    * centre side is dimension-table-sized (nCentres ≤
    * knnDenseMaxCentres). */
  private def knnDense(points: DataFrame, cents: Seq[(Long, Long, Long)],
      k: Int): DataFrame = {
    val rels = cents.map(_._1).toArray
    val lats = cents.map(_._2).toArray
    val lons = cents.map(_._3).toArray
    val top = points
      .filter(col("lat7").isNotNull && col("lon7").isNotNull)
      .groupBy("url")
      .agg(collect_list(struct(col("lat7"), col("lon7"))).as("pts"))
      .select(col("url"), G.knn_top(col("pts"), rels, lats, lons, k).as("t"))
    if (k == 1)
      top.select(col("url"), element_at(col("t"), 1).as("nn_relation_id"))
    else
      top.select(col("url"), posexplode(col("t")))
        .select(col("url"), (col("pos") + 1).cast("int").as("rank"),
          col("col").as("nn_relation_id"))
  }

  def knnCentres(spark: SparkSession, points: DataFrame,
      centreIdx: CentreIndex, p: Params): DataFrame = {
    require(p.knnLevel >= 1, "knnLevel must be >= 1")
    // nCentres > 0: with no centre the top-k is empty, and element_at
    // on an empty array throws under ANSI — the index path returns the
    // empty result instead
    if (centreIdx.nCentres > 0 && centreIdx.nCentres <= p.knnDenseMaxCentres)
      return knnDense(points, collectCentres(centreIdx), k = 1)
    // each centre-index broadcast hint is kept only while its exploded
    // row count stays under knnBroadcastMaxRows — beyond that the hint
    // would force an unbounded broadcast, so the plain equi-join ships
    // instead and AQE/size-stats pick shuffled-hash. Cost, never
    // result: every branch joins the same rows either way.
    val centresM = centreIdx.centres
    val nCentres = centreIdx.nCentres
    def hinted(idx: DataFrame, estRows: Long): DataFrame =
      graft.util.Joins.boundedBroadcast(idx, estRows, p.knnBroadcastMaxRows)
    val diskWidth = 2L * p.knnMaxRing + 1L
    val centIdx = knnCentIdx(centresM, p)
    def d2: Column = knnD2
    // Probe — centre-side disk index, one row per page on the big side
    val centDisk = centIdx.withColumn("dcell",
      explode(G.cell_disk(col("ccell"), lit(p.knnMaxRing))))
    val pts = points
      .withColumn("kcell", G.cell_encode(col("lat7"), col("lon7"), lit(p.knnLevel)))
    // materialized: BOTH downstream branches (main gather + fallback)
    // filter this frame — without the checkpoint each re-runs the page
    // scan, the disk join and the probe aggregation from scratch (the
    // branch split defeats exchange reuse); the persisted form is one
    // ~40 B row per page, far cheaper than a second source pass
    val probe = pts
      .join(hinted(centDisk, nCentres * diskWidth * diskWidth),
        col("kcell") === col("dcell"), "left_outer")
      .groupBy("url", "lat7", "lon7", "kcell").agg(min(d2).as("d2found"))
      .localCheckpoint()

    // Multi-level ancestor indexes, restricted per branch (see Scaladoc)
    def centLevels(lo: Int, hi: Int) = centIdx.withColumn("acell",
      explode(transform(sequence(lit(lo), lit(hi)),
        l => G.cell_ancestor(col("ccell"), l))))
    // glvl floor provable for main-probe hits: √d2 < (maxRing+1)·h·√5
    val gMin = math.max(0, p.knnLevel -
      math.ceil(math.log((p.knnMaxRing + 1) * math.sqrt(5.0)) / math.log(2.0)).toInt)
    val centGather = centLevels(gMin, p.knnLevel)
    val centFallback = centLevels(0, p.knnLevel - 1)

    // Fallback probe — all coarser levels at once; cell ids embed their
    // level so a single multi-level index join covers them all
    val fbHit = probe.filter(col("d2found").isNull).drop("d2found")
      .withColumn("rc", explode(G.ancestor_probe(col("kcell"), lit(p.knnLevel))))
      .join(hinted(centFallback, nCentres * p.knnLevel), col("rc") === col("acell"))
      .groupBy("url", "lat7", "lon7", "kcell").agg(min(d2).as("d2found"))

    // Exact gather at the radius-matched level, glvl clamped into the
    // branch's index range: h(glvl) ≥ √d2found ⇒ kneed ≤ 2 ⇒ ≤ 25 cells
    val latSpan = graft.geo.Cells.LatSpan.toDouble
    def gather(bounded: DataFrame, idx: DataFrame, lvlLo: Int, lvlHi: Int): DataFrame =
      bounded
        .withColumn("glvl", least(greatest(
          floor(log2(lit(latSpan) / (sqrt(col("d2found")) + 1.0))), lit(lvlLo)),
          lit(lvlHi)).cast("int"))
        .withColumn("kneed", (ceil(sqrt(col("d2found")) *
          pow(lit(2.0), col("glvl")) / latSpan) + 1).cast("int"))
        .withColumn("rc", explode(G.cell_disk(
          G.cell_ancestor(col("kcell"), col("glvl")), col("kneed"))))
        .join(hinted(idx, nCentres * (lvlHi - lvlLo + 1L)), col("rc") === col("acell"))
        .withColumn("d2v", d2)
        .groupBy("url").agg(min(struct(col("d2v"), col("c_rel"))).as("b"))
        .select(col("url"), col("b.c_rel").as("nn_relation_id"))

    // each page is in exactly one branch, so per-branch argmin + union
    gather(probe.filter(col("d2found").isNotNull), centGather, gMin, p.knnLevel)
      .union(gather(fbHit, centFallback, 0, p.knnLevel - 1))
  }

  /** Wrapped-longitude squared distance page↔centre (1e-7° ints; |Δx|
    * wraps at the antimeridian, |Δy| needs no clamp). Shared by the
    * k=1 and k>1 kNN paths. */
  private def knnD2: Column = {
    val dlat = col("lat7") - col("c_lat7")
    val dlonRaw = abs(col("lon7") - col("c_lon7"))
    val dlon = least(dlonRaw, lit(3600000000L) - dlonRaw)
    dlat * dlat + dlon * dlon
  }

  private def knnCentIdx(centresM: DataFrame, p: Params): DataFrame =
    centresM.select(col("relation_id").as("c_rel"),
        col("c_lat7"), col("c_lon7"))
      .withColumn("ccell",
        G.cell_encode(col("c_lat7"), col("c_lon7"), lit(p.knnLevel)))

  def knnCentresK(spark: SparkSession, points: DataFrame,
      centres: DataFrame, p: Params, k: Int): DataFrame =
    knnCentresK(spark, points, CentreIndex.of(centres), p, k)

  /** J6 at rank ≤ k: the k nearest centres per page, EXACT, as
    * (url, rank 1..k, nn_relation_id). Same three-phase shape as
    * [[knnCentres]] with the gather radius re-derived from the K-TH
    * candidate distance:
    *
    *  - main probe aggregates the k smallest candidate distances in
    *    the page's radius-`knnMaxRing` disk; a page whose disk holds
    *    < k candidates takes the fallback;
    *  - fallback probes radius-1 disks around ALL coarser ancestors at
    *    once (level 0 sees every centre, so ≥ k candidates exist
    *    whenever k ≤ nCentres — required), DEDUPED PER CENTRE first: a
    *    centre matching at several levels would otherwise repeat its
    *    distance and silently UNDERCOUNT the k-th;
    *  - the k-th candidate distance upper-bounds the true k-th
    *    neighbour distance (k candidates lie within it), so the same
    *    ceil(r/h)+1 ring bound that made the k=1 gather exact makes
    *    the gather disk contain the WHOLE top-k; one per-page
    *    sort+slice ranks it. Every k-th-candidate distance found by
    *    the main probe still satisfies √d2 < (maxRing+1)·h·√5, so the
    *    gather-level floor (and the branch-restricted centre indexes)
    *    carry over unchanged.
    *
    * Ties rank by (d2, relation_id) — deterministic in any engine.
    * Joins keep the boundedBroadcast / plain equi-join discipline of
    * the k=1 path: nothing cartesian, nothing all-pairs, at any k. */
  def knnCentresK(spark: SparkSession, points: DataFrame,
      centreIdx: CentreIndex, p: Params, k: Int): DataFrame = {
    require(p.knnLevel >= 1, "knnLevel must be >= 1")
    require(k >= 1 && k <= centreIdx.nCentres,
      s"k=$k outside [1, nCentres=${centreIdx.nCentres}]")
    if (centreIdx.nCentres <= p.knnDenseMaxCentres)
      return knnDense(points, collectCentres(centreIdx), k)
    val centresM = centreIdx.centres
    val nCentres = centreIdx.nCentres
    def hinted(idx: DataFrame, estRows: Long): DataFrame =
      graft.util.Joins.boundedBroadcast(idx, estRows, p.knnBroadcastMaxRows)
    val diskWidth = 2L * p.knnMaxRing + 1L
    val centIdx = knnCentIdx(centresM, p)

    // k-th smallest candidate distance, null when < k candidates: the
    // per-page candidate set is disk-bounded (main) / centre-bounded
    // (fallback), so the collect_list stays small at any corpus scale
    def kth(grouped: org.apache.spark.sql.RelationalGroupedDataset) =
      grouped.agg(array_sort(collect_list(col("d2v"))).as("ds"))
        .withColumn("d2found",
          when(size(col("ds")) >= k, element_at(col("ds"), k)))
        .drop("ds")

    val centDisk = centIdx.withColumn("dcell",
      explode(G.cell_disk(col("ccell"), lit(p.knnMaxRing))))
    val pts = points.withColumn("kcell",
      G.cell_encode(col("lat7"), col("lon7"), lit(p.knnLevel)))
    // materialized for the same two-consumer reason as the k=1 probe
    val probe = kth(pts
      .join(hinted(centDisk, nCentres * diskWidth * diskWidth),
        col("kcell") === col("dcell"), "left_outer")
      .withColumn("d2v", knnD2)
      .groupBy("url", "lat7", "lon7", "kcell"))
      .localCheckpoint()

    def centLevels(lo: Int, hi: Int) = centIdx.withColumn("acell",
      explode(transform(sequence(lit(lo), lit(hi)),
        l => G.cell_ancestor(col("ccell"), l))))
    val gMin = math.max(0, p.knnLevel -
      math.ceil(math.log((p.knnMaxRing + 1) * math.sqrt(5.0)) / math.log(2.0)).toInt)
    val centGather = centLevels(gMin, p.knnLevel)
    val centFallback = centLevels(0, p.knnLevel - 1)

    // fallback: dedup (url, centre) BEFORE the k-th election
    val fbHit = kth(probe.filter(col("d2found").isNull).drop("d2found")
      .withColumn("rc", explode(G.ancestor_probe(col("kcell"), lit(p.knnLevel))))
      .join(hinted(centFallback, nCentres * p.knnLevel), col("rc") === col("acell"))
      .groupBy("url", "lat7", "lon7", "kcell", "c_rel")
      .agg(min(knnD2).as("d2v"))
      .groupBy("url", "lat7", "lon7", "kcell"))

    val latSpan = graft.geo.Cells.LatSpan.toDouble
    def gatherK(bounded: DataFrame, idx: DataFrame, lvlLo: Int, lvlHi: Int)
        : DataFrame =
      bounded
        .withColumn("glvl", least(greatest(
          floor(log2(lit(latSpan) / (sqrt(col("d2found")) + 1.0))), lit(lvlLo)),
          lit(lvlHi)).cast("int"))
        .withColumn("kneed", (ceil(sqrt(col("d2found")) *
          pow(lit(2.0), col("glvl")) / latSpan) + 1).cast("int"))
        .withColumn("rc", explode(G.cell_disk(
          G.cell_ancestor(col("kcell"), col("glvl")), col("kneed"))))
        .join(hinted(idx, nCentres * (lvlHi - lvlLo + 1L)), col("rc") === col("acell"))
        .withColumn("d2v", knnD2)
        .groupBy("url")
        .agg(slice(array_sort(collect_list(struct(col("d2v"), col("c_rel")))),
          1, k).as("top"))
        .select(col("url"), posexplode(col("top")))
        .select(col("url"), (col("pos") + 1).cast("int").as("rank"),
          col("col.c_rel").as("nn_relation_id"))

    gatherK(probe.filter(col("d2found").isNotNull), centGather, gMin, p.knnLevel)
      .union(gatherK(fbHit, centFallback, 0, p.knnLevel - 1))
  }

  /** J7: z/x/y raster-tile aggregation of the join output. */
  def tiles(joined: DataFrame, zoom: Int): DataFrame =
    joined
      .withColumn("t", G.tile_zxy(col("lat7"), col("lon7"), lit(zoom)))
      .groupBy(col("t"), col("relation_id"))
      .agg(count(lit(1)).as("n_pages"))
      .select(
        lit(zoom).as("z"),
        col("t").bitwiseAND(lit((1L << zoom) - 1)).as("x"),
        shiftrightunsigned(col("t").bitwiseAND(lit((1L << 58) - 1)), zoom).as("y"),
        col("relation_id"), col("n_pages"))

  /** End-to-end: pages + assembled areas → per-url join rows + tiles.
    * `knn` stays a thunk so callers that only want the containment
    * join/tiles never even build the kNN plan. */
  final class Outputs(val joined: DataFrame, knnThunk: () => DataFrame,
      val tileCounts: DataFrame) {
    lazy val knn: DataFrame = knnThunk()
  }

  /** Prepared polygon side: built once, reused across page batches —
    * the cover is a property of the admin dataset, not of the pages.
    * `centreIdx` carries the materialized centre rows + count so every
    * batch's kNN skips the per-call checkpoint + recount; `coverInfo`
    * carries the cover-side planning facts so every batch's containment
    * join plans without touching the cluster. */
  final case class Prepared(cover: Dataset[CoverRowEx], polygons: DataFrame,
      centres: DataFrame, centreIdx: CentreIndex, coverInfo: CoverInfo)

  /** Centre projection shared by [[prepare]] and the snapshot pipeline
    * (one definition, so the kNN centre contract cannot drift between
    * the interactive and resumable paths): complete areas with a
    * defined centre, in the kNN column layout. */
  def centresOf(areas: DataFrame): DataFrame = areas
    .filter(col("complete") && col("centreLat7").isNotNull &&
      col("centreLon7").isNotNull)
    .select(col("relationId").as("relation_id"),
      col("centreLat7").as("c_lat7"), col("centreLon7").as("c_lon7"))

  private def prepareCore(spark: SparkSession, areas: Dataset[AdminArea],
      p: Params): (Dataset[AdminArea], Dataset[CoverRowEx], DataFrame) = {
    val complete = areas.filter(_.complete).cache()
    val cover = AdminAreas.coverTableDetailed(spark, complete, p.coverMaxLevel)
      .localCheckpoint() // materialize: read many times (levels + join)
    val polygons = complete.select(col("relationId").as("relation_id"), col("rings"))
      .localCheckpoint()
    (complete, cover, polygons)
  }

  /** Containment-only prep — extract-style callers that never build the
    * kNN skip the centre materialization (checkpoint + count) entirely,
    * and the intermediate complete-area cache is freed immediately
    * (both derived sets are eagerly checkpointed). */
  def prepareContainment(spark: SparkSession, areas: Dataset[AdminArea],
      p: Params = Params()): (Dataset[CoverRowEx], DataFrame) = {
    val (complete, cover, polygons) = prepareCore(spark, areas, p)
    complete.unpersist()
    (cover, polygons)
  }

  def prepare(spark: SparkSession, areas: Dataset[AdminArea],
      p: Params = Params()): Prepared = {
    val (complete, cover, polygons) = prepareCore(spark, areas, p)
    val centres = centresOf(complete.toDF()).localCheckpoint()
    complete.unpersist()
    Prepared(cover, polygons, centres, CentreIndex.of(centres),
      coverInfoOf(cover))
  }

  def run(spark: SparkSession, pages: DataFrame, areas: Dataset[AdminArea],
      p: Params): Outputs =
    run(spark, pages, prepare(spark, areas, p), p)

  def run(spark: SparkSession, pages: DataFrame, areas: Dataset[AdminArea]): Outputs =
    run(spark, pages, prepare(spark, areas, Params()), Params())

  def run(spark: SparkSession, pages: DataFrame, prep: Prepared,
      p: Params): Outputs = {
    val pts = geoparsedPoints(pages)
    val joined = containmentJoin(spark, pts, prep.cover, prep.polygons, p,
      Some(prep.coverInfo))
    new Outputs(joined, () => knnCentres(spark, pts, prep.centreIdx, p),
      tiles(joined, p.tileZoom))
  }
}
