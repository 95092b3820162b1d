package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{AdminAreas, SpatialJoin}
import graft.jobs.AdminAreas.{AdminArea, CoverRowEx}
import graft.model.OsmEntity
import graft.norm.Normalize
import graft.pbf.{PbfRead, PbfWrite}
import graft.streaming.{OscRead, Replication}

/** One workload: the generated world, and the sizes of the page table,
  * the kNN slice and the diff sequence it needs. Each workload times two
  * operations, `op1` and `op2` (see [[Runner]]). */
final case class Workload(name: String, world: WorldSpec, pages: Long = 0L,
    knnSlice: Long = 0L, batches: Int = 0)

object Workloads {
  val all: Map[String, Workload] = Seq(
    // the paper's own job: a bulk, history-bearing world with detailed
    // admin boundaries (shared, split and reversed ways, enclaves,
    // islands, broken relations) imported into the 10 apidb tables and
    // exported back to PBF (pbf, norm). The traced run also keeps its
    // areas up to date from the .osc batches (geo, jobs.AdminAreas,
    // streaming).
    Workload("osm_roundtrip",
      WorldSpec(gx = 24, gy = 12, cell7 = 500000L, seg = 6, splitEvery = 3, holes = 8,
        islands = 3, broken = 2, centreLevels = Set(2, 4, 6),
        bulkNodes = 160000L, bulkWays = 28000L, bulkRels = 2800L),
      batches = 3),
    // the headline: 1,520 nested areas (1,520 centres, over the 1,024
    // dense-kNN bound, so kNN takes the cell-probe index path) joined
    // against a pages table with a hot region (expr, jobs.SpatialJoin;
    // pbf only loads the world at set-up)
    Workload("page_join",
      WorldSpec(gx = 48, gy = 24, cell7 = 300000L, seg = 2, splitEvery = 0, holes = 0,
        islands = 0, broken = 0, centreLevels = Set(2, 4, 6, 8),
        bulkNodes = 5000L, bulkWays = 500L, bulkRels = 50L),
      pages = 400000L, knnSlice = 1200L)
  ).map(w => w.name -> w).toMap
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
    generate: Boolean)

object Main {
  val Params: SpatialJoin.Params = SpatialJoin.Params()
  val Tables: Seq[String] = Seq("nodes", "node_tags", "ways", "way_tags", "way_nodes",
    "relations", "relation_tags", "relation_members", "users", "changesets")
  val SetupReps = 3
  val MinPasses = 2
  val MinHeapMb = 1900L

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m.getOrElse("seconds", "0").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("generate", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.all.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val inputs = new Inputs(new File(args.work).getAbsoluteFile, wl, args.seed)
    if (args.generate) {
      if (!inputs.ready) {
        val t = System.nanoTime()
        val spark = session(wl, new File(args.work).getAbsoluteFile)
        try inputs.generate(spark, cores) finally spark.stop()
        log(f"generated inputs in ${(System.nanoTime() - t) / 1e9}%.1f s: ${inputs.dir}")
      }
      sys.exit(0)
    }
    require(inputs.ready, s"inputs missing: ${inputs.dir}")
    val r = new Runner(args, inputs)
    val ok = try r.run() finally r.stop()
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  def session(wl: Workload, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** Everything one measuring invocation does for one workload and seed:
  * set up [[Main.SetupReps]] times, warm up, time the workload's two
  * operations for `--seconds`, optionally trace one more pass layer by
  * layer, check every output, print the result.
  *
  * The two timed operations per workload:
  *  - osm_roundtrip: op1 = import (PBF to the 10 apidb parquet tables),
  *    op2 = export (the tables back to PBF)
  *  - page_join: op1 = join+tiles over the whole pages table, op2 = kNN
  *    over the leading slice */
final class Runner(args: Args, inputs: Inputs) {
  import Main._

  private val wl = inputs.wl
  private val work = new File(args.work).getAbsoluteFile
  private val runDir = new File(work, s"run-${ProcessHandle.current().pid()}")
  private val kind = wl.name

  // ---- failure accounting: every timed operation and every check ----
  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  private val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, ArrayBuffer.empty) += v

  /** Run one named operation; a throw (including OOM or a full disk) is
    * a failed operation, not a crash. Returns None on failure. */
  private def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val free = work.getUsableSpace
    if (free < (1L << 30)) {
      failures += s"$name: guard: only ${free >> 20} MB free disk"
      return None
    }
    try Some(body)
    catch {
      case e: OutOfMemoryError => failures += s"$name: out of memory: ${e.getMessage}"; None
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        log(s"FAILED $name: $e")
        None
    }
  }

  private def check(name: String)(cond: => Boolean): Unit =
    op(s"check.$name") {
      if (!cond) throw new IllegalStateException(s"output check $name failed")
    }

  private def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  // ---- session ----
  private val (spark: SparkSession, sessionS: Double) = time(session(wl, work))
  import spark.implicits._

  def stop(): Unit =
    try spark.stop() finally deleteTree(runDir)

  // ---- inputs ----
  private def aw: AdminWorld = inputs.admin
  private def batches = inputs.batches
  private def worldPbf = inputs.worldPbf
  private def oscPath(i: Int) = inputs.osc(i)
  private val expected: Map[String, Long] = inputs.expected
  private def expectedKinds: Map[Byte, Long] =
    expected.collect { case (k, v) if k.startsWith("kind.") => k.drop(5).toByte -> v }

  // ---- set-up. The repeated step is decoding the world PBF
  // (osm_roundtrip) or preparing the polygon side of the join
  // (page_join). page_join loads and builds its areas once before; a
  // traced osm_roundtrip run loads, builds and covers its areas (the base
  // state of the incremental batches) in every repetition, so the traced
  // last one runs warm ----
  private var snap: Dataset[OsmEntity] = _
  private var prepAreas: Dataset[AdminArea] = _
  private var baseCover: Dataset[CoverRowEx] = _
  private var prep: SpatialJoin.Prepared = _
  private def pagesDf: DataFrame = spark.read.parquet(inputs.pages)
  private def knnDf: DataFrame = spark.read.parquet(inputs.knnPages)

  private def buildAreas(tr: Option[Tracer]): Unit = {
    def sp[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    Seq(snap, prepAreas).filter(_ != null).foreach(_.unpersist())
    snap = sp("setup.load")(PbfRead.read(spark, worldPbf).localCheckpoint())
    prepAreas = sp("jobs.AdminAreas.build")(AdminAreas.build(spark, snap).localCheckpoint())
  }

  private def setupOnce(tr: Option[Tracer]): Unit = {
    def sp[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    if (kind == "page_join") {
      if (prep != null) Seq(prep.cover, prep.polygons, prep.centres).foreach(_.unpersist())
      prep = sp("jobs.SpatialJoin.prepare")(SpatialJoin.prepare(spark, prepAreas, Params))
    } else if (args.trace) {
      if (baseCover != null) baseCover.unpersist()
      buildAreas(tr)
      baseCover = sp("jobs.AdminAreas.cover")(
        AdminAreas.coverTableDetailed(spark, prepAreas, Params.coverMaxLevel).localCheckpoint())
    } else {
      // a standalone load probe: decode the whole PBF and keep nothing;
      // the import re-reads the file, so this is not on its path
      sp("setup.load")(PbfRead.read(spark, worldPbf).count())
    }
    spark.catalog.clearCache()
  }

  // ---- the operations ----
  private def apidbDir = new File(runDir, "apidb")
  private def exportPath = new File(runDir, "export.osm.pbf").getPath
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def importOnce(): Unit = {
    val db = Normalize.demux(PbfRead.read(spark, worldPbf))
    Tables.zip(Seq(db.nodes, db.nodeTags, db.ways, db.wayTags, db.wayNodes, db.relations,
      db.relationTags, db.relationMembers, db.users, db.changesets)).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(new File(apidbDir, t).getPath)
    }
  }
  private def readTables(): Normalize.ApiDb = {
    def t(n: String) = spark.read.parquet(new File(apidbDir, n).getPath)
    Normalize.ApiDb(t("nodes"), t("node_tags"), t("ways"), t("way_tags"), t("way_nodes"),
      t("relations"), t("relation_tags"), t("relation_members"), t("users"), t("changesets"))
  }
  private def exportOnce(): Unit =
    PbfWrite.write(spark, Normalize.reassemble(spark, readTables()), exportPath)

  private type State = (Dataset[OsmEntity], Dataset[AdminArea], Dataset[CoverRowEx])

  private def xorHash(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L))).head().getLong(0)

  private def joinOnce(): Long =
    xorHash(SpatialJoin.run(spark, pagesDf, prep, Params).tileCounts)

  private def knnOnce(): Array[(String, Long)] =
    SpatialJoin.knnCentres(spark, SpatialJoin.geoparsedPoints(knnDf), prep.centreIdx, Params)
      .select("url", "nn_relation_id").as[(String, Long)].collect()

  // results the checks read
  private val joinSums = ArrayBuffer.empty[Long]
  private val knnSums = ArrayBuffer.empty[Long]
  private var lastKnn: Array[(String, Long)] = Array.empty
  private var chain: Option[State] = None // incremental state after the traced batches

  /** One pass of the workload's operations; `record` keeps the timings. */
  private def pass(record: Boolean): Double = time {
    def timed[T](name: String, metric: String)(body: => T): Option[T] = {
      val r = op(name) {
        val (v, s) = time(body)
        if (record) sample(metric, s)
        v
      }
      spark.catalog.clearCache()
      r
    }
    kind match {
      case "osm_roundtrip" =>
        timed("import", "op1_s")(importOnce())
        timed("export", "op2_s")(exportOnce())
      case _ =>
        timed("join", "op1_s")(joinOnce()).foreach(joinSums += _)
        timed("knn", "op2_s")(knnOnce()).foreach { res =>
          lastKnn = res
          knnSums += res.foldLeft(0L) { case (h, (u, r)) => h ^ Rng.mix(u.hashCode.toLong * 31 + r) }
        }
    }
  }._2

  // ---- output checks ----
  private def checks(): Unit = {
    if (prepAreas != null) checkAreas(prepAreas)
    kind match {
      case "osm_roundtrip" =>
        for (t <- Tables) check(s"import.rows.$t") {
          val n = spark.read.parquet(new File(apidbDir, t).getPath).count()
          if (n != expected(s"table.$t")) log(s"table $t: $n rows, expected ${expected(s"table.$t")}")
          n == expected(s"table.$t")
        }
        check("export.kinds") {
          PbfRead.read(spark, exportPath).groupBy("kind").count().as[(Byte, Long)].collect().toMap ==
            expectedKinds
        }
        check("export.stream_equal") {
          val d = diffCountTraced.getOrElse(
            Normalize.diffCount(World.all(spark, aw), PbfRead.read(spark, exportPath)))
          if (d != 0) log(s"round trip: $d mismatching (kind, id, version) keys")
          d == 0
        }
        // the incremental areas and cover after the last batch equal a
        // full build and cover of the snapshot the batches produced
        if (args.trace) check("diff_apply.equals_full_rebuild") {
          chain.exists { case (s, a, c) =>
            val full = AdminAreas.build(spark, s).localCheckpoint()
            val fullCover = AdminAreas.coverTableDetailed(spark, full, Params.coverMaxLevel)
            def akey(x: AdminArea) = (x.relationId, x.adminLevel, x.name, x.rings, x.centreLat7,
              x.centreLon7, x.complete)
            def ckey(x: CoverRowEx) = (x.relationId, x.cell, x.full, x.cornerInside, x.fallback, x.edges)
            val areasEq = a.collect().map(akey).sortBy(_._1).toSeq ==
              full.collect().map(akey).sortBy(_._1).toSeq
            val coverEq = c.collect().map(ckey).sortBy(k => (k._1, k._2)).toSeq ==
              fullCover.collect().map(ckey).sortBy(k => (k._1, k._2)).toSeq
            if (!areasEq || !coverEq) log(s"incremental vs full: areas $areasEq, cover $coverEq")
            areasEq && coverEq
          }
        }
      case _ =>
        check("join.checksum_stable") {
          // identical on every pass, and across runs of this seed
          val sums = joinSums.distinct
          val f = new File(inputs.dir, "tiles.checksum")
          if (sums.size == 1 && !f.exists())
            Files.write(f.toPath, sums.head.toString.getBytes(StandardCharsets.UTF_8))
          sums.size == 1 && new String(Files.readAllBytes(f.toPath)).trim.toLong == sums.head
        }
        check("join.containment_oracle")(containmentOracle())
        check("knn.stable")(knnSums.distinct.size == 1)
        check("knn.nearest_oracle")(knnOracle())
    }
  }

  /** Built areas equal the generator's: level, name, completeness, ring
    * vertex sets and centres. */
  private def checkAreas(built: Dataset[AdminArea]): Unit = check("admin_build.truth") {
    val got = built.collect().map(x => x.relationId -> x).toMap
    def ringKey(r: Seq[Long]) = r.grouped(2).map(p => (p(0), p(1))).toVector.sorted
    def ringsKey(rs: Seq[Seq[Long]]) = rs.map(ringKey).sortBy(_.head)
    val bad = aw.areas.filter { t =>
      got.get(t.rel).forall { g =>
        g.adminLevel != t.level || g.name != t.name || g.complete != t.complete ||
          (t.complete && (ringsKey(g.rings) != ringsKey(t.rings.map(_.toSeq)) ||
            g.centreLat7 != t.centre.map(_._1) || g.centreLon7 != t.centre.map(_._2)))
      }
    }
    if (bad.nonEmpty) log(s"admin build: ${bad.size} areas differ, e.g. ${bad.head.name}")
    bad.isEmpty && got.size == aw.areas.size
  }

  /** Containment of every 200th page (of the first 400k) equals the
    * brute-force PIP oracle over the generator's rings. Points exactly on
    * an edge are ambiguous and skipped. */
  private def containmentOracle(): Boolean = {
    val truth = PagesGen.withTruth(spark, wl.world, args.seed, 0, math.min(wl.pages, 400000L), cores)
      .filter(col("id") % 200 === 0 && col("lat7").isNotNull)
      .select("url", "lat7", "lon7").as[(String, Long, Long)].collect()
    val complete = aw.areas.filter(_.complete)
    val ambiguous = scala.collection.mutable.Set.empty[String]
    val expectedPairs = (for {
      (u, la, lo) <- truth.toSeq
      t <- complete
      v = Oracle.pip(lo, la, t.rings)
      _ = if (v < 0) ambiguous += u
      if v == 1
    } yield (u, t.rel)).toSet.filterNot(p => ambiguous(p._1))
    val got = SpatialJoin.containmentJoin(spark,
        SpatialJoin.geoparsedPoints(pagesDf.join(truth.map(_._1).toSeq.toDF("url"), "url")),
        prep.cover, prep.polygons, Params, Some(prep.coverInfo))
      .select("url", "relation_id").as[(String, Long)].collect().toSet
      .filterNot(p => ambiguous(p._1))
    if (got != expectedPairs)
      log(s"containment: missing ${(expectedPairs -- got).take(3)} extra ${(got -- expectedPairs).take(3)}")
    got == expectedPairs && expectedPairs.nonEmpty
  }

  /** Every located page of the slice has a kNN answer, and every 10th
    * equals the brute-force nearest centre. */
  private def knnOracle(): Boolean = {
    val located = PagesGen.withTruth(spark, wl.world, args.seed, 0, wl.knnSlice, cores)
      .filter(col("lat7").isNotNull).select("id", "url", "lat7", "lon7")
      .as[(Long, String, Long, Long)].collect()
    val centres = aw.areas.filter(a => a.complete && a.centre.isDefined)
      .map(a => (a.rel, a.centre.get._1, a.centre.get._2))
    val got = lastKnn.toMap
    val sample = located.filter(_._1 % 10 == 0)
    val bad = sample.count { case (_, u, la, lo) =>
      !got.get(u).contains(Oracle.nearest(la, lo, centres))
    }
    if (bad > 0) log(s"knn: $bad of ${sample.length} sample pages differ from brute force")
    bad == 0 && sample.nonEmpty && got.size == located.length
  }

  // ---- the run ----
  def run(): Boolean = {
    // run.py grants at least -Xmx2g; under ParallelGC maxMemory() leaves
    // out one survivor space, so that heap reports 1963 MB
    val maxHeap = Runtime.getRuntime.maxMemory()
    if (maxHeap < MinHeapMb * 1048576L)
      failures += s"guard.heap: max heap ${maxHeap >> 20} MB, $MinHeapMb MB needed"
    if (work.getUsableSpace < (4L << 30))
      failures += s"guard.disk: ${work.getUsableSpace >> 20} MB free, 4096 MB needed"
    if (failures.nonEmpty) { attempted += 1; return report(Seq.empty) }
    runDir.mkdirs()
    val tracer =
      if (args.trace) Some(new Tracer(spark, s"${wl.name}-s${args.seed}-${ProcessHandle.current().pid()}"))
      else None
    if (kind == "page_join") {
      val (_, s) = time(buildAreas(tracer))
      log(f"load + areas build $s%.2f s")
    }
    // set-up, repeated; a traced run reports no setup_s, so it sets up
    // only twice: once cold, once warm and traced
    val reps = if (args.trace) 2 else SetupReps
    val setups = (0 until reps).map(i => time(setupOnce(if (i == reps - 1) tracer else None))._2)
    log(f"session $sessionS%.2f s, setups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    // warm-up for `--seconds` (at least one pass), then measure for
    // `--seconds` (at least MinPasses, so the number of samples does not
    // depend on whether a pass happened to end just before the limit)
    def passesFor(min: Int, record: Boolean): Seq[Double] = {
      val t0 = System.nanoTime()
      val walls = ArrayBuffer.empty[Double]
      while (walls.size < min || (System.nanoTime() - t0) / 1e9 < args.seconds)
        walls += pass(record)
      walls.toSeq
    }
    val warmWalls = passesFor(1, record = false)
    val warm = warmWalls.sum
    joinSums.clear(); knnSums.clear()
    val walls = passesFor(MinPasses, record = true)
    log(f"warm-up ${warmWalls.map(s => f"$s%.2f").mkString(" ")} s; ${walls.size} passes: " +
      walls.map(s => f"$s%.2f").mkString(" ") + " s")
    samples.foreach { case (k, v) => log(s"$k: n=${v.size} ${v.map(x => f"$x%.3f").mkString(" ")}") }
    def med(k: String) = median(samples.getOrElse(k, ArrayBuffer.empty[Double]).toSeq)
    val metrics: Seq[(String, (Double, String))] = tracer match {
      case None =>
        Seq("setup_s" -> (median(setups), "s"),
          "op1_s" -> (med("op1_s"), "s"),
          "op2_s" -> (med("op2_s"), "s"))
      case Some(tr) => tracedPass(tr, median(walls.toSeq), warm)
    }
    checks()
    report(metrics)
  }

  private def report(metrics: Seq[(String, (Double, String))]): Boolean = {
    failures.foreach(f => log(s"failure: $f"))
    val ok = failures.isEmpty
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": ${failures.size}, "metrics": {${ms.mkString(", ")}}}""")
    ok
  }

  // ---- the traced pass ----
  private var diffCountTraced: Option[Long] = None

  /** One more pass of the workload's operations with every layer
    * boundary forced (a noop-sink write, a count or a checkpoint) inside
    * a span. Lazy chains are timed as cumulative prefixes (scan,
    * +geoparse, +containment, +tiles), so a layer's cost is the
    * difference of consecutive prefixes; eager steps (checkpointed
    * builds, batches) are timed as they are. Layers the workload does
    * not call report 0. */
  private def tracedPass(tr: Tracer, untracedPass: Double, warm: Double): Seq[(String, (Double, String))] = {
    var entities, points, matches, knnPoints = 0L
    val touched = ArrayBuffer.empty[(Long, Long)] // (touched, areas before)
    tr.span("pass") {
      kind match {
        case "osm_roundtrip" =>
          tr.span("op.import") {
            entities = tr.span("pbf.read")(PbfRead.read(spark, worldPbf).count())
            tr.span("norm.demux")(importOnce())
          }
          spark.catalog.clearCache()
          tr.span("op.export") {
            tr.span("norm.reassemble")(noop(Normalize.reassemble(spark, readTables()).toDF()))
            tr.span("pbf.write")(exportOnce())
          }
          spark.catalog.clearCache()
          var st: State = (snap, prepAreas, baseCover)
          for (i <- batches.indices) tr.span("op.diff_apply") {
            val (s, a, c) = st
            val d = tr.span("streaming.osc_read")(OscRead.read(spark, oscPath(i)).localCheckpoint())
            val nx = tr.span("streaming.apply_diffs")(Replication.applyDiffs(spark, s, d).localCheckpoint())
            touched += ((tr.span("jobs.AdminAreas.incremental.touch")(
              AdminAreas.touchedRelations(spark, s, nx, d).count()), a.count()))
            val (r, a2) = tr.span("jobs.AdminAreas.incremental.update") {
              val r = AdminAreas.incrementalUpdate(spark, s, a, d)
              (r, r.areas.localCheckpoint())
            }
            val c2 = tr.span("jobs.AdminAreas.incremental.cover")(AdminAreas.incrementalCover(spark, c,
              r.rebuilt, r.touched, Params.coverMaxLevel).localCheckpoint())
            st = (r.snapshot, a2, c2)
            spark.catalog.clearCache()
          }
          chain = Some(st)
        case _ =>
          tr.span("op.join") {
            tr.span("jobs.SpatialJoin.scan")(noop(pagesDf.select("url", "text")))
            points = tr.span("expr.geoparse")(SpatialJoin.geoparsedPoints(pagesDf).count())
            matches = tr.span("jobs.SpatialJoin.containment")(SpatialJoin.containmentJoin(spark,
              SpatialJoin.geoparsedPoints(pagesDf), prep.cover, prep.polygons, Params,
              Some(prep.coverInfo)).count())
            joinSums += tr.span("jobs.SpatialJoin.tiles")(joinOnce())
          }
          tr.span("op.knn") {
            knnPoints = tr.span("jobs.SpatialJoin.knn.geoparse")(
              SpatialJoin.geoparsedPoints(knnDf).count())
            lastKnn = tr.span("jobs.SpatialJoin.knn")(knnOnce())
          }
      }
    }
    if (kind == "osm_roundtrip")
      diffCountTraced = Some(tr.span("norm.diff")(
        Normalize.diffCount(World.all(spark, aw), PbfRead.read(spark, exportPath))))
    tr.close()

    // ---- layers: spans, and differences of cumulative prefixes ----
    final case class Layer(wall: Double, c: Counts) {
      def -(o: Layer): Layer = Layer(wall - o.wall, c - o.c)
      def +(o: Layer): Layer = Layer(wall + o.wall, c + o.c)
      def /(n: Double): Layer = Layer(wall / n, Counts(math.round(c.jobs / n), math.round(c.tasks / n),
        math.round(c.taskMs / n), math.round(c.cpuNs / n), math.round(c.gcMs / n),
        math.round(c.shuffleBytes / n), math.round(c.fetchWaitMs / n), math.round(c.spillBytes / n)))
    }
    def all(n: String) = tr.spans.filter(_.name == n).toSeq
    def one(n: String) = all(n).map(x => Layer(x.wallS, x.counts)).foldLeft(Layer(0, Counts.Zero))(_ + _)
    val nb = math.max(1, all("op.diff_apply").size).toDouble
    val upd = one("jobs.AdminAreas.incremental.update")
    val incCover = one("jobs.AdminAreas.incremental.cover")
    val apply = one("streaming.apply_diffs")
    val touch = one("jobs.AdminAreas.incremental.touch")
    val layers = LinkedHashMap[String, Layer](
      "pbf.read" -> one("pbf.read"),
      "norm.demux" -> (one("norm.demux") - one("pbf.read")),
      "norm.reassemble" -> one("norm.reassemble"),
      "pbf.write" -> (one("pbf.write") - one("norm.reassemble")),
      // build, cover and prepare run in the traced set-up
      "jobs.AdminAreas.build" -> one("jobs.AdminAreas.build"),
      "jobs.AdminAreas.cover" -> one("jobs.AdminAreas.cover"),
      "streaming.osc_read" -> one("streaming.osc_read") / nb,
      "streaming.apply_diffs" -> apply / nb,
      // the update runs its own apply and touch probe internally: the
      // apply share is the apply layer's, the touch share stays here
      "jobs.AdminAreas.incremental" -> (upd + incCover - apply) / nb,
      "jobs.SpatialJoin.prepare" -> one("jobs.SpatialJoin.prepare"),
      "jobs.SpatialJoin.scan" -> one("jobs.SpatialJoin.scan"),
      "expr.geoparse" -> (one("expr.geoparse") - one("jobs.SpatialJoin.scan")),
      "jobs.SpatialJoin.containment" -> (one("jobs.SpatialJoin.containment") - one("expr.geoparse")),
      "jobs.SpatialJoin.tiles" -> (one("jobs.SpatialJoin.tiles") - one("jobs.SpatialJoin.containment")),
      "jobs.SpatialJoin.knn" -> (one("jobs.SpatialJoin.knn") - one("jobs.SpatialJoin.knn.geoparse")))
    val m = ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = m += (k -> (v, u))
    // share of the core-time in `l`'s wall that its tasks left unused
    def idle(l: Layer): Double =
      if (l.wall <= 0) 0.0 else math.max(0.0, math.min(1.0, 1.0 - l.c.taskMs / 1000.0 / (l.wall * cores)))
    for ((n, l) <- layers) {
      put(s"$n.wall_s", l.wall, "s")
      put(s"$n.cpu_s", l.c.cpuNs / 1e9, "s")
      put(s"$n.jobs", l.c.jobs.toDouble, "count")
      put(s"$n.tasks", l.c.tasks.toDouble, "count")
      put(s"$n.shuffle_mb", l.c.shuffleBytes / 1048576.0, "MB")
      put(s"$n.idle_frac", idle(l), "ratio")
    }
    val roundtrip = kind == "osm_roundtrip"
    // the whole timed operations: the last prefix of each lazy chain is
    // the untraced operation's own call
    val (op1, op2) = if (roundtrip) ("norm.demux", "pbf.write") else ("jobs.SpatialJoin.tiles", "jobs.SpatialJoin.knn")
    put("op1.idle_frac", idle(one(op1)), "ratio")
    put("op2.idle_frac", idle(one(op2)), "ratio")
    val inBytes = if (roundtrip) new File(worldPbf).length().toDouble else 0.0
    val outBytes = if (roundtrip) dirBytes(new File(exportPath)).toDouble else 0.0
    put("pbf.read.frames", if (roundtrip) PbfRead.scanFrames(spark, worldPbf)
      .count(_.blobType == "OSMData").toDouble else 0.0, "count")
    put("pbf.read.mb", inBytes / 1048576.0, "MB")
    put("pbf.read.entities", entities.toDouble, "count")
    put("pbf.write.mb", outBytes / 1048576.0, "MB")
    put("pbf.write.out_in_ratio", ratio(outBytes, inBytes), "ratio")
    put("norm.demux.rows_out", if (roundtrip) Tables.map(t =>
      spark.read.parquet(new File(apidbDir, t).getPath).count()).sum.toDouble else 0.0, "count")
    put("norm.demux.parquet_mb", if (roundtrip) dirBytes(apidbDir) / 1048576.0 else 0.0, "MB")
    put("norm.diff.wall_s", one("norm.diff").wall, "s")
    val nAreas = prepAreas.count()
    put("jobs.AdminAreas.build.relations", nAreas.toDouble, "count")
    put("jobs.AdminAreas.build.complete_frac", ratio(prepAreas.filter(_.complete).count(), nAreas), "ratio")
    val cover = if (prep != null) prep.cover else baseCover
    val coverRows = cover.count()
    put("jobs.AdminAreas.cover.rows", coverRows.toDouble, "count")
    put("jobs.AdminAreas.cover.fallback_frac", ratio(cover.filter(_.fallback).count(), coverRows), "ratio")
    put("jobs.AdminAreas.incremental.touched", touched.map(_._1).sum / nb, "count")
    put("jobs.AdminAreas.incremental.rebuilt_frac", touched.map(t => ratio(t._1, t._2)).sum / nb, "ratio")
    put("jobs.AdminAreas.incremental.batch_jobs", (upd + incCover).c.jobs / nb, "count")
    put("jobs.AdminAreas.incremental.touch_s", touch.wall / nb, "s")
    put("jobs.AdminAreas.incremental.rebuild_s", (upd.wall - apply.wall - touch.wall) / nb, "s")
    put("jobs.AdminAreas.incremental.cover_s", incCover.wall / nb, "s")
    put("expr.geoparse.hit_frac", ratio(points, wl.pages), "ratio")
    // the refine runs as the cover join's condition, so pre-refine
    // candidates are no plan metric; the probes (one per point and cover
    // level) that enter the join are
    val probes = Plans.generateRows(all("jobs.SpatialJoin.containment").flatMap(_.plans), "jcell").toDouble
    put("jobs.SpatialJoin.containment.probes_per_point", ratio(probes, points), "ratio")
    put("jobs.SpatialJoin.containment.matches_per_probe", ratio(matches, probes), "ratio")
    put("jobs.SpatialJoin.containment.matches_per_point", ratio(matches, points), "ratio")
    put("jobs.SpatialJoin.tiles.rows",
      if (kind == "page_join") SpatialJoin.run(spark, pagesDf, prep, Params).tileCounts.count().toDouble
      else 0.0, "count")
    val knnPlans = all("jobs.SpatialJoin.knn").flatMap(_.plans)
    val indexPath = Option(prep).exists(_.centreIdx.nCentres > Params.knnDenseMaxCentres)
    put("jobs.SpatialJoin.knn.path", if (indexPath) 1.0 else 0.0, "count")
    put("jobs.SpatialJoin.knn.probe_rows_per_point",
      if (prep == null) 0.0
      else if (indexPath) ratio(Plans.joinRows(knnPlans, Set("kcell", "dcell")), knnPoints)
      else prep.centreIdx.nCentres.toDouble, "ratio")
    put("jobs.SpatialJoin.knn.fallback_frac",
      if (indexPath) ratio(Plans.filterRows(knnPlans, "d2found IS NULL"), knnPoints) else 0.0, "ratio")
    // tracing overhead: the traced form of the untraced pass's two
    // operations (the batches run only in the traced pass)
    val ps = all("pass").head
    val tracedOps = Seq("op.import", "op.export", "op.join", "op.knn").map(n => one(n).wall).sum
    put("trace.traced_pass_s", tracedOps, "s")
    put("trace.untraced_pass_s", untracedPass, "s")
    put("trace.overhead_frac", tracedOps / untracedPass - 1.0, "ratio")
    // how much of the timed operations the layers account for: an
    // operation is its last prefix (lazy chains) or its span without the
    // diagnostic apply and touch re-runs (batches)
    val opWall = Seq("norm.demux", "pbf.write", "jobs.SpatialJoin.tiles", "jobs.SpatialJoin.knn")
      .map(n => one(n).wall).sum + one("op.diff_apply").wall - apply.wall - touch.wall
    val layerWall = Seq("pbf.read", "norm.demux", "norm.reassemble", "pbf.write", "jobs.SpatialJoin.scan",
      "expr.geoparse", "jobs.SpatialJoin.containment", "jobs.SpatialJoin.tiles", "jobs.SpatialJoin.knn")
      .map(n => layers(n).wall).sum + one("jobs.SpatialJoin.knn.geoparse").wall +
      Seq("streaming.osc_read", "streaming.apply_diffs", "jobs.AdminAreas.incremental")
        .map(n => layers(n).wall * nb).sum
    put("trace.self_cover_frac", ratio(layerWall, opWall), "ratio")
    put("setup.session_s", sessionS, "s")
    put("setup.warmup_s", warm, "s")
    put("run.gc_s", ps.counts.gcMs / 1000.0, "s")
    put("run.spill_mb", ps.counts.spillBytes / 1048576.0, "MB")
    put("run.fetch_wait_s", ps.counts.fetchWaitMs / 1000.0, "s")
    writeTrace(tr, layers.toSeq.map { case (k, l) => k -> (l.wall, l.c) }, m.toSeq)
    m.toSeq
  }

  /** Spans, layers and metrics of the traced pass as one JSON file. */
  private def writeTrace(tr: Tracer, layers: Seq[(String, (Double, Counts))],
      metrics: Seq[(String, (Double, String))]): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def counts(c: Counts) =
      s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "task_s": ${c.taskMs / 1000.0}, "cpu_s": ${c.cpuNs / 1e9}, "gc_s": ${c.gcMs / 1000.0}, "shuffle_mb": ${c.shuffleBytes / 1048576.0}, "fetch_wait_s": ${c.fetchWaitMs / 1000.0}, "spill_mb": ${c.spillBytes / 1048576.0}"""
    val spans = tr.spans.sortBy(_.id).map { s =>
      s"""    {"run_id": "${tr.runId}", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_s": ${(s.startNs - tr.t0) / 1e9}, "end_s": ${(s.endNs - tr.t0) / 1e9}, "wall_s": ${s.wallS}, "self_s": ${tr.selfS(s)}, ${counts(s.counts)}}"""
    }
    val ls = layers.map { case (n, (w, c)) => s"""    "$n": {"wall_s": ${num(w)}, ${counts(c)}}""" }
    val ms = metrics.map { case (k, (v, u)) => s"""    "$k": {"value": ${num(v)}, "unit": "$u"}""" }
    val nl = "\n"
    val json = s"""{$nl  "run_id": "${tr.runId}",$nl  "workload": "${wl.name}",$nl  "seed": ${args.seed},$nl""" +
      s"""  "spans": [$nl${spans.mkString("," + nl)}$nl  ],$nl  "layers": {$nl${ls.mkString("," + nl)}$nl  },$nl""" +
      s"""  "metrics": {$nl${ms.mkString("," + nl)}$nl  }$nl}$nl"""
    val f = new File(work, s"trace-${wl.name}-s${args.seed}.json")
    Files.write(f.toPath, json.getBytes(StandardCharsets.UTF_8))
    log(s"trace written to $f")
  }
}
