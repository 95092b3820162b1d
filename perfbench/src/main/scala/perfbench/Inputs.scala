package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.OsmKind
import graft.pbf.PbfWrite

/** The inputs of one (workload, seed): a function of both, generated
  * once into `work/inputs/<key>` and reused by every later run with the
  * same seed and sizes. Generation runs in its own JVM (see run.py), so
  * the measuring JVM starts in the same state whether or not the inputs
  * were cached. */
final class Inputs(work: File, val wl: Workload, val seed: Long) {
  lazy val admin: AdminWorld = World.admin(wl.world, seed)
  lazy val batches: Vector[Osc.Batch] = Osc.batches(admin, wl.batches)

  val dir: File = {
    val w = wl.world
    new File(new File(work, "inputs"), s"${wl.name}-s$seed-g${w.gx}x${w.gy}x${w.seg}c${w.cell7}" +
      s"-b${w.bulkNodes}-p${wl.pages}-k${wl.knnSlice}-d${wl.batches}")
  }
  private def in(name: String): String = new File(dir, name).getPath
  def worldPbf: String = in("world.osm.pbf")
  def pages: String = in("pages")
  def knnPages: String = in("knn_pages")
  def osc(i: Int): String = in(f"osc/batch-$i%02d.osc")
  private val meta = new File(dir, "meta.txt")
  def ready: Boolean = meta.exists()

  /** Counts the generator knows: `kind.<k>` entity rows per kind and,
    * for the round trip, `table.<t>` rows per apidb table. */
  def expected: Map[String, Long] =
    new String(Files.readAllBytes(meta.toPath), StandardCharsets.UTF_8).split("\n")
      .map(_.split("=", 2)).map(a => a(0) -> a(1).toLong).toMap

  def generate(spark: SparkSession, cores: Int): Unit = {
    import spark.implicits._
    // keep the cache bounded: the newest few input sets only
    val root = dir.getParentFile
    root.mkdirs()
    Option(root.listFiles()).getOrElse(Array.empty[File]).sortBy(-_.lastModified()).drop(48)
      .foreach(Main.deleteTree)
    Main.deleteTree(dir)
    dir.mkdirs()
    val world = World.all(spark, admin).localCheckpoint()
    PbfWrite.write(spark, world, worldPbf, partitions = cores, singleFile = true)
    val counts = LinkedHashMap.empty[String, Long]
    for ((k, n) <- world.groupBy("kind").count().as[(Byte, Long)].collect())
      counts(s"kind.$k") = n
    if (wl.name == "osm_roundtrip") {
      // the row count each apidb table must have after an import
      val r = world.select(
        sum(when(col("kind") === OsmKind.Node, 1L).otherwise(0L)),
        sum(when(col("kind") === OsmKind.Node, size(col("tags"))).otherwise(0)).cast("long"),
        sum(when(col("kind") === OsmKind.Way, 1L).otherwise(0L)),
        sum(when(col("kind") === OsmKind.Way, size(col("tags"))).otherwise(0)).cast("long"),
        sum(size(col("refs"))).cast("long"),
        sum(when(col("kind") === OsmKind.Relation, 1L).otherwise(0L)),
        sum(when(col("kind") === OsmKind.Relation, size(col("tags"))).otherwise(0)).cast("long"),
        sum(size(col("members"))).cast("long"),
        countDistinct(col("uid")), countDistinct(col("changeset"))).head()
      Main.Tables.zipWithIndex.foreach { case (t, i) => counts(s"table.$t") = r.getLong(i) }
    }
    if (wl.pages > 0) {
      PagesGen.write(spark, wl.world, seed, wl.pages, pages, cores)
      PagesGen.write(spark, wl.world, seed, wl.knnSlice, knnPages, 1)
    }
    if (batches.nonEmpty) new File(dir, "osc").mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      Files.write(new File(osc(i)).toPath, b.xml.getBytes(StandardCharsets.UTF_8))
    }
    // written last: its presence marks a complete input set
    Files.write(meta.toPath, counts.map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
