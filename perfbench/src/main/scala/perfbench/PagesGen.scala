package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded Common-Crawl-shaped pages table (url, warc_ts, html, text,
  * lang) over a world's extent, built from `spark.range` with codegen'd
  * builtins only, so (seed, id) fixes every byte at any parallelism.
  *
  * The shares are those of the engine's own `graft.synth.Pages`: 70% of
  * the pages mention a coordinate inside the admin grid, 20% one far
  * outside it (open sea: the kNN fallback probe) and 10% none. Of the
  * in-grid 70%, 25 percentage points fall in a hot region (1/10 x 1/10
  * of the grid, so a few cover cells carry a quarter of the pages) and 45
  * are uniform over the grid. The hot region's share and size are
  * arbitrary: they only make the load uneven, and no measured page
  * distribution backs them. The generator's own coordinates stay
  * available as `lat7`/`lon7` in [[withTruth]] for the oracles. */
object PagesGen {

  private def h(seed: Long, k: Int): Column = abs(xxhash64(col("id"), lit(seed * 131L + k)))

  private def fp7(c: Column): Column = concat(
    when(c < 0, "-").otherwise(""),
    floor(abs(c) / 10000000L).cast("long").cast("string"),
    lit("."),
    lpad(pmod(abs(c), lit(10000000L)).cast("string"), 7, "0"))

  /** Rows [from, until) with the truth columns id, lat7, lon7 (null when
    * the page mentions no coordinate) next to the page columns. */
  def withTruth(spark: SparkSession, spec: WorldSpec, seed: Long,
      from: Long, until: Long, partitions: Int): DataFrame = {
    val w = spec.lonHi - spec.lon0
    val ht = spec.latHi - spec.lat0
    val hotLon = spec.lon0 + w / 5 + Rng.below(seed, 60, 0, 3 * w / 5)
    val hotLat = spec.lat0 + ht / 5 + Rng.below(seed, 61, 0, 3 * ht / 5)
    val bucket = pmod(h(seed, 1), lit(100))
    spark.range(from, until, 1, partitions)
      .withColumn("bucket", bucket)
      .withColumn("lat7",
        when(col("bucket") < 10, lit(null).cast("long"))
          .when(col("bucket") < 30, lit(300000000L) + pmod(h(seed, 2), lit(300000000L)))
          .when(col("bucket") < 55, lit(hotLat) + pmod(h(seed, 3), lit(ht / 10)))
          .otherwise(lit(spec.lat0) + pmod(h(seed, 4), lit(ht))))
      .withColumn("lon7",
        when(col("bucket") < 10, lit(null).cast("long"))
          .when(col("bucket") < 30, lit(-150000000L) + pmod(h(seed, 5), lit(120000000L)))
          .when(col("bucket") < 55, lit(hotLon) + pmod(h(seed, 6), lit(w / 10)))
          .otherwise(lit(spec.lon0) + pmod(h(seed, 7), lit(w))))
      .withColumn("fmt", pmod(h(seed, 8), lit(3)))
      .select(col("id"), col("lat7"), col("lon7"),
        concat(lit(s"https://example.test/s$seed/p/"), col("id")).as("url"),
        timestamp_seconds(lit(1700000000L) + pmod(h(seed, 9), lit(31536000L))).as("warc_ts"),
        concat(lit("<html><body>page-"), col("id"), lit("-"),
          repeat(lit("x"), 64), lit("</body></html>")).cast("binary").as("html"),
        when(col("lat7").isNull,
          concat(lit("Page "), col("id"), lit(" has no location mention at all.")))
          .when(col("fmt") === 0,
            concat(lit("Page "), col("id"), lit(" is located at "),
              fp7(col("lat7")), lit(", "), fp7(col("lon7")), lit(" in the town.")))
          .when(col("fmt") === 1,
            concat(lit("Geo: lat="), fp7(col("lat7")), lit(" lon="), fp7(col("lon7")),
              lit(" for page "), col("id"), lit(".")))
          .otherwise(
            concat(lit("Visit "), fp7(col("lat7")), lit("; "), fp7(col("lon7")),
              lit(" says page "), col("id"), lit(".")))
          .as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr")),
          (pmod(h(seed, 10), lit(3)) + 1).cast("int")).as("lang"))
  }

  /** Write rows [0, n) as the pages table, in at least `files` parquet
    * files so a scan of it runs on every core. */
  def write(spark: SparkSession, spec: WorldSpec, seed: Long, n: Long, path: String, files: Int): Unit =
    withTruth(spark, spec, seed, 0, n, math.max(files, (n / 500000L).toInt))
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(path)
}
