package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, shiftright}

import graft.operators.Pins

/** Full cube construction — the analogue of `hisscube.py <in> <out>
  * create` (reference §3.1 builder list: metadata-cache → metadata →
  * data → link → visualization → ml-cube). In Spark the phases are five
  * DataFrame jobs over one shared ingest; ordering is only
  * data-dependency, not hand-scheduling.
  *
  * Usage: BuildCube <spectraDir> <imagesDir> <ccdConfigDir> <outDir>
  *
  * Output layout (the 100 TB layout in miniature):
  *   out/spectra/zoom=Z/...   parquet, range-sorted by healpix
  *   out/images/zoom=Z/...
  *   out/cutout_links/zoom=Z/...
  *   out/ml_cube/zoom=Z/...
  *   out/viz_cube/zoom=Z/...  range-sorted by heal_id (V3 read path)
  */
object BuildCube {

  final case class Summary(
      spectra: Long, images: Long, links: Long, mlRows: Long, vizRows: Long)

  def build(
      spark: SparkSession,
      spectraDir: String, imagesDir: String, ccdConfigDir: String,
      outDir: String): Summary = Pins.scope {

    val spectra = Pins.cache(Ingest.spectra(spark, spectraDir))
    val images = Pins.cache(Ingest.images(spark, imagesDir, ccdConfigDir))

    Ingest.writeSorted(spectra, s"$outDir/spectra")
    Ingest.writeSorted(images, s"$outDir/images")

    val links = Pins.cache(Link.linkCutouts(spectra, images))
    links.toDF().write.mode(SaveMode.Overwrite)
      .partitionBy("zoom").parquet(s"$outDir/cutout_links")

    val ml = Pins.cache(MlCube.build(spectra, links, images))
    // (zoom, spatial-bucket) partitioning so the incremental update phase
    // (UpdateCube) can dynamic-overwrite only the buckets it re-stacks
    ml.toDF()
      .withColumn("bucket", shiftright(col("target_healpix"), UpdateCube.BucketShift))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("zoom", "bucket").parquet(s"$outDir/ml_cube")

    val viz = Pins.cache(VizCube.build(spectra, links, images))
    viz.toDF()
      .repartitionByRange(col("zoom"), col("heal_id"))
      .sortWithinPartitions("zoom", "heal_id")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("zoom").parquet(s"$outDir/viz_cube")

    // counts from the cached datasets: an all-empty phase (e.g. zero
    // spatial overlap) writes a schemaless empty dir that can't be re-read
    Summary(
      spectra.count(), images.count(), links.count(), ml.count(), viz.count())
  }

  /** V3 read path: one zoom level of the dense visualization cube —
    * partition-pruned by the `zoom=` directory, row-group-pruned on
    * heal_id ranges. */
  def readVizAtZoom(spark: SparkSession, outDir: String, zoom: Int) =
    spark.read.parquet(s"$outDir/viz_cube").where(col("zoom") === zoom)

  /** §3.3 ML read path — `MLProcessor.get_spectrum_3d_cube(conn, zoom)`
    * parity (`cube_ml.py:11-12`, `tests/test_export.py:94-99`): one zoom
    * of the ML cube as the reference's four dense arrays — image cube
    * (bands × h × w), image errors, spectral cube, spectral errors — one
    * row per target, partition-pruned by the `zoom=` directory. */
  def readMlAtZoom(spark: SparkSession, outDir: String, zoom: Int) = {
    import org.apache.spark.sql.functions.transform
    spark.read.parquet(s"$outDir/ml_cube").where(col("zoom") === zoom)
      .select(col("target_healpix"),
        transform(col("cutouts"), c => c.getField("flux")).as("image_cube"),
        transform(col("cutouts"), c => c.getField("sigma")).as("image_errors"),
        col("spec_flux").as("spectral_cube"),
        col("spec_sigma").as("spectral_errors"),
        col("n_spectra"), col("spec_ids"), col("image_ids"))
  }

  def main(args: Array[String]): Unit = {
    val Array(spectraDir, imagesDir, ccdConfigDir, outDir) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = build(spark, spectraDir, imagesDir, ccdConfigDir, outDir)
    println(s"""{"spectra":${s.spectra},"images":${s.images},"links":${s.links},"ml_rows":${s.mlRows},"viz_rows":${s.vizRows}}""")
    spark.stop()
  }
}
