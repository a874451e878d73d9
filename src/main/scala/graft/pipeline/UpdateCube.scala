package graft.pipeline

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pins

/** Incremental update — the analogue of `hisscube.py update`
  * (`hisscube.py:18-80`, `builders_parallel.py`): bring NEW spectra into
  * an existing cube without a from-scratch rebuild. Where the reference
  * deletes and recreates whole HDF5 groups, the Spark-native shape is:
  *
  *  - `spectra`, `cutout_links`, `viz_cube`: per-observation tables →
  *    pure APPEND (a new spectrum adds its own rows and links; nothing
  *    existing changes).
  *  - `ml_cube`: per-target STACKS change when a target gains a spectrum
  *    → re-stack ONLY the affected targets and rewrite only the spatial
  *    buckets that contain them (dynamic partition overwrite on
  *    (zoom, bucket)); every other bucket's files are untouched.
  *
  * At 100 TB this touches O(new data) + O(affected buckets), not the
  * cube: an update of one plate re-reads a few order-3 supercells.
  */
object UpdateCube {

  /** order-15 target healpix → order-3 supercell (2 bits per order). */
  val BucketShift: Int = 2 * (Ingest.SpecHealOrder - 3)

  final case class UpdateSummary(
      newSpectra: Long, newLinks: Long, affectedTargets: Long,
      mlRowsRewritten: Long, vizRowsAppended: Long)

  /** Append `newSpectraDir`'s spectra to the cube at `outDir` and
    * re-stack affected targets. Equivalent to a full rebuild over the
    * union of old and new inputs (asserted in UpdateSpec). */
  def update(
      spark: SparkSession, outDir: String, newSpectraDir: String): UpdateSummary =
    updateWith(spark, outDir, Ingest.spectra(spark, newSpectraDir))

  /** Same, over an already-decoded batch of new spectra — the
    * `foreachBatch` entry the streaming ingest drives
    * ([[graft.streaming.ObservationStream.updateStream]]). */
  def updateWith(
      spark: SparkSession, outDir: String,
      newSpecsIn: Dataset[SpectrumObs]): UpdateSummary = Pins.scope {
    val incoming = Pins.cache(newSpecsIn)
    if (incoming.isEmpty) UpdateSummary(0, 0, 0, 0, 0)
    else updateNonEmpty(spark, outDir, incoming)
  }

  private def updateNonEmpty(
      spark: SparkSession, outDir: String,
      incoming: Dataset[SpectrumObs]): UpdateSummary = {
    import spark.implicits._

    // CONVERGENT RETRY DESIGN: the multi-step sequence (append spectra →
    // append links → overwrite ML buckets → append viz) is not atomic,
    // and a transactional table format is out of scope — so instead each
    // table derives its own missing-work set from the INCOMING batch.
    // Re-running the same update after a failure at ANY step completes
    // exactly the remaining steps; re-running a completed update is a
    // no-op. (A single up-front "new spectra" filter would do the
    // opposite: after a mid-sequence failure the already-appended spectra
    // would vanish from the batch and the unfinished ML/viz steps would
    // be skipped forever.) Every probe is a pruned single-column read of
    // the zoom=0 partition.
    val images = spark.read.parquet(s"$outDir/images").as[ImageObs]

    // 1. spectra: append only observations not already present
    val existingSpecIds = spark.read.parquet(s"$outDir/spectra")
      .where(col("zoom") === 0).select(col("spec_id")).distinct()
    val newSpecs = incoming.toDF()
      .join(existingSpecIds, Seq("spec_id"), "left_anti")
      .as[SpectrumObs].transform(Pins.cache)
    val nNewSpectra = newSpecs.count()
    if (nNewSpectra > 0)
      newSpecs.toDF().write.mode(SaveMode.Append)
        .partitionBy("zoom").parquet(s"$outDir/spectra")

    // 2. links: link the incoming spectra that have no links yet (links
    // are per-spectrum → pure append)
    val linkedIds = spark.read.parquet(s"$outDir/cutout_links")
      .where(col("zoom") === 0).select(col("spec_id")).distinct()
    val unlinked = incoming.toDF()
      .join(linkedIds, Seq("spec_id"), "left_anti")
      .as[SpectrumObs]
    val newLinks = Pins.cache(Link.linkCutouts(unlinked, images))
    val nNewLinks = newLinks.count()
    if (nNewLinks > 0)
      newLinks.toDF().write.mode(SaveMode.Append)
        .partitionBy("zoom").parquet(s"$outDir/cutout_links")

    // 3. affected targets: cells touched by the INCOMING batch whose
    // stored stack is STALE — stored n_spectra (zoom 0) differs from the
    // spectra-table count (or the target has no stack yet). A completed
    // update re-runs as a no-op; a half-applied one converges.
    val touched = incoming.toDF().where(col("zoom") === 0)
      .select(col("healpix").as("affected_healpix")).distinct()
    val allSpectra = spark.read.parquet(s"$outDir/spectra").as[SpectrumObs]
    val expected = allSpectra.toDF().where(col("zoom") === 0)
      .join(broadcast(touched), col("healpix") === col("affected_healpix"))
      .groupBy(col("affected_healpix")).agg(count(lit(1)).as("expected_n"))
    val stored = spark.read.parquet(s"$outDir/ml_cube")
      .where(col("zoom") === 0)
      .select(col("target_healpix"), col("n_spectra"))
    val affected = expected
      .join(stored, col("affected_healpix") === col("target_healpix"), "left")
      .filter(col("n_spectra").isNull || col("n_spectra") =!= col("expected_n"))
      .select(col("affected_healpix")).transform(Pins.cache)
    val nAffected = affected.count()

    // 4.+5. re-stack stale targets from the UPDATED tables and rewrite
    // only their (zoom, bucket) partitions
    var mlRowCount = 0L
    if (nAffected > 0) {
      val affectedBuckets = affected
        .select(shiftright(col("affected_healpix"), BucketShift).as("bucket")).distinct()
      val affectedSpectra = allSpectra.toDF()
        .join(broadcast(affected), col("healpix") === col("affected_healpix"))
        .drop("affected_healpix")
        .as[SpectrumObs]
      val affectedSpecIds = affectedSpectra.toDF().where(col("zoom") === 0)
        .select(col("spec_id").as("a_spec_id")).distinct()
      val allLinks = spark.read.parquet(s"$outDir/cutout_links").as[CutoutLink]
      val affectedLinks = allLinks.toDF()
        .join(broadcast(affectedSpecIds), col("spec_id") === col("a_spec_id"))
        .drop("a_spec_id")
        .as[CutoutLink]
      val mlNew = MlCube.build(affectedSpectra, affectedLinks, images)

      // surviving rows of the affected buckets (unaffected targets) +
      // the re-stacked rows
      val oldMl = spark.read.parquet(s"$outDir/ml_cube")
        .join(broadcast(affectedBuckets), Seq("bucket"), "left_semi")
        .join(broadcast(affected),
          col("target_healpix") === col("affected_healpix"), "left_anti")
      // materialization BARRIER: the dynamic overwrite below deletes
      // partition files this plan reads, so the union is pinned with
      // localCheckpoint — the write job's plan becomes a scan of already-
      // materialized blocks with its file lineage cut. (cache() was not a
      // barrier: an evicted block would recompute mid-write and re-read
      // files the overwrite is deleting.) The scope frees it on return.
      val mlRewrite = oldMl.unionByName(
        mlNew.toDF().withColumn("bucket", shiftright(col("target_healpix"), BucketShift)))
        .transform(Pins.pin(_, eager = true))
      require(!mlRewrite.queryExecution.executedPlan.toString.contains("ml_cube"),
        "ml_cube rewrite plan must not read the path being overwritten")
      mlRowCount = mlRewrite.count()
      val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        mlRewrite
          .write.mode(SaveMode.Overwrite)
          .partitionBy("zoom", "bucket").parquet(s"$outDir/ml_cube")
      finally prevMode match {
        case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }

    // 6. viz rows are per-observation → append, for incoming spectra
    // whose samples are not in the viz cube yet (their cutout-pixel rows
    // ride along, rebuilt from the links table — which step 2 completed)
    val vizNames = spark.read.parquet(s"$outDir/viz_cube")
      .where(col("zoom") === 0).select(col("fits_name").as("viz_name")).distinct()
    val vizSpecs = incoming.toDF()
      .join(vizNames, col("fits_name") === col("viz_name"), "left_anti")
      .as[SpectrumObs].transform(Pins.cache)
    val vizSpecIds = vizSpecs.toDF().where(col("zoom") === 0)
      .select(col("spec_id").as("v_spec_id")).distinct()
    val vizLinks = spark.read.parquet(s"$outDir/cutout_links")
      .join(broadcast(vizSpecIds), col("spec_id") === col("v_spec_id"))
      .drop("v_spec_id")
      .as[CutoutLink]
    var vizCount = 0L
    if (!vizSpecs.isEmpty) {
      val vizNew = Pins.cache(VizCube.build(vizSpecs, vizLinks, images))
      vizCount = vizNew.count()
      vizNew.toDF()
        .repartitionByRange(col("zoom"), col("heal_id"))
        .sortWithinPartitions("zoom", "heal_id")
        .write.mode(SaveMode.Append)
        .partitionBy("zoom").parquet(s"$outDir/viz_cube")
    }

    UpdateSummary(nNewSpectra, nNewLinks, nAffected, mlRowCount, vizCount)
  }

  /** CLI parity with `hisscube.py <in> <out> update`:
    * UpdateCube <cubeOutDir> <newSpectraDir> */
  def main(args: Array[String]): Unit = {
    val Array(outDir, newSpectraDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = update(spark, outDir, newSpectraDir)
    println(s"""{"new_spectra":${s.newSpectra},"new_links":${s.newLinks},"affected_targets":${s.affectedTargets},"ml_rows_rewritten":${s.mlRowsRewritten},"viz_rows_appended":${s.vizRowsAppended}}""")
    spark.stop()
  }
}
