package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental update parity (`hisscube.py update` semantics): build a
  * cube from a subset of spectra, update with one more spectrum of an
  * EXISTING target, and require every table to equal a from-scratch
  * rebuild over the full input — including the re-stacked ML rows. */
class UpdateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def writeFixtures(): (Path, Path, Path) = {
    val dir = graft.TempDirs.create("update")
    val specAll = dir.resolve("spectra_all"); Files.createDirectories(specAll)
    val specInit = dir.resolve("spectra_init"); Files.createDirectories(specInit)
    val specNew = dir.resolve("spectra_new"); Files.createDirectories(specNew)
    val imgDir = dir.resolve("images"); Files.createDirectories(imgDir)

    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    // target A: two spectra in one order-15 cell; the second arrives as
    // the update. target B: one spectrum, untouched by the update.
    def spec(d: Path, name: String, ra: Double, dec: Double, p: Int, m: Int, f: Int): Unit =
      FitsFixtures.writeSpectrum(d.resolve(name).toString, ra, dec, p, m, f, loglam, flux, ivar)
    spec(specAll, "spec-1001-53000-0001.fits", 150.0, 2.0, 1001, 53000, 1)
    spec(specInit, "spec-1001-53000-0001.fits", 150.0, 2.0, 1001, 53000, 1)
    spec(specAll, "spec-1001-53050-0002.fits", 150.0 + 0.2 / 3600, 2.0, 1001, 53050, 2)
    spec(specNew, "spec-1001-53050-0002.fits", 150.0 + 0.2 / 3600, 2.0, 1001, 53050, 2)
    spec(specAll, "spec-1002-53100-0003.fits", 150.2, 2.1, 1002, 53100, 3)
    spec(specInit, "spec-1002-53100-0003.fits", 150.2, 2.1, 1002, 53100, 3)

    var run = 3000
    for (band <- Seq("u", "g", "r", "i", "z"); (ra, dec) <- Seq((150.0, 2.0), (150.2, 2.1))) {
      FitsFixtures.writeFrame(
        imgDir.resolve(f"frame-$band-$run%06d-3-0001.fits").toString,
        band, run, 3, 1, 512, 372, ra, dec)
      run += 1
    }
    (dir, specInit, specNew)
  }

  /** Synthetic CCD gain and dark-variance tables (camcol 1-6 × ugriz),
    * so a case that checks no reference value runs without the
    * reference configuration. */
  def writeCcdConfig(dir: Path): String = {
    val cfg = dir.resolve("ccd"); Files.createDirectories(cfg)
    def table(f: (Int, Int) => Double) =
      ("camcol\trun\tu\tg\tr\ti\tz" +: (1 to 6).map { c =>
        (Seq(c.toString, ">0") ++ (0 until 5).map(b => "%.3f".format(f(c, b)))).mkString("\t")
      }).mkString("", "\n", "\n")
    Files.write(cfg.resolve("ccd_gain.tsv"), table((c, b) => 3.9 + 0.1 * c + 0.05 * b).getBytes("UTF-8"))
    Files.write(cfg.resolve("ccd_dark_variance.tsv"), table((c, b) => 0.8 + 0.2 * c + 0.1 * b).getBytes("UTF-8"))
    cfg.toString
  }

  test("update frees every pin and cache it made, the ML rewrite barrier included") {
    val (dir, specInit, specNew) = writeFixtures()
    val out = dir.resolve("cube_pins").toString
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString,
      writeCcdConfig(dir), out)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val s = UpdateCube.update(spark, out, specNew.toString)
    assert(s.affectedTargets == 1 && s.mlRowsRewritten > 0, s.toString)
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"still persisted after update: $left")
  }

  test("update(one new spectrum) equals a from-scratch rebuild on every table") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val cfg = "/root/reference/config"
    val outInc = dir.resolve("cube_incremental").toString
    val outFull = dir.resolve("cube_full").toString

    // incremental: build on the subset, then update with the new spectrum
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString, cfg, outInc)
    val s = UpdateCube.update(spark, outInc, specNew.toString)
    assert(s.newSpectra == 5) // 1 spectrum × 5 zooms
    assert(s.affectedTargets == 1) // only target A re-stacked
    assert(s.newLinks == 25) // 5 bands × 5 zooms

    // reference: one-shot build over the full input
    BuildCube.build(spark, dir.resolve("spectra_all").toString,
      dir.resolve("images").toString, cfg, outFull)

    def tbl(out: String, name: String) = spark.read.parquet(s"$out/$name")
    // spectra + links: identical row multisets
    assert(tbl(outInc, "spectra").count() == tbl(outFull, "spectra").count())
    val linkCols = Seq("zoom", "spec_id", "image_id", "band", "x_min", "x_max", "y_min", "y_max")
    val li = tbl(outInc, "cutout_links").select(linkCols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    val lf = tbl(outFull, "cutout_links").select(linkCols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(li.length == lf.length && li.zip(lf).forall(p => p._1 == p._2))

    // ml cube: same targets, same stack values (incremental re-stack of
    // target A over both spectra must equal the from-scratch stack)
    def mlKey(out: String) = tbl(out, "ml_cube")
      .select($"zoom", $"target_healpix", $"n_spectra",
        round(aggregate(transform($"spec_flux", _.cast("double")),
          lit(0.0), (a, x) => a + when(isnan(x), 0.0).otherwise(x)), 6).as("flux_sum"),
        aggregate(transform($"spec_flux", x => isnan(x).cast("int")),
          lit(0), (a, x) => a + x).as("n_nan"),
        size($"cutouts").as("n_bands"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val mi = mlKey(outInc)
    val mf = mlKey(outFull)
    assert(mi.length == mf.length, s"${mi.length} vs ${mf.length}")
    mi.zip(mf).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    // target A now stacks 2 spectra in both cubes
    assert(tbl(outInc, "ml_cube").where($"n_spectra" === 2).count() == 5)

    // viz cube: identical row counts per zoom
    val vi = tbl(outInc, "viz_cube").groupBy("zoom").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val vf = tbl(outFull, "viz_cube").groupBy("zoom").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(vi == vf)
  }

  test("re-running a completed update is a no-op (convergent retry)") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val out = dir.resolve("cube_rerun").toString
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString,
      "/root/reference/config", out)
    val s1 = UpdateCube.update(spark, out, specNew.toString)
    assert(s1.newSpectra == 5 && s1.affectedTargets == 1)
    def snapshot() = Seq("spectra", "cutout_links", "ml_cube", "viz_cube")
      .map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap
    val before = snapshot()
    // the same batch again: every per-table missing-work set is empty
    val s2 = UpdateCube.update(spark, out, specNew.toString)
    assert(s2 == UpdateCube.UpdateSummary(0, 0, 0, 0, 0), s2.toString)
    assert(snapshot() == before)
    // ml stacks unchanged: target A still a 2-spectrum stack at all zooms
    assert(spark.read.parquet(s"$out/ml_cube").where($"n_spectra" === 2).count() == 5)
  }

  test("update with a spectrum of a NEW target creates its ML rows in place") {
    import spark.implicits._
    val (dir, _, _) = writeFixtures()
    // build with only target A's first spectrum; target B's frames exist
    val specA = dir.resolve("spectra_only_a"); Files.createDirectories(specA)
    val specB = dir.resolve("spectra_only_b"); Files.createDirectories(specB)
    val (loglam, flux, ivar) = FitsFixtures.specGrid()
    FitsFixtures.writeSpectrum(specA.resolve("spec-1001-53000-0001.fits").toString,
      150.0, 2.0, 1001, 53000, 1, loglam, flux, ivar)
    FitsFixtures.writeSpectrum(specB.resolve("spec-1002-53100-0003.fits").toString,
      150.2, 2.1, 1002, 53100, 3, loglam, flux, ivar)
    val out = dir.resolve("cube_newtarget").toString
    BuildCube.build(spark, specA.toString, dir.resolve("images").toString,
      "/root/reference/config", out)
    val targetsBefore = spark.read.parquet(s"$out/ml_cube")
      .select("target_healpix").distinct().count()
    assert(targetsBefore == 1)
    val s = UpdateCube.update(spark, out, specB.toString)
    assert(s.affectedTargets == 1 && s.newLinks == 25)
    val ml = spark.read.parquet(s"$out/ml_cube")
    assert(ml.select("target_healpix").distinct().count() == 2)
    // both targets complete: 5 zooms × 5 bands each, single-spectrum stacks
    assert(ml.count() == 2 * 5)
    assert(ml.where($"n_spectra" === 1).count() == 10)
  }

  test("streaming update: foreachBatch drives the same incremental re-stack") {
    import spark.implicits._
    val (dir, specInit, specNew) = writeFixtures()
    val out = dir.resolve("cube_streamed").toString
    BuildCube.build(spark, specInit.toString, dir.resolve("images").toString,
      "/root/reference/config", out)
    // before: target A is a 1-spectrum stack
    assert(spark.read.parquet(s"$out/ml_cube").where($"n_spectra" === 2).count() == 0)
    graft.streaming.ObservationStream.updateStream(spark, specNew.toString, out)
    // after: the streamed micro-batch re-stacked target A at every zoom
    assert(spark.read.parquet(s"$out/ml_cube").where($"n_spectra" === 2).count() == 5)
    assert(spark.read.parquet(s"$out/spectra").count() == 3 * 5)
    assert(spark.read.parquet(s"$out/cutout_links").count() == 3 * 25)
  }
}
