package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Healpix, Interp, Resample, SpectresRebin}
import graft.pipeline._
import graft.plans.HealpixExpressions
import graft.sources.{Export, SdssFits}

/** The cube's life: a full build and two exports, then a loop of
  * incremental updates, one plate per step, each followed by a fixed
  * set of pruned reads. Inputs are SDSS-shaped FITS made from the seed
  * with `FitsFixtures`, plus the two CCD calibration tables. */
final class Lifecycle extends Workload {
  import Lifecycle._

  val name = "cube_lifecycle"
  /** One pass: each run is one cold life of a cube, as when the build
    * and update entry points run as separate processes. */
  def passes(seconds: Double): Int = 1

  private var in: Inputs = _
  private val scans = mutable.ArrayBuffer[(Long, Long, Long)]() // files, rows scanned, rows returned
  private val exportBytes = mutable.Map[String, Long]()
  private var built: Option[BuildCube.Summary] = None

  def makeInputs(ctx: Ctx, rep: Int): Unit = {
    val dir = ctx.work.resolve(s"inputs-$rep")
    val made = Inputs.make(dir, ctx.seed)
    if (rep == 0) in = made else delete(dir.toFile)
  }

  /** No warm-up: the build and update entry points run in a fresh JVM
    * per invocation, so the cold path is the one users see. */
  def warmup(ctx: Ctx): Unit = HealpixExpressions.register(ctx.spark)

  def pass(ctx: Ctx, p: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val out = ctx.work.resolve(s"cube-$p")
    val outS = out.toString

    val (buildOp, summary) = ctx.op("build", "build", p) {
      BuildCube.build(spark, in.specDir, in.imgDir, in.ccdDir, outS)
    }
    summary.foreach { s =>
      val nSpec = in.targets.size * SpectraPerTarget
      ctx.check(buildOp, s.spectra == nSpec * SpecLevels, s"spectra ${s.spectra}")
      ctx.check(buildOp, s.images == in.targets.size * Bands.size * ImgLevels, s"images ${s.images}")
      ctx.check(buildOp, s.links == nSpec * LinksPerSpectrum, s"links ${s.links}")
      ctx.check(buildOp, s.mlRows == in.targets.size * MlLevels, s"ml rows ${s.mlRows}")
      ctx.check(buildOp, s.vizRows == nSpec * VizRowsPerSpectrum, s"viz rows ${s.vizRows}")
      built = Some(s)
    }

    val vizRows = BuildCube.readVizAtZoom(spark, outS, ExportZoom).count()
    def export(kind: String)(write: (Iterator[VizRow], String) => Long): Unit = {
      val file = out.resolve(s"export.$kind").toString
      val (op, n) = ctx.op(s"export_$kind", s"export_$kind", p) {
        val rows = BuildCube.readVizAtZoom(spark, outS, ExportZoom).as[VizRow]
        write(rows.toLocalIterator().asScala, file)
      }
      n.foreach(k => ctx.check(op, k == vizRows, s"$k rows exported, zoom has $vizRows"))
      exportBytes(kind) = new File(file).length
    }
    export("votable")(Export.writeVOTableBinary)
    export("fits")(Export.writeFitsTableStream)

    in.plates.foreach { plate =>
      val (op, res) = ctx.op("update", s"update_${plate.index}", p) {
        UpdateCube.update(spark, outS, plate.dir)
      }
      res.foreach { u =>
        ctx.check(op, u.newSpectra == plate.spectra.size * SpecLevels,
          s"${u.newSpectra} new spectrum rows")
        val framed = in.framedSpectraAfter(plate.index)
        val stacked = spark.read.parquet(s"$outS/ml_cube").where($"zoom" === 0)
          .agg(sum($"n_spectra")).head().getLong(0)
        val zoom0OnTargets = spark.read.parquet(s"$outS/spectra").where($"zoom" === 0)
          .where($"healpix".isin(in.targetCells: _*)).count()
        ctx.check(op, stacked == framed && zoom0OnTargets == framed,
          s"ML zoom-0 n_spectra $stacked, zoom-0 spectra on targets $zoom0OnTargets, expected $framed")
      }
      reads(ctx, p, outS, plate.index)
    }
  }

  /** The fixed read set after an update step: an ML disc read, a viz
    * heal-id range read and a spectra cone read around each target. */
  private def reads(ctx: Ctx, p: Int, out: String, step: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def read(name: String, df: DataFrame)(ok: Array[Row] => Boolean, what: Array[Row] => String): Unit = {
      val (op, res) = ctx.op("read", name, p)(df.collect())
      res.foreach { rows =>
        ctx.check(op, ok(rows), what(rows))
        if (ctx.trace && p >= 0) {
          val (files, scannedRows) = PlanFacts.scanned(df.queryExecution.executedPlan)
          scans += ((files, scannedRows, rows.length.toLong))
        }
      }
    }
    in.readTargets.foreach { t =>
      val expect = in.spectraAt(t, step)
      read("read_ml", BuildCube.readMlAtZoom(spark, out, 2).where(array_contains(
        HealpixExpressions.healpix_disc(lit(t.ra), lit(t.dec), lit(10), lit(ReadRadiusRad)),
        shiftright($"target_healpix", 2 * (Ingest.SpecHealOrder - 10)))))(
        rows => rows.length == 1 && rows.map(_.getAs[Int]("n_spectra")).sum == expect,
        rows => s"${rows.length} ML rows, expected one with $expect spectra")

      val cell13 = Healpix.ang2pixLonLat(13, t.ra, t.dec)
      val (lo, hi) = (cell13 << 12, ((cell13 + 1) << 12) - 1)
      read("read_viz", BuildCube.readVizAtZoom(spark, out, 3).where($"heal_id".between(lo, hi)))(
        rows => rows.nonEmpty && rows.forall { r => val h = r.getAs[Long]("heal_id"); h >= lo && h <= hi },
        rows => s"${rows.length} viz rows in [$lo, $hi]")

      // the cosine is clamped: rounding can lift it past 1 for a spectrum
      // at the target's own position, and acos would then be NaN
      val (ra0, dec0) = (math.toRadians(t.ra), math.toRadians(t.dec))
      read("read_cone", spark.read.parquet(s"$out/spectra").where($"zoom" === 0)
        .where(acos(least(lit(1.0), sin(radians($"dec")) * math.sin(dec0) +
          cos(radians($"dec")) * math.cos(dec0) * cos(radians($"ra") - ra0))) < ReadRadiusRad))(
        rows => rows.length == expect,
        rows => s"${rows.length} spectra in the cone, expected $expect")
    }
  }

  private def seconds(ctx: Ctx, kind: String): Seq[Double] =
    ctx.measured.filter(_.kind == kind).map(_.seconds)

  def figures(ctx: Ctx): Seq[(String, Double, String)] = {
    val upd = seconds(ctx, "update")
    val rd = seconds(ctx, "read")
    Seq(
      ("build_s", Stats.median(seconds(ctx, "build")), "s"),
      ("update_p50_s", Stats.percentile(upd, 50), "s"),
      ("update_tail_s", Stats.tail(upd), "s"),
      ("read_p50_s", Stats.percentile(rd, 50), "s"),
      ("read_tail_s", Stats.tail(rd), "s"))
  }

  def layers(ctx: Ctx): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    def ms[T](reps: Int)(f: => T): Double = {
      f // warm
      Stats.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      })
    }
    def files(dir: String) = new File(dir).listFiles().filter(_.getName.endsWith(".fits")).sortBy(_.getName)
    val gains = SdssFits.readCcdTsv(s"${in.ccdDir}/ccd_gain.tsv")
    val darks = SdssFits.readCcdTsv(s"${in.ccdDir}/ccd_dark_variance.tsv")
    val specFiles = files(in.specDir).map(f => (f.getPath, Files.readAllBytes(f.toPath)))
    val frameFiles = files(in.imgDir).map(f => (f.getPath, Files.readAllBytes(f.toPath)))
    val specMs = Stats.median(specFiles.toSeq.map { case (path, b) =>
      ms(1)(SdssFits.loadSpectrum(b, path, Ingest.SpecZoomCnt)) })
    val frameMs = Stats.median(frameFiles.toSeq.map { case (path, b) =>
      ms(1)(SdssFits.loadFrame(b, path, gains, darks, Ingest.ImgZoomCnt)) })

    val (loglam, flux, ivar) = in.specArrays
    val wl = loglam.map(math.pow(10, _))
    val sigma = ivar.map(v => math.sqrt(1.0 / v))
    val grid = Interp.linspace(SdssFits.RebinMin, SdssFits.RebinMax, SdssFits.RebinSamples)
    val rebinMs = ms(20)(SpectresRebin.rebin(grid, wl, flux, sigma))
    val img = Array.tabulate(FrameH, FrameW)((y, x) => 1.0 + 0.001 * x + 0.002 * y)
    val pyramidMs = ms(10)(Resample.imagePyramid(img, img, Ingest.ImgZoomCnt))

    // the build phases one at a time, in BuildCube's order
    val out = ctx.work.resolve("phased").toString
    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = ctx.tracer(name)(f); (r, (System.nanoTime() - t0) / 1e9)
    }
    val (specs, specS) = timed("pipeline.ingest_spectra") {
      val d = Ingest.spectra(spark, in.specDir).cache(); d.count(); d }
    val (imgs, imgS) = timed("pipeline.ingest_images") {
      val d = Ingest.images(spark, in.imgDir, in.ccdDir).cache(); d.count(); d }
    val (links, linkS) = timed("pipeline.link") {
      val d = Link.linkCutouts(specs, imgs).cache(); d.count(); d }
    val (ml, mlS) = timed("pipeline.ml") {
      val d = MlCube.build(specs, links, imgs).cache(); d.count(); d }
    val (viz, vizS) = timed("pipeline.viz") {
      val d = VizCube.build(specs, links, imgs).cache(); d.count(); d }
    val (_, writeS) = timed("pipeline.write") {
      Ingest.writeSorted(specs, s"$out/spectra")
      Ingest.writeSorted(imgs, s"$out/images")
      links.toDF().write.partitionBy("zoom").parquet(s"$out/cutout_links")
      ml.toDF().withColumn("bucket", shiftright(col("target_healpix"), UpdateCube.BucketShift))
        .write.partitionBy("zoom", "bucket").parquet(s"$out/ml_cube")
      viz.toDF().repartitionByRange(col("zoom"), col("heal_id"))
        .sortWithinPartitions("zoom", "heal_id")
        .write.partitionBy("zoom").parquet(s"$out/viz_cube")
    }
    val linkRows = links.count()
    val vizRowsAll = viz.count()
    Seq(specs, imgs, links, ml, viz).foreach(_.unpersist())

    val updates = ctx.measured.filter(_.kind == "update")
    val updFacts = updates.flatMap(_.facts)
    val plateBytes = updates.map(o => in.plates.find(pl => o.name == s"update_${pl.index}").get.bytes).sum
    val written = updFacts.map(_.delta.outputB).sum
    val votS = Stats.median(seconds(ctx, "export_votable"))
    val fitsS = Stats.median(seconds(ctx, "export_fits"))
    val exportMb = exportBytes.values.sum / 1048576.0
    val f = figures(ctx).map { case (k, v, u) => (s"pipeline.$k", v, u) }
    val nReads = scans.size.max(1).toDouble
    Seq(
      ("sources.spectrum_decode_ms", specMs, "ms"),
      ("sources.frame_decode_ms", frameMs, "ms"),
      ("sources.export_votable_s", votS, "s"),
      ("sources.export_fits_s", fitsS, "s"),
      ("sources.export_mb_per_s", exportMb / (votS + fitsS).max(1e-9), "MB/s"),
      ("functions.rebin_ms", rebinMs, "ms"),
      ("functions.pyramid_ms", pyramidMs, "ms"),
      ("pipeline.ingest_spectra_s", specS, "s"),
      ("pipeline.ingest_images_s", imgS, "s"),
      ("pipeline.link_s", linkS, "s"),
      ("pipeline.ml_s", mlS, "s"),
      ("pipeline.viz_s", vizS, "s"),
      ("pipeline.write_s", writeS, "s"),
      ("pipeline.link_rows", linkRows.toDouble, "count"),
      ("pipeline.viz_rows", vizRowsAll.toDouble, "count"),
      ("pipeline.update_jobs", updFacts.map(_.delta.jobs).sum / updFacts.size.max(1).toDouble, "count"),
      ("pipeline.update_bytes_written", written / updFacts.size.max(1).toDouble, "B"),
      ("pipeline.update_write_amp", written / plateBytes.max(1L).toDouble, "ratio"),
      ("pipeline.read_files_scanned", scans.map(_._1).sum / nReads, "count"),
      ("pipeline.read_rows_scanned_per_row",
        scans.map(_._2).sum.toDouble / scans.map(_._3).sum.max(1L), "ratio")) ++ f
  }

  def provenance(ctx: Ctx): Seq[(String, Any)] = Seq(
    "targets" -> in.targets.size, "spectra" -> in.targets.size * SpectraPerTarget,
    "frames" -> in.targets.size * Bands.size, "plates" -> in.plates.size,
    "plate_spectra" -> PlateSpectra, "build" -> built.map(_.toString).orNull)
}

object Lifecycle {
  val Targets = 3
  val SpectraPerTarget = 2
  val Plates = 2
  /** Per plate: this many re-observe built targets, one lands on sky
    * without frames. */
  val PlateReobs = 3
  val PlateSpectra: Int = PlateReobs + 1
  val FrameW = 128
  val FrameH = 96
  val Bands: Seq[String] = Seq("u", "g", "r", "i", "z")
  val ExportZoom = 2
  val ReadRadiusRad: Double = math.toRadians(0.2)

  /** Rows per input, fixed by the fixture geometry (every spectrum sits
    * at its target's frame centre). */
  val SpecLevels: Int = Ingest.SpecZoomCnt + 1
  val ImgLevels: Int = Ingest.ImgZoomCnt + 1
  val MlLevels = 5
  val LinksPerSpectrum = 25
  val VizRowsPerSpectrum = 36230L

  final case class Pos(ra: Double, dec: Double)
  final case class Plate(index: Int, dir: String, spectra: Seq[Pos], reobs: Seq[Int], bytes: Long)

  final class Inputs(
      val specDir: String, val imgDir: String, val ccdDir: String,
      val targets: Seq[Pos], val plates: Seq[Plate],
      val specArrays: (Array[Double], Array[Double], Array[Double])) {

    val targetCells: Seq[Long] =
      targets.map(t => Healpix.ang2pixLonLat(Ingest.SpecHealOrder, t.ra, t.dec))

    /** Spectra on framed targets once plates 0..step are applied. */
    def framedSpectraAfter(step: Int): Long =
      targets.size * SpectraPerTarget + plates.take(step + 1).map(_.reobs.size).sum

    /** Spectra at target `t` once plates 0..step are applied. */
    def spectraAt(t: Pos, step: Int): Int = {
      val i = targets.indexOf(t)
      SpectraPerTarget + plates.take(step + 1).map(_.reobs.count(_ == i)).sum
    }

    /** The targets the read set is centred on. */
    val readTargets: Seq[Pos] = targets
  }

  object Inputs {
    def make(dir: Path, seed: Long): Inputs = {
      val rng = new scala.util.Random(seed)
      val picked = mutable.ArrayBuffer[Pos]()
      def farFromAll(p: Pos) = picked.forall { q =>
        math.abs(p.dec - q.dec) > 2.0 || math.abs(p.ra - q.ra) > 2.0
      }
      def place(): Pos = {
        var p = Pos(20 + rng.nextDouble() * 320, -50 + rng.nextDouble() * 100)
        while (!farFromAll(p)) p = Pos(20 + rng.nextDouble() * 320, -50 + rng.nextDouble() * 100)
        picked += p
        p
      }
      val targets = Seq.fill(Targets)(place())
      val specDir = dir.resolve("spectra")
      val imgDir = dir.resolve("images")
      val ccdDir = dir.resolve("ccd")
      Seq(specDir, imgDir, ccdDir).foreach(Files.createDirectories(_))
      writeCcd(ccdDir)

      val (loglam, _, ivar) = FitsFixtures.specGrid()
      def flux(phase: Double) = loglam.map(l => 5.0 + math.sin(l * 40 + phase))
      var run = 1000 + rng.nextInt(1000)
      targets.zipWithIndex.foreach { case (t, ti) =>
        val camcol = 1 + rng.nextInt(6)
        Bands.foreach { band =>
          FitsFixtures.writeFrame(imgDir.resolve(f"frame-$band-$run%06d-$camcol-0001.fits").toString,
            band, run, camcol, 1, FrameW, FrameH, t.ra, t.dec,
            (x, y) => 1.0 + 0.001 * x + 0.002 * y)
          run += 1
        }
        (0 until SpectraPerTarget).foreach { k =>
          FitsFixtures.writeSpectrum(
            specDir.resolve(f"spec-${4000 + ti}%04d-${52000 + k}-${k + 1}%04d.fits").toString,
            t.ra, t.dec, 4000 + ti, 52000 + k, k + 1, loglam, flux(rng.nextDouble()), ivar)
        }
      }

      val plates = (0 until Plates).map { pi =>
        val pdir = dir.resolve(f"plates/plate-$pi%02d")
        Files.createDirectories(pdir)
        val reobs = Seq.fill(PlateReobs)(rng.nextInt(Targets))
        val spots = reobs.map(targets) :+ place()
        spots.zipWithIndex.foreach { case (s, k) =>
          FitsFixtures.writeSpectrum(
            pdir.resolve(f"spec-${6000 + pi}%04d-${53000 + pi}-${k + 1}%04d.fits").toString,
            s.ra, s.dec, 6000 + pi, 53000 + pi, k + 1, loglam, flux(rng.nextDouble()), ivar)
        }
        val bytes = pdir.toFile.listFiles().map(_.length).sum
        Plate(pi, pdir.toString, spots, reobs, bytes)
      }
      new Inputs(specDir.toString, imgDir.toString, ccdDir.toString, targets, plates,
        (loglam, flux(0.0), ivar))
    }

    /** CCD gain and dark-variance tables: camcol 1-6 × ugriz, run
      * predicate `>0`, in the layout `SdssFits.readCcdTsv` parses. */
    private def writeCcd(dir: Path): Unit = {
      def table(f: (Int, Int) => Double) =
        ("camcol\trun\tu\tg\tr\ti\tz" +: (1 to 6).map { c =>
          (Seq(c.toString, ">0") ++ Bands.indices.map(b => "%.3f".format(f(c, b)))).mkString("\t")
        }).mkString("", "\n", "\n")
      Files.write(dir.resolve("ccd_gain.tsv"), table((c, b) => 3.9 + 0.1 * c + 0.05 * b).getBytes("UTF-8"))
      Files.write(dir.resolve("ccd_dark_variance.tsv"), table((c, b) => 0.8 + 0.2 * c + 0.1 * b).getBytes("UTF-8"))
      ()
    }
  }

  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(); ()
  }
}
