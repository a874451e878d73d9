package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `ok` turns false when the
  * operation throws or its output fails a check. */
final class Op(val kind: String, val name: String, val pass: Int) {
  var seconds = 0.0
  var ok = true
  var facts: Option[OpFacts] = None
}

/** Listener deltas of one operation (traced runs only). */
final case class OpFacts(delta: Snap, wallMs: Long, busyMs: Long, livePins: Int)

/** What a workload run shares with its workload. */
final class Ctx(
    val spark: SparkSession, val seed: Long, val cpus: Int, val trace: Boolean,
    val work: Path, val base: Path) {
  val tracer = new Tracer(trace)
  val counters: Option[Counters] = if (trace) Some(new Counters(spark)) else None
  val ops = mutable.ArrayBuffer[Op]()
  val problems = mutable.ArrayBuffer[String]()

  def problem(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  /** Check an operation's output; a failed check marks the operation
    * failed. */
  def check(op: Op, cond: Boolean, msg: => String): Unit =
    if (!cond) { op.ok = false; problem(s"${op.name}: $msg") }

  /** Time `body` as one operation. `pass` < 0 marks warm-up work, which
    * is not recorded. A throwing body marks the operation failed and
    * yields None. */
  def op[T](kind: String, name: String, pass: Int)(body: => T): (Op, Option[T]) = {
    val o = new Op(kind, name, pass)
    val before = counters.map(_.snap())
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Some(tracer(s"op.$kind")(body))
      catch {
        case t: Throwable =>
          o.ok = false
          problem(s"$name threw ${t.getClass.getName}: ${t.getMessage}")
          None
      }
    o.seconds = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    counters.foreach { c =>
      val d = c.snap() - before.get
      o.facts = Some(OpFacts(d, wall1 - wall0, c.busyMs(wall0, wall1),
        spark.sparkContext.getPersistentRDDs.size))
    }
    if (pass >= 0) ops += o
    System.err.println(f"[perfbench] pass $pass $name ${o.seconds}%.3f s")
    (o, res)
  }

  def measured: Seq[Op] = ops.toSeq
  def passes: Int = if (ops.isEmpty) 0 else ops.map(_.pass).max + 1

  /** Per-pass means of the runtime counters over the measured passes. */
  def runtimeLayer(): Seq[(String, Double, String)] = {
    val facts = ops.flatMap(_.facts)
    val p = passes.max(1).toDouble
    val d = facts.map(_.delta).foldLeft(Snap.zero)(_ + _)
    val wallMs = facts.map(_.wallMs).sum
    val busyMs = facts.map(_.busyMs).sum
    Seq(
      ("spark.jobs", d.jobs / p, "count"),
      ("spark.stages", d.stages / p, "count"),
      ("spark.tasks", d.tasks / p, "count"),
      ("spark.failed_tasks", d.failedTasks / p, "count"),
      ("spark.task_run_s", d.taskRunMs / 1e3 / p, "s"),
      ("spark.task_cpu_s", d.taskCpuNs / 1e9 / p, "s"),
      ("spark.slot_util", if (wallMs == 0) 0.0 else d.taskRunMs.toDouble / (wallMs * cpus), "frac"),
      ("spark.driver_only_s", (wallMs - busyMs) / 1e3 / p, "s"),
      ("spark.shuffle_read_mb", d.shuffleReadB / 1048576.0 / p, "MB"),
      ("spark.shuffle_write_mb", d.shuffleWriteB / 1048576.0 / p, "MB"),
      ("spark.spill_mb", d.spillB / 1048576.0 / p, "MB"),
      ("spark.gc_s", d.gcMs / 1e3 / p, "s"),
      ("spark.live_pins", facts.map(_.livePins).maxOption.getOrElse(0).toDouble, "count"),
      ("streaming.batches", d.batches / p, "count"),
      ("streaming.add_batch_s", d.addBatchMs / 1e3 / p, "s"),
      ("streaming.planning_s", d.planningMs / 1e3 / p, "s"),
      ("streaming.wal_commit_s", d.walCommitMs / 1e3 / p, "s"),
      ("streaming.commit_s", d.commitMs / 1e3 / p, "s"),
      ("streaming.state_commit_s", d.stateCommitMs / 1e3 / p, "s"),
      ("streaming.state_rows", d.stateRows / p, "count"),
      ("streaming.state_mem_mb", d.stateMemB / 1048576.0 / p, "MB"))
  }
}

/** A named workload: inputs made from the seed, a warm-up, and passes
  * over a fixed list of operations. */
trait Workload {
  def name: String
  /** Measured passes for a `--seconds` budget. */
  def passes(seconds: Double): Int
  /** Make the inputs from the seed; called several times to time it. */
  def makeInputs(ctx: Ctx, rep: Int): Unit
  def warmup(ctx: Ctx): Unit
  def pass(ctx: Ctx, p: Int): Unit
  /** Workload-specific figures for the readable row, by name. */
  def figures(ctx: Ctx): Seq[(String, Double, String)]
  /** Per-layer figures of the traced run, by name. */
  def layers(ctx: Ctx): Seq[(String, Double, String)]
  def provenance(ctx: Ctx): Seq[(String, Any)]
}

/** Benchmark entry point. Usage:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --base DIR --work DIR [--mode fingerprint]
  * `--base` is the benchmark directory (its data and fingerprints),
  * `--work` a scratch directory the run may fill. Prints readable lines
  * starting with `#` and, last, one JSON result line. */
object Main {

  val SetupReps = 3

  /** Operations that only read: `op_p50_s` is their median latency. */
  val ReadKinds: Set[String] = Set("read", "query")

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxMetadataStringLength", "500")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val base = Paths.get(opt("base")).toAbsolutePath
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = sys.env.get("PERFBENCH_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(work)

    if (opt.get("mode").contains("fingerprint")) {
      Fingerprints.generate(session(cpus, work), base)
      return
    }

    val probeBefore = Stats.calibrationProbe()
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, cpus, trace, work, base)
    val w: Workload = workload match {
      case "cube_lifecycle" => new Lifecycle
      case "analytics" => Mix.analytics(base)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val inputS = (0 until SetupReps).map { rep =>
      val s0 = System.nanoTime()
      w.makeInputs(ctx, rep)
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(inputS) + warmS
    ctx.tracer.clear()

    val heap = new HeapWatch
    val nPasses = w.passes(seconds)
    val passS = (0 until nPasses).map { p =>
      System.gc()
      val before = ctx.ops.size
      w.pass(ctx, p)
      ctx.ops.drop(before).map(_.seconds).sum
    }
    val probeAfter = Stats.calibrationProbe()

    val ops = ctx.measured
    val opS = ops.map(_.seconds)
    val failedOps = ops.count(!_.ok)
    val failedFrac = if (ops.isEmpty) 0.0 else failedOps.toDouble / ops.size
    val correct = failedOps == 0 && ctx.problems.isEmpty
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(passS), "s"),
      ("op_p50_s", Stats.median(ops.filter(o => ReadKinds(o.kind)).map(_.seconds)), "s"),
      ("op_tail_s", Stats.tail(opS), "s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"))
    val figures = w.figures(ctx) :+ (("heap_after_gc_peak_mb", heap.peakMb, "MB"))
    val layers =
      if (trace) w.layers(ctx) ++ ctx.runtimeLayer() :+
        (("jvm.heap_after_gc_peak_mb", heap.peakMb, "MB")) :+ (("trace.pass_s", Stats.median(passS), "s"))
      else Seq.empty
    if (trace) ctx.tracer.write(work.resolve("spans.jsonl"))

    val provenance = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
      "trace" -> trace, "passes" -> nPasses,
      "pass_s" -> passS, "op_samples" -> opS.size, "tail_percentile" -> Stats.TailP,
      "samples_beyond_tail" -> Stats.beyondTail(opS.size),
      "session_s" -> sessionS, "input_s" -> inputS, "warmup_s" -> warmS,
      "probe_ms_before" -> probeBefore, "probe_ms_after" -> probeAfter,
      "failed_frac" -> failedFrac)
    w.provenance(ctx).foreach { case (k, v) => provenance(k) = v }
    if (ctx.problems.nonEmpty) provenance("problems") = ctx.problems.take(20)

    println("# provenance " + Stats.json(provenance))
    val row = (endToEnd ++ figures :+ (("failed_frac", failedFrac, "frac")))
      .map { case (k, v, u) => f"$k=$v%.4f$u" }.mkString(" ")
    println(s"# row $workload $row tail=p${Stats.TailP.toInt}")
    if (trace) println("# layers " + layers.map { case (k, v, u) => f"$k=$v%.4f$u" }.mkString(" "))
    val metrics = (if (trace) layers else endToEnd).map { case (k, v, u) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
    }
    spark.stop()
    println(Stats.json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> ops.size, "failed" -> failedOps,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))))
  }
}
