package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.plans.SummaryRewrite

/** Expected output of one query: its row count and an order-independent
  * hash of its rows. `hashChecked` is true for queries the DuckDB oracle
  * covers; the others are checked on rows only. */
final case class Fingerprint(rows: Long, hash: String, hashChecked: Boolean)

object Fingerprints {

  val File = "fingerprints.tsv"

  /** A value in canonical text: doubles rounded to 6 significant
    * digits, maps sorted by key, arrays in order. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "nan" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
      else if (d == 0.0) "0" else "%.5e".format(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count and the wrapping sum of 64-bit row hashes, with the
    * column names hashed in. */
  def of(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    import scala.util.hashing.MurmurHash3
    var h = MurmurHash3.stringHash(columns.mkString(",")).toLong
    rows.foreach { r =>
      val s = canon(r)
      h += (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    (rows.length.toLong, f"$h%016x")
  }

  def load(base: Path): Map[String, Fingerprint] =
    Files.readAllLines(base.resolve(File)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val Array(q, rows, hash, check) = l.split("\t")
        q -> Fingerprint(rows.toLong, hash, check == "hash")
      }.toMap

  /** Run every query of the mix twice over the data, check that the
    * two runs agree, and write the fingerprints. Run it only on a tree
    * whose queries pass the DuckDB oracle check. */
  def generate(spark: SparkSession, base: Path): Unit = {
    val data = base.resolve("data").toString
    val oracle = SparkEntry.oracleSql.keySet
    val lines = Mix.AllQueries.sorted.map { q =>
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, data)
        val fp = of(df.columns.toSeq, df.collect())
        println(f"# $q ${(System.nanoTime() - t0) / 1e9}%.3f s rows=${fp._1}")
        fp
      }
      require(runs(0) == runs(1), s"$q: two runs disagree: $runs")
      Seq(q, runs(0)._1, runs(0)._2, if (oracle(q)) "hash" else "rows").mkString("\t")
    }
    val header = "# query\trows\thash\tcheck (hash: DuckDB-oracle-covered; rows: row count only)"
    Files.write(base.resolve(File), (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** A closed loop over a fixed query list in a seeded order, one client:
  * the summary-serving queries and the streaming and graph-iteration
  * queries, interleaved. Every query's output is checked against its
  * fingerprint. */
final class Mix(val name: String, queries: Seq[String], nominalPassS: Double,
    base: Path) extends Workload {

  /** `--seconds` ÷ the nominal pass time fixes the number of measured
    * passes, so every tree does the same work. */
  def passes(seconds: Double): Int = math.round(seconds / nominalPassS).toInt max 1

  private val data = base.resolve("data").toString
  private val expected = Fingerprints.load(base)
  private var order: Seq[String] = queries
  private val served = mutable.Map[String, Boolean]()
  private val exchanges = mutable.Map[String, Int]()

  def makeInputs(ctx: Ctx, rep: Int): Unit = {
    order = new scala.util.Random(ctx.seed).shuffle(queries)
    Tables.names.foreach(t => Tables.load(ctx.spark, data, t).schema)
  }

  def warmup(ctx: Ctx): Unit = order.foreach(q => run(ctx, q, -1))

  def pass(ctx: Ctx, p: Int): Unit = order.zipWithIndex.foreach { case (q, i) =>
    if (i > 0 && i % 4 == 0) System.gc()
    run(ctx, q, p)
  }

  private def run(ctx: Ctx, q: String, p: Int): Unit = {
    val fn = SparkEntry.queries(q)
    var df: DataFrame = null
    var notes = Seq.empty[String]
    val (op, rows) = ctx.op("query", q, p) {
      val (rs, ns) = ServingTrace.capture(ctx.trace && p >= 0) {
        df = ctx.tracer("operators.construct")(fn(ctx.spark, data))
        ctx.tracer("plans.plan")(df.queryExecution.executedPlan)
        ctx.tracer("operators.execute")(df.collect())
      }
      notes = ns
      rs
    }
    rows.foreach { rs =>
      val (n, hash) = Fingerprints.of(df.columns.toSeq, rs)
      expected.get(q) match {
        case None => ctx.check(op, cond = false, "no fingerprint")
        case Some(e) =>
          ctx.check(op, n == e.rows, s"$n rows, expected ${e.rows}")
          if (e.hashChecked) ctx.check(op, hash == e.hash, s"hash $hash, expected ${e.hash}")
      }
      if (ctx.trace && p >= 0) {
        if (notes.nonEmpty) served(q) = notes.exists(_.contains("SERVED"))
        exchanges(q) = PlanFacts.exchanges(df.queryExecution.executedPlan)
      }
    }
  }

  private def lastPass(ctx: Ctx): Seq[Op] = ctx.measured.filter(_.pass == ctx.passes - 1)

  /** Median over passes of the time one pass spends in `family`. */
  private def familyPassS(ctx: Ctx, family: Seq[String]): Double =
    Stats.median((0 until ctx.passes).map { p =>
      ctx.measured.filter(o => o.pass == p && family.contains(o.name)).map(_.seconds).sum
    })

  def figures(ctx: Ctx): Seq[(String, Double, String)] = {
    val q = ctx.measured.map(_.seconds)
    Seq(("query_p50_s", Stats.percentile(q, 50), "s"),
      ("query_tail_s", Stats.tail(q), "s"),
      ("serve_pass_s", familyPassS(ctx, Mix.ServeQueries), "s"),
      ("iterative_pass_s", familyPassS(ctx, Mix.IterativeQueries), "s"))
  }

  def layers(ctx: Ctx): Seq[(String, Double, String)] = {
    val p = ctx.passes.max(1).toDouble
    val nServed = served.values.count(identity)
    val perQuery = Mix.AllQueries.flatMap { q =>
      val times = ctx.measured.filter(_.name == q).map(_.seconds)
      val jobs = lastPass(ctx).find(_.name == q).flatMap(_.facts).map(_.delta.jobs.toDouble)
      Seq((s"q.$q.s", Stats.median(times), "s")) ++
        (if (Mix.JobCounted(q)) Seq((s"q.$q.jobs", jobs.getOrElse(0.0), "count")) else Nil)
    }
    Seq(
      ("plans.plan_s", ctx.tracer.totalS("plans.plan") / p, "s"),
      ("plans.served", nServed.toDouble, "count"),
      ("plans.refused", (served.size - nServed).toDouble, "count"),
      ("plans.served_frac", nServed.toDouble / queries.size, "frac"),
      ("operators.construct_s", ctx.tracer.totalS("operators.construct") / p, "s"),
      ("operators.execute_s", ctx.tracer.totalS("operators.execute") / p, "s"),
      ("operators.serve_pass_s", familyPassS(ctx, Mix.ServeQueries), "s"),
      ("operators.iterative_pass_s", familyPassS(ctx, Mix.IterativeQueries), "s"),
      ("spark.exchanges", exchanges.values.sum.toDouble, "count")) ++ perQuery
  }

  def provenance(ctx: Ctx): Seq[(String, Any)] = Seq("query_order" -> order)
}

/** The serving rule's decisions while a query runs. The query functions
  * register their summaries, run, and deregister before they return, so
  * `SummaryRewrite.explainServing` on the returned frame sees no
  * summary. Instead the trace sink `explainServing` fills is switched
  * on, by reflection, for the whole call on this thread. A traced call
  * fails when the sink is not found, so the plans layer cannot read 0
  * unnoticed. */
object ServingTrace {
  private val sink: Either[String, ThreadLocal[mutable.ArrayBuffer[String]]] =
    try {
      val m = SummaryRewrite.getClass.getDeclaredMethod("traceBuf")
      m.setAccessible(true)
      Right(m.invoke(SummaryRewrite).asInstanceOf[ThreadLocal[mutable.ArrayBuffer[String]]])
    } catch { case e: ReflectiveOperationException => Left(e.toString) }

  def capture[T](on: Boolean)(body: => T): (T, Seq[String]) =
    if (!on) (body, Nil)
    else sink match {
      case Right(tl) =>
        val buf = mutable.ArrayBuffer[String]()
        tl.set(buf)
        try (body, buf.toSeq) finally tl.remove()
      case Left(why) =>
        throw new IllegalStateException(s"trace sink of SummaryRewrite not found: $why")
    }
}

object Mix {

  /** Summary-serving queries (q243-q299 with `summary` in the name):
    * the flat, rollup, union and multi-distinct shapes of the serving
    * rule. */
  val ServeQueries: Seq[String] = Seq(
    "q243_summary_rewrite", "q261_summary_rollup", "q277_summary_union",
    "q296_summary_multi_distinct")

  /** Streaming (windows, dedup) and graph-iteration (label
    * propagation) queries. */
  val IterativeQueries: Seq[String] = Seq(
    "q41_stream_windows", "q123_stream_dedup_core", "q205_label_prop")

  val AllQueries: Seq[String] = ServeQueries ++ IterativeQueries

  /** Queries whose job count the traced run reports. */
  val JobCounted: Set[String] = Set(
    "q123_stream_dedup_core", "q205_label_prop", "q243_summary_rewrite",
    "q261_summary_rollup", "q296_summary_multi_distinct")

  def analytics(base: Path): Mix = new Mix("analytics", AllQueries, 5.0, base)
}
