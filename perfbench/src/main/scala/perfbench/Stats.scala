package perfbench

/** Order statistics, the calibration probe, process memory and a small
  * JSON writer. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s((math.ceil(p / 100.0 * s.size).toInt max 1 min s.size) - 1)
  }

  /** The percentile every `*_tail_s` is read at. A run holds 10 to 40
    * samples, too few to leave 10 beyond any percentile above p75. */
  val TailP = 90.0

  def tail(xs: Seq[Double]): Double = percentile(xs, TailP)

  /** Samples beyond the tail percentile. */
  def beyondTail(n: Int): Int = n - (math.ceil(TailP / 100.0 * n).toInt max 1 min n)

  /** Fixed-work machine-speed probe: the same single-threaded
    * xorshift64* and allocation loop as `graft.Bench`, after an untimed
    * JIT warm-up. Returns milliseconds for 200M steps. */
  def calibrationProbe(): Long = {
    def work(n: Int): Long = {
      var x = 0x9E3779B97F4A7C15L; var sink = 0L; var i = 0
      while (i < n) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        val h = x * 0x2545F4914F6CDD1DL
        if ((i & 7) == 0) {
          val arr = new Array[Long](16)
          arr((h & 15).toInt) = h
          sink ^= arr(i & 15)
        }
        sink ^= h
        i += 1
      }
      sink
    }
    var guard = work(5000000)
    val t0 = System.nanoTime()
    guard ^= work(200000000)
    val ms = (System.nanoTime() - t0) / 1000000L
    if (guard == 42L) System.err.println("[perfbench] probe guard")
    ms
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON for maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
