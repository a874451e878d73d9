package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.syntax._

/** Distributed sketch + order-statistics operators, and the
  * persisted-artifact store family built on them: exact distributed
  * quantiles over a value histogram, the engine-portable HyperLogLog
  * (max-merge), Bloom filters (OR-merge, map-only probe), Count-Min
  * counters (sum-merge, map-only probe), exact token histograms and
  * vocabularies (sum-merge) — membership, cardinality, frequency, and
  * order statistics, each release-mergeable so monitoring and
  * incremental dedup read artifacts instead of rescanning corpora
  * (q155, q157-q164, q166; the streaming twins live in
  * [[graft.streaming.HistogramStream]] and the
  * [[graft.functions.HllSketchAggregator]]). Sketch-merge audience
  * overlap (q148) is the 100 TB path for the exact cross-source
  * overlap matrix (q54's shape is exact but materializes every pair;
  * the sketch version ships 64 integers per segment).
  *
  * Engine-portable hash discipline (shared with
  * [[CurationOps.epochOrder]], reference `config.ini` has no analogue —
  * this is training-data-pipeline surface): every intermediate stays
  * below 2^63 by reducing mod a ~2^20 prime BEFORE the LCG multiply;
  * two independent (prime, multiplier) rounds are recombined into a
  * ~2^40-value key so registers do not starve at 64 buckets. No
  * floating point anywhere: ⌊log₂⌋ is `length(bin(x)) − 1` (the q84
  * rule) and the HLL harmonic term Σ2^(−M_j) is scaled by 2^40 so the
  * raw estimate α·m²/Σ2^(−M_j) is one exact integer division on both
  * engines.
  */
object SketchOps {

  // ------------------------------------------------------------ quantiles

  /** Exact distributed quantiles (p50/p90/p99) of per-document token
    * counts, per source. The value domain is collapsed to a histogram
    * FIRST (one map-side-combinable shuffle on (source, tok_n), output
    * cardinality ≤ distinct lengths per source), so the rank window
    * runs over the tiny histogram, never the corpus — the classic
    * two-phase exact-quantile plan that holds at any corpus size as
    * long as the VALUE domain is bounded (token counts are).
    *
    * Rank definition pinned for cross-engine exactness: q(p) = smallest
    * value whose cumulative count satisfies 100·cum ≥ N·p (integer form
    * of cum ≥ ⌈N·p/100⌉ — no ceil, no floats, no engine-specific
    * quantile interpolation mode).
    */
  def tokenQuantiles(docs: DataFrame, ps: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    quantilesFromHistogram(tokenHistogram(docs), ps)

  def q146TokenQuantiles(s: SparkSession, dir: String): DataFrame =
    tokenQuantiles(load(s, dir, "documents"))

  // ---------------------------------------------------------------- q257

  /** q257 — the quantile 100 TB escape hatch, gated like q253: Spark's
    * `percentile_approx` (Greenwald-Khanna style summary, mergeable,
    * ONE pass, no per-source histogram shuffle at all) must land every
    * approximate quantile within the sketch's own rank contract —
    * rank error ≤ n/accuracy — verified in-query by ranking each
    * approximate value against the exact histogram: cum_≤(v) must
    * reach the target rank minus tolerance and cum_<(v) must not
    * overshoot it plus tolerance. A sketch that drifts outside its
    * advertised bound throws; nothing approximate is ever hashed —
    * the gated output is the exact q146 quantile table. At 100 TB the
    * histogram-first exact plan needs a bounded value domain; the
    * sketch needs nothing, which is why both live in the library. */
  def q257QuantileApprox(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val toks = docs.select($"source",
      size(split($"text", " ")).cast("long").as("tok_n"))
    val acc = 10000
    val appr = toks.groupBy($"source")
      .agg(percentile_approx($"tok_n",
        array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("qa"))
      .select($"source", explode(arrays_zip(
        array(lit(50L), lit(90L), lit(99L)).as("p"),
        $"qa".as("qa"))).as("z"))
      .select($"source", $"z.p".as("p"), $"z.qa".as("qa_value"))
    val hist = toks.groupBy($"source", $"tok_n").agg(count(lit(1)).as("c"))
    val ranked = appr.join(hist, "source")
      .groupBy($"source", $"p", $"qa_value")
      .agg(sum(when($"tok_n" <= $"qa_value", $"c").otherwise(0L)).as("cum_le"),
        sum(when($"tok_n" < $"qa_value", $"c").otherwise(0L)).as("cum_lt"),
        sum($"c").as("n"))
    val eps = 1.0 / acc
    val viol = ranked.filter(
      !($"cum_le" >= $"n" * ($"p" / 100.0 - eps) - 1.0 &&
        $"cum_lt" <= $"n" * ($"p" / 100.0 + eps) + 1.0)).count()
    require(viol == 0L,
      s"q257 gate broken: $viol approximate quantiles outside the " +
        s"sketch's rank-error contract (accuracy=$acc)")
    tokenQuantiles(docs)
  }

  // ------------------------------------------------------------------ MAD

  /** Exact per-source median via the q146 histogram-first discipline:
    * collapse values to a (source, v) histogram, rank-window over the
    * histogram, q(50) = smallest v with 2·cum ≥ n (the pinned integer
    * rank rule). Input contract: a (source, v) frame, v integral. */
  private def medianFromValues(vals: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy($"source")
    vals.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
      .select($"source", $"v", $"c",
        sum($"c").over(bySrc.orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum($"c").over(bySrc).as("n"))
      .filter($"cum" * 2 >= $"n")
      .groupBy($"source", $"n").agg(min($"v").as("med"))
  }

  /** q215 — median absolute deviation (MAD) of document length per
    * source: the ROBUST dispersion statistic (a single 100 MB outlier
    * document moves a stddev arbitrarily; it moves the MAD not at
    * all), the robust-quality-monitoring complement of q146's
    * quantiles and q106's exact-integer z-test. Exact and
    * histogram-first TWICE: median from the length histogram, then
    * |x − median| collapsed to a second histogram for the deviation
    * median — the rank window never touches the corpus either time,
    * and the per-source medians broadcast for the deviation pass (the
    * corpus is scanned twice, shuffled never — both shuffles carry
    * histograms sized by the value domain). Integer-exact end to end:
    * the q146 rank rule avoids engine interpolation modes, so the gate
    * is a hash match, not a tolerance. */
  def madPerSource(vals: DataFrame): DataFrame = {
    val med = medianFromValues(vals)
    val dev = vals.join(broadcast(med.select($"source", $"med")), "source")
      .select($"source", abs($"v" - $"med").as("v"))
    med.select($"source", $"n".as("n_docs"), $"med".as("median"))
      .join(medianFromValues(dev).select($"source", $"med".as("mad")), "source")
  }

  def q215Mad(s: SparkSession, dir: String): DataFrame =
    madPerSource(load(s, dir, "documents").select($"source", $"n_chars".as("v")))

  // ------------------------------------------------------------ winsorize

  /** q227 — winsorization at p99 per source with clipped-mass
    * accounting: heavy-tail features (document length here) get their
    * outliers CLIPPED to the 99th percentile rather than dropped — the
    * standard feature-cleaning step before means/regressions that a
    * handful of giant documents would otherwise own. The cap comes
    * from the value histogram by the q146 rank rule (smallest v with
    * 100·cum ≥ 99·n — integer, no interpolation), and the output
    * accounts exactly what clipping did: rows touched and mass before
    * vs after (the q64 refuse-or-account rule for a mutating cleaner —
    * nothing is silently rewritten).
    *
    * SCALE: histogram-first like q215 — one map-combinable shuffle to
    * the histogram, rank window on the histogram, caps broadcast back
    * over one more corpus scan. Never a corpus-wide sort. */
  def winsorize(vals: DataFrame, pct: Int): DataFrame = {
    val bySrc = Window.partitionBy($"source")
    val cap = vals.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
      .select($"source", $"v",
        sum($"c").over(bySrc.orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum($"c").over(bySrc).as("n"))
      .filter($"cum" * 100 >= $"n" * pct)
      .groupBy($"source").agg(min($"v").as("cap"))
    vals.join(broadcast(cap), "source")
      .groupBy($"source")
      .agg(max($"cap").as("cap"), count(lit(1)).as("n_docs"),
        sum(when($"v" > $"cap", 1L).otherwise(0L)).as("n_clipped"),
        sum($"v").as("sum_before"),
        sum(least($"v", $"cap")).as("sum_after"))
  }

  def q227Winsorize(s: SparkSession, dir: String): DataFrame =
    winsorize(load(s, dir, "documents").select($"source", $"n_chars".as("v")),
      pct = 99)

  // ------------------------------------------------------------------ HLL

  /** Two-round overflow-safe LCG recombination → uniform-ish key in
    * [0, 1000003·999983) ≈ 2^39.9. Independent (prime, multiplier)
    * pairs so the two rounds do not cancel on arithmetic-progression
    * ids. */
  private def portableHash(id: Column): Column =
    (((id % 1000003L) * 2654435761L) % 1000003L) * 999983L +
      ((id % 999983L) * 1103515245L) % 999983L

  /** HLL registers over `idCol`, one register row per (key, bucket) for
    * ALL 64 buckets (empty buckets materialized with m = 0 — the
    * estimate formula needs them). bucket = h mod 64; the remaining
    * quotient v < 2^34 contributes rank = (leading zeros in 34 bits)+1
    * = 35 − bitlen(v), with v = 0 ⇒ 35. max() is the register merge,
    * so shard-wise register building + bucket-wise max IS the sketch
    * union (associative, order-free — the law SketchOpsSpec pins). */
  def hllRegisters(df: DataFrame, idCol: Column, keyCol: Column): DataFrame = {
    val s = df.sparkSession
    val regs = df
      .select(keyCol.as("k"), portableHash(idCol).as("h"))
      .select($"k", ($"h" % 64L).cast("long").as("bucket"),
        expr("h div 64").as("v"))
      .select($"k", $"bucket",
        when($"v" === 0L, lit(35L))
          .otherwise(lit(35L) - (length(bin($"v")) - 1)).cast("long").as("rk"))
      .groupBy($"k", $"bucket").agg(max($"rk").as("m"))
    val spine = df.select(keyCol.as("k")).distinct()
      .crossJoin(s.range(0L, 64L).select($"id".as("bucket")))
    // spine ≤ keys×64 rows, regs ≤ the same — both broadcast-trivial
    spine.join(regs, Seq("k", "bucket"), "left")
      .na.fill(0L, Seq("m"))
  }

  /** Small-range (linear-counting) correction table: lc[v] =
    * round(64·ln(64/v)) for v = 1..63 empty registers. Precomputed ONCE
    * here (StrictMath so the constants are platform-stable) and spliced
    * into the DuckDB oracle as the same literals, so the ln() never
    * runs inside either engine — the correction stays a pure integer
    * lookup on both sides (the q84 no-floats rule applied to the one
    * formula that genuinely needs a transcendental). */
  private[operators] val LcTable: IndexedSeq[Long] =
    (1 to 63).map(v => Math.round(64.0 * StrictMath.log(64.0 / v)))

  private[graft] def lcArraySql: String = LcTable.mkString("[", ", ", "]")

  private val lcArraySpark: String = LcTable.mkString("array(", ", ", ")")

  /** Integer-exact HLL estimate per key from full register rows: raw
    * E = α₆₄·64²/Σ2^(−M_j) with α₆₄ = 0.709 carried as 709/1000, the
    * harmonic sum scaled by 2^40 (register rank ≤ 35 keeps every shift
    * in [5, 40]); when the raw estimate is in the small-range regime
    * (E ≤ 2.5·64 with empty registers present) the standard
    * linear-counting estimate m·ln(m/v) replaces it via the
    * precomputed [[LcTable]] lookup — integer-exact on both engines
    * because the table is literal. `v_empty` and the raw estimate stay
    * visible so callers can see which regime produced the number. */
  def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy($"k").agg(
        sum(expr("shiftleft(cast(1 as bigint), cast(40 - m as int))")).as("sum_term"),
        sum(when($"m" === 0L, 1L).otherwise(0L)).as("v_empty"),
        max($"m").as("max_rank"))
      .select($"k",
        expr("(cast(2904064 as bigint) * shiftleft(cast(1 as bigint), 40))" +
          " div (1000 * sum_term)").as("hll_raw"),
        $"v_empty", $"max_rank")
      .select($"k",
        expr(s"CASE WHEN hll_raw <= 160 AND v_empty > 0" +
          s" THEN element_at($lcArraySpark, cast(v_empty as int))" +
          s" ELSE hll_raw END").as("hll_est"),
        $"hll_raw", $"v_empty", $"max_rank")

  /** q147 — per-source document-cardinality sketch next to the exact
    * count: the monitoring shape a release pipeline runs per snapshot
    * (at 100 TB the registers are 64 longs/source riding the existing
    * per-source aggregate; the exact count is here because the gate
    * should also STATE the error, not just the mechanics — the q135
    * recall-in-the-gate rule). */
  def q147HllCardinality(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val est = hllEstimate(hllRegisters(docs, $"doc_id", $"source"))
    val exact = docs.groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_exact"))
    est.join(exact, $"k" === exact("source"))
      .select($"source", $"n_exact", $"hll_est", $"hll_raw", $"v_empty",
        $"max_rank")
  }

  // --------------------------------------------------- sketch persistence

  /** Persist HLL register rows as a parquet artifact — 64 longs per
    * key, sorted (k, bucket), one file (the artifact is keys×64 rows:
    * a million segments is 64 M longs ≈ 512 MB, and the per-release
    * reality is thousands of keys — driver-trivial; raise the coalesce
    * if a catalog ever outgrows it). This is what makes q147/q148's
    * monitoring incremental: release N persists its registers once, and
    * every later comparison reads 64·keys longs instead of rescanning
    * release N's corpus. */
  def writeHllSketch(regs: DataFrame, path: String): Unit =
    regs.select($"k", $"bucket", $"m")
      .coalesce(1).sortWithinPartitions($"k", $"bucket")
      .write.mode("overwrite").parquet(path)

  def readHllSketch(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Sketch UNION of two register sets: bucket-wise max per key —
    * associative, commutative, idempotent, so any merge tree over any
    * shard partition of the corpus yields byte-identical registers to a
    * single pass over the union (the law SketchOpsSpec pins, now
    * through the persisted path). Keys present in only one side keep
    * their full 64-bucket spine from that side — a release that gains a
    * brand-new segment merges cleanly against last release's sketch. */
  def mergeHllSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"k", $"bucket", $"m")
      .union(b.select($"k", $"bucket", $"m"))
      .groupBy($"k", $"bucket").agg(max($"m").as("m"))

  /** q155 — the release-over-release monitoring loop through the
    * PERSISTED path: the corpus is split into two disjoint "releases"
    * (doc_id parity), each release's registers are built, written, and
    * read back as independent artifacts, merged bucket-wise, and
    * estimated. Because merge ≡ union exactly (not approximately), the
    * oracle is the straight single-pass estimate over the whole corpus
    * — hash equality here IS the store-roundtrip law, gated
    * cross-engine. At 100 TB each release scans only ITS corpus once;
    * comparisons forever after are 64-longs-per-key reads. */
  def q155HllPersistedUnion(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q155").toString
    writeHllSketch(
      hllRegisters(docs.filter($"doc_id" % 2 === 0L), $"doc_id", $"source"),
      s"$tmp/release_a")
    writeHllSketch(
      hllRegisters(docs.filter($"doc_id" % 2 === 1L), $"doc_id", $"source"),
      s"$tmp/release_b")
    val merged = mergeHllSketches(
      readHllSketch(s, s"$tmp/release_a"), readHllSketch(s, s"$tmp/release_b"))
    val exact = docs.groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_exact"))
    hllEstimate(merged).join(exact, $"k" === exact("source"))
      .select($"source", $"n_exact", $"hll_est", $"hll_raw", $"v_empty",
        $"max_rank")
  }

  // ------------------------------------------------------ persisted Bloom

  /** Number of 64-bit words backing an `mBits`-bit Bloom filter. */
  private def bloomWords(mBits: Long): Long = (mBits + 63) / 64

  /** The 128-bit hash pair a key reduces to BEFORE any shuffle: bloom
    * membership depends only on (h1, h2), so every downstream step —
    * the build's distinct, the probe's distinct, the pass-set join —
    * moves 16 bytes per key instead of the key itself (a document TEXT
    * at 100 TB). A pair collision's only effect is one extra bloom
    * false positive, which the exact verify behind every probe already
    * removes — the semantics cannot observe it. */
  private def hashPair(key: Column): Column =
    struct(xxhash64(key).as("h1"), hash(key).cast("long").as("h2"))

  /** The k probe positions of a hash pair as (word, mask) rows: double
    * hashing pos_j = h1 + (j+1)·h2 + j². Purely Column-API — the probe
    * compiles into whole-stage codegen, unlike q67's deliberate UDF
    * probe of the opaque `DataFrameStatFunctions` sketch. Determinism
    * is all a Bloom filter needs; no oracle ever sees these positions
    * because the exact verify behind the prefilter makes the RESULT
    * hash-exact. */
  private def bloomPositions(hp: Column, mBits: Long, k: Int): Column =
    array((0 until k).map { j =>
      val pos = pmod(hp.getField("h1") + lit(j + 1L) * hp.getField("h2") +
        lit(j.toLong * j), lit(mBits))
      // pos ∈ [0, mBits): word = pos >> 6 ≡ pos div 64, both codegen'd
      struct(shiftright(pos, 6).as("word"),
        call_function("shiftleft", lit(1L), (pos % 64L).cast("int")).as("mask"))
    }: _*)

  /** Build a Bloom filter over the DISTINCT values of `keyCol` as a
    * DataFrame of (word, bits) longs — ≤ mBits/64 rows regardless of
    * corpus size (the default 2^20 bits is 16 K longs ≈ 128 KB, sized
    * for ~10^5 keys at k = 4; callers with bigger key sets raise mBits,
    * the artifact stays bits/8 bytes). Words no key touched are absent
    * (implicitly zero — [[bloomProbe]] left-joins). One shuffle on the
    * word id, map-side `bit_or` combine, so the build is a single pass
    * over the corpus producing a fixed-size artifact — same shape as
    * [[hllRegisters]]. */
  def buildBloom(df: DataFrame, keyCol: Column,
      mBits: Long = 1L << 20, k: Int = 4): DataFrame =
    df.select(hashPair(keyCol).as("hp")).distinct() // 16-byte shuffle rows
      .select(explode(bloomPositions($"hp", mBits, k)).as("p"))
      .groupBy($"p.word".as("word"))
      .agg(expr("bit_or(p.mask)").as("bits"))

  /** Persist a Bloom artifact — tiny by construction (≤ mBits/64 rows),
    * one sorted file, same store discipline as [[writeHllSketch]]. */
  def writeBloom(bloom: DataFrame, path: String): Unit =
    bloom.select($"word", $"bits")
      .coalesce(1).sortWithinPartitions($"word")
      .write.mode("overwrite").parquet(path)

  def readBloom(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Bloom UNION: word-wise bitwise OR — associative, commutative,
    * idempotent (the HLL max-merge law with OR as the monoid), so
    * blooms built per release merge into the history sketch without
    * ever rescanning old corpora, and merging a release twice is a
    * no-op. SketchOpsSpec pins merge ≡ build-over-union byte-equality. */
  def mergeBlooms(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"word", $"bits").union(b.select($"word", $"bits"))
      .groupBy($"word").agg(expr("bit_or(bits)").as("bits"))

  /** Rows of `df` whose `keyCol` the Bloom filter MIGHT contain (all k
    * bits set). No false negatives — a key inserted by [[buildBloom]]
    * always survives — so `probe → exact verify` is semantics-free
    * prefiltering.
    *
    * The probe is MAP-ONLY: each of the k positions becomes one
    * chained broadcast-hash lookup of the ≤ mBits/64-row bloom, the
    * bit test runs per occurrence inside whole-stage codegen, and the
    * conjunction is a plain filter — no shuffle, no distinct, no
    * grouping; `df` flows through untouched except for the dropped
    * rows (the [[cmsHeavyProbe]] plan shape, for membership). */
  /** [[bloomProbe]]'s flag form: the input frame plus a boolean
    * `flagCol` — true iff every one of the k bloom bits is set (i.e.
    * "maybe a member"; false is a GUARANTEED non-member). Same map-only
    * plan; both the semi (keep hits) and anti (keep misses outright,
    * exact-verify only the hits) join shapes build on this. */
  def bloomProbeFlag(df: DataFrame, keyCol: Column, bloom: DataFrame,
      flagCol: String, mBits: Long = 1L << 20, k: Int = 4): DataFrame = {
    val hp = hashPair(keyCol)
    def pos(j: Int): Column =
      pmod(hp.getField("h1") + lit(j + 1L) * hp.getField("h2") +
        lit(j.toLong * j), lit(mBits))
    val joined = (0 until k).foldLeft(df) { (acc, j) =>
      val bj = broadcast(bloom.select($"word".as(s"__bf_word_$j"),
        $"bits".as(s"__bf_bits_$j")))
      acc.join(bj, shiftright(pos(j), 6) === col(s"__bf_word_$j"), "left")
    }
    val allHit = (0 until k).map { j =>
      (call_function("shiftright",
        coalesce(col(s"__bf_bits_$j"), lit(0L)),
        (pos(j) % 64L).cast("int")).bitwiseAND(lit(1L))) === lit(1L)
    }.reduce(_ && _)
    joined.withColumn(flagCol, allHit)
      .drop((0 until k).flatMap(j =>
        Seq(s"__bf_word_$j", s"__bf_bits_$j")): _*)
  }

  def bloomProbe(df: DataFrame, keyCol: Column, bloom: DataFrame,
      mBits: Long = 1L << 20, k: Int = 4): DataFrame =
    bloomProbeFlag(df, keyCol, bloom, "__bf_hit", mBits, k)
      .filter($"__bf_hit").drop("__bf_hit")

  /** Generic Bloom semi-join — the big-big join prefilter, packaged:
    * `left SEMI JOIN right ON leftKey = rightKey` where BOTH sides are
    * too large to broadcast normally shuffles the full left side on the
    * key. Here the right side's key set is distilled into a 128 KB
    * Bloom (the build shuffles 16-byte hash pairs, never right rows),
    * the left side is probed MAP-ONLY in whole-stage codegen (k
    * broadcast bit lookups — no false negatives, so no match is lost),
    * and only the surviving candidates (true matches + the bloom's ~1%
    * false positives) enter the exact semi join that removes the FPs.
    * The result is IDENTICAL to the plain semi join — the q67/q157
    * sketch-prefilter-exact-verify discipline applied to the join
    * operator itself — while the left side's shuffle volume drops from
    * |left| to |candidates|. At 100 TB this is the difference between
    * shuffling the fact table and shuffling its matching slice; Spark's
    * own runtime row-level-filter does this opportunistically, this
    * operator guarantees it, with the sketch reusable as a persisted
    * artifact ([[writeBloom]]) across queries. */
  def bloomSemiJoin(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column,
      mBits: Long = 1L << 20, k: Int = 4): DataFrame = {
    val bloom = buildBloom(right, rightKey, mBits, k)
      // ≤ mBits/64 rows, reused by k broadcast builds
      .transform(Pins.pin(_, eager = true))
    val candidates = bloomProbe(left, leftKey, bloom, mBits, k)
    candidates.join(right.select(rightKey.as("__bsj_rk")).distinct(),
      leftKey === col("__bsj_rk"), "left_semi")
  }

  /** Generic Bloom ANTI-join — decontamination as a join operator. The
    * asymmetry with [[bloomSemiJoin]] is what makes it cheap: a bloom
    * MISS is a guaranteed non-member, so every missing left row passes
    * straight through with NO join at all (map-only); only the hits
    * (true members + ~1% FPs) enter the exact anti join that rescues
    * the FPs. Result ≡ the plain anti join; the shuffle carries only
    * the hit slice. At 100 TB this is eval-suite decontamination
    * (q55/q67's semantics) where the corpus-side cost is one map pass
    * plus a members-sized join — the 99% clean majority never shuffles. */
  def bloomAntiJoin(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column,
      mBits: Long = 1L << 20, k: Int = 4): DataFrame = {
    val bloom = buildBloom(right, rightKey, mBits, k)
      // ≤ mBits/64 rows, reused by k broadcast builds
      .transform(Pins.pin(_, eager = true))
    val flagged = bloomProbeFlag(left, leftKey, bloom, "__baj_hit", mBits, k)
    val misses = flagged.filter(!$"__baj_hit").drop("__baj_hit")
    val rescued = flagged.filter($"__baj_hit").drop("__baj_hit")
      .join(right.select(rightKey.as("__baj_rk")).distinct(),
        leftKey === col("__baj_rk"), "left_anti")
    misses.unionByName(rescued)
  }

  /** q177 — the bloom anti-join on the decontamination shape: orders
    * whose customer is NOT in the contaminated set (nations 0-4).
    * Oracle = the plain NOT IN with no bloom anywhere. */
  def q177BloomAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    val cust = load(s, dir, "customer").filter($"c_nationkey" < 5)
    bloomAntiJoin(orders, $"o_custkey", cust, $"c_custkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"),
        expr("bit_xor(o_orderkey)").as("keys_xor"))
  }

  /** q176 — the bloom semi-join gated on the TPC-H shape it exists
    * for: orders of customers in nations 0-4 (the right side filtered
    * to ~1/5 of customers), aggregated per order priority with
    * integer-only evidence columns. Oracle = the plain semi join with
    * no bloom anywhere — hash equality proves no-false-negative + exact
    * FP removal through the prefiltered path. */
  def q176BloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    val cust = load(s, dir, "customer").filter($"c_nationkey" < 5)
    bloomSemiJoin(orders, $"o_custkey", cust, $"c_custkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"),
        expr("bit_xor(o_orderkey)").as("keys_xor"))
  }

  /** q157 — cross-release incremental dedup through the PERSISTED Bloom
    * path: history releases A and B each persist a Bloom over their
    * document texts once; release C probes the OR-merged sketch, and
    * only the candidates (true dups + the bloom's false positives) go
    * into an exact text join with history. The exact verify is itself
    * bloom-prefiltered on the CANDIDATE side — history rows that cannot
    * match any candidate are dropped before the shuffle — so the join
    * traffic is bounded by candidate volume, not history volume; the
    * history scan itself is one column-pruned pass (text only), never a
    * recompute of A/B's sketches. Because the bloom has no false
    * negatives and the join removes the false positives, the oracle is
    * the plain exact semi-join — hash equality gates the whole
    * prefilter discipline cross-engine. At 100 TB: per-release build is
    * one pass producing 128 KB; the release-over-release loop reads
    * blooms, not corpora. */
  def q157BloomIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q157").toString
    val relA = docs.filter($"doc_id" % 3 === 0L)
    val relB = docs.filter($"doc_id" % 3 === 1L)
    val relC = docs.filter($"doc_id" % 3 === 2L)
    writeBloom(buildBloom(relA, $"text"), s"$tmp/bloom_a")
    writeBloom(buildBloom(relB, $"text"), s"$tmp/bloom_b")
    val history = mergeBlooms(
      readBloom(s, s"$tmp/bloom_a"), readBloom(s, s"$tmp/bloom_b"))
    // lazy checkpoint: candidates feed BOTH the candidate-bloom build
    // and the final join — without it the release-C probe would run
    // twice (a second full pass over the new release at 100 TB);
    // materialized by the first action, reused by the second
    val candidates = Pins.pin(bloomProbe(relC, $"text", history), eager = false)
    // exact verify, candidate-bloom-prefiltered on the history side
    val candBloom = buildBloom(candidates, $"text")
    val histTexts = bloomProbe(
      relA.select($"text").union(relB.select($"text")), $"text", candBloom)
      .distinct()
    val dups = candidates.join(histTexts, Seq("text"), "left_semi")
    val total = relC.groupBy($"source").agg(count(lit(1)).as("n_release"))
    val dup = dups.groupBy($"source").agg(count(lit(1)).as("n_dup_history"))
    total.join(dup, Seq("source"), "left")
      .na.fill(0L, Seq("n_dup_history"))
      .select($"source", $"n_release", $"n_dup_history",
        ($"n_release" - $"n_dup_history").as("n_fresh"))
  }

  /** q178 — q157's incremental dedup through the STREAMING bloom
    * store: history releases A and B arrive as two micro-batch shards
    * appended by the stream, a genuine fold consolidates them
    * (asserted — the q133 non-vacuity rule; OR is idempotent AND
    * associative so the fold is exactly [[mergeBlooms]]), and release C
    * probes the store read. From the probe on, the body is q157's
    * verbatim (candidate checkpoint, candidate-bloom-prefiltered exact
    * verify), so the oracle is q157's plain semi join — the stream
    * maintenance is proven invisible to the result. At 100 TB dedup
    * history is kept current by ingest itself: no nightly rebuild, one
    * ≤ 128 KB shard per batch. */
  def q178BloomStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.HistogramStream
    val docs = load(s, dir, "documents")
    val store = graft.TempDirs.create("q178").toString
    val relA = docs.filter($"doc_id" % 3 === 0L)
    val relB = docs.filter($"doc_id" % 3 === 1L)
    val relC = docs.filter($"doc_id" % 3 === 2L)
    HistogramStream.appendBloomShard(s, store, "batch_0",
      buildBloom(relA, $"text"))
    HistogramStream.appendBloomShard(s, store, "batch_1",
      buildBloom(relB, $"text"))
    HistogramStream.compactBloom(s, store)
    val afterFold = HistogramStream.liveTags(s, store)
    require(afterFold == Seq("folded-0"),
      s"q178 gate is vacuous unless the fold ran: live tags $afterFold")
    val history = HistogramStream.readBloomStore(s, store)
      // ≤ mBits/64 rows, reused by k broadcast builds
      .transform(Pins.pin(_, eager = true))
    val candidates = Pins.pin(bloomProbe(relC, $"text", history), eager = false)
    val candBloom = buildBloom(candidates, $"text")
    val histTexts = bloomProbe(
      relA.select($"text").union(relB.select($"text")), $"text", candBloom)
      .distinct()
    val dups = candidates.join(histTexts, Seq("text"), "left_semi")
    val total = relC.groupBy($"source").agg(count(lit(1)).as("n_release"))
    val dup = dups.groupBy($"source").agg(count(lit(1)).as("n_dup_history"))
    total.join(dup, Seq("source"), "left")
      .na.fill(0L, Seq("n_dup_history"))
      .select($"source", $"n_release", $"n_dup_history",
        ($"n_release" - $"n_dup_history").as("n_fresh"))
  }

  /** q161 — decontamination through the PERSISTED shingle Bloom: the
    * eval suite's distinct 3-token shingles are sketched and written
    * ONCE ([[writeBloom]]); the corpus shingle stream probes the stored
    * sketch and only candidates reach the exact broadcast join that
    * removes false positives. Same semantics as q67 (and the same
    * oracle — q55's exact containment), but where q67's
    * `DataFrameStatFunctions.bloomFilter` is an opaque in-memory object
    * probed through a JVM UDF and rebuilt every run, this sketch is a
    * parquet artifact: persisted per eval suite, OR-mergeable across
    * suites ([[mergeBlooms]] — one combined probe for N benchmarks),
    * and probed in whole-stage codegen. At 100 TB the eval suites are
    * sketched once, ever; each release pays one corpus shingle pass
    * against ~128 KB of broadcast bits. */
  def q161BloomDeconStore(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val bench = docs.filter($"doc_id" < 10)
      .select(explode(TextOps.shingles($"text")).as("g")).distinct()
    val tmp = graft.TempDirs.create("q161").toString
    writeBloom(buildBloom(bench, $"g"), s"$tmp/eval_bloom")
    val bloom = readBloom(s, s"$tmp/eval_bloom")
    val corpus = docs.filter($"doc_id" >= 10)
      .select($"doc_id", $"source", explode(TextOps.shingles($"text")).as("g"))
    bloomProbe(corpus, $"g", bloom)
      .join(broadcast(bench), "g")
      .groupBy($"doc_id", $"source")
      .agg(countDistinct($"g").as("n_hits"))
      .filter($"n_hits" >= 3)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_contaminated"),
        sum($"n_hits").cast("long").as("total_hits"))
  }

  // -------------------------------------------------------- persisted CMS

  /** Count-Min sketch over `keyCol` occurrences as a DataFrame of
    * (row, pos, n) counters — d×w longs regardless of key-domain size
    * (the default 4×65536 is 2 MB — sized so the overcount floor N/w stays
    * below useful thresholds as occurrences N grow; widen w with the
    * corpus, the artifact stays d·w longs), for domains where even the
    * distinct-key table explodes (shingles/n-grams — tokens are
    * Heaps'-law bounded, 5-gram space is not). Same hash-pair
    * discipline as [[buildBloom]]: the shuffle moves (row, pos) ints,
    * never the keys. CMS never UNDERcounts (collisions only add), so
    * `threshold probe → exact verify` finds every truly-heavy key —
    * the bloom no-false-negative argument, for counts. */
  def buildCms(df: DataFrame, keyCol: Column,
      w: Int = 65536, d: Int = 4): DataFrame =
    df.select(hashPair(keyCol).as("hp"))
      .select(explode(cmsPositions($"hp", w, d)).as("p"))
      .groupBy($"p.row".as("row"), $"p.pos".as("pos"))
      .agg(count(lit(1)).as("n"))

  private def cmsPositions(hp: Column, w: Int, d: Int): Column =
    array((0 until d).map { j =>
      struct(lit(j).as("row"),
        pmod(hp.getField("h1") + lit(j + 1L) * hp.getField("h2") +
          lit(j.toLong * j), lit(w.toLong)).as("pos"))
    }: _*)

  def writeCms(cms: DataFrame, path: String): Unit =
    cms.select($"row", $"pos", $"n")
      .coalesce(1).sortWithinPartitions($"row", $"pos")
      .write.mode("overwrite").parquet(path)

  def readCms(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** CMS UNION: counter-wise SUM — the count monoid, like the
    * histogram store (NOT idempotent; one artifact per release). Sums
    * of per-release counters equal the union sketch exactly, so the
    * min-over-rows estimate of the merged sketch still never
    * undercounts the union corpus. */
  def mergeCms(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"row", $"pos", $"n").union(b.select($"row", $"pos", $"n"))
      .groupBy($"row", $"pos").agg(sum($"n").as("n"))

  /** Rows of `df` whose key's CMS estimate (min over the d counters it
    * hashes to, missing counter = 0) reaches `threshold` — a superset
    * of the truly-heavy keys (CMS never undercounts), bounded below
    * corpus size by the sketch's overcount profile.
    *
    * The probe is MAP-ONLY: each of the d counter rows becomes one
    * chained broadcast-hash lookup (the per-row slice of the sketch is
    * ≤ w longs), the estimate is `least` over the d looked-up counts,
    * and the filter runs per occurrence inside whole-stage codegen —
    * no shuffle, no distinct, no grouping anywhere, so the key domain
    * genuinely never materializes on any wire. */
  def cmsHeavyProbe(df: DataFrame, keyCol: Column, cms: DataFrame,
      threshold: Long, w: Int = 65536, d: Int = 4): DataFrame =
    cmsHeavyProbeCol(df, keyCol, cms, lit(threshold), w, d)

  /** [[cmsHeavyProbe]] with a COLUMN threshold — for data-dependent
    * cutoffs (q88's `total div 64`) that should stay in-plan instead of
    * round-tripping through a driver action. The threshold expression
    * may reference any column of `df` (e.g. a crossJoined broadcast
    * total). */
  def cmsHeavyProbeCol(df: DataFrame, keyCol: Column, cms: DataFrame,
      threshold: Column, w: Int = 65536, d: Int = 4): DataFrame = {
    val hp = hashPair(keyCol)
    val joined = (0 until d).foldLeft(df) { (acc, j) =>
      val cj = broadcast(cms.filter(col("row") === j)
        .select(col("pos").as(s"__cms_pos_$j"), col("n").as(s"__cms_n_$j")))
      val pos = pmod(hp.getField("h1") + lit(j + 1L) * hp.getField("h2") +
        lit(j.toLong * j), lit(w.toLong))
      acc.join(cj, pos === col(s"__cms_pos_$j"), "left")
    }
    val est = least((0 until d).map(j =>
      coalesce(col(s"__cms_n_$j"), lit(0L))): _*)
    joined.filter(est >= threshold)
      .drop((0 until d).flatMap(j =>
        Seq(s"__cms_pos_$j", s"__cms_n_$j")): _*)
  }

  /** q166 — heavy shingles through the PERSISTED Count-Min path: two
    * release shards (doc parity) each persist their shingle CMS once;
    * the merged (counter-sum) sketch prunes the shingle stream to
    * candidates whose estimate reaches the threshold, and only those
    * candidates are exactly counted and filtered — no false negatives
    * (CMS only overcounts), false positives removed by the exact
    * count, so the oracle is the plain exact HAVING. The shingle
    * DOMAIN never materializes anywhere: the sketch is d×w longs, the
    * probe is map-only broadcast lookups per occurrence (no distinct,
    * no shuffle), and the one shuffle in the whole query is the exact
    * count over the threshold-bounded candidates. The
    * quartet is complete: HLL (max), Bloom (OR), histogram/CMS (sum) —
    * membership, cardinality, order statistics, and frequency, each
    * release-mergeable. */
  def q166CmsStoreHeavy(s: SparkSession, dir: String,
      threshold: Long = 5L): DataFrame = {
    val docs = load(s, dir, "documents")
    val sh = docs.select($"doc_id",
      explode(TextOps.shingles($"text")).as("g"))
    val tmp = graft.TempDirs.create("q166").toString
    writeCms(buildCms(sh.filter($"doc_id" % 2 === 0L), $"g"), s"$tmp/cms_a")
    writeCms(buildCms(sh.filter($"doc_id" % 2 === 1L), $"g"), s"$tmp/cms_b")
    val cms = mergeCms(readCms(s, s"$tmp/cms_a"), readCms(s, s"$tmp/cms_b"))
      // reused by d broadcast builds; ≤ d×w rows
      .transform(Pins.pin(_, eager = true))
    val candidates = cmsHeavyProbe(sh, $"g", cms, threshold)
    candidates.groupBy($"g").agg(count(lit(1)).as("n_exact"))
      .filter($"n_exact" >= threshold)
  }

  /** q167 — EMERGING heavy shingles: heavy in the new release, below
    * threshold in the previous one — the "new boilerplate / spam
    * campaign" alarm, and the monitoring query the per-release CMS
    * artifacts exist for. Candidates come from the new release's
    * persisted sketch through the map-only probe (CMS never
    * undercounts ⇒ no truly-heavy key is missed), the exact new-side
    * count removes overcount FPs, and the old release is touched by
    * exactly one column-pruned pass pre-filtered to the (bounded)
    * heavy key set via a broadcast semi-join — its shuffle carries
    * only heavy-key occurrences. Nothing anywhere is sized by the
    * shingle domain. */
  def cmsEmerging(docs: DataFrame, threshold: Long): DataFrame = {
    val s = docs.sparkSession
    val sh = docs.select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val shA = sh.filter($"doc_id" % 2 === 0L) // previous release
    val shB = sh.filter($"doc_id" % 2 === 1L) // new release
    val tmp = graft.TempDirs.create("q167").toString
    writeCms(buildCms(shB, $"g"), s"$tmp/cms_b")
    val cmsB = readCms(s, s"$tmp/cms_b")
      // reused by d broadcast builds; ≤ d×w rows
      .transform(Pins.pin(_, eager = true))
    // exact heavy set of the new release; checkpointed — it feeds both
    // the old-release prefilter and the final join
    val heavyB = cmsHeavyProbe(shB, $"g", cmsB, threshold)
      .groupBy($"g").agg(count(lit(1)).as("n_b"))
      .filter($"n_b" >= threshold)
      .transform(Pins.pin(_, eager = false))
    val aCounts = shA
      .join(broadcast(heavyB.select($"g")), Seq("g"), "left_semi")
      .groupBy($"g").agg(count(lit(1)).as("n_a"))
    heavyB.join(aCounts, Seq("g"), "left")
      .na.fill(0L, Seq("n_a"))
      .filter($"n_a" < threshold)
      .select($"g", $"n_b", $"n_a")
  }

  def q167CmsEmerging(s: SparkSession, dir: String,
      threshold: Long = 3L): DataFrame =
    cmsEmerging(load(s, dir, "documents"), threshold)

  /** q170 — heavy shingles through the STREAMING-maintained CMS store:
    * three micro-batches (doc_id mod 3) append their d×w-bounded
    * counter shards via [[graft.streaming.HistogramStream.appendCmsShard]]
    * with a genuine mid-stream fold between batches 2 and 3 (two live
    * shards at that point, so the fold really executes — the q133
    * non-vacuity rule, asserted or the query throws). The final read
    * sum-merges the folded shard with batch 2's shard; because counter
    * sums are exact, shard-accumulate + fold + read ≡ the one-shot
    * union sketch, so the probe + exact verify returns exactly q166's
    * answer and the oracle is the same plain exact HAVING. At 100 TB
    * the stream pays one d×w-bounded aggregate per batch and the store
    * never exceeds shards × d×w counters between folds — corpus-
    * lifetime frequency monitoring with storage bounded forever. */
  def q170CmsStreamStore(s: SparkSession, dir: String,
      threshold: Long = 5L): DataFrame = {
    import graft.streaming.HistogramStream
    val docs = load(s, dir, "documents")
    val sh = docs.select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val store = graft.TempDirs.create("q170").toString
    HistogramStream.appendCmsShard(s, store, "batch_0",
      buildCms(sh.filter($"doc_id" % 3 === 0L), $"g"))
    HistogramStream.appendCmsShard(s, store, "batch_1",
      buildCms(sh.filter($"doc_id" % 3 === 1L), $"g"))
    HistogramStream.compactCms(s, store)
    val afterFold = HistogramStream.liveTags(s, store)
    require(afterFold == Seq("folded-0"),
      s"q170 gate is vacuous unless the fold ran: live tags $afterFold")
    HistogramStream.appendCmsShard(s, store, "batch_2",
      buildCms(sh.filter($"doc_id" % 3 === 2L), $"g"))
    val cms = HistogramStream.readCmsStore(s, store)
      // reused by d broadcast builds; ≤ d×w rows
      .transform(Pins.pin(_, eager = true))
    cmsHeavyProbe(sh, $"g", cms, threshold)
      .groupBy($"g").agg(count(lit(1)).as("n_exact"))
      .filter($"n_exact" >= threshold)
  }

  // ------------------------------------------------- CMS join-size estimate

  /** [[buildCms]] with the SQL-replayable LCG hash (the q147 portable
    * discipline) instead of the xxhash64 pair: positions for row j are
    * (h₁ + (j+1)·h₂ + j²) mod w with h₁/h₂ the low/high 2^20 halves of
    * [[portableHash]] — pure integer arithmetic both engines share, so
    * a gate whose OUTPUT is a sketch-derived estimate (q181, where no
    * exact verify can launder the hash away) replays bit-for-bit in
    * DuckDB. The CMS overestimate theorem holds for ANY deterministic
    * hash (collisions only add); hash quality affects accuracy only,
    * which the ε·N error bound and the laws cover. Same (row, pos, n)
    * schema as [[buildCms]], so [[writeCms]]/[[readCms]]/[[mergeCms]]
    * serve both families — an artifact is one hash family forever,
    * which the call sites own (mixing families would silently estimate
    * garbage, like merging sketches of different widths). */
  def buildCmsPortable(df: DataFrame, keyCol: Column,
      w: Int = 65536, d: Int = 4): DataFrame =
    df.select(portableHash(keyCol).as("h"))
      .select(($"h" % 1048573L).as("h1"), expr("(h div 1048573) % 1048573").as("h2"))
      .select(explode(array((0 until d).map { j =>
        struct(lit(j).as("row"),
          pmod($"h1" + lit(j + 1L) * $"h2" + lit(j.toLong * j), lit(w.toLong))
            .as("pos"))
      }: _*)).as("p"))
      .groupBy($"p.row".as("row"), $"p.pos".as("pos"))
      .agg(count(lit(1)).as("n"))

  /** Join-output-cardinality estimate from two CMS sketches — the
    * Cormode–Muthukrishnan inner-product estimator: for each row j,
    * Σ_pos nA[j][pos]·nB[j][pos] counts every true joining pair once
    * PLUS nonnegative collision cross-terms, so min over the d rows
    * NEVER undercounts |A ⋈ B| and overshoots by ≤ ε·|A|·|B| in
    * expectation (ε = e/w). This is the shuffle-vs-broadcast-vs-salt
    * advisor input at 100 TB: the true join size Σ_k cA(k)·cB(k) needs
    * a key-domain-sized per-key-count join over both corpora, while
    * this reads two d×w artifacts (2 MB each, e.g. from the persisted
    * [[writeCms]] store) — the planner learns "this join explodes"
    * without touching either table. Products accumulate in
    * decimal(38,0): two 100 TB-corpus counters can each exceed 2^31,
    * so a long·long product sum would overflow silently.
    *
    * Training-data-pipeline surface; the reference's planner has no
    * analogue (its joins are index-nested over HDF5 region refs). */
  def cmsInnerProduct(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"row", $"pos", $"n".as("na"))
      .join(broadcast(b.select($"row", $"pos", $"n".as("nb"))), Seq("row", "pos"))
      .groupBy($"row")
      .agg(sum($"na".cast("decimal(38,0)") * $"nb").as("ip"))
      .agg(coalesce(min($"ip"), lit(0)).cast("long").as("est_pairs"))

  /** q181 — join-size advisory on a genuinely many-to-many shape: the
    * two event-id parity halves of `events` joined on `user_id`. The
    * gated row carries the two input sizes, the EXACT join size (the
    * key-domain-sized computation the estimator exists to avoid — in
    * the gate precisely so the estimate's overshoot is exhibited and
    * pinned cross-engine, the q147 error-in-the-gate convention), and
    * the sketch estimate; hash equality proves the full portable-hash
    * CMS pipeline — LCG, position derivation, counter sums, row-wise
    * inner products, min — is integer-identical in both engines. */
  def q181CmsJoinSize(s: SparkSession, dir: String,
      w: Int = 65536, d: Int = 4): DataFrame = {
    val ev = load(s, dir, "events")
    val a = ev.filter($"event_id" % 2 === 0L).select($"user_id".as("k"))
    val b = ev.filter($"event_id" % 2 === 1L).select($"user_id".as("k"))
    val est = cmsInnerProduct(
      buildCmsPortable(a, $"k", w, d), buildCmsPortable(b, $"k", w, d))
    val exact = a.groupBy($"k").agg(count(lit(1)).as("na"))
      .join(b.groupBy($"k").agg(count(lit(1)).as("nb")), "k")
      .agg(coalesce(sum($"na".cast("decimal(38,0)") * $"nb"), lit(0))
        .cast("long").as("exact_pairs"))
    a.agg(count(lit(1)).as("n_a")).crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(exact).crossJoin(est)
  }

  /** q190 — the JOIN-PLAN ADVISOR: everything a planner (human or
    * rule) needs to choose broadcast / plain shuffle / salted for
    * A ⋈ B, from artifacts and bounded aggregates only — the q181
    * estimator and q160 skew profile COMPOSED into a decision:
    *
    *   - n_a / n_b: side sizes (one count each);
    *   - est_pairs: the CMS inner-product join size — sketch-only,
    *     never the per-key-count join (q181);
    *   - hot_share_a/b (ppm) + salt_a/b: each side's heaviest key and
    *     its recommended salt factor (q160's top-1 row);
    *   - strategy: integer-threshold CASE — 'broadcast_b' when the
    *     build side is small (row-count stand-in for the byte
    *     threshold), else 'salted' when either side's hot key
    *     recommends fanout ≥ 4, else 'shuffle'.
    *
    * Every number is exact-integer or sketch-deterministic, so the
    * RECOMMENDATION itself is gated cross-engine — an advisor whose
    * advice differs between engines is worse than none. At 100 TB the
    * whole report is two footer counts, two map-side-combinable
    * aggregates with top-1 TakeOrdered, and a 2 MB-sketch join. */
  def joinAdvisor(a: DataFrame, b: DataFrame,
      broadcastRows: Long = 100000L, saltCut: Long = 4L): DataFrame = {
    val est = cmsInnerProduct(
      buildCmsPortable(a, col("k")), buildCmsPortable(b, col("k")))
    def hot(df: DataFrame, tag: String): DataFrame =
      MiningOps.skewProfile(df, col("k"), topK = 1)
        .select(col("share_ppm").as(s"hot_share_$tag"),
          col("salt_factor").as(s"salt_$tag"))
    a.agg(count(lit(1)).as("n_a")).crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(est).crossJoin(hot(a, "a")).crossJoin(hot(b, "b"))
      .withColumn("strategy",
        when($"n_b" <= broadcastRows, lit("broadcast_b"))
          .when(greatest($"salt_a", $"salt_b") >= saltCut, lit("salted"))
          .otherwise(lit("shuffle")))
  }

  def q190JoinAdvisor(s: SparkSession, dir: String,
      broadcastRows: Long = 100000L, saltCut: Long = 4L): DataFrame = {
    val ev = load(s, dir, "events")
    joinAdvisor(
      ev.filter($"event_id" % 2 === 0L).select($"user_id".as("k")),
      ev.filter($"event_id" % 2 === 1L).select($"user_id".as("k")),
      broadcastRows, saltCut)
  }

  // -------------------------------------------- persisted token histogram

  /** The (source, tok_n) → count histogram — q146's phase 1, exposed as
    * an artifact: output cardinality ≤ distinct token-counts per source
    * (value-domain-bounded, corpus-size-free), and counts SUM, so
    * per-release histograms merge EXACTLY — the third monoid in the
    * store family (HLL merges by max, Bloom by OR, histograms by sum)
    * and the only one whose merged estimate is not an estimate at all. */
  def tokenHistogram(docs: DataFrame): DataFrame =
    docs.select($"source", size(split($"text", " ")).cast("long").as("tok_n"))
      .groupBy($"source", $"tok_n").agg(count(lit(1)).as("c"))

  def writeTokenHistogram(hist: DataFrame, path: String): Unit =
    hist.select($"source", $"tok_n", $"c")
      .coalesce(1).sortWithinPartitions($"source", $"tok_n")
      .write.mode("overwrite").parquet(path)

  def readTokenHistogram(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Histogram UNION: counts add per (source, tok_n). Associative and
    * commutative (NOT idempotent — a release merged twice double-counts,
    * which is the correct semantics for counts; the store layout keeps
    * one artifact per release so the merge tree never revisits one). */
  def mergeTokenHistograms(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"source", $"tok_n", $"c")
      .union(b.select($"source", $"tok_n", $"c"))
      .groupBy($"source", $"tok_n").agg(sum($"c").as("c"))

  /** q146's phase 2 — the rank window over a histogram, factored out so
    * the persisted path reuses it verbatim. */
  def quantilesFromHistogram(hist: DataFrame,
      ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val bySrc = Window.partitionBy($"source")
    val w = hist.select($"source", $"tok_n", $"c",
      sum($"c").over(bySrc.orderBy($"tok_n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum($"c").over(bySrc).as("n_docs"))
    val spine = explode(array(ps.map(p => lit(p.toLong)): _*)).as("p")
    w.select($"source", $"tok_n", $"cum", $"n_docs", spine)
      .filter($"cum" * 100 >= $"n_docs" * $"p")
      .groupBy($"source", $"p", $"n_docs")
      .agg(min($"tok_n").as("q_value"))
      .select($"source", $"p", $"n_docs", $"q_value")
  }

  /** Percentile ASSIGNMENT from a histogram artifact — q146 INVERTED:
    * q146 maps percentile → value; this maps every document's value →
    * exact percentile (ppm), and does it MAP-ONLY over the corpus. The
    * classic plan is a corpus-wide `cume_dist` window — a full shuffle
    * and sort of every row per source; here the cumulative counts live
    * on the HISTOGRAM (≤ distinct lengths × sources rows — the q146
    * discipline), which broadcasts, so tagging is one broadcast-hash
    * lookup per row inside whole-stage codegen. pct_ppm =
    * (10⁶ · #{docs in source with tok_n ≤ mine}) div n_docs — ties
    * share a percentile by construction (histogram cum counts peers),
    * matching SQL RANGE-frame cume semantics exactly, in integers.
    * With the histogram read from [[writeTokenHistogram]]'s store, the
    * corpus is touched once for tagging and never for the
    * distribution. */
  def percentileFromHistogram(docs: DataFrame, hist: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy($"source")
    val cum = hist.select($"source", $"tok_n",
      sum($"c").over(bySrc.orderBy($"tok_n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum($"c").over(bySrc).as("n_docs"))
    docs.select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("tok_n"))
      .join(broadcast(cum), Seq("source", "tok_n"))
      .select($"doc_id", $"source", $"tok_n",
        expr("(1000000 * cum) div n_docs").as("pct_ppm"))
  }

  /** q186 — percentile tagging through the persisted histogram store:
    * the histogram is written once (its artifact), read back, and every
    * document gets its exact in-source length percentile from the
    * broadcast artifact — no corpus-wide window anywhere (plan-gated in
    * SketchOpsSpec: the only WindowExec runs over the histogram). */
  def q186PercentileTag(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q186").toString
    writeTokenHistogram(tokenHistogram(docs), s"$tmp/hist")
    percentileFromHistogram(docs, readTokenHistogram(s, s"$tmp/hist"))
  }

  /** q189 — cross-release percentile DRIFT: release B's documents
    * tagged with their percentile in release A's distribution, read
    * from A's persisted histogram — "where would the new corpus fall
    * in the old one": stationary ingest keeps the mean tag near
    * 500 000 ppm and the ≥ p90 share near 10%; a drifting tokenizer,
    * domain mix, or truncation bug shows up as mass piling into one
    * tail. Unlike [[percentileFromHistogram]]'s same-release equi-join,
    * a B length may be ABSENT from A's histogram, so the match is
    * AS-OF (greatest A length ≤ mine) through
    * [[AsofOps.asofJoin]]'s union + carry-forward plan — ONE shuffle
    * on source, no per-row histogram expansion, no range-join blowup;
    * a B doc below A's minimum carries NULL → percentile 0 (the
    * NULL-free 0-sentinel rule — "below everything old" is exactly
    * what 0 means). Sources absent from release A are excluded here by
    * the inner n_a join — q164's OOV report is the operator that
    * SURFACES new sources; this one measures shift where comparison is
    * defined. A never rescans: the tagging reads its histogram
    * artifact. */
  def q189PercentileDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q189").toString
    // release split by ingest BLOCK (doc_id div 20), not parity: the
    // fixture assigns source = doc_id mod 20, so a parity split would
    // make the releases source-DISJOINT and the comparison vacuous —
    // exactly the n_a-join exclusion this query documents
    writeTokenHistogram(
      tokenHistogram(docs.filter(expr("(doc_id div 20) % 2") === 0L)),
      s"$tmp/hist_a")
    val bySrc = Window.partitionBy($"source")
    val cum = readTokenHistogram(s, s"$tmp/hist_a")
      .select($"source", $"tok_n",
        sum($"c").over(bySrc.orderBy($"tok_n")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum($"c").over(bySrc).as("n_a"))
    val b = docs.filter(expr("(doc_id div 20) % 2") === 1L)
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("tok_n"))
    val nA = cum.groupBy($"source").agg(max($"n_a").as("n_a_src"))
    AsofOps.asofJoin(b, cum.drop("n_a"), Seq("source"), "tok_n", Seq("cum"))
      .join(nA, "source")
      .select($"source",
        expr("(1000000 * coalesce(cum, 0)) div n_a_src").as("pct"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_b"),
        count(when($"pct" >= 900000L, lit(1))).as("n_above_p90"),
        count(when($"pct" <= 100000L, lit(1))).as("n_below_p10"),
        sum($"pct").cast("long").as("sum_pct"))
  }

  /** q159 — exact quantiles through the PERSISTED histogram path: two
    * disjoint "releases" (doc_id parity) each write their histogram
    * artifact once; the monitoring query reads and sum-merges the
    * artifacts and runs the rank window over the merged histogram.
    * Because histogram merge is exact, the result is BYTE-IDENTICAL to
    * the single-pass q146 — the oracle is q146's SQL, and hash equality
    * IS the store-roundtrip law. At 100 TB each release scans its
    * corpus once; every later length-distribution check reads histogram
    * rows (≤ distinct lengths × sources per release), not documents. */
  def q159QuantilesPersisted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q159").toString
    writeTokenHistogram(tokenHistogram(docs.filter($"doc_id" % 2 === 0L)),
      s"$tmp/release_a")
    writeTokenHistogram(tokenHistogram(docs.filter($"doc_id" % 2 === 1L)),
      s"$tmp/release_b")
    quantilesFromHistogram(mergeTokenHistograms(
      readTokenHistogram(s, s"$tmp/release_a"),
      readTokenHistogram(s, s"$tmp/release_b")))
  }

  /** q162 — the streaming histogram store through the oracle gate:
    * three micro-batches (doc_id mod 3 — deterministic so the oracle
    * can replay the union) fold their histograms into the store via
    * [[graft.streaming.HistogramStream.appendShard]], with a genuine
    * COMPACTION between the second and third batch (two live shards at
    * that point, so the fold really executes — the q133 non-vacuity
    * rule; the query ASSERTS the post-compaction manifest names exactly
    * one folded shard and throws otherwise). The final read sum-merges
    * the folded shard with batch 2's shard and runs the q146 rank
    * window, so the oracle is q146's single-pass SQL: hash equality
    * proves shard-accumulate + manifest-commit + fold + sum-merge-read
    * reconstruct the exact corpus histogram cross-engine. */
  def q162HistStreamStore(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.HistogramStream
    val docs = load(s, dir, "documents")
    val store = graft.TempDirs.create("q162").toString
    HistogramStream.appendShard(s, store, "batch_0",
      tokenHistogram(docs.filter($"doc_id" % 3 === 0L)))
    HistogramStream.appendShard(s, store, "batch_1",
      tokenHistogram(docs.filter($"doc_id" % 3 === 1L)))
    HistogramStream.compact(s, store)
    val afterFold = HistogramStream.liveTags(s, store)
    require(afterFold == Seq("folded-0"),
      s"q162 gate is vacuous unless the fold ran: live tags $afterFold")
    HistogramStream.appendShard(s, store, "batch_2",
      tokenHistogram(docs.filter($"doc_id" % 3 === 2L)))
    quantilesFromHistogram(HistogramStream.readHistogram(s, store))
  }

  /** q163 — release-over-release drift monitoring that reads ONLY the
    * persisted artifacts: release A (even doc_ids) and release B (the
    * full corpus) each persist their HLL registers and token histogram;
    * the monitoring query then joins per-source cardinality estimates,
    * EXACT document counts (free from the histogram — its per-source
    * count sum is exact), and p50 token lengths FROM THE STORES ALONE —
    * the corpus is never rescanned after the artifacts exist. The
    * oracle recomputes every number from the raw table (the integer
    * HLL replay + the q146 rank rule, per release branch), so hash
    * equality proves store-only monitoring ≡ corpus-scan monitoring
    * cross-engine. At 100 TB this is the difference between a nightly
    * drift report that reads a few hundred KB and one that rescans two
    * releases. */
  def q163ReleaseDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val relA = docs.filter($"doc_id" % 2 === 0L)
    val tmp = graft.TempDirs.create("q163").toString
    writeHllSketch(hllRegisters(relA, $"doc_id", $"source"), s"$tmp/hll_a")
    writeHllSketch(hllRegisters(docs, $"doc_id", $"source"), s"$tmp/hll_b")
    writeTokenHistogram(tokenHistogram(relA), s"$tmp/hist_a")
    writeTokenHistogram(tokenHistogram(docs), s"$tmp/hist_b")
    // ---- monitoring: artifacts only from here on ----
    def est(path: String, as: String) =
      hllEstimate(readHllSketch(s, path))
        .select($"k".as("source"), $"hll_est".as(as))
    def p50(path: String, nAs: String, pAs: String) =
      quantilesFromHistogram(readTokenHistogram(s, path), Seq(50))
        .select($"source", $"n_docs".as(nAs), $"q_value".as(pAs))
    // LEFT from the B branch: a source newly appearing in release B is
    // exactly what a drift report must SURFACE, not drop. A-side stats
    // coalesce to 0 (n_docs_a = 0 marks the new-source rows
    // unambiguously, so 0-valued hll_a/p50_a cannot be misread) — the
    // gate's comparator requires NULL-free integer columns.
    p50(s"$tmp/hist_b", "n_docs_b", "p50_b")
      .join(p50(s"$tmp/hist_a", "n_docs_a", "p50_a"), Seq("source"), "left")
      .join(est(s"$tmp/hll_b", "hll_b"), Seq("source"))
      .join(est(s"$tmp/hll_a", "hll_a"), Seq("source"), "left")
      .na.fill(0L, Seq("n_docs_a", "p50_a", "hll_a"))
      .select($"source", $"n_docs_a", $"n_docs_b", $"hll_a", $"hll_b",
        $"p50_a", $"p50_b", ($"p50_b" - $"p50_a").as("p50_shift"))
  }

  // ------------------------------------------------- persisted vocabulary

  /** The exact vocabulary artifact: one row per distinct token with its
    * document frequency — q149's inverted index WITHOUT the postings,
    * which makes it vocabulary-sized (Heaps'-law sublinear in the
    * corpus) and therefore persistable per release. Merge is key-wise
    * sum on df (the histogram monoid over tokens). */
  def vocabFrame(docs: DataFrame): DataFrame =
    docs.select(explode(array_distinct(split($"text", " "))).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("df"))

  def writeVocab(vocab: DataFrame, path: String): Unit =
    vocab.select($"token", $"df")
      .coalesce(1).sortWithinPartitions($"token")
      .write.mode("overwrite").parquet(path)

  def readVocab(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Vocabulary UNION: document frequencies sum per token (the
    * histogram monoid over the token domain), so per-shard vocabularies
    * merge into the release vocabulary without rescanning any shard's
    * corpus — and q164's OOV check composes with sharded history (probe
    * against the merge of every prior release's artifact). */
  def mergeVocabs(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"token", $"df").union(b.select($"token", $"df"))
      .groupBy($"token").agg(sum($"df").as("df"))

  /** q164 — out-of-vocabulary drift against the PERSISTED vocabulary:
    * release A (even doc_ids) persists its exact vocab once; release B
    * (odd doc_ids) reports, per source, its distinct-token count, how
    * many of those tokens A's vocabulary has never seen, and the OOV
    * rate in ppm — the tokenizer-drift / domain-shift alarm. The B-side
    * join is against the ARTIFACT (vocabulary-sized, never A's corpus);
    * the left-anti + distinct counts are exact integers, so the oracle
    * is a plain two-branch distinct/anti-join replay. At 100 TB the
    * check costs one token pass over the NEW release plus a
    * vocabulary-sized join — release A is never touched again. */
  def q164OovRate(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q164").toString
    writeVocab(vocabFrame(docs.filter($"doc_id" % 2 === 0L)), s"$tmp/vocab_a")
    val vocabA = readVocab(s, s"$tmp/vocab_a")
    val bTokens = docs.filter($"doc_id" % 2 === 1L)
      .select($"source", explode(array_distinct(split($"text", " "))).as("token"))
      .distinct()
    val perSrc = bTokens.groupBy($"source")
      .agg(countDistinct($"token").as("n_tokens_b"))
    val oov = bTokens.join(vocabA, Seq("token"), "left_anti")
      .groupBy($"source").agg(countDistinct($"token").as("n_oov"))
    perSrc.join(oov, Seq("source"), "left")
      .na.fill(0L, Seq("n_oov"))
      .select($"source", $"n_tokens_b", $"n_oov",
        expr("n_oov * 1000000 div n_tokens_b").as("oov_ppm"))
  }

  // ------------------------------------------- log-bucket (HDR) histogram

  /** HDR-style log₂-bucket index for a non-negative long value: the
    * quantile store for UNBOUNDED value domains. The exact token
    * histogram (q146/q159/q162) is the right artifact when the value
    * domain is small — its cardinality is `distinct values × sources`.
    * Byte sizes, latencies, or char counts at 100 TB have domains up to
    * 2^63, where an exact histogram IS the corpus; this bucketing caps
    * the artifact at ≤ 16·60 + 32 buckets per key FOREVER while keeping
    * a guaranteed relative error ≤ 1/16 (HdrHistogram's layout with 4
    * sub-bucket bits; same shape as DDSketch's log-γ buckets, but in
    * pure integer arithmetic so both engines agree bit-for-bit).
    *
    * Index math (s = 4 sub-bucket bits, e = ⌊log₂ v⌋ = bitlen(v) − 1):
    * values < 32 map to THEMSELVES (exact — small counts never lose
    * resolution); otherwise the top 5 bits of v land in sub-bucket
    * m = v >> (e−4) ∈ [16, 32) and bucket = (e−4)·16 + m. The index is
    * strictly monotone in v, so rank order of buckets ≡ rank order of
    * values and the q146 rank window applies unchanged. Counts SUM, so
    * the store merges exactly like the token histogram (associative,
    * commutative, per-release shards) — the merged QUANTILE is as exact
    * as the bucketing, i.e. a lower bound within 1/16 of the true value.
    *
    * ⌊log₂⌋ is `length(bin(v)) − 1` (the q84 rule); shifts are
    * `shiftright`/`shiftleft` with in-plan shift amounts — everything
    * stays inside whole-stage codegen, no UDF, no floats.
    */
  private val logBucketSqlExpr: String =
    """CASE WHEN v < 32 THEN v
      |  ELSE (length(bin(v)) - 5) * 16
      |       + shiftright(v, cast(length(bin(v)) - 5 as int)) END"""
      .stripMargin

  /** Lower-bound representative of a bucket: the smallest v mapping to
    * it — the inverse of [[logBucketSqlExpr]] from the index alone
    * (bucket ≥ 32 ⇒ e = bucket div 16 + 3, m = bucket mod 16 + 16,
    * rep = m << (e−4)), so quantile answers need no corpus access. */
  private val logRepSqlExpr: String =
    """CASE WHEN qb < 32 THEN qb
      |  ELSE shiftleft(qb % 16 + 16, cast(qb div 16 - 1 as int)) END"""
      .stripMargin

  /** (key, bucket) → count histogram of `valueCol` (non-negative longs)
    * under the log-bucket index: one map-side-combinable shuffle whose
    * output cardinality is ≤ ~992 buckets per key no matter the corpus
    * or the value domain. */
  def logHistogram(df: DataFrame, keyCol: Column, valueCol: Column): DataFrame =
    df.select(keyCol.as("source"), valueCol.cast("long").as("v"))
      .select($"source", expr(logBucketSqlExpr).cast("long").as("bucket"))
      .groupBy($"source", $"bucket").agg(count(lit(1)).as("c"))

  def writeLogHistogram(hist: DataFrame, path: String): Unit =
    hist.select($"source", $"bucket", $"c")
      .coalesce(1).sortWithinPartitions($"source", $"bucket")
      .write.mode("overwrite").parquet(path)

  def readLogHistogram(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Histogram UNION: counts add per (source, bucket) — the q159 sum
    * monoid on the bucketed domain (associative/commutative, NOT
    * idempotent; one artifact per release keeps the merge tree honest). */
  def mergeLogHistograms(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"source", $"bucket", $"c")
      .union(b.select($"source", $"bucket", $"c"))
      .groupBy($"source", $"bucket").agg(sum($"c").as("c"))

  /** The q146 rank window over the log-bucket histogram: q(p) is the
    * smallest bucket with 100·cum ≥ N·p, reported as `q_lo` — the
    * bucket's lower-bound representative, which is ≤ the true quantile
    * and > true·16/17 (the 1/16 relative-error contract; exact below
    * 32). Values < 32 come back EXACT because they are their own
    * bucket. */
  def quantilesFromLogHistogram(hist: DataFrame,
      ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val bySrc = Window.partitionBy($"source")
    val w = hist.select($"source", $"bucket", $"c",
      sum($"c").over(bySrc.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum($"c").over(bySrc).as("n_docs"))
    val spine = explode(array(ps.map(p => lit(p.toLong)): _*)).as("p")
    w.select($"source", $"bucket", $"cum", $"n_docs", spine)
      .filter($"cum" * 100 >= $"n_docs" * $"p")
      .groupBy($"source", $"p", $"n_docs")
      .agg(min($"bucket").as("qb"))
      .select($"source", $"p", $"n_docs",
        expr(logRepSqlExpr).cast("long").as("q_lo"))
  }

  /** q168 — char-count quantiles through the PERSISTED log-bucket path:
    * two releases (doc_id parity) each persist their log-histogram of
    * `n_chars` once; the monitoring query sum-merges the artifacts and
    * runs the rank window over ≤ ~992 rows per source. The oracle
    * replays the bucket index, rank rule, and representative inversion
    * from the raw corpus in one pass — hash equality proves the store
    * roundtrip AND the cross-engine bucket math at once. At 100 TB this
    * is the latency/size-distribution monitor for values the exact
    * histogram cannot hold: artifact size is buckets × sources,
    * independent of both corpus rows and value range. */
  def q168LogQuantilesPersisted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q168").toString
    writeLogHistogram(
      logHistogram(docs.filter($"doc_id" % 2 === 0L), $"source", $"n_chars"),
      s"$tmp/release_a")
    writeLogHistogram(
      logHistogram(docs.filter($"doc_id" % 2 === 1L), $"source", $"n_chars"),
      s"$tmp/release_b")
    quantilesFromLogHistogram(mergeLogHistograms(
      readLogHistogram(s, s"$tmp/release_a"),
      readLogHistogram(s, s"$tmp/release_b")))
  }

  /** q172 — the log-bucket quantile store maintained by the STREAM:
    * three micro-batches append their ≤ ~992-buckets-per-key
    * log-histogram shards of `n_chars` through the generic sum core,
    * with the genuine mid-stream fold (asserted — the q133 non-vacuity
    * rule); the read sum-merges and runs the rank window. Every step is
    * exact on bucket counts, so the result is byte-identical to q168's
    * single-pass answer and the oracle is the same SQL — streaming
    * accumulation, fold, and store read all gate on one hash. */
  def q172LogHistStreamStore(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.HistogramStream
    val docs = load(s, dir, "documents")
    val store = graft.TempDirs.create("q172").toString
    def shard(p: Long) =
      logHistogram(docs.filter($"doc_id" % 3 === p), $"source", $"n_chars")
    HistogramStream.appendLogHistShard(s, store, "batch_0", shard(0L))
    HistogramStream.appendLogHistShard(s, store, "batch_1", shard(1L))
    HistogramStream.compactLogHist(s, store)
    val afterFold = HistogramStream.liveTags(s, store)
    require(afterFold == Seq("folded-0"),
      s"q172 gate is vacuous unless the fold ran: live tags $afterFold")
    HistogramStream.appendLogHistShard(s, store, "batch_2", shard(2L))
    quantilesFromLogHistogram(HistogramStream.readLogHistStore(s, store))
  }

  // -------------------------------------------------------- sketch overlap

  /** q148 — audience overlap between event-type segments via sketch
    * UNION (register-wise max) + inclusion–exclusion:
    * |A∩B| ≈ E(A) + E(B) − E(A∪B). The exact q77-family set ops
    * materialize per-user membership pairs; this ships 64 integers per
    * segment and merges them bucket-wise, which is the only form that
    * survives segments that no longer fit a broadcast — segment count
    * × 64 rows, independent of user count. Exact overlap joins the
    * gate for the same reason as q147's n_exact. */
  def q148HllOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select($"event_type", $"user_id")
    val regs = hllRegisters(ev, $"user_id", $"event_type")
      // reused 3× below (pair build + both est joins); ≤ types×64 rows
      .transform(Pins.pin(_, eager = true))
    val est = hllEstimate(regs)
    val pairRegs = regs.as("a").join(regs.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.k") < col("b.k"))
      .select(col("a.k").as("type_a"), col("b.k").as("type_b"),
        greatest(col("a.m"), col("b.m")).as("m"))
    val estU = hllEstimate(
        pairRegs.select(concat($"type_a", lit("|"), $"type_b").as("k"), $"m"))
      .select($"k".as("pair"), $"hll_est".as("est_union"))
    val members = ev.distinct()
    val exact = members.as("a").join(members.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
    pairRegs.select($"type_a", $"type_b").distinct()
      .join(est.select($"k".as("type_a"), $"hll_est".as("est_a")), Seq("type_a"))
      .join(est.select($"k".as("type_b"), $"hll_est".as("est_b")), Seq("type_b"))
      .join(estU, concat($"type_a", lit("|"), $"type_b") === $"pair")
      .join(exact, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_exact"))
      .select($"type_a", $"type_b", $"est_a", $"est_b", $"est_union",
        ($"est_a" + $"est_b" - $"est_union").as("overlap_est"), $"n_exact")
  }

  // -------------------------------------------------------------- oracles

  /** Shared by q147 (direct) and q155 (through persisted shard merge —
    * merge ≡ union exactly, so both gate against the same single-pass
    * estimate). */
  private val hllCardinalitySql: String =
    """WITH h AS (SELECT source,
      |    ((doc_id % 1000003) * 2654435761 % 1000003) * 999983
      |      + (doc_id % 999983) * 1103515245 % 999983 AS h
      |  FROM documents),
      |r AS (SELECT source, h % 64 AS bucket,
      |    CASE WHEN h // 64 = 0 THEN 35
      |      ELSE 35 - (length(format('{:b}', h // 64)) - 1) END AS rk
      |  FROM h),
      |regs AS (SELECT source, bucket, max(rk) AS m FROM r GROUP BY 1, 2),
      |spine AS (SELECT source, bucket
      |  FROM (SELECT DISTINCT source FROM documents),
      |       (SELECT unnest(generate_series(0, 63)) AS bucket)),
      |fullr AS (SELECT spine.source, spine.bucket, coalesce(m, 0) AS m
      |  FROM spine LEFT JOIN regs
      |    ON spine.source = regs.source AND spine.bucket = regs.bucket),
      |agg AS (SELECT source,
      |    CAST(sum(1::BIGINT << CAST(40 - m AS INT)) AS BIGINT) AS sum_term,
      |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty,
      |    CAST(max(m) AS BIGINT) AS max_rank
      |  FROM fullr GROUP BY 1),
      |est AS (SELECT source, v_empty, max_rank,
      |    (2904064::BIGINT * (1::BIGINT << 40)) // (1000 * sum_term)
      |      AS hll_raw
      |  FROM agg),
      |ex AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact
      |  FROM documents GROUP BY 1)
      |SELECT est.source, n_exact,
      |  CAST(CASE WHEN hll_raw <= 160 AND v_empty > 0
      |    THEN (LCTABLE)[CAST(v_empty AS INT)] ELSE hll_raw END AS BIGINT)
      |    AS hll_est,
      |  hll_raw, v_empty, max_rank
      |FROM est JOIN ex ON est.source = ex.source"""
      .stripMargin.replace("LCTABLE", lcArraySql)

  /** (source, hll_est) over `documents WHERE where` — the
    * [[hllCardinalitySql]] estimate branch as a parenthesized subquery
    * (DuckDB allows a WITH inside a derived table), parameterized by
    * the release predicate so q163 can replay both branches. */
  private def hllEstSubSql(where: String): String =
    s"""(WITH h AS (SELECT source,
       |    ((doc_id % 1000003) * 2654435761 % 1000003) * 999983
       |      + (doc_id % 999983) * 1103515245 % 999983 AS h
       |  FROM documents WHERE $where),
       |r AS (SELECT source, h % 64 AS bucket,
       |    CASE WHEN h // 64 = 0 THEN 35
       |      ELSE 35 - (length(format('{:b}', h // 64)) - 1) END AS rk
       |  FROM h),
       |regs AS (SELECT source, bucket, max(rk) AS m FROM r GROUP BY 1, 2),
       |spine AS (SELECT source, bucket
       |  FROM (SELECT DISTINCT source FROM documents WHERE $where),
       |       (SELECT unnest(generate_series(0, 63)) AS bucket)),
       |fullr AS (SELECT spine.source, spine.bucket, coalesce(m, 0) AS m
       |  FROM spine LEFT JOIN regs
       |    ON spine.source = regs.source AND spine.bucket = regs.bucket),
       |agg AS (SELECT source,
       |    CAST(sum(1::BIGINT << CAST(40 - m AS INT)) AS BIGINT) AS sum_term,
       |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
       |  FROM fullr GROUP BY 1),
       |estr AS (SELECT source, v_empty,
       |    (2904064::BIGINT * (1::BIGINT << 40)) // (1000 * sum_term)
       |      AS hll_raw
       |  FROM agg)
       |SELECT source, CAST(CASE WHEN hll_raw <= 160 AND v_empty > 0
       |    THEN (LCTABLE)[CAST(v_empty AS INT)] ELSE hll_raw END AS BIGINT)
       |    AS hll_est
       |FROM estr)""".stripMargin.replace("LCTABLE", lcArraySql)

  /** (source, n_docs, p50) over `documents WHERE where` — the q146 rank
    * rule at p = 50, parameterized by the release predicate. */
  private def p50SubSql(where: String): String =
    s"""(WITH t AS (SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
       |  FROM documents WHERE $where),
       |hist AS (SELECT source, tok_n, CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY 1, 2),
       |w AS (SELECT source, tok_n, c,
       |    sum(c) OVER (PARTITION BY source ORDER BY tok_n
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY source) AS n_docs FROM hist)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, min(tok_n) AS p50
       |FROM w WHERE cum * 100 >= n_docs * 50 GROUP BY 1, 2)""".stripMargin

  /** Shared by q166 (batch per-release CMS shards) and q170 (streaming
    * CMS store with a mid-stream fold): both paths prune with a sketch
    * that never undercounts and exact-verify the candidates, so both
    * gate against the plain exact HAVING over the shingle derivation. */
  private val cmsHeavyExactSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
      |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
      |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
      |g AS (SELECT doc_id, unnest(s) AS g FROM sh)
      |SELECT g, CAST(count(*) AS BIGINT) AS n_exact
      |FROM g GROUP BY 1 HAVING count(*) >= 5""".stripMargin

  /** Shared by q168 (batch per-release shards) and q172 (streaming
    * shard-accumulate + fold): bucket counts merge exactly, so both
    * store paths reproduce the single-pass answer byte-for-byte. */
  private val logQuantilesSql: String =
      """WITH t AS (SELECT source, n_chars AS v FROM documents),
        |b AS (SELECT source,
        |    CAST(CASE WHEN v < 32 THEN v
        |      ELSE (length(bin(v)) - 5) * 16 + (v >> (length(bin(v)) - 5))
        |      END AS BIGINT) AS bucket
        |  FROM t),
        |hist AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT source, bucket, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n_docs FROM hist),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p),
        |q AS (SELECT source, p, CAST(n_docs AS BIGINT) AS n_docs,
        |    min(bucket) AS qb
        |  FROM w, p WHERE cum * 100 >= n_docs * p GROUP BY 1, 2, 3)
        |SELECT source, p, n_docs,
        |  CAST(CASE WHEN qb < 32 THEN qb
        |    ELSE (qb % 16 + 16) << CAST(qb // 16 - 1 AS INT) END AS BIGINT)
        |    AS q_lo
        |FROM q""".stripMargin

  // ------------------------------------------------ minhash error audit

  /** q206 — MinHash ESTIMATOR AUDIT: per candidate set pair, the
    * estimated Jaccard (matching signature components out of k) next to
    * the exact one — the measurement that calibrates how much to trust
    * the q23 LSH pipeline's signatures at a given k, run over integer
    * sets (an order's part set) so the signature arithmetic is the
    * SQL-replayable LCG family (the q181 portable-hash rule: a gate
    * whose OUTPUT is sketch-derived cannot launder its hash through an
    * exact verify, so the hash must be cross-engine). Per-seed
    * permutation hash h_j(p) = (H(p)·(2j+1) + j·10007) mod 999999937 —
    * H the 2^40 two-round LCG recombination, intermediates < 2^46.
    *
    * Candidate pairs come from the inverted-index join on shared
    * elements (the q18/q49 shape: only pairs with inter ≥ 1 exist,
    * never all-pairs), probe-bounded on the smaller id; signatures are
    * k min-aggregates over ONE element explode (the q23 relational
    * minhash plan). At 100 TB both sides shuffle on element / set id
    * only; pair fan-out is bounded by element co-occurrence degree,
    * the same bound the near-dup pipeline lives under. */
  def minhashErrorAudit(items: DataFrame, k: Int = 16,
      probeBound: Long = 100L): DataFrame = {
    val sigAggs = count(lit(1)).as("n") +:
      (0 until k).map(j => min(
        (portableHash($"elem") * (2 * j + 1) + j * 10007L) % 999999937L)
        .as(s"m$j"))
    val sigs = items.groupBy($"set_id").agg(sigAggs.head, sigAggs.tail: _*)
    val inter = items.as("a")
      .join(items.as("b"),
        col("a.elem") === col("b.elem") &&
          col("a.set_id") < col("b.set_id"))
      .filter(col("a.set_id") < probeBound)
      .groupBy(col("a.set_id").as("sa"), col("b.set_id").as("sb"))
      .agg(count(lit(1)).as("inter"))
    val matches = (0 until k)
      .map(j => when(col(s"ga.m$j") === col(s"gb.m$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    inter
      .join(sigs.as("ga"), $"sa" === col("ga.set_id"))
      .join(sigs.as("gb"), $"sb" === col("gb.set_id"))
      .select($"sa", $"sb", $"inter",
        col("ga.n").as("n_a"), col("gb.n").as("n_b"),
        matches.as("n_match"), lit(k.toLong).as("k"))
  }

  def q206MinhashError(s: SparkSession, dir: String): DataFrame =
    minhashErrorAudit(
      load(s, dir, "lineitem")
        .select($"l_orderkey".as("set_id"), $"l_partkey".as("elem"))
        .distinct())

  /** Shared by q157 (batch persisted shards) and q178 (streaming bloom
    * store with a mid-stream fold): both prefilters are exact-verified,
    * so both gate against the bloom-free plain semi join. */
  private val oraclesQ157: String =
    """WITH rel AS (SELECT source, text FROM documents WHERE doc_id % 3 = 2),
      |hist AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 < 2),
      |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_release
      |  FROM rel GROUP BY 1),
      |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup_history
      |  FROM rel WHERE text IN (SELECT text FROM hist) GROUP BY 1)
      |SELECT t.source, n_release,
      |  coalesce(n_dup_history, 0) AS n_dup_history,
      |  n_release - coalesce(n_dup_history, 0) AS n_fresh
      |FROM t LEFT JOIN d ON t.source = d.source""".stripMargin

  val oracles: Map[String, String] = Map(
    // q206 replays the portable per-seed minhash minima, the
    // inverted-index intersection, and the component-match count —
    // every signature VALUE is pinned cross-engine (no exact-verify
    // laundering possible: the estimate IS the output)
    "q206_minhash_error" -> {
      val h = "((e % 1000003) * 2654435761 % 1000003) * 999983 + " +
        "(e % 999983) * 1103515245 % 999983"
      val minsFixed = (0 until 16).map(j =>
        s"min((($h) * ${2 * j + 1} + ${j * 10007}) % 999999937) AS m$j")
      val eqs = (0 until 16).map(j =>
        s"CASE WHEN ga.m$j = gb.m$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS set_id, l_partkey AS e
         |  FROM lineitem),
         |sg AS (SELECT set_id, CAST(count(*) AS BIGINT) AS n,
         |    ${minsFixed.mkString(",\n    ")}
         |  FROM it GROUP BY 1),
         |iv AS (SELECT a.set_id AS sa, b.set_id AS sb,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM it a JOIN it b ON a.e = b.e AND a.set_id < b.set_id
         |  WHERE a.set_id < 100 GROUP BY 1, 2)
         |SELECT sa, sb, inter, ga.n AS n_a, gb.n AS n_b,
         |  CAST($eqs AS BIGINT) AS n_match, CAST(16 AS BIGINT) AS k
         |FROM iv JOIN sg ga ON ga.set_id = sa JOIN sg gb ON gb.set_id = sb""".stripMargin
    },
    // q168 runs through two persisted log-bucket shards sum-merged;
    // the oracle replays bucket index + rank rule + representative
    // inversion from the raw corpus in ONE pass
    "q168_log_quantiles_persisted" -> logQuantilesSql,
    // q186's oracle is the corpus-wide RANGE-frame cume window the
    // operator refuses to plan — hash equality proves the broadcast
    // histogram lookup reproduces engine cume_dist semantics exactly
    "q186_percentile_tag" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents)
        |SELECT doc_id, source, tok_n,
        |  (1000000 * count(*) OVER (PARTITION BY source ORDER BY tok_n
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    // count(*) OVER (PARTITION BY source) AS pct_ppm
        |FROM t""".stripMargin,
    // q189 replays the cross-release tagging as a correlated count —
    // #{A docs in my source with tok_n <= mine} — with no asof/window
    // machinery, so hash equality proves the carry-forward plan
    // implements exactly the <=-count semantics, incl. the 0 sentinel
    "q189_percentile_drift" ->
      """WITH a AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents WHERE (doc_id // 20) % 2 = 0),
        |b AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents WHERE (doc_id // 20) % 2 = 1),
        |na AS (SELECT source, CAST(count(*) AS BIGINT) AS n_a
        |  FROM a GROUP BY 1),
        |tag AS (SELECT b.doc_id, b.source,
        |    (SELECT count(*) FROM a
        |      WHERE a.source = b.source AND a.tok_n <= b.tok_n) AS cum
        |  FROM b),
        |sel AS (SELECT tag.source,
        |    (1000000 * cum) // n_a AS pct
        |  FROM tag JOIN na USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_b,
        |  CAST(count(CASE WHEN pct >= 900000 THEN 1 END) AS BIGINT)
        |    AS n_above_p90,
        |  CAST(count(CASE WHEN pct <= 100000 THEN 1 END) AS BIGINT)
        |    AS n_below_p10,
        |  CAST(sum(pct) AS BIGINT) AS sum_pct
        |FROM sel GROUP BY 1""".stripMargin,
    // q190 replays q181's sketch replay PLUS both sides' top-1 skew
    // rows PLUS the strategy CASE — the RECOMMENDATION is the gated
    // value, so advice is proven engine-identical
    "q190_join_advisor" ->
      """WITH a AS (SELECT user_id AS k FROM events WHERE event_id % 2 = 0),
        |b AS (SELECT user_id AS k FROM events WHERE event_id % 2 = 1),
        |ha AS (SELECT ((k % 1000003) * 2654435761 % 1000003) * 999983
        |    + (k % 999983) * 1103515245 % 999983 AS h FROM a),
        |hb AS (SELECT ((k % 1000003) * 2654435761 % 1000003) * 999983
        |    + (k % 999983) * 1103515245 % 999983 AS h FROM b),
        |pa AS (SELECT j,
        |    (h % 1048573 + (j + 1) * ((h // 1048573) % 1048573) + j * j)
        |      % 65536 AS pos, CAST(count(*) AS BIGINT) AS n
        |  FROM ha, (SELECT unnest(generate_series(0, 3)) AS j) GROUP BY 1, 2),
        |pb AS (SELECT j,
        |    (h % 1048573 + (j + 1) * ((h // 1048573) % 1048573) + j * j)
        |      % 65536 AS pos, CAST(count(*) AS BIGINT) AS n
        |  FROM hb, (SELECT unnest(generate_series(0, 3)) AS j) GROUP BY 1, 2),
        |ip AS (SELECT pa.j, sum(pa.n * pb.n) AS ip
        |  FROM pa JOIN pb ON pa.j = pb.j AND pa.pos = pb.pos GROUP BY 1),
        |ca AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY 1),
        |cb AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |ta AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM ca),
        |tb AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM cb),
        |sa AS (SELECT c * 1000000 // n_rows AS hot_share_a,
        |    (c * n_keys + n_rows - 1) // n_rows AS salt_a
        |  FROM ca, ta ORDER BY c DESC, k LIMIT 1),
        |sb AS (SELECT c * 1000000 // n_rows AS hot_share_b,
        |    (c * n_keys + n_rows - 1) // n_rows AS salt_b
        |  FROM cb, tb ORDER BY c DESC, k LIMIT 1)
        |SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
        |  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
        |  CAST(coalesce((SELECT min(ip) FROM ip), 0) AS BIGINT) AS est_pairs,
        |  CAST(hot_share_a AS BIGINT) AS hot_share_a,
        |  CAST(salt_a AS BIGINT) AS salt_a,
        |  CAST(hot_share_b AS BIGINT) AS hot_share_b,
        |  CAST(salt_b AS BIGINT) AS salt_b,
        |  CASE WHEN (SELECT count(*) FROM b) <= 1000 THEN 'broadcast_b'
        |    WHEN greatest(salt_a, salt_b) >= 2 THEN 'salted'
        |    ELSE 'shuffle' END AS strategy
        |FROM sa, sb""".stripMargin,
    // q181's gated value IS a sketch-derived estimate (no exact verify
    // can launder the hash away), so the oracle replays the ENTIRE
    // portable-hash CMS pipeline — LCG, position derivation, counter
    // sums, row-wise inner products, min — in pure integer SQL; the
    // exact join size rides alongside so the overshoot is pinned too
    "q181_cms_join_size" ->
      """WITH a AS (SELECT user_id AS k FROM events WHERE event_id % 2 = 0),
        |b AS (SELECT user_id AS k FROM events WHERE event_id % 2 = 1),
        |ha AS (SELECT ((k % 1000003) * 2654435761 % 1000003) * 999983
        |    + (k % 999983) * 1103515245 % 999983 AS h FROM a),
        |hb AS (SELECT ((k % 1000003) * 2654435761 % 1000003) * 999983
        |    + (k % 999983) * 1103515245 % 999983 AS h FROM b),
        |pa AS (SELECT j,
        |    (h % 1048573 + (j + 1) * ((h // 1048573) % 1048573) + j * j)
        |      % 65536 AS pos, CAST(count(*) AS BIGINT) AS n
        |  FROM ha, (SELECT unnest(generate_series(0, 3)) AS j) GROUP BY 1, 2),
        |pb AS (SELECT j,
        |    (h % 1048573 + (j + 1) * ((h // 1048573) % 1048573) + j * j)
        |      % 65536 AS pos, CAST(count(*) AS BIGINT) AS n
        |  FROM hb, (SELECT unnest(generate_series(0, 3)) AS j) GROUP BY 1, 2),
        |ip AS (SELECT pa.j, sum(pa.n * pb.n) AS ip
        |  FROM pa JOIN pb ON pa.j = pb.j AND pa.pos = pb.pos GROUP BY 1),
        |ex AS (SELECT coalesce(sum(ca.n * cb.n), 0) AS exact_pairs
        |  FROM (SELECT k, count(*) AS n FROM a GROUP BY 1) ca
        |  JOIN (SELECT k, count(*) AS n FROM b GROUP BY 1) cb USING (k))
        |SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
        |  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
        |  CAST((SELECT exact_pairs FROM ex) AS BIGINT) AS exact_pairs,
        |  CAST(coalesce((SELECT min(ip) FROM ip), 0) AS BIGINT) AS est_pairs"""
        .stripMargin,
    // q172 is the same answer through the STREAMING store (exact bucket
    // sums ⇒ byte-identical) — same oracle
    "q172_loghist_stream_store" -> logQuantilesSql,
    // q163's Spark side reads only the persisted artifacts; the oracle
    // recomputes both release branches from the raw corpus — hash
    // equality proves store-only monitoring ≡ corpus-scan monitoring
    "q163_release_drift" ->
      s"""SELECT pb.source, coalesce(pa.n_docs, 0) AS n_docs_a,
         |  pb.n_docs AS n_docs_b,
         |  coalesce(ha.hll_est, 0) AS hll_a, hb.hll_est AS hll_b,
         |  coalesce(pa.p50, 0) AS p50_a, pb.p50 AS p50_b,
         |  pb.p50 - coalesce(pa.p50, 0) AS p50_shift
         |FROM ${p50SubSql("1 = 1")} pb
         |LEFT JOIN ${p50SubSql("doc_id % 2 = 0")} pa ON pb.source = pa.source
         |JOIN ${hllEstSubSql("1 = 1")} hb ON pb.source = hb.source
         |LEFT JOIN ${hllEstSubSql("doc_id % 2 = 0")} ha ON pb.source = ha.source"""
        .stripMargin,
    // q227: p99 cap from the histogram (100·cum ≥ 99·n), clipped mass
    // accounted — rows touched, mass before vs after
    "q227_winsorize" ->
      """WITH v AS (SELECT source, n_chars AS v FROM documents),
        |h AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |w AS (SELECT source, v, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n FROM h),
        |cap AS (SELECT source, min(v) AS cap FROM w
        |  WHERE cum * 100 >= n * 99 GROUP BY 1)
        |SELECT v.source, max(cap) AS cap,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN v > cap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  CAST(sum(v) AS BIGINT) AS sum_before,
        |  CAST(sum(least(v, cap)) AS BIGINT) AS sum_after
        |FROM v JOIN cap ON v.source = cap.source GROUP BY 1""".stripMargin,
    // q215: the q146 rank rule (2·cum ≥ n) applied twice — once to the
    // length histogram, once to the |x − median| deviation histogram
    "q215_mad" ->
      """WITH v AS (SELECT source, n_chars AS v FROM documents),
        |h1 AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |w1 AS (SELECT source, v, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n FROM h1),
        |m1 AS (SELECT source, CAST(n AS BIGINT) AS n_docs, min(v) AS median
        |  FROM w1 WHERE cum * 2 >= n GROUP BY 1, 2),
        |d AS (SELECT v.source, abs(v.v - m1.median) AS v
        |  FROM v JOIN m1 USING (source)),
        |h2 AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |w2 AS (SELECT source, v, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n FROM h2),
        |m2 AS (SELECT source, min(v) AS mad
        |  FROM w2 WHERE cum * 2 >= n GROUP BY 1)
        |SELECT m1.source, n_docs, median, mad
        |FROM m1 JOIN m2 ON m1.source = m2.source""".stripMargin,
    // q257: the gated OUTPUT is the exact quantile table (q146's SQL)
    // — the percentile_approx sketch is proven in-query by the
    // rank-error bound, which throws rather than hashes
    "q257_quantile_approx" ->
      """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents),
        |hist AS (SELECT source, tok_n, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT source, tok_n, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY tok_n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n_docs FROM hist),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT source, p, CAST(n_docs AS BIGINT) AS n_docs,
        |  min(tok_n) AS q_value
        |FROM w, p WHERE cum * 100 >= n_docs * p
        |GROUP BY 1, 2, 3""".stripMargin,
    "q146_token_quantiles" ->
      """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents),
        |hist AS (SELECT source, tok_n, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT source, tok_n, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY tok_n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n_docs FROM hist),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT source, p, CAST(n_docs AS BIGINT) AS n_docs,
        |  min(tok_n) AS q_value
        |FROM w, p WHERE cum * 100 >= n_docs * p
        |GROUP BY 1, 2, 3""".stripMargin,
    // the same two-LCG recombination as q129, then bucket = h mod 64,
    // rank = 35 - bitlen(h // 64); empty buckets materialized via the
    // source x generate_series(0,63) spine; integer-scaled harmonic sum
    "q147_hll_cardinality" -> hllCardinalitySql,
    // q155 runs through two persisted register shards merged bucket-wise;
    // merge ≡ union EXACTLY, so the oracle is the same single-pass
    // estimate — hash equality gates the store-roundtrip law
    "q155_hll_persisted_union" -> hllCardinalitySql,
    // q157's bloom prefilters are exact-verified, so the oracle carries
    // no bloom at all: plain semi-join of the new release against
    // history texts — hash equality proves no-false-negative + FP
    // removal through the persisted OR-merged path
    "q157_bloom_incremental_dedup" -> oraclesQ157,
    // q178 is q157's semantics through the stream-maintained store
    // (OR-fold ≡ mergeBlooms), so its oracle is q157's plain semi join
    "q178_bloom_stream_dedup" -> oraclesQ157,
    // q161 is q67's semantics through the persisted sketch (no false
    // negatives + exact verify ⇒ identical result), so its oracle is
    // the SAME exact-containment SQL q67 gates against
    "q161_bloom_decon_store" -> TextOps.oracles("q67_bloom_decontaminate"),
    // q162 accumulates per-batch shards with a mid-stream fold; every
    // step is exact, so the oracle is again q146's single-pass SQL
    "q162_hist_stream_store" ->
      """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents),
        |hist AS (SELECT source, tok_n, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT source, tok_n, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY tok_n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n_docs FROM hist),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT source, p, CAST(n_docs AS BIGINT) AS n_docs,
        |  min(tok_n) AS q_value
        |FROM w, p WHERE cum * 100 >= n_docs * p
        |GROUP BY 1, 2, 3""".stripMargin,
    // q164's Spark side joins release B against the persisted vocab
    // artifact; the oracle replays both branches from the corpus
    "q164_oov_rate" ->
      """WITH va AS (SELECT DISTINCT unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |bt AS (SELECT DISTINCT source,
        |    unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents WHERE doc_id % 2 = 1),
        |n AS (SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS n_tokens_b
        |  FROM bt GROUP BY 1),
        |o AS (SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS n_oov
        |  FROM bt WHERE token NOT IN (SELECT token FROM va) GROUP BY 1)
        |SELECT n.source, n_tokens_b, coalesce(n_oov, 0) AS n_oov,
        |  coalesce(n_oov, 0) * 1000000 // n_tokens_b AS oov_ppm
        |FROM n LEFT JOIN o ON n.source = o.source""".stripMargin,
    // q166's CMS prefilter never undercounts and the exact count
    // removes the overcounts, so the oracle is the plain exact HAVING
    // over the same shingle derivation (q67's shingle SQL shape)
    "q166_cms_store_heavy" -> cmsHeavyExactSql,
    // q170's streaming shard-accumulate + fold + sum-merge read is
    // exactly the union sketch (counter sums are exact), so the probe +
    // exact verify reproduces q166's answer — same oracle
    "q170_cms_stream_store" -> cmsHeavyExactSql,
    // q176's bloom prefilter is exact-verified, so the oracle carries
    // no bloom at all: the plain semi join on the raw tables
    "q176_bloom_semi_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS keys_xor
        |FROM orders WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_nationkey < 5)
        |GROUP BY 1""".stripMargin,
    // q177's bloom misses skip the join entirely and the hits are
    // exact-verified, so the oracle is the plain NOT IN
    "q177_bloom_anti_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS keys_xor
        |FROM orders WHERE o_custkey NOT IN (
        |  SELECT c_custkey FROM customer WHERE c_nationkey < 5)
        |GROUP BY 1""".stripMargin,
    // q167's CMS candidates are exact-verified on both sides, so the
    // oracle is the plain two-branch exact HAVING + anti-threshold
    "q167_cms_emerging" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hb AS (SELECT g, CAST(count(*) AS BIGINT) AS n_b
        |  FROM g WHERE doc_id % 2 = 1 GROUP BY 1 HAVING count(*) >= 3),
        |ha AS (SELECT g, CAST(count(*) AS BIGINT) AS n_a
        |  FROM g WHERE doc_id % 2 = 0 AND g IN (SELECT g FROM hb)
        |  GROUP BY 1)
        |SELECT hb.g, n_b, coalesce(n_a, 0) AS n_a
        |FROM hb LEFT JOIN ha ON hb.g = ha.g
        |WHERE coalesce(n_a, 0) < 3""".stripMargin,
    // q159 runs through two persisted histogram shards merged by sum;
    // the merge is exact, so the oracle is q146's single-pass SQL
    "q159_quantiles_persisted" ->
      """WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
        |  FROM documents),
        |hist AS (SELECT source, tok_n, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |w AS (SELECT source, tok_n, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY tok_n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n_docs FROM hist),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT source, p, CAST(n_docs AS BIGINT) AS n_docs,
        |  min(tok_n) AS q_value
        |FROM w, p WHERE cum * 100 >= n_docs * p
        |GROUP BY 1, 2, 3""".stripMargin,
    "q148_hll_overlap" ->
      """WITH ev AS (SELECT event_type, user_id FROM events),
        |r AS (SELECT event_type,
        |    (((user_id % 1000003) * 2654435761 % 1000003) * 999983
        |      + (user_id % 999983) * 1103515245 % 999983) % 64 AS bucket,
        |    CASE WHEN (((user_id % 1000003) * 2654435761 % 1000003) * 999983
        |        + (user_id % 999983) * 1103515245 % 999983) // 64 = 0 THEN 35
        |      ELSE 35 - (length(format('{:b}',
        |        (((user_id % 1000003) * 2654435761 % 1000003) * 999983
        |          + (user_id % 999983) * 1103515245 % 999983) // 64)) - 1)
        |      END AS rk
        |  FROM ev),
        |regs AS (SELECT event_type, bucket, max(rk) AS m FROM r GROUP BY 1, 2),
        |spine AS (SELECT event_type, bucket
        |  FROM (SELECT DISTINCT event_type FROM ev),
        |       (SELECT unnest(generate_series(0, 63)) AS bucket)),
        |fullr AS (SELECT spine.event_type, spine.bucket, coalesce(m, 0) AS m
        |  FROM spine LEFT JOIN regs
        |    ON spine.event_type = regs.event_type AND spine.bucket = regs.bucket),
        |estr AS (SELECT event_type,
        |    (2904064::BIGINT * (1::BIGINT << 40))
        |      // (1000 * CAST(sum(1::BIGINT << CAST(40 - m AS INT)) AS BIGINT))
        |      AS hll_raw,
        |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM fullr GROUP BY 1),
        |est AS (SELECT event_type,
        |    CAST(CASE WHEN hll_raw <= 160 AND v_empty > 0
        |      THEN (LCTABLE)[CAST(v_empty AS INT)] ELSE hll_raw END AS BIGINT)
        |      AS hll_est
        |  FROM estr),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, a.bucket,
        |    CASE WHEN a.m >= b.m THEN a.m ELSE b.m END AS m
        |  FROM fullr a JOIN fullr b
        |    ON a.bucket = b.bucket AND a.event_type < b.event_type),
        |estur AS (SELECT type_a, type_b,
        |    (2904064::BIGINT * (1::BIGINT << 40))
        |      // (1000 * CAST(sum(1::BIGINT << CAST(40 - m AS INT)) AS BIGINT))
        |      AS hll_raw,
        |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM pr GROUP BY 1, 2),
        |estu AS (SELECT type_a, type_b,
        |    CAST(CASE WHEN hll_raw <= 160 AND v_empty > 0
        |      THEN (LCTABLE)[CAST(v_empty AS INT)] ELSE hll_raw END AS BIGINT)
        |      AS est_union
        |  FROM estur),
        |mem AS (SELECT DISTINCT event_type, user_id FROM ev),
        |ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_exact
        |  FROM mem a JOIN mem b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT estu.type_a, estu.type_b,
        |  ea.hll_est AS est_a, eb.hll_est AS est_b, est_union,
        |  ea.hll_est + eb.hll_est - est_union AS overlap_est,
        |  coalesce(n_exact, 0) AS n_exact
        |FROM estu
        |JOIN est ea ON estu.type_a = ea.event_type
        |JOIN est eb ON estu.type_b = eb.event_type
        |LEFT JOIN ex ON estu.type_a = ex.type_a AND estu.type_b = ex.type_b"""
        .stripMargin.replace("LCTABLE", lcArraySql),
  )
}
