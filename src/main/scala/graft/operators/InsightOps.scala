package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.syntax._

/** Fourth analytics batch: session-path mining, statistical anomaly
  * detection over time buckets, corpus novelty attribution, and
  * iterative graph centrality. Same discipline as the earlier batches:
  * codegen'd built-ins over key-partitioned shuffles, no UDFs, and every
  * cross-engine-gated value computed in exact integer / string space so
  * the DuckDB oracle matches bit-for-bit.
  */
object InsightOps {

  // --------------------------------------------------------------- q105

  /** Top user journey prefixes: each user's first 3 events (event-time
    * order, event_id tie-break) concatenated into a path string, then
    * the 10 most common paths. The path assembly is a key-local window
    * (shuffles once on user_id); `collect_list` order is made
    * deterministic by sorting the collected (rn, type) structs, so no
    * global sort exists anywhere — the top-10 is a TakeOrdered, not a
    * full orderBy, and the path-count aggregate gets map-side combine.
    * At 100 TB the same plan holds: paths are bounded (3 events), the
    * distinct-path key space is tiny vs the event count. */
  /** Core on any (user_id, event_id, event_type, ts) frame. */
  def sessionPaths(events: DataFrame, prefixLen: Int, topK: Int): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val paths = events
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("rn", row_number().over(byUser))
      .filter($"rn" <= prefixLen)
      .groupBy($"user_id")
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct($"rn", $"event_type"))),
          x => x.getField("event_type"))).as("path"))
    paths.groupBy($"path").agg(count(lit(1)).as("n_users"))
      .orderBy($"n_users".desc, $"path")
      .limit(topK)
  }

  def q105SessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionPaths(load(s, dir, "events"), prefixLen = 3, topK = 10)

  // --------------------------------------------------------------- q106

  /** Hourly traffic-spike detection per event type: flag hours whose
    * count exceeds the type's mean by 2σ, with the test computed in
    * EXACT integer space — (n·c − S)² > 4·(n·Σc² − S²) is the 2σ
    * z-test cleared of divisions, so both engines compare identical
    * Longs (a float σ would be summation-order fragile). Two aggregate
    * levels (hour×type counts → per-type moments) and a broadcast join
    * back; the moments side has one row per event type. Long bound:
    * valid while n_hours · max_hourly_count < ~3·10⁹ — at larger scale
    * widen to decimal(38,0) (both engines are exact there too). */
  /** Core on any (ts, event_type) frame; k is the σ multiplier.
    * `widen = true` runs the z-test in decimal(38,0) — exact for
    * inputs past the Long bound (n_hours · max_hourly_count ≳ 3·10⁹,
    * i.e. planetary event volumes); the Long path is the default
    * because it stays in codegen-primitive space. Both produce
    * identical flags wherever both are in range (law-tested).
    *
    * Widened-path bound: decimal×decimal products CAP at precision 38,
    * and in non-ANSI mode an overflowing product yields NULL — the
    * filter would then silently DROP a genuinely anomalous hour. The
    * squared term (n·c − S)² needs ≤ 38 digits ⇔ n·c ≲ 10¹⁹ — four
    * orders past the Long bound, unreachable for any physical event
    * stream; past it, run under `spark.sql.ansi.enabled=true` so
    * overflow is an error, never a silent miss. */
  def hourlyAnomaly(events: DataFrame, k: Long, widen: Boolean = false): DataFrame = {
    def w(c: Column): Column = if (widen) c.cast("decimal(38,0)") else c
    val hourly = events
      .groupBy(
        date_format($"ts", "yyyy-MM-dd HH:00:00").as("hour"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(w($"n_events")).as("s"),
        sum(w($"n_events") * w($"n_events")).as("sq"))
    hourly.join(broadcast(stats), "event_type")
      .filter(w($"n") * w($"n_events") > $"s" &&
        (w($"n") * w($"n_events") - $"s") * (w($"n") * w($"n_events") - $"s") >
          w(lit(k * k)) * (w($"n") * $"sq" - $"s" * $"s"))
      .select($"event_type", $"hour", $"n_events")
  }

  def q106HourlyAnomaly(s: SparkSession, dir: String): DataFrame =
    hourlyAnomaly(load(s, dir, "events"), k = 2)

  // --------------------------------------------------------------- q107

  /** Corpus novelty attribution: per document, the fraction (ppm) of its
    * distinct word-3-gram shingles that FIRST appear in that document
    * (min doc_id owns the shingle) — the "what does each new crawl add"
    * measure behind incremental-ingest dedup budgeting. One shuffle on
    * the shingle key (min-aggregate + join back, both on the same key,
    * so the exchange is reused), then a per-doc aggregate; no pair
    * joins, scales as a linear scan of the shingle postings. */
  /** Core on any (doc_id, text) frame. */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    val g = docs
      .select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val first = g.groupBy($"g").agg(min($"doc_id").as("first_doc"))
    g.join(first, "g")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
      .select($"doc_id".cast("long").as("doc_id"), $"n_shingles", $"n_novel",
        expr("(n_novel * 1000000) div n_shingles").as("novel_ppm"))
  }

  def q107ShingleNovelty(s: SparkSession, dir: String): DataFrame =
    shingleNovelty(load(s, dir, "documents"))

  /** The stored first-occurrence artifact behind [[shingleNovelty]]:
    * one (shingle, first_doc) row per distinct shingle. Persist as
    * plain parquet; at corpus scale this is the index an incremental
    * ingest probes instead of re-scanning history. */
  def noveltyIndex(docs: DataFrame): DataFrame =
    docs.select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
      .groupBy($"g").agg(min($"doc_id").as("first_doc"))

  /** Incremental novelty: the [[shingleNovelty]] rows for an APPENDED
    * batch, computed against the stored index instead of the full
    * corpus — work scales with the batch, not history. Requires the
    * append invariant the artifact encodes (batch doc_ids > every
    * indexed doc_id); the full-rebuild law
    * `shingleNovelty(old ∪ batch) ↾ batch = incrementalNovelty(batch,
    * noveltyIndex(old))` is pinned in InsightOpsSpec. A shingle is
    * novel iff it is absent from the index AND first-owned within the
    * batch (both sides ride the same shingle-key shuffle). */
  def incrementalNovelty(newDocs: DataFrame, index: DataFrame): DataFrame = {
    val g = newDocs.select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val batchFirst = g.groupBy($"g").agg(min($"doc_id").as("batch_first"))
    g.join(batchFirst, "g")
      .join(index.select($"g", $"first_doc".as("old_first")), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when($"old_first".isNull && $"batch_first" === $"doc_id", 1))
          .as("n_novel"))
      .select($"doc_id".cast("long").as("doc_id"), $"n_shingles", $"n_novel",
        expr("(n_novel * 1000000) div n_shingles").as("novel_ppm"))
  }

  /** Artifact maintenance: merge a batch into the stored index (min
    * wins, so re-merging is idempotent). Append-shaped: one union +
    * one min-aggregate on the shingle key. */
  def updatedNoveltyIndex(index: DataFrame, newDocs: DataFrame): DataFrame =
    index.unionByName(noveltyIndex(newDocs))
      .groupBy($"g").agg(min($"first_doc").as("first_doc"))

  // --------------------------------------------------------------- q108

  /** Weighted PageRank (2 iterations, damping 0.85) over the event-type
    * transition graph — iterative graph centrality as join + aggregate,
    * the distributed PageRank shape: each round shuffles edge
    * contributions on the destination key and joins ranks on the source
    * key. Ranks are integer-scaled ppm with per-term floor division
    * ((850000·r·n) div (10⁶·out)), so Σ of terms is order-independent
    * and the gate is exact. Nodes without in-edges drop out after one
    * round, matching the SQL twin's inner joins. At real graph scale the
    * same loop runs with ranks checkpointed per round; 2 rounds keeps
    * the lineage trivially short here. Long bound on the per-term
    * product 850000·r·n: holds while rank·edge-weight < ~10¹³ (rank is
    * ~10⁶·avg-in-degree-mass); for web-scale graphs widen the term to
    * decimal(38,0) — floor division stays exact either way. */
  /** One rank-propagation round. `widen` computes the per-term product
    * in decimal(38,0) — for graphs past the Long bound on 850000·r·n
    * (rank·edge-weight ≳ 10¹³, web-scale); the floor division then
    * lands back in Long, so only the overflow-prone product widens.
    * Law-tested widen ≡ narrow wherever both are in range. */
  private def pagerankStep(
      contrib: DataFrame, ranks: DataFrame, widen: Boolean): DataFrame = {
    val term =
      if (widen)
        expr("(cast(850000 as decimal(38,0)) * r * n) div " +
          "(cast(1000000 as decimal(38,0)) * outn)")
      else expr("(850000 * r * n) div (1000000 * outn)")
    contrib.join(ranks.withColumnRenamed("node", "u"), "u")
      .select($"v", term.as("t"))
      .groupBy($"v".as("node"))
      .agg((lit(150000L) + sum($"t")).as("r"))
  }

  private def pagerankInit(ed: DataFrame): (DataFrame, DataFrame) = {
    val outd = ed.groupBy($"u").agg(sum($"n").as("outn"))
    val contrib = ed.join(outd, "u")
    val ranks = ed.select($"v".as("node")).union(ed.select($"u".as("node")))
      .distinct()
      .select($"node", lit(1000000L).as("r"))
    (contrib, ranks)
  }

  /** Core on any weighted edge list (u, v, n: Long). Ranks are
    * `localCheckpoint`ed per round (q51's loop discipline), so
    * `pagerank(ed, 50)` is 50 shallow plans rather than one
    * exponentially nested one — the per-round lineage cut is what makes
    * the iteration runnable at real graph scale. */
  def pagerank(ed: DataFrame, iters: Int, widen: Boolean = false): DataFrame = Pins.scope {
    val (contrib, ranks0) = pagerankInit(ed)
    var ranks = ranks0
    for (_ <- 1 to iters) {
      val next = Pins.pin(pagerankStep(contrib, ranks, widen), eager = true)
      Pins.release(ranks)
      ranks = next
    }
    ranks.select($"node", $"r".as("rank_scaled"))
  }

  /** Converge-or-throw PageRank: iterate until the integer-scaled ranks
    * reach an EXACT fixpoint (Δ-test on the ppm integers — no float
    * epsilon, so "unchanged" is well-defined), throwing at the
    * defensive round cap rather than returning unconverged centrality
    * (the q51 refusal discipline; integer floor division can in
    * principle 2-cycle, and the cap turns that into a loud failure). */
  def pagerankConverged(
      ed: DataFrame, maxIters: Int = 50, widen: Boolean = false): DataFrame = Pins.scope {
    val (contrib, ranks0) = pagerankInit(ed)
    var ranks = Pins.pin(ranks0, eager = true)
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val next = Pins.pin(pagerankStep(contrib, ranks, widen), eager = true)
      // null-safe inequality: a node whose rank row appears/disappears
      // (in-edge-less nodes drop out after round 1) counts as a change
      done = next.as("a").join(ranks.as("b"), Seq("node"), "full_outer")
        .filter(!(col("a.r") <=> col("b.r"))).isEmpty
      Pins.release(ranks)
      ranks = next
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"pagerankConverged: ranks did not reach a fixpoint within " +
          s"$maxIters rounds — refusing to emit unconverged centrality " +
          "(raise maxIters or use pagerank(ed, iters) for a fixed-round run)")
    ranks.select($"node", $"r".as("rank_scaled"))
  }

  def q108Pagerank(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val ed = load(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("next", lead($"event_type", 1).over(byUser))
      .filter($"next".isNotNull)
      .groupBy($"event_type".as("u"), $"next".as("v"))
      .agg(count(lit(1)).as("n"))
    pagerank(ed, iters = 2)
  }

  // --------------------------------------------------------------- q109

  /** Market-basket co-occurrence: support of event-type PAIRS within a
    * (user, day) basket — the frequent-itemset primitive behind
    * "users who do A also do B". The self-join keys on the basket id
    * (user, day), so it is key-local and its fan-out is bounded by the
    * per-basket item count (≤ |event types|, distinct-deduped), never
    * corpus-quadratic; basket totals broadcast back for the ppm.
    * Long bound: support·10⁶ < 2⁶³ ⇔ support < ~9·10¹² baskets sharing
    * a pair — past it, `widen = true` computes the ppm product in
    * decimal(38,0) (q106 precedent; the floor division lands back in
    * Long, law-tested widen ≡ narrow in range). */
  def itemsetPairs(events: DataFrame, widen: Boolean = false): DataFrame = {
    val b = events
      .select($"user_id", to_date($"ts").as("d"), $"event_type")
      .distinct()
    val nb = b.select($"user_id", $"d").distinct()
      .groupBy().agg(count(lit(1)).as("n_baskets"))
    b.as("a").join(b.as("x"),
        col("a.user_id") === col("x.user_id") && col("a.d") === col("x.d") &&
          col("a.event_type") < col("x.event_type"))
      .groupBy(col("a.event_type").as("item_a"), col("x.event_type").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nb))
      .select($"item_a", $"item_b", $"support",
        (if (widen)
          expr("(cast(support as decimal(38,0)) * 1000000) div n_baskets")
        else expr("(support * 1000000) div n_baskets")).as("support_ppm"))
  }

  def q109ItemsetPairs(s: SparkSession, dir: String): DataFrame =
    itemsetPairs(load(s, dir, "events"))

  // --------------------------------------------------------------- q110

  /** Consecutive-active-day streaks per user — the gaps-and-islands
    * pattern: day minus its per-user rank is constant exactly along a
    * run of consecutive days, so one key-local window + two aggregates
    * find every streak with no self-join and no iteration. Dates are
    * calendar-exact (no floats anywhere). */
  def activityStreaks(events: DataFrame): DataFrame = {
    val act = events.select($"user_id", to_date($"ts").as("d")).distinct()
    val g = act.withColumn("grp",
      date_sub($"d", row_number().over(
        Window.partitionBy($"user_id").orderBy($"d"))))
    g.groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"), min($"d").as("run_start"))
      .groupBy($"user_id")
      .agg(
        max($"len").as("longest_streak"),
        count(lit(1)).as("n_runs"),
        min($"run_start").cast("string").as("first_day"))
  }

  def q110ActivityStreaks(s: SparkSession, dir: String): DataFrame =
    activityStreaks(load(s, dir, "events"))

  // --------------------------------------------------------------- q197

  /** q197 — triangle counting on the user CO-ENGAGEMENT graph: users
    * are linked when they act in the same (event_type, hour) bucket at
    * least `minShared` times, and each user's triangle participation
    * count is the classic clustering/community signal (a user whose
    * neighbors also know each other sits inside a community; a hub
    * with zero triangles is a broadcast artifact or a bot).
    *
    * Every quadratic step is bounded, in order:
    *  1. HOT-BUCKET GUARD, adaptive: bucket occupancy is profiled and
    *     buckets above the p90 occupancy are REFUSED and counted into
    *     the gated row (`n_hot_buckets` — the q64 refuse-or-account
    *     rule). The percentile position is integer-exact
    *     (`(9n+9) div 10` — no 0.9·n float, which rounds differently
    *     than DuckDB would on exact decades) and computed by a
    *     row_number over the OCCUPANCY table, which is bucket-count-
    *     sized (|event types| × hours — thousands per year), never the
    *     corpus: the q146 histogram-first discipline. A flash-crowd
    *     hour therefore cannot make pair generation quadratic in the
    *     crowd — it self-excludes at any scale.
    *  2. Pair generation is key-local on the bucket (≤ cap² per
    *     bucket) and the edge WEIGHT THRESHOLD (`w ≥ minShared`
    *     distinct shared buckets) prunes coincidental co-presence
    *     before any further step — random co-occurrence grows with
    *     density, the threshold is what keeps the graph sparse.
    *  3. Triangle enumeration is DEGREE-ORIENTED (Schank/Suri-
    *     Vassilvitskii): each undirected edge points from its
    *     lower-(deg, id) endpoint, wedges are generated only at the
    *     LOW-degree apex and closed by an equi-join on the oriented
    *     (b, c) edge — Σ d_oriented² = O(m^1.5) wedge rows instead of
    *     Σ d² (a single celebrity node no longer produces deg²
    *     wedges). Each triangle materializes exactly once because the
    *     (deg, id) order is total.
    * The edge artifact is localCheckpointed (lazily) before fanning
    * into the three-way self-join, so the corpus scan and bucket
    * profile run once, not three times. */
  /** Co-engagement edge list (u < v, undirected) with the adaptive
    * hot-bucket guard, shared by the q197 triangle counter and the
    * q205 label propagator: returns (edges, 1-row hot-bucket
    * accounting). See [[triangleCounts]] for the boundedness argument
    * of each step. */
  /** (bucket, user) dedup width: one task per this many INPUT bytes of
    * the events scan (≈8 tasks at sf0.1's 2 MB parquet), saturating at
    * the session's parallelism. The width rides the single corpus
    * exchange and — via the checkpoint's physical partition count —
    * every stage that streams the pinned frames, so a tiny corpus
    * stops paying `defaultParallelism` fixed-cost tasks per stage (the
    * r16 q211/q207/q242 32-core regression) while a big one still
    * fills the cluster. */
  private val BuBytesPerTask = 256L << 10

  private def coEdges(ev: DataFrame, minShared: Long): (DataFrame, DataFrame) = {
    val spark = ev.sparkSession
    // size-aware width for the one corpus exchange below, derived from
    // the optimizer's size estimate (parquet file bytes) — zero jobs,
    // where even a metadata-only count() would pay one fixed-cost
    // action per graph query per driver rep
    val width = Spread.sizedWidthFromBytes(spark,
      ev.queryExecution.optimizedPlan.stats.sizeInBytes, BuBytesPerTask)
    // ONE corpus pass AND one corpus exchange: the keyed repartition
    // carries the rows to hash(b) once, and the (b, user) dedup
    // aggregate REUSES that partitioning (clustering by a subset of
    // the group keys satisfies the aggregate — no second exchange,
    // where r16's bare distinct() shuffled on (b, user) and then paid
    // a REPARTITION_BY_NUM again before the pair join). The pinned
    // number is deliberate: AQE would coalesce a tiny post-shuffle
    // read to ONE partition, and the ≤cap² per-bucket pair fan-out
    // below — whose cost is in rows OUT, invisible to size-based
    // coalescing — would run serially (measured 0.7-0.9 s on a single
    // task at sf0.1 in every one of the six co-engagement queries).
    // Without the checkpoint the dedup subtree is duplicated into
    // every consumer position (occupancy, cap, both self-join sides —
    // the optimizer re-ids the instances, so ReuseExchange does not
    // fold them) and the events scan + dedup ran 4-5x per graph query.
    // The checkpoint truncates lineage — every consumer reads the one
    // materialized block set, at `width` physical partitions.
    val bu = ev.select(
        concat_ws("|", $"event_type",
          expr("unix_timestamp(ts) div 3600").cast("string")).as("b"),
        $"user_id")
      .repartition(width, $"b")
      .dropDuplicates("b", "user_id")
      .transform(Pins.pin(_, eager = false)) // lazy: first consumer materializes
    val occ = bu.groupBy($"b").agg(count(lit(1)).as("occ"))
    // adaptive cap: the occupancy value at integer-exact position
    // ceil(9n/10) of (occ, b) ascending — bucket-count-sized window
    val ranked = occ.select($"b", $"occ",
      row_number().over(Window.orderBy($"occ", $"b")).as("rn"),
      count(lit(1)).over(Window.partitionBy()).as("n"))
    val cap = ranked
      .filter($"rn" === expr("(n * 9 + 9) div 10"))
      .select($"occ".as("cap"))
    val withCap = occ.crossJoin(broadcast(cap))
    val hot = withCap.filter($"occ" > $"cap")
      .agg(count(lit(1)).as("n_hot_buckets"))
    // the kept-bucket dim is occupancy-bounded (≤ bucket count) —
    // broadcast it so ku is a map-side join streaming over bu's width
    // partitions. The explicit REPARTITION_BY_NUM pin stays: bu is a
    // checkpoint leaf, so ku carries no size statistics — the self-join
    // below would plan as a sort-merge whose ENSURE_REQUIREMENTS
    // exchanges AQE coalesces to ONE partition on byte-tiny input,
    // serializing the ≤cap² fan-out (measured: 0.64 s single-task pair
    // stage when the pin was dropped this round). Honest caveat: when
    // the self-join IS planned sort-merge, EnsureRequirements raises
    // this exchange's partition count to spark.sql.shuffle.partitions
    // for co-partitioning (observed 13 → 32 in the final plan) — the
    // pin's job is blocking the serial coalesce, not fixing the exact
    // width; the pair stage is the family's heavy stage, so full
    // session width there is the right outcome anyway. The size-aware
    // width DOES govern bu's own exchange and every stage that streams
    // the pinned frames.
    // lazy pin between the join and the spread: without it each
    // self-join side re-derives ku under its own exchange instance
    // (the re-id'd subtrees do not ReuseExchange-fold — measured as a
    // second bu-scan+join stage per side this round)
    val ku = bu.join(
        broadcast(withCap.filter($"occ" <= $"cap").select($"b")), "b")
      .transform(Pins.pin(_, eager = false))
      .repartition(width, $"b")
    // the edge list is the shared artifact every co-engagement query
    // fans out from (degree table + wedge sides in q197, k label-prop
    // rounds, the k-core peel seed, assortativity's endpoint joins) —
    // checkpoint it once so the pair generation never re-runs per
    // consumer position. Lazy: the first consumer action materializes
    // it (an eager pin here would be one more fixed-cost job on every
    // graph query). Pinned set is the THRESHOLDED edge list
    // (w ≥ minShared), bounded far below the corpus; the queries whose
    // results do not read it (q207, q211) free it when their scope
    // exits.
    val edges = ku.as("l").join(ku.as("r"),
        col("l.b") === col("r.b") && col("l.user_id") < col("r.user_id"))
      .groupBy(col("l.user_id").as("u"), col("r.user_id").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= minShared)
      .select($"u", $"v")
      .transform(Pins.pin(_, eager = false))
    (edges, hot)
  }

  def triangleCounts(ev: DataFrame, minShared: Long = 3L): DataFrame = {
    val (edges, hot) = coEdges(ev, minShared)
    val deg = edges.select($"u".as("node"))
      .union(edges.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val low = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    val oriented = edges
      .join(deg.select($"node".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("dv")), "v")
      .select(
        when(low, $"u").otherwise($"v").as("src"),
        when(low, $"v").otherwise($"u").as("dst"),
        when(low, $"dv").otherwise($"du").as("ddst"))
      // lazy: cut before the three-way reuse; bounded (one row per
      // thresholded edge + two degree columns) — blocks live until
      // ContextCleaner, the documented lazy-pin tradeoff
      .transform(Pins.pin(_, eager = false))
    val tri = oriented.as("x")
      .join(oriented.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddst") < col("y.ddst") ||
            (col("x.ddst") === col("y.ddst") && col("x.dst") < col("y.dst"))))
      .join(oriented.as("z"),
        col("z.src") === col("x.dst") && col("z.dst") === col("y.dst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    tri.select($"a".as("user_id"))
      .union(tri.select($"b"))
      .union(tri.select($"c"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(hot))
  }

  def q197Triangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(load(s, dir, "events"))

  // --------------------------------------------------------------- q205

  /** q205 — community detection by SYNCHRONOUS label propagation
    * (Raghavan et al., Phys. Rev. E 2007) over the q197 co-engagement
    * graph, made fully deterministic: label₀(v) = v, and each of `k`
    * rounds relabels every vertex with the most frequent label among
    * its neighbors, ties broken by SMALLEST label — the (count desc,
    * label asc) total order both engines replay, where the textbook
    * algorithm's random tie-break would make the gate unverifiable.
    *
    * SCALE: each round is one edge-list join (neighbor labels) + a
    * per-vertex top-1. The top-1 is a rank-dropped row_number ≤ 1 over
    * the (vertex, label) neighborhood table — TopKRewriteRule plans it
    * as the bounded-heap [[graft.plans.TopKPerKeyExec]], so per-vertex
    * state is one row per distinct neighbor label, bounded by degree
    * (which the q197 hot-bucket guard + weight threshold already
    * bound). The symmetric edge list is lazily localCheckpointed once
    * and reused by all k rounds — the corpus scan and bucket profile
    * never re-run per round. k is a constant (community diameters in
    * co-engagement graphs are short); at larger k, checkpoint every
    * few rounds to cut lineage — same cost model as q48's Lloyd
    * rounds. Every vertex with an edge lands in the output; the
    * hot-bucket refusal rides the gated rows (the q197 accounting). */
  def labelPropagation(ev: DataFrame, minShared: Long = 3L,
      k: Int = 3): DataFrame = {
    val (edges, hot) = coEdges(ev, minShared)
    labelPropagationFromEdges(edges, k).crossJoin(broadcast(hot))
  }

  /** The k-round propagation itself, on a precomputed edge list — so
    * consumers that already derived edges (q242's modularity) never
    * pay the co-engagement self-join twice. */
  def labelPropagationFromEdges(edges: DataFrame, k: Int): DataFrame = {
    // in-row fan-out, NOT union-of-recompute: a union's two branches
    // are two re-id'd instances of the whole edge-derivation subtree
    // (ReuseExchange does not fold them), so the symmetrization used
    // to pay the pair aggregation twice — explode each edge into its
    // two orientations in one pass instead
    val sym = edges
      .select(explode(array(
        struct($"u", $"v"),
        struct($"v".as("u"), $"u".as("v")))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
      // lazy: materialized once, read k times; bounded: 2·|thresholded
      // edge list|
      .transform(Pins.pin(_, eager = false))
    var labels = sym.select($"u".as("node")).distinct()
      .withColumn("label", $"node")
    (1 to k).foreach { _ =>
      val nb = sym
        .join(labels.select($"node".as("v"), $"label"), "v")
        .groupBy($"u", $"label").agg(count(lit(1)).as("c"))
      val win = Window.partitionBy($"u").orderBy($"c".desc, $"label")
      labels = nb
        .withColumn("rn", row_number().over(win))
        .filter($"rn" === 1)
        .select($"u".as("node"), $"label")
    }
    labels.select($"node".as("user_id"), $"label")
  }

  def q205LabelProp(s: SparkSession, dir: String): DataFrame =
    labelPropagation(load(s, dir, "events"))

  // --------------------------------------------------------------- q207

  /** q207 — EXACT connected components of the co-engagement graph,
    * labels = component min id: the ground-truth partition q205's
    * k-round propagation refines (LPA can split a component into
    * communities; it can never merge two components — the refinement
    * law InsightOpsSpec pins between the two queries). Reuses
    * [[TextOps.clusterMembersFromPairs]]'s hybrid solve verbatim:
    * bounded driver union-find for local-sized graphs,
    * large-star/small-star contraction (Kiveris et al.) above —
    * O(log n) rounds regardless of component DIAMETER, which plain
    * min-propagation cannot promise on chain-shaped co-engagement
    * graphs. Edge derivation and hot-bucket accounting are q197's. */
  def q207Components(s: SparkSession, dir: String): DataFrame = Pins.scope {
    // the solve's result is driver-local rows or the contraction's own
    // checkpoint, so the scope frees the edge pins on return
    val (edges, hot) = coEdges(load(s, dir, "events"), 3L)
    val members = graft.operators.TextOps.clusterMembersFromPairs(
      edges.select($"u".as("id_a"), $"v".as("id_b")))
    members
      .select($"doc_id".as("user_id"), $"cluster_id".as("component"))
      .crossJoin(broadcast(hot))
  }

  // --------------------------------------------------------------- q211

  /** k-core decomposition by iterative peeling (Matula & Beck, 1983):
    * repeatedly delete nodes whose degree in the SURVIVING subgraph is
    * < k until stable; what remains is the k-core — the standard
    * "dense engaged nucleus" extraction over the q197 co-engagement
    * graph, and the graph-side analogue of the q64 refuse-or-account
    * loop (peel until the invariant holds, never sample it).
    *
    * SCALE: each round is one map-side-combinable degree aggregate
    * plus two semi-joins restricting the edge list — all shuffles on
    * node/edge keys, state is the (shrinking) edge list itself, and
    * `localCheckpoint` cuts the lineage so round r's plan never
    * replays rounds 1..r-1. Convergence is detected by edge COUNT
    * (restriction is monotone, so equal count ⇒ identical set — the
    * count is a scalar the loop already materializes). Rounds to
    * converge is bounded by the peeling depth, not graph size; the
    * loop REFUSES (throws) past `maxRounds` rather than returning an
    * unconverged core (q51's converge-or-throw discipline). */
  /** Edge sets at or below this size peel on the DRIVER (the
    * [[TextOps.clusterMembersFromPairs]] hybrid discipline): the
    * distributed peel is a per-round checkpoint + count action ladder
    * — 3-4 cluster jobs per round of pure fixed cost on a tiny frame —
    * while ≤1M (long, long) edges peel in milliseconds in memory. The
    * k-core is UNIQUE (removal order cannot change the fixpoint), so
    * both paths return the same subgraph; InsightOpsSpec pins the two
    * paths row-for-row across the boundary. */
  val KCoreMaxLocalEdges: Long = 1000000L

  def kCore(edges0: DataFrame, k: Long, maxRounds: Int,
      maxLocalEdges: Long = KCoreMaxLocalEdges): DataFrame = Pins.scope {
    // a frame that already is a pin (coEdges hands one over) is not
    // copied: the copy would cost a materialization job and a duplicate
    // block set per query
    val pinned = Pins.pin(edges0, eager = false)
    val n0 = pinned.count()
    if (n0 <= maxLocalEdges)
      kCoreLocal(edges0.sparkSession,
        pinned.collect().map(r => (r.getLong(0), r.getLong(1))), k, maxRounds)
    else kCoreDistributed(pinned, n0, k, maxRounds)
  }

  private def kCoreDistributed(
      pinned: DataFrame, n0: Long, k: Long, maxRounds: Int): DataFrame = {
    var n = n0
    var cur = pinned
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val deg = cur.select($"u".as("node"))
        .unionAll(cur.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter($"deg" >= k).select($"node")
      val next = cur
        .join(keep.select($"node".as("u")), "u", "left_semi")
        .join(keep.select($"node".as("v")), "v", "left_semi")
        .select($"u", $"v")
        .transform(Pins.pin(_, eager = false))
      val m = next.count()
      // the superseded round's blocks are dead once next is
      // materialized (a caller's pin is not this scope's to free)
      Pins.release(cur)
      converged = m == n
      n = m
      cur = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore: no fixpoint within $maxRounds peeling rounds")
    cur.select($"u".as("node")).unionAll(cur.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("core_deg"))
  }

  /** The driver-local peel — identical round structure and refusal to
    * the distributed loop (converge by edge count, throw past
    * maxRounds), so the hybrid boundary is invisible in results. */
  private[operators] def kCoreLocal(
      spark: SparkSession, es: Array[(Long, Long)],
      k: Long, maxRounds: Int): DataFrame = {
    var cur = es
    var n = cur.length
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val deg = scala.collection.mutable.Map.empty[Long, Long]
      cur.foreach { case (u, v) =>
        deg.update(u, deg.getOrElse(u, 0L) + 1L)
        deg.update(v, deg.getOrElse(v, 0L) + 1L)
      }
      val next = cur.filter { case (u, v) => deg(u) >= k && deg(v) >= k }
      val m = next.length
      converged = m == n
      n = m
      cur = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore: no fixpoint within $maxRounds peeling rounds")
    val coreDeg = scala.collection.mutable.Map.empty[Long, Long]
    cur.foreach { case (u, v) =>
      coreDeg.update(u, coreDeg.getOrElse(u, 0L) + 1L)
      coreDeg.update(v, coreDeg.getOrElse(v, 0L) + 1L)
    }
    import spark.implicits._
    coreDeg.toSeq.sortBy(_._1).toDF("node", "core_deg")
  }

  /** q211 — the 3-core of the co-engagement graph with the shared
    * hot-bucket accounting; every surviving user's in-core degree is
    * the gated value. Oracle: the peeling loop unrolled to
    * [[KCoreRounds]] rounds (a fixpoint is a no-op for the extra
    * rounds, so the unroll depth only needs to DOMINATE the true
    * peeling depth — the Spark side throws if it ever exceeds it). */
  val KCoreRounds = 16

  def q211KCore(s: SparkSession, dir: String): DataFrame = Pins.scope {
    // kCore's result never re-reads the edge pin (the local path
    // returns driver-local rows; the distributed path ends on its own
    // round checkpoint), so the scope frees it on return
    val (edges, hot) = coEdges(load(s, dir, "events"), 3L)
    val core = kCore(edges, k = 3L, maxRounds = KCoreRounds)
    core
      .select($"node".as("user_id"), $"core_deg")
      .crossJoin(broadcast(hot))
  }

  // --------------------------------------------------------------- q222

  /** CUSUM change detection over hourly event counts, per event type
    * (Page, 1954) — the sequential complement of q106's pointwise 2σ
    * test: a single spiked hour trips q106, but a SUSTAINED small
    * drift (every hour slightly above reference) never does; CUSUM
    * accumulates exactly that. Entirely integer-exact via the
    * prefix-sum identity: S_t = max(0, S_{t−1} + d_t) is NOT a window
    * expression, but S_t = P_t − min(0, min_{j≤t} P_j) with
    * P_t = Σ_{j≤t} d_t IS — two running windows over the same
    * (type, hour) sort. d = c − ref − slack, ref = the type's median
    * hourly count by the q146 rank rule (2·cum ≥ n), slack the
    * tolerated drift per hour.
    *
    * SCALE: histogram-first twice — the corpus collapses to (type,
    * hour) counts (map-side combinable), the median runs on the
    * count-of-counts histogram, and the CUSUM windows run on the
    * hourly table partitioned by type (hours per type is
    * time-range-bounded, never corpus-bounded). Output is one
    * accounting row per type; the first flagged hour uses sentinel 0
    * when the type never trips (no real hour is 0). Observed hours
    * only: an absent hour contributes no negative drift (gap-fill
    * with q103's spans first if silence should count). */
  def cusumHourly(events: DataFrame, slack: Long, theta: Long): DataFrame = {
    val hc = events
      .select($"event_type", expr("unix_timestamp(ts) div 3600").as("h"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("c"))
    val byType = Window.partitionBy($"event_type")
    val med = hc.groupBy($"event_type", $"c").agg(count(lit(1)).as("n"))
      .select($"event_type", $"c",
        sum($"n").over(byType.orderBy($"c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum($"n").over(byType).as("tot"))
      .filter($"cum" * 2 >= $"tot")
      .groupBy($"event_type").agg(min($"c").as("ref"))
    val run = byType.orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hc.join(broadcast(med), "event_type")
      .withColumn("d", $"c" - $"ref" - slack)
      .withColumn("psum", sum($"d").over(run))
      .withColumn("s", $"psum" - least(lit(0L), min($"psum").over(run)))
      .groupBy($"event_type")
      .agg(max($"ref").as("ref"), count(lit(1)).as("n_hours"),
        max($"s").as("max_s"),
        sum(when($"s" >= theta, 1L).otherwise(0L)).as("n_flagged"),
        coalesce(min(when($"s" >= theta, $"h")), lit(0L))
          .as("first_flag_hour"))
  }

  def q222Cusum(s: SparkSession, dir: String): DataFrame =
    cusumHourly(load(s, dir, "events"), slack = 1L, theta = 16L)

  // --------------------------------------------------------------- q259

  /** q259 — Theil-Sen robust trend of daily event volume, per type:
    * the median of all pairwise slopes (Theil 1950 / Sen 1968), the
    * robust-REGRESSION member of the family MAD (q215) and CUSUM
    * (q222) anchor — a single spiked day moves an OLS slope
    * arbitrarily, it moves the pairwise-slope median not at all
    * (29.3% breakdown point). Built integer-exact and cross-engine
    * deterministic:
    *
    *  - slopes in TRUE FLOOR per-mille: `dy·1000 div dx` when the
    *    numerator is non-negative (truncation = floor there), else
    *    `(dy·1000 − dx + 1) div dx` — exact floor under TRUNCATING
    *    integer division (which both Spark's `div` and DuckDB's `//`
    *    are, verified empirically: `-5 // 3 = -1` in DuckDB), with NO
    *    domain bound on the slope (the earlier positive-offset trick
    *    silently required slope ≥ −10⁶ permille);
    *  - the median by the pinned q146 rank rule (1-based index
    *    ⌈n/2⌉ of the sorted multiset — no interpolation mode);
    *  - a type with a SINGLE observed day has no pairs and no trend:
    *    n_pairs = 0, slope_permille = NULL (the unguarded fan-out
    *    would evaluate sequence(1, 0) — descending in Spark — and
    *    index out of bounds under ANSI mode).
    *
    * SCALE: the corpus collapses to (type, day) counts in ONE
    * map-combinable aggregate; the C(days,2) pair fan-out happens
    * IN-ROW on the per-type day array (days is calendar-bounded —
    * 30 here, 365 a year — so ≤ ~66k slopes per row at a full year),
    * via nested higher-order transforms with no explode and no
    * shuffle of pairs. Output is one row per event type. */
  def theilSenDaily(events: DataFrame): DataFrame = {
    val daily = events
      .select($"event_type", expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy($"event_type", $"d").agg(count(lit(1)).as("c"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"d", $"c"))).as("pts"),
        count(lit(1)).as("n_days"))
      .withColumn("slopes", expr(
        """CASE WHEN n_days >= 2 THEN
          |  flatten(transform(sequence(1, int(n_days) - 1), j ->
          |    transform(sequence(0, j - 1), i ->
          |      CASE WHEN pts[j].c >= pts[i].c
          |        THEN ((pts[j].c - pts[i].c) * 1000)
          |          div (pts[j].d - pts[i].d)
          |        ELSE ((pts[j].c - pts[i].c) * 1000
          |          - (pts[j].d - pts[i].d) + 1)
          |          div (pts[j].d - pts[i].d)
          |      END)))
          |ELSE cast(array() as array<bigint>) END""".stripMargin))
      .withColumn("n_pairs", size($"slopes").cast("long"))
      .withColumn("slope_permille", expr(
        """CASE WHEN n_pairs >= 1
          |  THEN element_at(array_sort(slopes), int((n_pairs + 1) div 2))
          |  ELSE CAST(NULL AS BIGINT) END""".stripMargin))
      .select($"event_type", $"n_days", $"n_pairs", $"slope_permille")
  }

  def q259TheilSen(s: SparkSession, dir: String): DataFrame =
    theilSenDaily(load(s, dir, "events"))

  // --------------------------------------------------------------- q235

  /** q235 — deterministic random walks on the co-engagement graph: the
    * corpus-generation step of DeepWalk/node2vec graph embeddings
    * (Perozzi et al., KDD 2014) — walks become sentences, q204's
    * skip-grams become the co-occurrence table an embedding trains on.
    * "Random" is a portable LCG of (walker, step) over the SORTED
    * neighbor list, so both engines take the identical step and the
    * gate is a hash match, not a distribution test.
    *
    * SCALE: the adjacency buffer is bounded IN-PLAN, not by hope — a
    * hub's neighbor list is truncated to the `maxDeg` smallest ids
    * BEFORE aggregation via the bounded-heap rewrite
    * (`row_number ≤ maxDeg per node`, the q149 lesson: cap before the
    * buffer, never after), so no collect_list ever holds more than
    * maxDeg values and the truncation is deterministic — the oracle
    * replays the same first-maxDeg-sorted-neighbors rule, so capped
    * walks stay hash-exact. Each step is ONE hash join of the walker
    * frontier against the adjacency table; `steps` is a small constant
    * (walk length), so generation is `steps` joins — never an
    * iteration-to-convergence. Walkers at a dead-end node (impossible
    * on the symmetrized graph, possible in general) keep their shorter
    * path via the left join + coalesce. */
  def randomWalks(edges: DataFrame, steps: Int,
      maxDeg: Int = 256): DataFrame = {
    val sym = edges.select($"u", $"v")
      .unionAll(edges.select($"v".as("u"), $"u".as("v")))
    val bounded = sym
      .withColumn("rn", row_number().over(
        Window.partitionBy($"u").orderBy($"v")))
      .filter($"rn" <= maxDeg)
      .select($"u", $"v") // rank dropped -> bounded-heap rewrite fires
    val adj = bounded.groupBy($"u".as("node"))
      .agg(sort_array(collect_list($"v")).as("nbrs"))
    var walk = adj.select($"node".as("walker"), $"node".as("cur"),
      $"node".cast("string").as("path"))
    (1 to steps).foreach { t =>
      val stepHash =
        (($"walker" % 1000003L) * 2654435761L + lit(t.toLong) * 999983L) %
          1000003L
      walk = walk.join(adj.withColumnRenamed("node", "cur"), Seq("cur"), "left")
        .withColumn("nxt",
          element_at($"nbrs", (pmod(stepHash, size($"nbrs")) + 1).cast("int")))
        .select($"walker",
          coalesce($"nxt", $"cur").as("cur"),
          concat($"path", lit(">"),
            coalesce($"nxt", $"cur").cast("string")).as("path"))
    }
    walk.select($"walker", $"cur".as("end_node"), $"path")
  }

  def q235RandomWalks(s: SparkSession, dir: String): DataFrame = {
    val (edges, hot) = coEdges(load(s, dir, "events"), 3L)
    randomWalks(edges, steps = 4).crossJoin(broadcast(hot))
  }

  // --------------------------------------------------------------- q236

  /** q236 — seasonal-residual anomaly detection: q106 flags hours that
    * deviate from the TYPE's global mean, which mislabels every rush
    * hour; this compares each (type, date, hour-of-day) cell against
    * the type's MEDIAN FOR THAT HOUR-OF-DAY (the seasonal baseline),
    * flagging cells with count > 2·median — integer-exact, no σ, no
    * floats, robust to the outliers that pollute a mean baseline (the
    * q215 argument applied to seasonality). Output: per type, cells
    * observed/flagged and the worst exceedance (c − 2·med), with the
    * worst cell pinned.
    *
    * SCALE: counts collapse to (type, date, hod) cells (map-side
    * combinable), baselines to (type, hod) medians via the q146 rank
    * rule over the cell histogram — everything after the first
    * aggregate is calendar-sized. */
  def seasonalResidual(events: DataFrame): DataFrame = {
    val cells = events
      .select($"event_type", to_date($"ts").cast("string").as("day"),
        (hour($"ts")).cast("long").as("hod"))
      .groupBy($"event_type", $"day", $"hod")
      .agg(count(lit(1)).as("c"))
    val byKey = Window.partitionBy($"event_type", $"hod")
    val med = cells.groupBy($"event_type", $"hod", $"c")
      .agg(count(lit(1)).as("n"))
      .select($"event_type", $"hod", $"c",
        sum($"n").over(byKey.orderBy($"c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum($"n").over(byKey).as("tot"))
      .filter($"cum" * 2 >= $"tot")
      .groupBy($"event_type", $"hod").agg(min($"c").as("med"))
    cells.join(med, Seq("event_type", "hod"))
      .withColumn("exceed", $"c" - $"med" * 2)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_cells"),
        sum(when($"exceed" > 0, 1L).otherwise(0L)).as("n_flagged"),
        max($"exceed").as("max_exceed"))
  }

  def q236SeasonalResidual(s: SparkSession, dir: String): DataFrame =
    seasonalResidual(load(s, dir, "events"))

  // --------------------------------------------------------------- q238

  /** q238 — cumulative-user growth: per day, new users (first-seen
    * that day) and the running distinct-user total — the growth curve
    * every analytics dashboard opens with. Exact WITHOUT windowed
    * count-distinct state: first-seen day per user is one aggregate,
    * daily new-user counts another, and the cumulative total is a
    * running sum over the DAY table — a global window, allowed because
    * the table is calendar-bounded (one row per day, sweep-listed). */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstSeen = events
      .select($"user_id", to_date($"ts").cast("string").as("day"))
      .groupBy($"user_id").agg(min($"day").as("day"))
    firstSeen.groupBy($"day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum($"new_users").over(
        Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"day", $"new_users", $"cum_users")
  }

  def q238CumulativeUsers(s: SparkSession, dir: String): DataFrame =
    cumulativeUsers(load(s, dir, "events"))

  // --------------------------------------------------------------- q241

  /** q241 — degree assortativity of the co-engagement graph (Newman,
    * 2002): do heavy users engage with heavy users? Pearson r over
    * edge-endpoint degree pairs, DIVISION-CLEARED (the q152 rule):
    * with both orientations of every edge, Σx = Σy and Σx² = Σy², so
    * r = num/den with num = M·Σxy − (Σx)² and den = M·Σx² − (Σx)²
    * (M = 2m) — two exact integers, no sqrt, no float. Positive num
    * means assortative (hubs stick together), negative means hubs
    * touch the periphery — a one-row structural fingerprint that
    * shifts under bot rings and engagement farming.
    *
    * SCALE: degrees are one map-combinable aggregate; the degree pair
    * table is two hash joins of edges against the degree dim; the
    * moments collapse in a single scalar aggregate. Long bound:
    * M·Σxy < 2^63 holds while m·d̄³ < 9·10¹⁸ — widen to decimal(38,0)
    * past that (both engines stay exact). */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym = edges.unionAll(edges.select($"v".as("u"), $"u".as("v")))
    val deg = sym.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    sym
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .agg(count(lit(1)).as("m2"), sum($"du").as("sx"),
        sum($"du" * $"dv").as("sxy"), sum($"du" * $"du").as("sxx"))
      .select(expr("m2 div 2").as("m"),
        ($"m2" * $"sxy" - $"sx" * $"sx").as("assort_num"),
        ($"m2" * $"sxx" - $"sx" * $"sx").as("assort_den"))
  }

  def q241Assortativity(s: SparkSession, dir: String): DataFrame = {
    val (edges, hot) = coEdges(load(s, dir, "events"), 3L)
    assortativity(edges).crossJoin(broadcast(hot))
  }

  // --------------------------------------------------------------- q242

  /** q242 — MODULARITY of the q205 label-propagation partition: the
    * standard community-quality score Q = Σ_c [e_c/m − (d_c/2m)²],
    * carried as the exact fraction q_num/q_den with
    * q_num = Σ_c (4m·e_c − d_c²) and q_den = 4m² — the number that
    * says whether the communities q205 found are real structure or
    * noise (Q near 0), with no float between the engines. Closes the
    * community loop: q205 finds, q207 bounds (components), q242
    * SCORES.
    *
    * SCALE: intra-community edge counts are two hash joins of the
    * edge list against the label dim; degree mass per community is a
    * labels-sized aggregate; everything after the joins is
    * community-count-sized. */
  /** Core: modularity of a partition `lab` = (node, label) over an
    * undirected edge list (u < v). */
  def modularityOf(edges: DataFrame, lab: DataFrame): DataFrame = {
    // a caller's pin (q242 hands one over) is used as it is —
    // re-checkpointing copies the block set for nothing
    val e = Pins.pin(edges, eager = false)
    val m = e.count()
    val sym = e.unionAll(e.select($"v".as("u"), $"u".as("v")))
    val deg = sym.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    val ein = e
      .join(lab.select($"node".as("u"), $"label".as("lu")), "u")
      .join(lab.select($"node".as("v"), $"label".as("lv")), "v")
      .filter($"lu" === $"lv")
      .groupBy($"lu".as("label")).agg(count(lit(1)).as("e_in"))
    val dc = lab.join(deg, "node")
      .groupBy($"label").agg(sum($"d").as("d_c"))
    dc.join(ein, Seq("label"), "left").na.fill(0L, Seq("e_in"))
      .agg(count(lit(1)).as("n_communities"),
        sum(lit(4L * m) * $"e_in" - $"d_c" * $"d_c").as("q_num"))
      .select($"n_communities", lit(m).as("m"), $"q_num",
        lit(4L * m * m).as("q_den"))
  }

  def q242Modularity(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    // one edge derivation serves both the propagation and the score —
    // coEdges' pin IS the shared checkpoint (r16 re-checkpointed it
    // here and again in modularityOf: two copies of the same blocks
    // plus two materialization jobs). The score's joins read the pin
    // at action time, so it stays alive (bounded: thresholded edges).
    val (edges, hot) = coEdges(ev, 3L)
    val lab = labelPropagationFromEdges(edges, k = 3)
      .select($"user_id".as("node"), $"label")
    modularityOf(edges, lab).crossJoin(broadcast(hot))
  }

  /** The q197 oracle's shared edge-derivation CTE block (bucket guard +
    * thresholded co-engagement edges), reused verbatim by q205. */
  private val coEdgeCtes: String =
    """bu AS (SELECT DISTINCT event_type || '|' ||
      |    CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS VARCHAR) AS b,
      |    user_id FROM events),
      |occ AS (SELECT b, CAST(count(*) AS BIGINT) AS occ FROM bu GROUP BY 1),
      |rk AS (SELECT occ, row_number() OVER (ORDER BY occ, b) AS rn,
      |  count(*) OVER () AS n FROM occ),
      |cap AS (SELECT occ AS cap FROM rk WHERE rn = (9 * n + 9) // 10),
      |hot AS (SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets FROM occ
      |  WHERE occ > (SELECT cap FROM cap)),
      |ku AS (SELECT bu.b, bu.user_id FROM bu
      |  JOIN (SELECT b FROM occ WHERE occ <= (SELECT cap FROM cap)) k USING (b)),
      |ed AS (SELECT u, v FROM (
      |    SELECT l.user_id AS u, r.user_id AS v, count(*) AS w
      |    FROM ku l JOIN ku r ON l.b = r.b AND l.user_id < r.user_id
      |    GROUP BY 1, 2) WHERE w >= 3)""".stripMargin

  /** Generated k-round label-propagation replay over [[coEdgeCtes]]. */
  /** The label-propagation CTE chain (sym, l0..lk) over [[coEdgeCtes]],
    * factored so the modularity oracle (q242) replays the exact same
    * partition the q205 gate pins. */
  private def labelPropCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""n$i AS (SELECT s.u, l.label, count(*) AS c
         |  FROM sym s JOIN l${i - 1} l ON l.node = s.v GROUP BY 1, 2),
         |l$i AS (SELECT u AS node, label FROM (SELECT u, label,
         |    row_number() OVER (PARTITION BY u ORDER BY c DESC, label) AS rn
         |  FROM n$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""sym AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
       |$rounds""".stripMargin
  }

  private def labelPropSql(k: Int): String =
    s"""WITH $coEdgeCtes,
       |${labelPropCtes(k)}
       |SELECT node AS user_id, CAST(label AS BIGINT) AS label,
       |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
       |FROM l$k""".stripMargin

  /** Generated k-core peeling replay over [[coEdgeCtes]], unrolled to
    * `rounds` (no-op past the fixpoint). Every per-round CTE is
    * MATERIALIZED: each references its predecessor several times, and
    * inlining would expand the chain exponentially (observed as
    * DuckDB re-opening the base parquet thousands of times). */
  private def kCoreSql(k: Long, rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
         |  (SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM a$i)
         |    AND v IN (SELECT node FROM a$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $coEdgeCtes,
       |e0 AS MATERIALIZED (SELECT u, v FROM ed),
       |$iter,
       |dfin AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
       |  (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |  GROUP BY 1)
       |SELECT node AS user_id, deg AS core_deg,
       |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
       |FROM dfin""".stripMargin
  }

  /** Generated k-step walk replay over [[coEdgeCtes]]. */
  private def randomWalkSql(steps: Int): String = {
    val rounds = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT walker, nxt AS cur,
         |    path || '>' || CAST(nxt AS VARCHAR) AS path FROM (
         |  SELECT w${t - 1}.walker, w${t - 1}.path,
         |    a.nbrs[CAST(((w${t - 1}.walker % 1000003) * 2654435761
         |      + $t * 999983) % 1000003 % len(a.nbrs) AS BIGINT) + 1] AS nxt
         |  FROM w${t - 1} JOIN adj a ON a.node = w${t - 1}.cur))""".stripMargin
    }.mkString(",\n")
    s"""WITH $coEdgeCtes,
       |sym AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
       |adj AS MATERIALIZED (SELECT u AS node,
       |  (list_sort(list(v)))[1:256] AS nbrs FROM sym GROUP BY 1),
       |w0 AS (SELECT node AS walker, node AS cur,
       |  CAST(node AS VARCHAR) AS path FROM adj),
       |$rounds
       |SELECT walker, cur AS end_node, path,
       |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
       |FROM w$steps""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q259: pairwise TRUE-FLOOR permille slopes — the same explicit
    // floor CASE as the Spark side (both engines' integer division
    // truncates toward zero; the CASE makes both a floor, with no
    // slope-domain bound), median by the q146 rank index, single-day
    // types guarded to n_pairs = 0 / NULL slope
    "q259_theil_sen" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |daily AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |arr AS (SELECT event_type,
        |    list_sort(list({'d': d, 'c': c})) AS pts,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |sl AS (SELECT event_type, n_days,
        |    CASE WHEN n_days >= 2 THEN
        |      flatten(list_transform(generate_series(2, len(pts)), j ->
        |        list_transform(generate_series(1, j - 1), i ->
        |          CASE WHEN pts[j].c >= pts[i].c
        |            THEN ((pts[j].c - pts[i].c) * 1000)
        |              // (pts[j].d - pts[i].d)
        |            ELSE ((pts[j].c - pts[i].c) * 1000
        |              - (pts[j].d - pts[i].d) + 1)
        |              // (pts[j].d - pts[i].d)
        |          END)))
        |    ELSE [] END AS slopes
        |  FROM arr)
        |SELECT event_type, n_days,
        |  CAST(len(slopes) AS BIGINT) AS n_pairs,
        |  CAST(CASE WHEN len(slopes) >= 1
        |    THEN list_sort(slopes)[CAST((len(slopes) + 1) // 2 AS BIGINT)]
        |    ELSE NULL END AS BIGINT) AS slope_permille
        |FROM sl""".stripMargin,
    "q235_random_walks" -> randomWalkSql(4),
    // q241: division-cleared Pearson over both edge orientations
    "q241_assortativity" ->
      s"""WITH $coEdgeCtes,
         |sym AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
         |  FROM sym GROUP BY 1),
         |p AS (SELECT a.d AS du, b.d AS dv FROM sym
         |  JOIN deg a ON a.node = sym.u JOIN deg b ON b.node = sym.v),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS m2,
         |    CAST(sum(du) AS BIGINT) AS sx,
         |    CAST(sum(du * dv) AS BIGINT) AS sxy,
         |    CAST(sum(du * du) AS BIGINT) AS sxx FROM p)
         |SELECT m2 // 2 AS m, m2 * sxy - sx * sx AS assort_num,
         |  m2 * sxx - sx * sx AS assort_den,
         |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
         |FROM s""".stripMargin,
    // q242: the q205 partition replayed, then Q as the exact fraction
    // q_num = sum(4m e_c - d_c^2), q_den = 4m^2
    "q242_modularity" ->
      s"""WITH $coEdgeCtes,
         |${labelPropCtes(3)},
         |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
         |  FROM sym GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |ein AS (SELECT a.label, CAST(count(*) AS BIGINT) AS e_in FROM ed
         |  JOIN l3 a ON a.node = ed.u JOIN l3 b ON b.node = ed.v
         |  WHERE a.label = b.label GROUP BY 1),
         |dc AS (SELECT l3.label, CAST(sum(d) AS BIGINT) AS d_c
         |  FROM l3 JOIN deg ON deg.node = l3.node GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_communities,
         |  (SELECT m FROM mm) AS m,
         |  CAST(sum(4 * (SELECT m FROM mm) * coalesce(e_in, 0)
         |    - d_c * d_c) AS BIGINT) AS q_num,
         |  CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS BIGINT)
         |    AS q_den,
         |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
         |FROM dc LEFT JOIN ein USING (label)""".stripMargin,
    // q236: seasonal (type, hour-of-day) median baseline via the rank
    // rule, exceedance c - 2*med, per-type accounting
    "q236_seasonal_residual" ->
      """WITH cells AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS hod,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |h AS (SELECT event_type, hod, c, CAST(count(*) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2, 3),
        |w AS (SELECT event_type, hod, c,
        |    sum(n) OVER (PARTITION BY event_type, hod ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY event_type, hod) AS tot FROM h),
        |med AS (SELECT event_type, hod, min(c) AS med FROM w
        |  WHERE cum * 2 >= tot GROUP BY 1, 2)
        |SELECT cells.event_type, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(CASE WHEN c - 2 * med > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  max(c - 2 * med) AS max_exceed
        |FROM cells JOIN med ON cells.event_type = med.event_type
        |  AND cells.hod = med.hod
        |GROUP BY 1""".stripMargin,
    // q238: first-seen day -> daily new users -> running total
    "q238_cumulative_users" ->
      """WITH fs AS (SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fs GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d""".stripMargin,
    // q222: median ref from the count-of-counts histogram, then the
    // prefix-sum CUSUM identity in two running windows
    "q222_cusum" ->
      """WITH hc AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |hh AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS n
        |  FROM hc GROUP BY 1, 2),
        |w AS (SELECT event_type, c,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS tot FROM hh),
        |med AS (SELECT event_type, min(c) AS ref FROM w
        |  WHERE cum * 2 >= tot GROUP BY 1),
        |p AS (SELECT hc.event_type, h, c, ref,
        |    sum(c - ref - 1) OVER (PARTITION BY hc.event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS psum
        |  FROM hc JOIN med ON hc.event_type = med.event_type),
        |s AS (SELECT event_type, h, c, ref,
        |    psum - least(0, min(psum) OVER (PARTITION BY event_type
        |      ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS s
        |  FROM p)
        |SELECT event_type, max(ref) AS ref,
        |  CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(max(s) AS BIGINT) AS max_s,
        |  CAST(sum(CASE WHEN s >= 16 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  coalesce(min(CASE WHEN s >= 16 THEN h END), 0) AS first_flag_hour
        |FROM s GROUP BY 1""".stripMargin,
    "q211_kcore" -> kCoreSql(3L, KCoreRounds),
    "q205_label_prop" -> labelPropSql(3),
    // q207: min-label components via the q123 recursive-CTE precedent
    // over the shared edge derivation
    "q207_graph_components" ->
      s"""WITH $coEdgeCtes,
         |eg AS (SELECT u AS src, v AS dst FROM ed
         |  UNION ALL SELECT v, u FROM ed),
         |nodes AS (SELECT DISTINCT src AS id FROM eg),
         |cc AS (
         |  WITH RECURSIVE r(id, lbl) AS (
         |    SELECT id, id FROM nodes
         |    UNION
         |    SELECT e.dst, r.lbl FROM r JOIN eg e ON r.id = e.src)
         |  SELECT id, min(lbl) AS label FROM r GROUP BY 1)
         |SELECT id AS user_id, CAST(label AS BIGINT) AS component,
         |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
         |FROM cc""".stripMargin,
    "q197_triangles" ->
      """WITH bu AS (SELECT DISTINCT event_type || '|' ||
        |    CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS VARCHAR) AS b,
        |    user_id FROM events),
        |occ AS (SELECT b, CAST(count(*) AS BIGINT) AS occ FROM bu GROUP BY 1),
        |rk AS (SELECT occ, row_number() OVER (ORDER BY occ, b) AS rn,
        |  count(*) OVER () AS n FROM occ),
        |cap AS (SELECT occ AS cap FROM rk WHERE rn = (9 * n + 9) // 10),
        |hot AS (SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets FROM occ
        |  WHERE occ > (SELECT cap FROM cap)),
        |ku AS (SELECT bu.b, bu.user_id FROM bu
        |  JOIN (SELECT b FROM occ WHERE occ <= (SELECT cap FROM cap)) k USING (b)),
        |ed AS (SELECT u, v FROM (
        |    SELECT l.user_id AS u, r.user_id AS v, count(*) AS w
        |    FROM ku l JOIN ku r ON l.b = r.b AND l.user_id < r.user_id
        |    GROUP BY 1, 2) WHERE w >= 3),
        |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed) GROUP BY 1),
        |oe AS (SELECT
        |    CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
        |    CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
        |    CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddst
        |  FROM (SELECT ed.u, ed.v, a.deg AS du, c.deg AS dv
        |    FROM ed JOIN dg a ON a.node = ed.u JOIN dg c ON c.node = ed.v)),
        |tr AS (SELECT x.src AS a, x.dst AS b2, y.dst AS c FROM oe x
        |  JOIN oe y ON x.src = y.src AND (x.ddst < y.ddst OR
        |    (x.ddst = y.ddst AND x.dst < y.dst))
        |  JOIN oe z ON z.src = x.dst AND z.dst = y.dst),
        |pu AS (SELECT a AS user_id FROM tr UNION ALL SELECT b2 FROM tr
        |  UNION ALL SELECT c FROM tr)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_triangles,
        |  (SELECT n_hot_buckets FROM hot) AS n_hot_buckets
        |FROM pu GROUP BY 1""".stripMargin,
    "q105_session_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p
        |GROUP BY 1 ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
    "q106_hourly_anomaly" ->
      """WITH h AS (SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1,2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  sum(n_events) AS s, sum(n_events*n_events) AS sq FROM h GROUP BY 1)
        |SELECT h.event_type, h.hour, h.n_events
        |FROM h JOIN st USING (event_type)
        |WHERE n*n_events > s
        |  AND (n*n_events - s)*(n*n_events - s) > 4*(n*sq - s*s)""".stripMargin,
    "q107_shingle_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |g AS (SELECT DISTINCT doc_id, CASE WHEN len(ts) >= 3
        |    THEN unnest(list_transform(generate_series(1, len(ts)-2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
        |    ELSE array_to_string(ts, ' ') END AS g
        |  FROM t),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS BIGINT) AS n_novel,
        |  CAST((count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) * 1000000)
        |    // count(*) AS BIGINT) AS novel_ppm
        |FROM g JOIN f USING (g) GROUP BY 1""".stripMargin,
    "q108_pagerank" ->
      """WITH e AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
        |  FROM events),
        |ed AS (SELECT event_type AS u, next AS v, CAST(count(*) AS BIGINT) AS n
        |  FROM e WHERE next IS NOT NULL GROUP BY 1,2),
        |outd AS (SELECT u, sum(n) AS outn FROM ed GROUP BY 1),
        |nodes AS (SELECT DISTINCT v AS node FROM ed UNION SELECT DISTINCT u FROM ed),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (SELECT v AS node,
        |  CAST(150000 + sum((850000 * r0.r * ed.n) // (1000000 * outd.outn)) AS BIGINT) AS r
        |  FROM ed JOIN outd USING (u) JOIN r0 ON r0.node = ed.u GROUP BY 1),
        |r2 AS (SELECT v AS node,
        |  CAST(150000 + sum((850000 * r1.r * ed.n) // (1000000 * outd.outn)) AS BIGINT) AS r
        |  FROM ed JOIN outd USING (u) JOIN r1 ON r1.node = ed.u GROUP BY 1)
        |SELECT node, r AS rank_scaled FROM r2""".stripMargin,
    "q109_itemset_pairs" ->
      """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |  FROM events),
        |n AS (SELECT count(DISTINCT (user_id, d)) AS n_baskets FROM b),
        |p AS (SELECT a.event_type AS item_a, bb.event_type AS item_b,
        |  count(*) AS support
        |  FROM b a JOIN b bb ON a.user_id = bb.user_id AND a.d = bb.d
        |    AND a.event_type < bb.event_type
        |  GROUP BY 1,2)
        |SELECT item_a, item_b, CAST(support AS BIGINT) AS support,
        |  CAST((support * 1000000) // n_baskets AS BIGINT) AS support_ppm
        |FROM p, n""".stripMargin,
    "q110_activity_streaks" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |g AS (SELECT user_id, d,
        |  CAST(d AS DATE) - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |    AS INTEGER) AS grp
        |  FROM act),
        |runs AS (SELECT user_id, grp, count(*) AS len, min(d) AS run_start
        |  FROM g GROUP BY 1,2)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(min(run_start) AS VARCHAR) AS first_day
        |FROM runs GROUP BY 1""".stripMargin,
  )
}
