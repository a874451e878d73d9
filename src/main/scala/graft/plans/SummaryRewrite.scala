package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType}

/** Marker contract for DSv2 `Scan` implementations that NEVER consume
  * pushed filters or aggregates — `pushedFilters()` is empty and every
  * predicate stays residual (pushdown may prune LISTINGS as an
  * optimization, never rows semantically). Only such a scan's
  * `DataSourceV2ScanRelation` may be treated as a bare table read by
  * [[SummaryRewrite]]: a scan that consumed a filter would make the
  * rewrite silently drop that predicate. The graft FITS scans
  * ([[graft.sources.fits]]) carry this contract. */
trait ResidualOnlyScan

/** Summary-table (materialized-view) REWRITE — the optimizer extension
  * that turns `fact.groupBy(keys).agg(count/sum/min/max)` into a
  * re-aggregation of a registered, much smaller summary artifact
  * whenever the query's grouping is a COARSENING of the summary's keys
  * and every measure is derivable from the summary's partial aggregates
  * (count → Σcnt, sum(x) → Σsum_x, min(x) → min(min_x), max(x) →
  * max(max_x) — all associative partials, so re-aggregating the
  * finer-grained summary is EXACTLY the fact aggregate; this is the
  * classic rollup property every cube engine exploits, HiSS-Cube's own
  * pre-binned zoom pyramid included — `metadata_strategy.py`'s coarser
  * zooms are precisely pre-aggregations served in place of raw pixels).
  *
  * KEY-ONLY FILTERS are served too: `Aggregate(keys, aggs,
  * Filter(pred, scan))` rewrites when `pred` references only summary
  * key columns — the predicate partitions whole summary rows, so it is
  * pushed verbatim onto the summary scan. This is the most common
  * dashboard shape (`WHERE source = 'web' GROUP BY lang`), and the
  * Spark analogue of HiSS-Cube serving a zoom-level WINDOWED read from
  * the pre-aggregated slice rather than raw data
  * (`metadata_strategy_cube_visualization.py:57-72` reads one zoom
  * table slice, not the whole cube).
  *
  * GROUPING-EXPRESSION COARSENING: `GROUP BY f(keys)` rewrites for any
  * deterministic, aggregate-free f whose references are all summary
  * keys — a coarsening of a coarsening. This is exactly HiSS-Cube's
  * multi-resolution read: every coarser zoom cell is a deterministic
  * function of the finer one (`astrometry.py:211-224` — parent
  * HEALPix cell = `id >> 2`), and the calendar hierarchy (day summary
  * serving `GROUP BY year(date)`) is the same lattice walk.
  *
  * COUNT(DISTINCT k) over summary KEYS is served too: the summary
  * carries every key combination present in the fact (a group exists
  * iff ≥ 1 fact row does), so the distinct set of key columns per
  * coarser group equals the summary rows' set — `count(distinct k)`
  * re-runs verbatim over summary rows, fact-scan-free. The q13 shape
  * (distinct targets per spatial cell — reference
  * `metadata_strategy_cube_ml.py:537-545`) rides this. MULTIPLE
  * distinct aggregates in one query serve through the Expand path:
  * RewriteDistinctAggregates expands them into a double aggregation
  * whose inner distinct-collecting aggregate is exactly the
  * Aggregate-over-Expand shape below, with every position a key or
  * the gid literal (q272).
  *
  * UNIONS of facts are served too: `Aggregate(g, a, Union(branches))`
  * rewrites when EVERY branch independently resolves to a registered
  * fact with a covering summary (multi-epoch corpora — `read.parquet
  * (jan) union read.parquet(feb)`): every stored partial is a monoid
  * under union, so Σ over branches of exact per-branch partials is
  * exactly the aggregate over the concatenated facts. One uncovered
  * branch refuses the whole rewrite.
  *
  * APPROX_COUNT_DISTINCT over a non-key MEASURE is served from a
  * persisted `hll_<p>_<col>` register-word partial when the artifact
  * carries one ([[HllSummary]] — built with Spark's own HLL++ helper,
  * so the served estimate is BIT-identical to the direct sketch; the
  * precision lives in the column name, so a mismatched rsd refuses at
  * plan time against the schema).
  *
  * STAR JOINS are served too: `Aggregate(g, a, fact ⋈ dim)` rewrites
  * to `Aggregate(g, a', summary ⋈ dim)` when the equi-join runs
  * entirely on summary keys — all fact rows sharing a key have the
  * same dim matches, so the fact collapse multiplies every joined
  * group identically and count/sum/min/max/avg re-derive exactly
  * (dim-side measures only the multiplicity-insensitive ones: MIN/MAX
  * and DISTINCT aggregates, which depend on the value SET alone).
  * LEFT/RIGHT OUTER joins with the fact on the PRESERVED side derive
  * with the same Σcnt rule — each summary row null-extends exactly
  * like its fact rows (the reference's own J1/SFR left-merge shape,
  * `sfr.py:42-48`); a dim-preserved outer join refuses (an unmatched
  * dim row counts 1 under COUNT(*) but its null summary row
  * contributes nothing to Σcnt). The classic partial-aggregation
  * pushdown through a star join, from a persisted partial (q260).
  *
  * COVERING-SUMMARY SELECTION: all registered summaries of the fact
  * are candidates; the rule picks the smallest (fewest keys, then
  * registration name for determinism) whose key set covers the
  * grouping keys AND the filter's references AND whose schema carries
  * every needed measure. A registered summary that does not cover a
  * query can never capture it away from one that does.
  *
  * At 100 TB this rewrite is the difference between scanning the fact
  * table and scanning kilobytes: a (source, lang) summary of a document
  * corpus is ~sources×langs rows, and every dashboard aggregate
  * grouped on any SUBSET of those keys — optionally under a key-only
  * predicate — is served from it, exactly, with zero query changes.
  * The rule rewrites the logical plan, so Catalyst's own
  * pruning/pushdown then applies to the summary scan.
  *
  * Soundness guardrails (each refuses the rewrite, never corrupts it):
  * the child must be the registered fact relation (path-BOUNDARY
  * match, so `documents.parquet` cannot claim `raw_documents.parquet`;
  * or exact TABLE-name match for catalog reads — see
  * [[SummaryRewrite.Summary]]) under at most column-pruning Projects
  * and deterministic,
  * subquery-free Filters whose references are all summary keys; every
  * grouping expression must be deterministic, aggregate-free, and
  * reference only the chosen summary's keys (bare key attributes are
  * the degenerate case); every aggregate must be COUNT(*)/COUNT(1),
  * COUNT(attr), SUM(attr), MIN(attr), MAX(attr), AVG(attr),
  * COUNT/SUM/AVG(DISTINCT key exprs), APPROX_COUNT_DISTINCT(key
  * expr) (HLL is value-set pure — bit-identical over summary rows),
  * PERCENTILE/MEDIAN(key expr) (exact, via the frequency argument —
  * percentile(k, p, cnt) replays the multiplicities the collapse
  * removed), any of those over a deterministic EXPRESSION of keys
  * (sum(f(keys))
  * = Σ cnt·f, integral f; count(f) = Σ cnt over non-null f; min/max/
  * distinct over the preserved value set), optionally under a
  * key-only FILTER (WHERE …) clause (replayed onto the partial
  * inputs), or a COMPOSED expression over such aggregates with
  * deterministic key/dim glue (`coalesce(sum(x) FILTER …, 0)`,
  * ratios) — COUNT(attr) derived as Σcnt_attr and AVG as
  * Σsum_attr / Σcnt_attr, both over the NON-NULL-count partial
  * (avg/count(col) skip NULLs, so the row-count Σcnt would silently
  * serve a wrong value over a nullable measure; an artifact without
  * `cnt_<attr>` refuses both) — with the matching
  * `cnt`/`sum_<attr>`/`cnt_<attr>`/`min_<attr>`/`max_<attr>`
  * column present in the summary schema; SUM over a FLOATING-POINT
  * partial refuses (re-associated float adds can differ from the fact
  * scan in the last ulp — exactness is the contract; integral
  * partials are exact under any association, and float MIN/MAX are
  * order-insensitive and serve); measure children must be
  * FACT-side attributes (a dim column whose NAME collides with a
  * summarized fact measure refuses rather than silently serving the
  * fact partial); and every rewritten output expression must have
  * EXACTLY the original's dataType (`cnt` must be LongType) — a
  * decimal measure whose re-aggregation would widen precision refuses
  * rather than corrupting the resolved schema. Output attribute ids
  * are preserved via aliases, so the rewritten subtree is a drop-in
  * replacement for parent operators.
  */
object SummaryRewrite {

  /** A registered summary: the fact table's path suffix it summarizes,
    * where the summary artifact lives, and the key columns it is
    * grouped by. Measure columns follow the naming contract: `cnt` for
    * row counts, `sum_<col>` / `min_<col>` / `max_<col>` per measure.
    *
    * `store` (when set) points at an [[graft.operators.IndexOps]]
    * snapshot store instead of a fixed path: the rule resolves the
    * NEWEST committed `snap=N` at rewrite time (one driver-side
    * directory listing, zero Spark jobs), so a summary maintained by a
    * streaming job — or rebuilt in a different session — is picked up
    * without re-registration, and readers never see a half-written
    * version (the store's FS-rename commit discipline).
    *
    * `table` (when set) identifies the fact by CATALOG TABLE name
    * instead of (or besides) a path: real deployments name tables, and
    * a fact read as `spark.table("orders")` — a V1 catalog table or a
    * DSv2 relation with no `path` option — carries no root path the
    * suffix match could see. The match is case-insensitive (Spark's
    * resolution default) against the scan's table name and its
    * qualified `catalog.db.table` string, so `"orders"` and
    * `"spark_catalog.default.orders"` both bind; a scan of a DIFFERENT
    * table can never match (exact-name equality, no suffixing). An
    * empty `factPathSuffix` disables the path match entirely.
    *
    * `exprs` names EXPRESSION measures: each (name → SQL over fact
    * columns) entry declares that the artifact carries
    * `sumx_<name>`/`cntx_<name>`/`minx_<name>`/`maxx_<name>` partials
    * built from that expression — what serves the canonical dashboard
    * measure `sum(l_extendedprice * (1 - l_discount))` without keying
    * any of its columns. The serve side matches a query's aggregate
    * child SEMANTICALLY against the registered SQL (parsed, bound to
    * the query's own fact attributes by name, type-coerced through
    * the analyzer, constant-folded) — a structural mismatch refuses,
    * never guesses. */
  final case class Summary(factPathSuffix: String, mvPath: String,
      keys: Set[String], store: Option[String] = None,
      table: Option[String] = None,
      exprs: Map[String, String] = Map.empty)

  private val registry = new ConcurrentHashMap[String, Summary]()

  /** The catalogs this process is BOUND to, one per catalog DIRECTORY:
    * the version each load resolved and the REGISTRY KEYS that load
    * owns (so a later version that DROPS an entry deregisters it — a
    * published deregistration must stop serving). Catalog-loaded
    * entries register NAMESPACED by their directory
    * ([[catalogEntryKey]] — `name@dir`), so two catalogs publishing
    * the same entry name each serve their own artifact instead of
    * racing on one flat key (last-refresh-wins was the round-13
    * residue); programmatic [[register]] keys are untouched. Two
    * consumers in one JVM bound to DIFFERENT directories refresh
    * independently. [[clear]] unbinds everything. */
  private final case class BoundCatalog(dir: String, version: Long,
      names: Set[String])
  private val bound = new ConcurrentHashMap[String, BoundCatalog]()
  private val boundLock = new Object

  /** Registry key of a catalog-loaded entry: the published name,
    * namespaced by the catalog directory. Brace/bracket-free by
    * construction (publish refuses those in names and dirs are
    * paths), so a registry snapshot remains re-publishable. */
  private def catalogEntryKey(catalogDir: String, name: String): String =
    s"$name@$catalogDir"

  /** Freshness-listing rate limit: a bound consumer re-lists its
    * catalog directory at most once per TTL (the rule sits in
    * fixed-point optimizer batches, so one query plans the rule many
    * times — and on an object store each listing is a paid LIST call;
    * a ~1 s TTL keeps the freshness contract at epsilon cost). A
    * same-JVM [[publishCatalog]] invalidates its directory's stamp, so
    * producer-then-query in one process is immediately fresh; other
    * JVMs see the new version within the TTL. Test hooks: the clock is
    * injectable and [[listingCount]] counts actual listings. */
  private[plans] var refreshTtlNanos: Long = 1000000000L
  private[plans] var nanoClock: () => Long = () => System.nanoTime()
  private[plans] val listingCount =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private val lastListNanos = new ConcurrentHashMap[String, java.lang.Long]()

  /** Store-backed artifact resolution pays the SAME object-store LIST
    * class as the catalog refresh — once per candidate per optimizer
    * pass without a cache — so the newest-snapshot listing is
    * TTL-cached identically: a same-JVM [[graft.operators.IndexOps
    * .writeSnapshot]] (or expiry) invalidates its store's stamp via
    * [[invalidateStoreListing]], other JVMs' commits surface within
    * one TTL window. The cached value is only the newest VERSION
    * number; a stale entry can at worst refuse (snapshot expired
    * under it — the unreadable-artifact guard answers from the fact)
    * for one TTL, never serve wrong data (snapshots are immutable). */
  private[plans] val storeListingCount =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private val storeListCache =
    new ConcurrentHashMap[String, (Long, Option[Long])]()
  /** Artifact-footprint cache for candidate ORDERING: path → (stamp,
    * bytes), TTL'd like the store listing. Cost-choice only — a stale
    * size within one TTL picks a dearer-but-correct artifact, never a
    * wrong answer, so no invalidation hooks are needed. Bounded like
    * [[SummaryRewriteRule.mvRelCache]]: store-backed summaries mint a
    * NEW immutable `snap=N` path per commit, so without a cap the map
    * grows for the JVM lifetime of a streaming maintainer; on overflow
    * it clears (the next ordering re-lists once — latency-only). */
  private val sizeCacheLimit = 1024
  private val sizeCache = new ConcurrentHashMap[String, (Long, Long)]()

  /** Drop a store's cached newest-snapshot listing (called by the
    * snapshot writers so same-JVM commit-then-query is immediate). */
  def invalidateStoreListing(store: String): Unit = {
    storeListCache.remove(store)
    ()
  }

  /** Memo for the expression-measure semantic match: (registered SQL,
    * canonicalized query child) → matched. The rule sits in fixed-point
    * optimizer batches, so the same (sql, child) pair is probed many
    * times per query — parse/analyze/fold once, not per pass. Bounded
    * by a clear-at-size guard (keys die with their query's exprIds, so
    * an LRU would buy nothing). */
  private[plans] val exprMatchCache =
    new ConcurrentHashMap[(String, Expression), java.lang.Boolean]()

  /** Trace sink for [[explainServing]] — null (disabled) outside an
    * explain call, so the rule's hot path pays one thread-local read. */
  private val traceBuf =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]()

  private[plans] def note(msg: => String): Unit = {
    val b = traceBuf.get()
    if (b != null) b += msg
  }

  /** Serving DIAGNOSTICS — the operability complement of the rule:
    * re-optimizes the frame with tracing on and returns, per aggregate
    * the rule examined, what served it or WHY each registered candidate
    * refused (no committed snapshot, unreadable artifact, uncovered
    * grouping column, a non-derivable measure by name, …). This is the
    * first question every dashboard owner asks — "why is this query
    * scanning the fact?" — answered from the rule's own guards, not a
    * re-implementation that could drift. Driver-side only; the traced
    * optimization is exactly one extra planning pass, no jobs run. */
  def explainServing(df: DataFrame): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    traceBuf.set(buf)
    try {
      // fresh QueryExecution: the frame's own optimizedPlan is
      // memoized and would skip the rule on a second call
      df.sparkSession.sessionState.executePlan(df.queryExecution.logical)
        .optimizedPlan
    } finally traceBuf.remove()
    if (buf.isEmpty)
      Seq("no aggregate was examined (no Aggregate node, or the rule " +
        "is not installed in this session)")
    else buf.distinct.toSeq // the rule may run several optimizer passes
  }

  /** A proposed registration from [[adviseSummaries]]: build ONE
    * summary per fact, keyed by the union of every observed grouping /
    * filter / distinct / percentile / key-expression column (a
    * summary serves every COARSENING of its keys, so the union covers
    * each query), carrying sum partials for sum/avg/count(col)
    * measures, min/max partials, and hll register partials for
    * approx_count_distinct measures. `covered` counts the aggregates
    * the proposal serves. Cardinality judgment stays with the
    * operator: keys the advisor unions can be high-cardinality (a
    * filter on doc_id keys doc_id) — prune what you know is
    * unreasonable before building. */
  final case class Advice(fact: String, table: Option[String],
      keys: Set[String], sumCols: Seq[String], minMaxCols: Seq[String],
      hllCols: Seq[String], hllRsd: Double, covered: Int,
      histCols: Seq[String] = Seq.empty,
      exprCols: Seq[(String, String)] = Seq.empty,
      exprMinMax: Seq[(String, String)] = Seq.empty,
      exprHistCols: Seq[(String, String)] = Seq.empty)

  /** Workload-driven summary ADVISOR — the planning complement of the
    * lifecycle (advise → build → serve → maintain → audit → explain):
    * given the dashboard's actual DataFrames, emit the registrations
    * that would serve them, plus a note per aggregate the serving
    * layer cannot cover (join/union/expand shapes — register
    * per-branch summaries by hand — and non-derivable measures).
    * Analysis-only: no Spark jobs run; each query pays one extra
    * optimization pass. Run BEFORE registering — an already-served
    * query would be analyzed post-rewrite. */
  def adviseSummaries(spark: SparkSession,
      queries: Seq[DataFrame]): (Seq[Advice], Seq[String]) = {
    val rule = SummaryRewriteRule(spark)
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    final case class Obs(fact: String, table: Option[String],
        keys: Set[String], sums: Set[String], minMax: Set[String],
        hll: Set[String], hllRsd: Option[Double], hist: Set[String],
        exprS: Set[(String, String)], exprM: Set[(String, String)],
        exprH: Set[(String, String)])
    val obs = scala.collection.mutable.ArrayBuffer[Obs]()
    queries.zipWithIndex.foreach { case (df, qi) =>
      val plan = spark.sessionState.executePlan(df.queryExecution.logical)
        .optimizedPlan
      val aggs = plan.collect { case a: Aggregate => a }
      if (aggs.isEmpty) notes += s"query $qi: no aggregate to serve"
      def classify(g0: Seq[Expression], a0: Seq[NamedExpression],
          shape: rule.Shape): Unit = {
              val g = g0.map(rule.inline(_, shape.subst))
              if (!g.forall(rule.carriableGrouping))
                notes += s"query $qi: nondeterministic/nested grouping"
              else {
                var keys = (g.flatMap(_.references.toSeq.map(_.name)) ++
                  shape.pred.toSeq
                    .flatMap(_.references.toSeq.map(_.name))).toSet
                var sums = Set.empty[String]
                var minMax = Set.empty[String]
                var hll = Set.empty[String]
                var hllRsd = Option.empty[Double]
                var hist = Set.empty[String]
                var exprS = Set.empty[(String, String)]
                var exprM = Set.empty[(String, String)]
                var exprH = Set.empty[(String, String)]
                var ok = true
                def miss(what: String): Unit = {
                  notes += s"query $qi: $what is not derivable from a " +
                    "summary — this aggregate will keep scanning the fact"
                  ok = false
                }
                // an expression measure is served by keying its refs
                def keyable(e: Expression): Boolean =
                  e.deterministic && e.references.nonEmpty &&
                    !e.exists(_.isInstanceOf[PlanExpression[_]])
                def keyRefs(e: Expression): Unit =
                  keys ++= e.references.toSeq.map(_.name)
                // ... or by an expression-indexed partial: keying the
                // referenced columns multiplies artifact rows by their
                // joint cardinality (the fact, rebuilt), while a
                // sumx_/cntx_ family adds four columns. The advised
                // name is a stable slug of the canonical SQL; serve
                // re-matches the SQL semantically.
                def exprEntry(e: Expression): (String, String) =
                  (f"e${e.sql.hashCode & 0x7fffffff}%08x", e.sql)
                def fp(t: DataType): Boolean =
                  t == DoubleType || t == FloatType
                def integral(t: DataType): Boolean = t match {
                  case IntegerType | LongType | ShortType | ByteType => true
                  case _ => false
                }
                a0.flatMap(_.collect {
                  case ae: AggregateExpression => ae
                }).map(ae => rule.inline(ae, shape.subst)
                  .asInstanceOf[AggregateExpression]).foreach { ae =>
                  ae.filter.foreach { f =>
                    if (keyable(f)) keyRefs(f) else miss("a FILTER clause")
                  }
                  if (ae.isDistinct) {
                    // a DISTINCT over one bare measure column advises a
                    // hist_<col> histogram partial, NOT a key: keying a
                    // distinct column multiplies the artifact's ROW
                    // count by its cardinality, while the histogram
                    // keeps group-cardinality rows and bounds the cost
                    // inside each map (cap-refused at build) — the
                    // 100 TB difference between a summary and a copy
                    // of the fact. Distinct over key EXPRESSIONS still
                    // keys the referenced columns (hist serves bare
                    // attrs only).
                    ae.aggregateFunction match {
                      case c: Count if c.children.exists(
                          _.isInstanceOf[AttributeReference]) &&
                          c.children.size == 1 =>
                        hist += c.children.head
                          .asInstanceOf[AttributeReference].name
                      case s: Sum if s.child.isInstanceOf[AttributeReference] =>
                        hist += s.child.asInstanceOf[AttributeReference].name
                      case av: Average
                          if av.child.isInstanceOf[AttributeReference] =>
                        hist += av.child.asInstanceOf[AttributeReference].name
                      // DISTINCT over a single EXPRESSION advises an
                      // expression HISTOGRAM, not keys: keying the
                      // expression's columns multiplies artifact rows
                      // by their joint cardinality (queries over pure
                      // key expressions still serve key-path-only,
                      // without the histogram)
                      case c: Count if c.children.size == 1 &&
                          keyable(c.children.head) =>
                        exprH += exprEntry(c.children.head)
                      case s: Sum if keyable(s.child) =>
                        exprH += exprEntry(s.child)
                      case av: Average if keyable(av.child) =>
                        exprH += exprEntry(av.child)
                      case fn if fn.references.nonEmpty && fn.deterministic =>
                        keys ++= fn.references.toSeq.map(_.name)
                      case _ => miss("a distinct aggregate over no columns")
                    }
                  } else ae.aggregateFunction match {
                    case c: Count if c.children.forall(ch =>
                        ch.foldable && ch.eval() != null) => ()
                    case c: Count => c.children.foreach {
                      case a: AttributeReference => sums += a.name
                      case e if keyable(e) && c.children.size == 1 =>
                        exprS += exprEntry(e)
                      case e if keyable(e) => keyRefs(e)
                      case _ => miss("a COUNT over this expression")
                    }
                    case s: Sum => s.child match {
                      case a: AttributeReference => sums += a.name
                      case e if keyable(e) && fp(e.dataType) =>
                        miss("a SUM over a floating-point expression " +
                          "(re-associated adds are not the fact's bits " +
                          "— clear to integer units)")
                      case e if keyable(e) => exprS += exprEntry(e)
                      case _ => miss("a SUM over this expression")
                    }
                    case av: Average => av.child match {
                      case a: AttributeReference => sums += a.name
                      case e if keyable(e) && !integral(e.dataType) =>
                        miss("an AVG over a non-integral expression " +
                          "(the exact Long-sum derivation needs " +
                          "integer units)")
                      case e if keyable(e) => exprS += exprEntry(e)
                      case _ => miss("an AVG over this expression")
                    }
                    case m: Min => m.child match {
                      case a: AttributeReference => minMax += a.name
                      case e if keyable(e) => exprM += exprEntry(e)
                      case _ => miss("a MIN over this expression")
                    }
                    case m: Max => m.child match {
                      case a: AttributeReference => minMax += a.name
                      case e if keyable(e) => exprM += exprEntry(e)
                      case _ => miss("a MAX over this expression")
                    }
                    case h: HyperLogLogPlusPlus => h.child match {
                      case a: AttributeReference =>
                        hll += a.name
                        if (hllRsd.exists(_ != h.relativeSD))
                          notes += (s"query $qi: conflicting " +
                            "approx_count_distinct rsd values — one " +
                            "artifact carries one precision per column")
                        else hllRsd = Some(h.relativeSD)
                      case e if keyable(e) => keyRefs(e)
                      case _ => miss("an approx_count_distinct over " +
                        "this expression")
                    }
                    case p: Percentile
                        if p.frequencyExpression.foldable &&
                          p.frequencyExpression.eval() == 1L &&
                          p.percentageExpression.foldable =>
                      // exact percentile over a bare measure: the
                      // histogram replays the multiset through the
                      // frequency argument — same reasoning as distinct
                      p.child match {
                        case a: AttributeReference => hist += a.name
                        case e if keyable(e) => exprH += exprEntry(e)
                        case _ => miss("a percentile over this expression")
                      }
                    // median is its own function at ANALYSIS time (the
                    // optimizer lowers it to Percentile later) — the
                    // pre-expansion/lattice fallbacks see the analyzed
                    // form, so advise it like the percentile it becomes
                    case m: Median => m.child match {
                      case a: AttributeReference => hist += a.name
                      case e if keyable(e) => exprH += exprEntry(e)
                      case _ => miss("a median over this expression")
                    }
                    case other =>
                      miss(s"aggregate ${other.prettyName}")
                  }
                }
                if (ok) {
                  val fact = shape.paths.headOption.getOrElse("")
                  val table = shape.tables.headOption
                  if (fact.isEmpty && table.isEmpty)
                    notes += s"query $qi: fact has no path or table identity"
                  else obs += Obs(fact, table, keys, sums, minMax, hll,
                    hllRsd, hist, exprS, exprM, exprH)
                }
              }
      }
      val direct = aggs.map { case Aggregate(g0, a0, child, _) =>
        rule.decompose(child) match {
          case Some(shape) => classify(g0, a0, shape); true
          case None => false
        }
      }
      if (direct.exists(!_)) {
        // RewriteDistinctAggregates expands a multi-distinct aggregate
        // into a double aggregation over an Expand BEFORE the advisor
        // sees it — but the serve matrix covers exactly that shape via
        // the per-measure split, so the advisor must not shrug it off:
        // when NO optimized aggregate sits over a bare fact scan,
        // classify the PRE-EXPANSION analyzed aggregate instead (same
        // fact, same measures — the expansion is plan shape, not
        // semantics). Two count(DISTINCT)s thus advise a hist_<col>
        // per measure, and a near-unique approx_count_distinct in the
        // SAME aggregate advises hll_<col> — mirroring the
        // q295/q296/q297 serve matrix.
        val preExpansion =
          if (direct.exists(identity)) Seq.empty
          else df.queryExecution.analyzed.collect {
            case Aggregate(g0, a0, child, _) => (g0, a0, child)
          }.flatMap { case (g0, a0, child) =>
            rule.decompose(child).map(sh => (g0, a0, sh))
          }
        preExpansion.foreach { case (g0, a0, sh) => classify(g0, a0, sh) }
        // STAR shapes: the serve matrix rewrites the FACT side of a
        // dim join (q298's expanded star included), so the advisor
        // mirrors it — peel the join, advise each side that carries a
        // column-referencing aggregate, keyed by its grouping refs
        // PLUS its join-condition attrs (the serve path requires join
        // attrs be summary keys). Dim-grouped uniques dashboards thus
        // advise the fact summary (hist per distinct measure) even
        // though no fact column is grouped.
        val star =
          if (direct.exists(identity) || preExpansion.nonEmpty) Seq.empty
          else {
            def strip(p: LogicalPlan): LogicalPlan = p match {
              case Project(pl, c) if pl.forall(_.isInstanceOf[Attribute]) =>
                strip(c)
              case SubqueryAlias(_, c) => strip(c)
              case other => other
            }
            def conjuncts(e: Expression): Seq[Expression] = e match {
              case And(a, b) => conjuncts(a) ++ conjuncts(b)
              case o => Seq(o)
            }
            df.queryExecution.analyzed.collect {
              case Aggregate(g0, a0, child, _) => (g0, a0, strip(child))
            }.flatMap {
              case (g0, a0, Join(l, r, _, Some(cond), _)) =>
                // reference-free aggregates (count(1)) satisfy any
                // side's containment check vacuously — advise them on
                // the FIRST carrying side only, or both sides' advised
                // lists double-count them
                var refFreeAssigned = false
                // a side that is a UNION of epoch facts (the
                // multi-epoch star — q299's deployment shape) advises
                // ONE summary per branch: the serve path needs every
                // branch to carry its own artifact, so the advisor
                // emits each branch's fact with the same keys/measures
                def sideShapes(side: LogicalPlan): Seq[rule.Shape] =
                  strip(side) match {
                    case u: Union if !u.byName && u.children.size >= 2 =>
                      val shs = u.children.map(rule.decompose)
                      if (shs.exists(_.isEmpty)) Seq.empty
                      else shs.map(_.get)
                    case _ => rule.decompose(side).toSeq
                  }
                Seq(l, r).flatMap { side =>
                  sideShapes(side).flatMap { sh =>
                    val so = side.outputSet
                    val gSide = g0.filter(
                      _.references.toSeq.forall(so.contains))
                    // .distinct: the same attr in several conjuncts
                    // (a.k = b.k AND a.k < 10) must key once
                    val condSide: Seq[Expression] = conjuncts(cond)
                      .flatMap(_.references.toSeq).filter(so.contains)
                      .distinct
                    val aggNes = a0.filter(_.collect {
                      case ae: AggregateExpression => ae
                    }.nonEmpty)
                    val (refFree, referencing) = aggNes.partition(
                      _.collect { case ae: AggregateExpression => ae }
                        .forall(_.references.isEmpty))
                    val aSide = referencing.filter(_.collect {
                      case ae: AggregateExpression => ae
                    }.forall(_.references.toSeq.forall(so.contains)))
                    if (aSide.nonEmpty) {
                      val withFree =
                        if (refFreeAssigned) aSide
                        else { refFreeAssigned = true; aSide ++ refFree }
                      Some((gSide ++ condSide, withFree, sh))
                    } else None
                  }
                }
              case _ => Seq.empty
            }
          }
        star.foreach { case (g0, a0, sh) => classify(g0, a0, sh) }
        // LATTICE shapes: the analyzed Aggregate sits over the native
        // ROLLUP/CUBE Expand (ResolveGroupingAnalytics runs at
        // analysis) — advise from the PROJECTED base columns: key
        // positions substitute their underlying attribute, all-literal
        // positions (the grouping_id) drop out of the keys, measure
        // positions substitute their base so the distinct/percentile
        // branches advise hist_<col> — mirroring the q294/q297 serve
        // shapes.
        val lattice =
          if (direct.exists(identity) || preExpansion.nonEmpty ||
              star.nonEmpty) Seq.empty
          else {
            def strip2(p: LogicalPlan): LogicalPlan = p match {
              case Project(pl, c) if pl.forall(_.isInstanceOf[Attribute]) =>
                strip2(c)
              case SubqueryAlias(_, c) => strip2(c)
              case other => other
            }
            df.queryExecution.analyzed.collect {
              case Aggregate(g0, a0, child, _) => (g0, a0, strip2(child))
            }.flatMap {
              case (g0, a0, ex: Expand) =>
                rule.decompose(ex.child).toSeq.flatMap { sh =>
                  val baseMap: Map[ExprId, Expression] =
                    ex.output.zipWithIndex.flatMap { case (o, i) =>
                      val entries = ex.projections.map(_(i))
                      val attrs = entries.collect {
                        case a: AttributeReference => a
                      }.distinct
                      val nullsOnly = entries
                        .filterNot(_.isInstanceOf[AttributeReference])
                        .forall(e => e.foldable && e.eval() == null)
                      if (attrs.size == 1 && nullsOnly)
                        Some(o.exprId -> (attrs.head: Expression))
                      else None
                    }.toMap
                  val litPos = AttributeSet(ex.output.zipWithIndex.collect {
                    case (o, i)
                        if ex.projections.forall(_(i).foldable) => o
                  })
                  def rebase(e: Expression): Expression = e.transform {
                    case a: AttributeReference
                        if baseMap.contains(a.exprId) => baseMap(a.exprId)
                  }
                  // groupings referencing only the gid drop (not keys);
                  // any other unmapped reference refuses the shape
                  val gKeep = g0.filterNot(
                    _.references.toSeq.forall(litPos.contains))
                  val aes = a0.flatMap(_.collect {
                    case ae: AggregateExpression => ae
                  })
                  val mappable =
                    gKeep.forall(_.references.toSeq.forall(r =>
                      baseMap.contains(r.exprId))) &&
                    aes.forall(_.references.toSeq.forall(r =>
                      baseMap.contains(r.exprId) || litPos.contains(r)))
                  if (!mappable) None
                  else Some((gKeep.map(rebase),
                    a0.map(ne => rebase(ne).asInstanceOf[NamedExpression]),
                    sh))
                }
              case _ => Seq.empty
            }
          }
        lattice.foreach { case (g0, a0, sh) => classify(g0, a0, sh) }
        if (preExpansion.isEmpty && star.isEmpty && lattice.isEmpty)
          notes += (s"query $qi: aggregate is not over a bare fact " +
            "scan (join/union/rollup shapes serve, but advise " +
            "their per-fact summaries from the plain per-fact " +
            "aggregates)")
      }
    }
    val advices = obs.groupBy(o => (o.fact, o.table)).toSeq
      .sortBy(_._1._1).map { case ((fact, table), os) =>
        val keysU = os.flatMap(_.keys).toSet
        Advice(fact, table,
          keysU,
          os.flatMap(_.sums).toSet.toSeq.sorted,
          os.flatMap(_.minMax).toSet.toSeq.sorted,
          os.flatMap(_.hll).toSet.toSeq.sorted,
          os.flatMap(_.hllRsd).headOption.getOrElse(0.05),
          os.size,
          // a column another query already KEYS serves its distinct/
          // percentile through the key path — the histogram would be
          // redundant bytes
          (os.flatMap(_.hist).toSet -- keysU).toSeq.sorted,
          os.flatMap(_.exprS).toMap.toSeq.sortBy(_._1),
          os.flatMap(_.exprM).toMap.toSeq.sortBy(_._1),
          os.flatMap(_.exprH).toMap.toSeq.sortBy(_._1))
      }
    (advices, notes.toSeq)
  }

  /** Build + register one [[Advice]] (path-identified facts; a
    * table-identified advice builds from `spark.table` yourself and
    * registers with [[Summary.table]]). */
  def buildAdvice(spark: SparkSession, advice: Advice, name: String,
      mvPath: String): Unit = {
    require(advice.fact.nonEmpty,
      "buildAdvice: this advice is table-identified — build from " +
        "spark.table and register manually")
    buildSummary(spark, advice.fact, advice.keys.toSeq.sorted,
      advice.sumCols, mvPath, advice.minMaxCols, advice.hllCols,
      advice.hllRsd, advice.histCols,
      exprCols = advice.exprCols, exprMinMax = advice.exprMinMax,
      exprHistCols = advice.exprHistCols)
    register(name, Summary(advice.fact, mvPath, advice.keys,
      table = advice.table,
      exprs = (advice.exprCols ++ advice.exprMinMax ++
        advice.exprHistCols).toMap))
  }

  /** `@` is the [[catalogEntryKey]] namespace separator: a
    * programmatic name containing it could collide with a bound
    * catalog's key (`daily@<dir>`), letting a catalog refresh silently
    * overwrite or deregister the programmatic entry. Refused at both
    * registration AND publish, so the key space stays disjoint by
    * construction. */
  private def requireProgrammaticName(api: String, name: String): Unit =
    require(!name.contains('@'),
      s"$api: entry name '$name' contains '@' — reserved as the " +
        "catalog-key namespace separator (a catalog refresh could " +
        "silently overwrite this registration)")

  def register(name: String, summary: Summary): Unit = {
    requireProgrammaticName("register", name)
    registry.put(name, summary)
  }

  /** Registry write for CATALOG-owned keys (`name@dir`) — bypasses the
    * programmatic `@` refusal; only the catalog loader may mint these. */
  private def registerLoaded(key: String, summary: Summary): Unit =
    registry.put(key, summary)

  /** Register a summary served from a snapshot STORE (see
    * [[Summary.store]]); the mvPath is resolved per query to the
    * newest committed version. */
  def registerStore(name: String, factPathSuffix: String, store: String,
      keys: Set[String]): Unit = {
    requireProgrammaticName("registerStore", name)
    registry.put(name, Summary(factPathSuffix, "", keys, Some(store)))
  }

  def deregister(name: String): Unit = registry.remove(name)

  def clear(): Unit = {
    registry.clear()
    bound.clear()
    lastListNanos.clear()
    storeListCache.clear()
    sizeCache.clear()
  }

  // ------------------------------------------------------------ catalog

  /** On-disk registration CATALOG — what makes the serving layer an
    * engine feature instead of a single-JVM demo. The registry above
    * is process-local; the production shape is one maintenance job and
    * many dashboard JVMs, and a fresh process must not silently
    * full-scan facts that have summaries. The catalog persists the
    * registration METADATA (name, fact suffix, keys, artifact
    * location) beside the artifacts themselves, under the same
    * FS-rename commit discipline as snapshot stores: each publish
    * lands as an immutable `cat=N.json` (staged dot-prefixed, renamed
    * into place), readers resolve the newest committed version with
    * one directory listing, and a crash mid-publish leaves the
    * previous catalog intact. Reference analogue: HiSS-Cube's zoom
    * tables are self-describing inside the one H5 file
    * (`metadata_strategy_cube_visualization.py:57-72` reads them by
    * path convention, no in-memory registry).
    *
    * A catalog entry whose artifact has since vanished refuses
    * CLEANLY at rewrite time (the unreadable-artifact guard): the
    * fact scan answers, nothing throws. */
  def publishCatalog(spark: SparkSession, catalogDir: String,
      entries: Map[String, Summary]): Long = {
    // the reader splits entries on braces and key arrays on brackets
    // (a flat writer format, not a general JSON parser) — refuse
    // garbage at WRITE time, loudly. Commas/quotes/backslashes in key
    // names ARE representable: keys are written escaped and read back
    // by a quote-respecting tokenizer (the hostile-key roundtrip law).
    entries.foreach { case (n, s) =>
      val fields = Seq(n, s.factPathSuffix, s.mvPath,
        s.store.getOrElse(""), s.table.getOrElse("")) ++ s.keys ++
        s.exprs.keys ++ s.exprs.values
      require(fields.forall(f => !f.exists("{}[]".contains(_))),
        s"publishCatalog: entry '$n' contains a brace or bracket — not " +
          "representable in the catalog's flat format (expression SQL " +
          "included: spell array/map literals as array()/map())")
      // a published name containing '@' would read back as a key that
      // collides with ANOTHER catalog's namespaced entry on a shared
      // consumer — same reservation as [[register]]
      require(!n.contains('@'),
        s"publishCatalog: entry name '$n' contains '@' — reserved as " +
          "the catalog-key namespace separator")
    }
    val json = entries.toSeq.sortBy(_._1).map { case (n, s) =>
      val store = s.store
        .map(st => s""","store":${jstr(st)}""").getOrElse("")
      val table = s.table
        .map(t => s""","table":${jstr(t)}""").getOrElse("")
      // expression measures ride as two PARALLEL flat arrays (the
      // reader zips them) — the flat format has no nested structures
      val exprSorted = s.exprs.toSeq.sortBy(_._1)
      val exprs = if (exprSorted.isEmpty) "" else
        s""","exprNames":[${exprSorted.map(e => jstr(e._1)).mkString(",")}]""" +
          s""","exprSqls":[${exprSorted.map(e => jstr(e._2)).mkString(",")}]"""
      s"""{"name":${jstr(n)},"factPathSuffix":${jstr(s.factPathSuffix)},""" +
        s""""mvPath":${jstr(s.mvPath)},""" +
        s""""keys":[${s.keys.toSeq.sorted.map(jstr).mkString(",")}]""" +
        s"""$store$table$exprs}"""
    }.mkString("[", ",\n ", "]")
    val dir = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$catalogDir/.cat-staging"), true)
    val v = catalogVersions(spark, catalogDir).sorted.lastOption
      .getOrElse(0L) + 1L
    val tmp = new org.apache.hadoop.fs.Path(
      s"$catalogDir/.cat-staging/cat=$v.json")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(s"$catalogDir/cat=$v.json")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"publishCatalog: staging rename $tmp -> $dst failed — catalog " +
          "left unchanged (stale staging will be swept)")
    fs.delete(new org.apache.hadoop.fs.Path(s"$catalogDir/.cat-staging"), true)
    // a same-JVM consumer bound to this directory must see cat=v on its
    // very next query: drop the freshness-listing TTL stamp
    lastListNanos.remove(catalogDir)
    v
  }

  /** Publish the CURRENT in-memory PROGRAMMATIC registrations (the
    * producer-side convenience: register → build → publish).
    * Catalog-LOADED entries (keys `name@dir`) are excluded: republishing
    * them would leak this consumer's namespacing into the target
    * catalog and compound per publish→load generation
    * (`daily@catA@catB`). A consumer that wants to mirror another
    * catalog's entries republishes them explicitly via the map
    * overload under names it chooses. */
  def publishCatalog(spark: SparkSession, catalogDir: String): Long = {
    import scala.jdk.CollectionConverters._
    val all = registry.entrySet().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val (loaded, programmatic) = all.partition(_._1.contains('@'))
    // the exclusion must be OBSERVABLE, not just documented: a consumer
    // mirroring a bound catalog via install→publish would otherwise get
    // a silently smaller published catalog with no runtime signal
    if (loaded.nonEmpty)
      System.err.println(
        s"[summary] publishCatalog($catalogDir): excluding " +
          s"${loaded.size} catalog-loaded entr" +
          (if (loaded.size == 1) "y" else "ies") +
          " (keys contain '@'); republish explicitly via the map " +
          "overload to mirror them")
    publishCatalog(spark, catalogDir, programmatic)
  }

  /** Load the newest committed catalog version into the registry and
    * returns the number of entries registered (0 when the catalog has
    * no committed version yet — a fresh consumer before the first
    * publish simply serves from fact scans). The session is also BOUND
    * to the catalog: every later optimization pass re-resolves the
    * newest committed version (one driver-side listing, the same cost
    * class as the store-backed `resolveMvPath` listing), so a
    * long-lived dashboard JVM picks up a `cat=N+1` published AFTER it
    * installed — new summaries serve, dropped entries STOP serving —
    * with no restart and no re-install. Reference analogue: HiSS-Cube
    * readers always see the current H5 state
    * (`metadata_strategy_cube_visualization.py:57-72` reads by path at
    * query time, no cached registry). */
  def loadCatalog(spark: SparkSession, catalogDir: String): Int = {
    val live = catalogVersions(spark, catalogDir)
    if (live.isEmpty) return 0
    val entries = readCatalogVersion(spark, catalogDir, live.max)
    boundLock.synchronized {
      entries.foreach { case (n, s) =>
        registerLoaded(catalogEntryKey(catalogDir, n), s)
      }
      bound.put(catalogDir, BoundCatalog(catalogDir, live.max,
        entries.map(e => catalogEntryKey(catalogDir, e._1)).toSet))
      lastListNanos.put(catalogDir, nanoClock())
    }
    entries.size
  }

  private def readCatalogVersion(spark: SparkSession, catalogDir: String,
      version: Long): Seq[(String, Summary)] = {
    val p = new org.apache.hadoop.fs.Path(s"$catalogDir/cat=$version.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      Iterator.continually(in.read(chunk)).takeWhile(_ > 0)
        .foreach(n => buf.write(chunk, 0, n))
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
    parseCatalog(raw)
  }

  /** Re-resolve every bound catalog's newest committed version; when a
    * newer `cat=N` exists for a directory, swap that load's
    * registrations for the new entry set (names the new version
    * dropped DEREGISTER — a published deregistration stops serving;
    * registrations made programmatically outside catalogs are
    * untouched). Called by the rule per optimization pass — a no-op
    * map read when nothing is bound; at most one directory listing per
    * dir per [[refreshTtlNanos]] when bound (the TTL is what keeps a
    * high-QPS dashboard from paying an object-store LIST per planning
    * pass; a same-JVM publish bypasses it via stamp invalidation).
    * Any listing/read failure leaves the current registrations as
    * they are (serving from the last good catalog beats throwing
    * inside the optimizer). */
  private[plans] def refreshBoundCatalog(spark: SparkSession): Unit = {
    if (bound.isEmpty) return
    import scala.jdk.CollectionConverters._
    bound.values.asScala.toSeq.foreach { b =>
      val now = nanoClock()
      val last = lastListNanos.get(b.dir)
      if (last == null || now - last >= refreshTtlNanos) {
        lastListNanos.put(b.dir, now)
        listingCount.incrementAndGet()
        val newest = Try(catalogVersions(spark, b.dir))
          .toOption.flatMap(_.sorted.lastOption)
        newest.filter(_ > b.version).foreach { v =>
          boundLock.synchronized {
            // re-check under the lock: another query thread may have won
            Option(bound.get(b.dir)).filter(cur => v > cur.version)
              .foreach { cur =>
                Try(readCatalogVersion(spark, b.dir, v)).foreach { entries =>
                  val names = entries
                    .map(e => catalogEntryKey(b.dir, e._1)).toSet
                  (cur.names -- names).foreach(deregister)
                  entries.foreach { case (n, s) =>
                    registerLoaded(catalogEntryKey(b.dir, n), s)
                  }
                  bound.put(b.dir, BoundCatalog(b.dir, v, names))
                  note(s"catalog ${b.dir} refreshed to cat=$v " +
                    s"(${entries.size} entries)")
                }
              }
          }
        }
      }
    }
  }

  /** Consumer-side one-call install: load the newest catalog AND add
    * the rule to the session — the fresh-process entry point. */
  def install(spark: SparkSession, catalogDir: String): Int = {
    val n = loadCatalog(spark, catalogDir)
    install(spark)
    n
  }

  /** Committed catalog versions, one directory listing. */
  def catalogVersions(spark: SparkSession, catalogDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(catalogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("cat=") && n.endsWith(".json"))
      .map(_.stripPrefix("cat=").stripSuffix(".json").toLong)
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One escaped-JSON-string unescape — shared by every reader of the
    * catalog's writer format ([[jstr]] is the only producer, so the
    * alphabet is exactly `\"`, `\\`, and `\uXXXX` for control
    * characters: a column name with an embedded newline/tab — legal in
    * Spark via backticks — must roundtrip EXACTLY, or the registration
    * silently mis-registers and the summary refuses forever). A
    * single left-to-right scan, so `\\u0041` stays the literal text
    * `A` (the backslash is consumed first). */
  private def junstr(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other =>
            sb.append(other)
            i += 2
        }
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** Minimal JSON reader for the catalog's own writer format (json4s
    * ships with Spark but a 12-field flat schema does not need an AST;
    * the parser rejects anything the writer cannot have produced).
    * Key names are tokenized as QUOTED STRINGS, not split on commas —
    * a key named `a,b`, `a"b`, or `a\b` roundtrips exactly (the
    * hostile-key law); braces/brackets are refused at write time. */
  private[plans] def parseCatalog(raw: String): Seq[(String, Summary)] = {
    val obj = """\{[^{}]*\}""".r
    val quoted = """"((?:[^"\\]|\\.)*)"""".r
    obj.findAllIn(raw).toSeq.map { o =>
      def field(k: String): Option[String] = {
        val m = ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        m.findFirstMatchIn(o).map(_.group(1)).map(junstr)
      }
      def arr(k: String): Seq[String] = {
        val a = ("\"" + k + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
        val body = a.findFirstMatchIn(o).map(_.group(1)).getOrElse("")
        quoted.findAllMatchIn(body).map(m => junstr(m.group(1))).toSeq
      }
      val keySet = arr("keys").filter(_.nonEmpty).toSet
      val exprNames = arr("exprNames")
      val exprSqls = arr("exprSqls")
      require(exprNames.size == exprSqls.size,
        s"catalog entry has ${exprNames.size} exprNames but " +
          s"${exprSqls.size} exprSqls: $o")
      val name = field("name").getOrElse(
        throw new IllegalArgumentException(s"catalog entry missing name: $o"))
      name -> Summary(
        field("factPathSuffix").getOrElse(
          throw new IllegalArgumentException(
            s"catalog entry missing factPathSuffix: $o")),
        field("mvPath").getOrElse(""), keySet, field("store"),
        field("table"), exprNames.zip(exprSqls).toMap)
    }
  }

  // -------------------------------------------------- build / maintain

  /** The summary frame honoring the naming contract: one row per key
    * combination, `cnt` (row count), and per measure `sum_<col>` +
    * `cnt_<col>` (NON-NULL count — what makes AVG and COUNT(col)
    * derivable when the measure has NULLs: Spark's avg/count(col)
    * skip nulls, so Σsum_x / Σcnt would silently serve a WRONG
    * average over a nullable measure; Σsum_x / Σcnt_x is exact for
    * any data) and `min_<col>`/`max_<col>`. `hllCols` measures
    * additionally carry `hll_<p>_<col>` HLL++ REGISTER-WORD partials
    * (p derived from `hllRsd`, default = `approx_count_distinct`'s
    * own 0.05), which is what lets `approx_count_distinct(col)` over a
    * NON-key measure serve fact-scan-free and bit-identical to the
    * direct sketch ([[HllSummary]]) — register max-merge is
    * associative, so the per-group partials fold to the exact
    * registers one fact pass builds. `histCols` measures carry
    * `hist_<col>` EXACT value→count histogram partials
    * ([[HistSummary]] — map<T,bigint> of the group's non-null values,
    * refused loudly at `histCap` distinct values per group), which is
    * what lets the whole distinct-family over a NON-key measure serve
    * fact-scan-free and exact: count/sum/avg(DISTINCT col), exact
    * percentile/median(col), and approx_count_distinct(col)
    * bit-identical (the sketch is a pure function of the value SET,
    * which the histogram preserves). One map-side-combinable shuffle
    * over the fact table — paid once, amortized over every rewritten
    * query. */
  def summaryFrame(fact: DataFrame, keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty,
      hllCols: Seq[String] = Seq.empty,
      hllRsd: Double = 0.05,
      histCols: Seq[String] = Seq.empty,
      histCap: Int = HistSummary.DefaultCap,
      exprCols: Seq[(String, String)] = Seq.empty,
      exprMinMax: Seq[(String, String)] = Seq.empty,
      exprHistCols: Seq[(String, String)] = Seq.empty): DataFrame =
    summaryFrameP(fact, keys, sumCols, minMaxCols,
      hllCols.map(c => c -> HllSummary.pFor(hllRsd)),
      histCols.map(c => c -> histCap), exprCols, exprMinMax,
      exprHistCols.map { case (n, sql) => (n, sql, histCap) })

  /** [[summaryFrame]] with per-column sketch precision / histogram
    * caps — what the maintenance paths use to rebuild delta partials
    * matching an EXISTING artifact's `hll_<p>_<col>`/`hist_<col>`
    * schema exactly (mirror rebuilds pass an UNCAPPED histogram: the
    * cap is a build-POLICY gate at partial creation, not a schema
    * property — a mirror that refused what the artifact already
    * committed to carrying could never audit or maintain it). */
  private def summaryFrameP(fact: DataFrame, keys: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String],
      hllPs: Seq[(String, Int)],
      histCaps: Seq[(String, Int)] = Seq.empty,
      exprCols: Seq[(String, String)] = Seq.empty,
      exprMinMax: Seq[(String, String)] = Seq.empty,
      exprHistCaps: Seq[(String, String, Int)] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    // expression measures: sumx_/cntx_ (exprCols) and minx_/maxx_
    // (exprMinMax) partials of an arbitrary deterministic SQL
    // expression over fact columns — the name is the artifact
    // contract, the SQL is matched semantically at serve time
    // ([[Summary.exprs]]). The two lists split like sumCols vs
    // minMaxCols: min/max partials are union-monoids only (applyCdc
    // cannot retract them), so a CDC-maintained artifact registers
    // sums without them
    val aggs = count(lit(1)).as("cnt") +:
      (sumCols.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"),
        count(col(c)).as(s"cnt_$c"))) ++
        minMaxCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        hllPs.map { case (c, p) =>
          HllSummary.partialWords(col(c), p).as(HllSummary.colName(p, c)) } ++
        histCaps.map { case (c, cap) =>
          HistSummary.partialHist(col(c), cap).as(HistSummary.colName(c)) } ++
        exprCols.flatMap { case (n, sql) =>
          Seq(sum(expr(sql)).as(s"sumx_$n"),
            count(expr(sql)).as(s"cntx_$n")) } ++
        exprMinMax.flatMap { case (n, sql) =>
          Seq(min(expr(sql)).as(s"minx_$n"),
            max(expr(sql)).as(s"maxx_$n")) } ++
        // hist_<name> of an EXPRESSION: the exact value→count multiset
        // of a computed measure — what serves count(DISTINCT expr) and
        // exact percentile(expr) without keying the expression's
        // columns; same cap/refusal discipline as column histograms
        exprHistCaps.map { case (n, sql, cap) =>
          HistSummary.partialHist(expr(sql), cap)
            .as(HistSummary.colName(n)) })
    fact.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Size-aware artifact LAYOUT — the scale path of every summary
    * write. Dashboard-shape summaries (source×lang, calendar days) are
    * kilobytes and belong in ONE file; a HIGH-CARDINALITY summary (per
    * user, per order key) of a 100 TB fact is fact-key-cardinality
    * rows and must never funnel through one task and one unsplittable
    * write. A driver-side count to pick between the two would compute
    * the aggregate twice, so the layout is decided where Spark already
    * decides it: `repartitionByRange(keys)` WITHOUT an explicit
    * partition count, which AQE sizes at runtime from the actual
    * shuffle bytes — a kilobyte summary coalesces to one partition
    * (one file), a multi-GB one keeps a parallel ranged write whose
    * key-clustered files give the serving scan per-file min/max
    * pruning under key filters. The rewrite itself is layout-agnostic
    * (`spark.read.parquet` over 1 or N files — the multi-file law);
    * the range sample re-reads only the aggregate's reduce side (the
    * fact-scan map stage is reused across jobs). Reference analogue:
    * the reference never funnels through one writer either — chunked
    * datasets, `metadata_strategy_image.py:317-322`. */
  private def layout(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the size-aware path NEEDS AQE: repartitionByRange with no
    // explicit count is sized by runtime shuffle bytes only when
    // adaptive execution is on — with AQE off it falls back to
    // spark.sql.shuffle.partitions and a kilobyte summary would land
    // as hundreds of tiny files. AQE is Spark's default since 3.2;
    // a session that disabled it gets the pre-AQE single-file write
    // (correct, sorted for row-group stats, but single-task — re-enable
    // AQE for high-cardinality summary builds).
    val aqe = Try(df.sparkSession.conf.get("spark.sql.adaptive.enabled")
      .toBoolean).getOrElse(true)
    if (keys.isEmpty) df.coalesce(1)
    else if (!aqe)
      df.coalesce(1).sortWithinPartitions(keys.map(col): _*)
    else df.repartitionByRange(keys.map(col): _*)
      // sorted within each ranged partition: every parquet ROW GROUP
      // gets tight key min/max stats, so key-filtered serving reads
      // skip row groups inside big artifacts, not just whole files
      // (a summary-rows sort — cheap at build, paid once)
      .sortWithinPartitions(keys.map(col): _*)
  }

  /** Build + persist a summary artifact at a fixed path. */
  def buildSummary(spark: SparkSession, factPath: String,
      keys: Seq[String], sumCols: Seq[String], mvPath: String,
      minMaxCols: Seq[String] = Seq.empty,
      hllCols: Seq[String] = Seq.empty,
      hllRsd: Double = 0.05,
      histCols: Seq[String] = Seq.empty,
      histCap: Int = HistSummary.DefaultCap,
      exprCols: Seq[(String, String)] = Seq.empty,
      exprMinMax: Seq[(String, String)] = Seq.empty,
      exprHistCols: Seq[(String, String)] = Seq.empty): Unit =
    layout(summaryFrame(spark.read.parquet(factPath), keys, sumCols,
        minMaxCols, hllCols, hllRsd, histCols, histCap, exprCols,
        exprMinMax, exprHistCols), keys)
      .write.mode("overwrite").parquet(mvPath)

  /** Build + commit a summary into a snapshot store via the FS-rename
    * discipline ([[graft.operators.IndexOps.writeSnapshot]]); returns
    * the committed version. Pair with [[registerStore]] so queries in
    * ANY session (the store outlives the SparkSession) read the newest
    * commit. */
  def buildSummarySnapshot(spark: SparkSession, factPath: String,
      keys: Seq[String], sumCols: Seq[String], store: String,
      minMaxCols: Seq[String] = Seq.empty,
      hllCols: Seq[String] = Seq.empty,
      hllRsd: Double = 0.05,
      histCols: Seq[String] = Seq.empty,
      histCap: Int = HistSummary.DefaultCap,
      exprCols: Seq[(String, String)] = Seq.empty,
      exprMinMax: Seq[(String, String)] = Seq.empty,
      exprHistCols: Seq[(String, String)] = Seq.empty): Long =
    graft.operators.IndexOps.writeSnapshot(
      layout(summaryFrame(spark.read.parquet(factPath), keys, sumCols,
        minMaxCols, hllCols, hllRsd, histCols, histCap, exprCols,
        exprMinMax, exprHistCols), keys),
      store)

  /** Derive a COARSER summary from a finer one — the lattice build
    * path that never touches the fact: cnt/sum_/min_/max_ are all
    * monoids, so folding the finer summary's partials over the coarser
    * key set yields EXACTLY `summaryFrame(fact, coarserKeys, …)` (the
    * law in SummaryRewriteSpec). At 100 TB this is how the whole
    * rollup lattice gets materialized for the price of ONE fact scan:
    * build the finest summary once, derive every ancestor from
    * kilobytes — the reference's pyramid build does precisely this,
    * each zoom level computed from the previous one, never from raw
    * (`processors/data_strategy_cube_ml.py` halves the previous zoom's
    * arrays; `astrometry.py:211-224` parents the previous level's
    * cells). The coarser keys must be a subset of the finer summary's
    * key columns; the measure lists name the BASE fact columns (the
    * artifact's `sum_<col>`/`min_<col>`/`max_<col>` naming contract
    * carries through unchanged, so the derived artifact registers and
    * serves like any other). */
  def rollupSummary(finer: DataFrame, coarserKeys: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    finer.groupBy(coarserKeys.map(col): _*)
      .agg(foldAggs(finer, sumCols, minMaxCols).head,
        foldAggs(finer, sumCols, minMaxCols).tail: _*)
  }

  /** The monoid fold of every partial column: Σcnt, Σsum_/Σcnt_ per
    * measure (cnt_ only when the frame carries it — pre-`cnt_` era
    * artifacts fold without, and AVG/COUNT(col) simply refuse on them),
    * min-of-min / max-of-max, and register max-merge for every
    * `hll_<p>_<col>` sketch partial the frame carries (max-merge is
    * the HLL union — associative, so the folded artifact serves the
    * same bits a from-scratch build would). Shared by [[rollupSummary]]
    * and [[mergeDelta]] so the two lifecycle paths can never drift. */
  private def foldAggs(frame: DataFrame, sumCols: Seq[String],
      minMaxCols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    val have = frame.schema.fieldNames.toSet
    sum(col("cnt")).as("cnt") +:
      (sumCols.flatMap(c =>
        Seq(sum(col(s"sum_$c")).as(s"sum_$c")) ++
          (if (have(s"cnt_$c")) Seq(sum(col(s"cnt_$c")).as(s"cnt_$c"))
           else Seq.empty)) ++
        minMaxCols.flatMap(c => Seq(
          min(col(s"min_$c")).as(s"min_$c"),
          max(col(s"max_$c")).as(s"max_$c"))) ++
        hllColsOf(frame).map { case (name, _, p) =>
          HllSummary.mergeWords(col(name), p).as(name) } ++
        // histogram folds are UNCAPPED faithful merges (count-sum is
        // the map monoid): the cap gates partial CREATION; a fold of
        // committed artifacts must reproduce their union exactly, and
        // a rollup to coarser keys that concentrates values is an
        // explicit operator decision whose artifact size is observable
        histColsOf(frame).map { case (name, _) =>
          HistSummary.mergeHist(col(name), Int.MaxValue).as(name) } ++
        // expression-measure partials fold by their own monoid,
        // schema-driven like the sketches (Σ sumx, Σ cntx,
        // min-of-minx, max-of-maxx)
        frame.schema.fieldNames.toSeq.collect {
          case n if n.startsWith("sumx_") || n.startsWith("cntx_") =>
            sum(col(n)).as(n)
          case n if n.startsWith("minx_") => min(col(n)).as(n)
          case n if n.startsWith("maxx_") => max(col(n)).as(n)
        })
  }

  /** The `hll_<p>_<col>` sketch-partial columns a summary frame
    * carries: (column name, base measure, p). */
  private def hllColsOf(frame: DataFrame): Seq[(String, String, Int)] =
    frame.schema.fields.toSeq.collect {
      case f if HllSummary.isWordsType(f.dataType) =>
        f.name match {
          case HllSummary.NamePattern(p, base) => Some((f.name, base, p.toInt))
          case _ => None
        }
    }.flatten

  /** The `hist_<col>` histogram-partial columns a summary frame
    * carries: (column name, base measure). */
  private def histColsOf(frame: DataFrame): Seq[(String, String)] =
    frame.schema.fields.toSeq.collect {
      case f if HistSummary.isHistType(f.dataType) =>
        f.name match {
          case HistSummary.NamePattern(base) => Some((f.name, base))
          case _ => None
        }
    }.flatten

  /** BATCH incremental maintenance: fold the latest committed summary
    * with the delta's partials and commit the result as the next
    * snapshot — the cnt/sum/min/max columns are all monoids under
    * UNION, so fold(old, partial(delta)) ≡ rebuild(old_fact ∪ delta),
    * and the fact table is only ever scanned for the DELTA. The fold
    * itself shuffles two summary-sized frames (keys-cardinality rows),
    * not the corpus: at 100 TB this is the difference between a
    * nightly full rebuild and a per-batch kilobyte merge. Readers keep
    * the previous snapshot until the FS-rename commit lands ([[
    * graft.operators.IndexOps.writeSnapshot]]); a store-backed
    * registration serves the new version on its next query.
    *
    * APPEND-ONLY by contract: cnt/sum would at least fold a
    * retraction (negative-cnt) delta visibly negative, but min/max
    * would silently fold too WIDE — min/max are monoids under union,
    * not under deletion. The delta built here is a count and cannot
    * go negative; a doctored STORE snapshot could, so the fold
    * `require`s every latest-snapshot cnt partial positive (one pass
    * over a summary-sized frame) and throws loudly instead of serving
    * a wrong artifact. Deletions = rebuild, by design. */
  def mergeDelta(spark: SparkSession, store: String, deltaFact: DataFrame,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty,
      exprCols: Seq[(String, String)] = Seq.empty): Long = {
    import org.apache.spark.sql.functions._
    val latest = graft.operators.IndexOps.readSnapshot(spark, store)
    // expression-measure partials cannot be rebuilt from the schema
    // alone (the SQL lives in the registration, not the column name):
    // the caller must supply the same name→SQL map the artifact was
    // built with, or the fold would silently drop the measure
    val haveM = latest.schema.fieldNames.toSet
    val missingExpr = latest.schema.fieldNames.toSeq
      .collect {
        case n if n.startsWith("sumx_") => n.stripPrefix("sumx_")
        case n if n.startsWith("minx_") => n.stripPrefix("minx_")
      }.distinct.filterNot(exprCols.map(_._1).toSet)
    require(missingExpr.isEmpty,
      s"mergeDelta: the latest snapshot of $store carries expression " +
        s"partials for ${missingExpr.mkString(", ")} but " +
        "exprCols does not name them — pass the registered (name, sql) " +
        "pairs so the delta rebuilds the same partials")
    // delta sketch/histogram partials mirror the LATEST artifact's
    // hll_<p>_/hist_ schema (parsed from the names), so the fold below
    // never mixes register widths or drops a histogram; the delta
    // histogram build is uncapped (mirror rebuilds reproduce what the
    // artifact committed to — the cap gated the ORIGINAL build)
    val exprByName = exprCols.toMap
    val factCols = deltaFact.schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val (colHists, exprHists) = histColsOf(latest).partition {
      case (_, base) => factCols(base.toLowerCase(java.util.Locale.ROOT))
    }
    val histMissing = exprHists.collect {
      case (n, base) if !exprByName.contains(base) => n
    }
    require(histMissing.isEmpty,
      s"mergeDelta: histogram partials ${histMissing.mkString(", ")} are " +
        "neither fact columns nor named in exprCols — pass the " +
        "registered (name, sql) pairs")
    val delta = summaryFrameP(deltaFact, keys, sumCols, minMaxCols,
      hllColsOf(latest).map { case (_, base, p) => base -> p },
      colHists.map { case (_, base) => base -> Int.MaxValue },
      exprCols.filter { case (n, _) => haveM(s"sumx_$n") },
      exprCols.filter { case (n, _) => haveM(s"minx_$n") },
      exprHists.map { case (_, base) =>
        (base, exprByName(base), Int.MaxValue) })
    val nonPos = latest.filter(col("cnt") <= 0L).count()
    require(nonPos == 0L,
      s"mergeDelta: $nonPos non-positive cnt partials in the latest " +
        s"snapshot of $store — a retraction cannot be folded (min/max " +
        "partials are union-monoids only); rebuild the summary instead")
    // a pre-cnt_ snapshot folds with the delta's cnt_ columns dropped
    // (allowMissingColumns would null-poison the sums instead)
    val unioned = latest.unionByName(
      delta.select(latest.schema.fieldNames.map(col): _*))
    val aggs = foldAggs(latest, sumCols, minMaxCols)
    val folded = unioned
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    graft.operators.IndexOps.writeSnapshot(layout(folded, keys), store)
  }

  /** CDC incremental maintenance — [[mergeDelta]] plus RETRACTION: fold
    * an insert batch in and a delete batch OUT, committing the next
    * snapshot, with the artifact provably equal to a from-scratch
    * rebuild over `(fact ∪ inserts) ∖ deletes` (an update is a
    * delete+insert pair). The delete rows must be EXACT copies of fact
    * rows being removed — the partials then cancel exactly:
    *
    *   - `cnt`/`cnt_`/`sum_`/`sumx_`/`cntx_` subtract (group monoids);
    *     a non-null-count hitting 0 NULLs its sum (rebuild semantics);
    *   - `hist_<col>` subtracts per value and prunes zeroed entries —
    *     the histogram is what makes DELETION of distinct counts,
    *     percentiles, and min/max exactly maintainable at all;
    *   - `min_`/`max_` of a hist-carried column re-derive from the
    *     retracted histogram (delete the max row and the artifact max
    *     FALLS — the one move a min/max monoid cannot do);
    *   - `min_`/`max_` WITHOUT a histogram, `minx_`/`maxx_`, and
    *     `hll_` registers are NOT retractable: with a non-empty delete
    *     batch they refuse loudly, or — `dropUnretractable = true` —
    *     are DROPPED from the artifact (an explicit capability loss:
    *     those aggregates go back to the fact; serving checks the
    *     schema, so nothing mis-serves).
    *
    * Soundness is enforced, not assumed: a delete for a key group the
    * artifact does not carry, a histogram value going negative, a
    * row count going negative, or a vanished group (cnt 0) with a
    * non-zero residual partial all refuse BEFORE the commit — a wrong
    * delete batch can never produce a silently wrong artifact. Cost:
    * one scan per batch + summary-sized joins, against the 100 TB
    * alternative (mergeDelta's documented "deletions = rebuild"). */
  def applyCdc(spark: SparkSession, store: String,
      inserts: DataFrame, deletes: DataFrame,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty,
      exprCols: Seq[(String, String)] = Seq.empty,
      dropUnretractable: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    val latest = graft.operators.IndexOps.readSnapshot(spark, store)
    val have = latest.schema.fieldNames.toSet
    val missingExpr = latest.schema.fieldNames.toSeq
      .collect {
        case n if n.startsWith("sumx_") => n.stripPrefix("sumx_")
        case n if n.startsWith("minx_") => n.stripPrefix("minx_")
      }.distinct.filterNot(exprCols.map(_._1).toSet)
    require(missingExpr.isEmpty,
      s"applyCdc: snapshot carries ${missingExpr.mkString(", ")} " +
        "expression partials absent from exprCols — pass the registered " +
        "(name, sql) pairs")
    val hists = histColsOf(latest).map(_._2).toSet
    // min/max — plain AND expression — retract exactly when the SAME
    // base (column or registration name) carries a histogram: the
    // retracted histogram IS the value multiset, so the new extreme
    // re-derives from its keys; without one, a deleted extreme is
    // unrecoverable
    val unretractable =
      minMaxCols.filterNot(hists)
        .flatMap(c => Seq(s"min_$c", s"max_$c")).filter(have) ++
        hllColsOf(latest).map(_._1) ++
        latest.schema.fieldNames.toSeq.filter(n =>
          (n.startsWith("minx_") && !hists(n.stripPrefix("minx_"))) ||
            (n.startsWith("maxx_") && !hists(n.stripPrefix("maxx_")))) ++
        // a pre-cnt_ era sum partial cannot retract either: the
        // NULL-on-zero rule (sum of no non-null values is NULL) needs
        // the non-null count beside it
        sumCols.filter(c => have(s"sum_$c") && !have(s"cnt_$c"))
          .map(c => s"sum_$c")
    val hasDeletes = !deletes.isEmpty
    require(!hasDeletes || unretractable.isEmpty || dropUnretractable,
      s"applyCdc: partials ${unretractable.mkString(", ")} are not " +
        "retractable. Per class — min/max (plain or expression) " +
        "without a same-base histogram: carry a hist_<col>/exprHist " +
        "partial (the retracted histogram re-derives the extreme) or " +
        "key the column; HLL registers: register max-merge is not " +
        "invertible, NO partial makes them retractable; pre-cnt_ sums: " +
        "rebuild to mint cnt_<col>. The choice everywhere is REBUILD " +
        "the summary vs SHED the column (dropUnretractable = true " +
        "sheds exactly these and retracts the rest).")
    val dropped =
      if (hasDeletes && dropUnretractable) unretractable.toSet
      else Set.empty[String]
    val keptMinMax = minMaxCols.filter(c =>
      hists(c) || !dropped(s"min_$c"))
    val keptSum = sumCols.filterNot(c => dropped(s"sum_$c"))
    val base = latest.select(latest.schema.fieldNames
      .filterNot(dropped).map(col).toIndexedSeq: _*)
    // 1) fold the inserts in (mergeDelta's discipline, shared helpers)
    val baseCols = base.schema.fieldNames.toSet
    val exprByName = exprCols.toMap
    val insCols = inserts.schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val (colHists, exprHists) = histColsOf(base).partition {
      case (_, b) => insCols(b.toLowerCase(java.util.Locale.ROOT)) }
    val histMissing = exprHists.collect {
      case (n, b) if !exprByName.contains(b) => n }
    require(histMissing.isEmpty,
      s"applyCdc: histogram partials ${histMissing.mkString(", ")} are " +
        "neither fact columns nor named in exprCols — pass the " +
        "registered (name, sql) pairs")
    val exprHistCaps = exprHists.map { case (_, b) =>
      (b, exprByName(b), Int.MaxValue) }
    val insDelta = summaryFrameP(inserts, keys, keptSum, keptMinMax,
      hllColsOf(base).map { case (_, b, p) => b -> p },
      colHists.map { case (_, b) => b -> Int.MaxValue },
      exprCols.filter { case (n, _) => baseCols(s"sumx_$n") },
      exprCols.filter { case (n, _) => baseCols(s"minx_$n") },
      exprHistCaps)
      .select(base.schema.fieldNames.map(col).toIndexedSeq: _*)
    val aggs = foldAggs(base, keptSum, keptMinMax)
    val merged = base.unionByName(insDelta)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    if (!hasDeletes)
      return graft.operators.IndexOps.writeSnapshot(
        layout(merged, keys), store)
    // 2) subtract the delete batch's partials
    val delDelta0 = summaryFrameP(deletes, keys, keptSum, Seq.empty,
      Seq.empty,
      colHists.map { case (_, b) => b -> Int.MaxValue },
      exprCols.filter { case (n, _) => baseCols(s"sumx_$n") },
      Seq.empty, exprHistCaps)
    val dCols = delDelta0.schema.fieldNames.filterNot(keys.contains)
    val delDelta = delDelta0.select(keys.map(col) ++
      dCols.map(n => col(n).as(s"__d_$n")): _*)
    // The phantom probe, the negative-evidence sweep, and the commit
    // write are THREE actions whose plans all contain this full-outer
    // join — unpinned, each action re-runs the whole maintenance
    // lineage (snapshot read + insert-batch fold + delete-batch
    // partial aggregation; at 100 TB that is three scans of both CDC
    // batches for one commit). One LAZY localCheckpoint pins it: the
    // phantom count materializes the blocks, the sweep and the write
    // read them. Checkpoint, not persist — the commit's writeSnapshot
    // recacheByPath can never invalidate-and-recompute a truncated
    // lineage, and the pinned frame is summary-group-sized. The scope
    // frees it after the commit and on the refusal paths (the
    // phantom-delete and negative-evidence requires below), so repeated
    // refused commits on a long-lived session never pile up block sets.
    graft.operators.Pins.scope {
    val joined = merged.join(delDelta, keys, "full_outer")
      .transform(graft.operators.Pins.pin(_, eager = false))
    // a delete for a key group the artifact does not carry is a wrong
    // batch, not a no-op
    val phantom = joined.filter(col("cnt").isNull).count()
    require(phantom == 0L,
      s"applyCdc: $phantom delete key group(s) not present in the " +
        "artifact — the delete batch does not describe this fact")
    val d = (n: String) => coalesce(col(s"__d_$n"), lit(0L))
    val subtracted = joined.select(
      keys.map(col) ++ base.schema.fieldNames.filterNot(keys.contains)
        .map {
          case "cnt" => (col("cnt") - d("cnt")).as("cnt")
          case n if n.startsWith("cnt_") || n.startsWith("cntx_") =>
            (col(n) - d(n)).as(n)
          case n if n.startsWith("sum_") || n.startsWith("sumx_") =>
            // a group whose non-null count hits 0 must NULL its sum —
            // rebuild semantics (sum of no non-null values is NULL)
            val cntCol = if (n.startsWith("sum_")) s"cnt_${n.drop(4)}"
              else s"cntx_${n.drop(5)}"
            when(col(cntCol) - d(cntCol) === 0L, lit(null))
              .otherwise(col(n) - coalesce(col(s"__d_$n"),
                lit(0).cast(latest.schema(n).dataType)))
              .cast(latest.schema(n).dataType).as(n)
          case n if n.startsWith("hist_") =>
            when(col(s"__d_$n").isNull, col(n)).otherwise(
              map_filter(
                map_zip_with(col(n), col(s"__d_$n"),
                  (_, a, b) => coalesce(a, lit(0L)) - coalesce(b, lit(0L))),
                (_, v) => v =!= 0L)).as(n)
          case n if n.startsWith("min_") && hists(n.drop(4)) =>
            lit(null).as(n) // re-derived from the histogram below
          case n if n.startsWith("max_") && hists(n.drop(4)) =>
            lit(null).as(n)
          case n if n.startsWith("minx_") && hists(n.drop(5)) =>
            lit(null).as(n) // expression extremes re-derive the same way
          case n if n.startsWith("maxx_") && hists(n.drop(5)) =>
            lit(null).as(n)
          case n => col(n).as(n)
        }: _*)
    // negative-evidence sweep BEFORE commit: any histogram value going
    // negative (a delete of a value the group never had), any negative
    // count, or a vanished group with residual non-null counts refuses
    val histNames = histColsOf(base).map(_._1)
    val negHist = histNames.map(n =>
      exists(map_values(col(n)), _ < 0L)).foldLeft(lit(false))(_ || _)
    val cntNames = "cnt" +: subtracted.schema.fieldNames.toSeq
      .filter(n => n.startsWith("cnt_") || n.startsWith("cntx_"))
    val negCnt = cntNames.map(col(_) < 0L).reduce(_ || _)
    val residual = cntNames.map(col(_) =!= 0L).reduce(_ || _) ||
      histNames.map(n => size(col(n)) =!= 0).foldLeft(lit(false))(_ || _)
    val bad = subtracted
      .filter(negHist || negCnt || (col("cnt") === 0L && residual))
      .count()
    require(bad == 0L,
      s"applyCdc: $bad key group(s) fail the retraction invariants " +
        "(negative histogram value, negative count, or a vanished group " +
        "with residual partials) — the delete batch does not describe " +
        "this fact; artifact left unchanged")
    // 3) vanished groups drop; hist-backed min/max re-derive from the
    // retracted histograms (exact: the histogram IS the value multiset)
    val result0 = subtracted.filter(col("cnt") > 0L)
    val result1 = keptMinMax.filter(hists).foldLeft(result0) { (df, c) =>
      df.withColumn(s"min_$c",
          array_min(map_keys(col(s"hist_$c")))
            .cast(latest.schema(s"min_$c").dataType))
        .withColumn(s"max_$c",
          array_max(map_keys(col(s"hist_$c")))
            .cast(latest.schema(s"max_$c").dataType))
    }
    // expression extremes off their expression histograms, exactly
    // like the plain-column path (minx_<n> ← min key of hist_<n>)
    val result = exprCols.map(_._1)
      .filter(n => baseCols(s"minx_$n") && hists(n))
      .foldLeft(result1) { (df, n) =>
        df.withColumn(s"minx_$n",
            array_min(map_keys(col(s"hist_$n")))
              .cast(latest.schema(s"minx_$n").dataType))
          .withColumn(s"maxx_$n",
            array_max(map_keys(col(s"hist_$n")))
              .cast(latest.schema(s"maxx_$n").dataType))
      }
    graft.operators.IndexOps.writeSnapshot(
      layout(result.select(base.schema.fieldNames.map(col)
        .toIndexedSeq: _*), keys), store)
    }
  }

  /** Persist a derived summary frame ([[rollupSummary]]'s output, or
    * any frame honoring the naming contract) under the same size-aware
    * layout the builders use. */
  def writeSummary(df: DataFrame, keys: Seq[String], mvPath: String): Unit =
    layout(df, keys).write.mode("overwrite").parquet(mvPath)

  /** Freshness/integrity AUDIT of a registered summary: recompute the
    * partials from the fact and diff against the artifact, returning
    * per-key discrepancy rows (empty = the summary is exact). This is
    * the monitoring complement of the lifecycle — build
    * ([[buildSummary]]/[[buildSummarySnapshot]]), serve (the rule),
    * maintain ([[mergeDelta]], streaming fold), audit (here): a
    * summary that drifted (missed delta, manual fact edit) serves
    * WRONG dashboards silently, and the audit is the one pass that
    * proves it didn't. ALL partial columns are audited — cnt, sum_,
    * AND min_/max_ (a drifted min partial serves wrong MIN rollups
    * just as silently as a drifted cnt). Cost: one fact scan + a
    * summary-sized join — the same price as one unserved rollup, paid
    * on the monitoring cadence, not per query. Full-outer on the keys
    * so both phantom summary rows and missing fact groups surface. */
  def auditSummary(spark: SparkSession, factPath: String,
      summary: Summary, sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): DataFrame =
    auditSummaryFrame(spark, spark.read.parquet(factPath), summary,
      sumCols, minMaxCols)

  /** [[auditSummary]] over an already-resolved fact frame — what a
    * TABLE-identified registration (`spark.table("orders")`, no path)
    * audits through. */
  def auditSummaryFrame(spark: SparkSession, fact: DataFrame,
      summary: Summary, sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = summary.keys.toSeq.sorted
    val mvPath = summary.store match {
      case Some(st) =>
        val live = graft.operators.IndexOps.snapshotVersions(spark, st)
        require(live.nonEmpty, s"auditSummary: empty store $st")
        s"$st/snap=${live.max}"
      case None => summary.mvPath
    }
    val got = spark.read.parquet(mvPath)
    val gotCols = got.schema.fieldNames.toSet
    // sketch partials audit too — a drifted register serves a wrong
    // approx_count_distinct just as silently as a drifted cnt; the
    // expect side rebuilds them at the artifact's own per-column p
    // (parsed from the hll_<p>_ names), exact array equality
    val hllPs = hllColsOf(got)
    // histogram partials audit too (uncapped expect rebuild — the cap
    // gated the original build, the audit must reproduce faithfully);
    // eval sorts entries by value, so map_entries arrays compare
    // exactly (maps themselves are not <=>-comparable in Spark)
    val histPs0 = histColsOf(got)
    val factColsA = fact.schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // a histogram whose base is not a fact column rebuilds from the
    // registered expression SQL; one that is NEITHER is unregistered
    // and can never serve — excluded from the audit like any other
    // unregistered expression partial
    val histPs = histPs0.filter { case (_, base) =>
      factColsA(base.toLowerCase(java.util.Locale.ROOT)) ||
        summary.exprs.contains(base)
    }
    val (colHistPs, exprHistPs) = histPs.partition { case (_, base) =>
      factColsA(base.toLowerCase(java.util.Locale.ROOT)) }
    // expression partials audit where BOTH the artifact carries them
    // and the registration names their SQL (an unregistered sumx_
    // column can never serve, so it is not an integrity risk)
    val exprPs = summary.exprs.toSeq.sortBy(_._1)
      .filter { case (n, _) => gotCols(s"sumx_$n") || gotCols(s"minx_$n") }
    val expect = summaryFrameP(fact, keys, sumCols, minMaxCols,
      hllPs.map { case (_, base, p) => base -> p },
      colHistPs.map { case (_, base) => base -> Int.MaxValue },
      exprPs.filter { case (n, _) => gotCols(s"sumx_$n") },
      exprPs.filter { case (n, _) => gotCols(s"minx_$n") },
      exprHistPs.map { case (_, base) =>
        (base, summary.exprs(base), Int.MaxValue) })
    // cnt_ legs audit only where the artifact carries them (pre-cnt_
    // artifacts stay auditable); the expect side always computes them,
    // extra expect columns are simply not compared
    val measures = "cnt" +: (sumCols.flatMap(c =>
      Seq(s"sum_$c") ++
        (if (gotCols(s"cnt_$c")) Seq(s"cnt_$c") else Seq.empty)) ++
      minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c")) ++
      hllPs.map(_._1) ++ histPs.map(_._1) ++
      exprPs.flatMap { case (n, _) =>
        Seq(s"sumx_$n", s"cntx_$n", s"minx_$n", s"maxx_$n")
          .filter(gotCols) })
    val histNames = histPs.map(_._1).toSet
    val cmp = (m: String, c: org.apache.spark.sql.Column) =>
      if (histNames(m)) map_entries(c) else c
    val e = expect.select(keys.map(col) ++
      measures.map(m => cmp(m, col(m)).as(s"expect_$m")): _*)
    val g = got.select(keys.map(col) ++
      measures.map(m => cmp(m, col(m)).as(s"got_$m")): _*)
    e.join(g, keys, "full_outer")
      .filter(measures.map(m =>
        !(col(s"expect_$m") <=> col(s"got_$m"))).reduce(_ || _))
  }

  /** Monitoring SWEEP: audit every entry of an on-disk catalog against
    * its fact table — the one call a scheduled integrity job makes.
    * `factRoot` resolves each entry's `factPathSuffix` (the catalog
    * stores table identity relative to the data root, exactly so the
    * same catalog can be audited against any environment's root).
    * Returns one accounting row per entry: name, keys audited,
    * discrepancy count, and a status ('ok' | 'drift' | 'missing' when
    * the fact or artifact is unreadable | 'unauditable' when the entry
    * carries no fact identity this sweep can resolve — the audit
    * reports, never throws, so one rotted entry cannot hide the
    * others' results). Path-identified entries resolve against
    * `factRoot`; TABLE-identified entries (empty `factPathSuffix`,
    * `table` set) resolve through `spark.table` — never against
    * `"$factRoot/"`, which would audit the wrong directory or report
    * a bogus 'missing'. Measure columns are derived from the ARTIFACT
    * schema (`sum_`/`min_`/`max_` naming contract), so the sweep needs
    * no per-entry configuration. Cost: one fact scan per entry on the
    * monitoring cadence — the q262 economics, fleet-wide. */
  def auditCatalog(spark: SparkSession, catalogDir: String,
      factRoot: String): Seq[(String, Long, Long, String)] = {
    val live = catalogVersions(spark, catalogDir)
    if (live.isEmpty) return Seq.empty
    val loaded = readCatalogVersion(spark, catalogDir, live.max)
    loaded.sortBy(_._1).map { case (name, summary) =>
      val nKeys = summary.keys.size.toLong
      val fact: Option[DataFrame] =
        if (summary.factPathSuffix.nonEmpty)
          Try(spark.read.parquet(s"$factRoot/${summary.factPathSuffix}"))
            .toOption
        else summary.table.flatMap(t => Try(spark.table(t)).toOption)
      if (summary.factPathSuffix.isEmpty && summary.table.isEmpty)
        (name, nKeys, -1L, "unauditable")
      else if (fact.isEmpty && summary.factPathSuffix.isEmpty)
        // table-identified but the table is not in THIS session's
        // catalog: the entry is fine, this sweep just can't see it
        (name, nKeys, -1L, "unauditable")
      else {
        val attempt = fact.flatMap { f =>
          Try {
            val mvPath = summary.store match {
              case Some(st) =>
                val versions =
                  graft.operators.IndexOps.snapshotVersions(spark, st)
                require(versions.nonEmpty, s"empty store $st")
                s"$st/snap=${versions.max}"
              case None => summary.mvPath
            }
            val schema = spark.read.parquet(mvPath).schema.fieldNames
            val sumCols = schema.collect {
              case fn if fn.startsWith("sum_") => fn.stripPrefix("sum_") }
            val minMaxCols = schema.collect {
              case fn if fn.startsWith("min_") => fn.stripPrefix("min_") }
            val diffs = auditSummaryFrame(spark, f, summary,
              sumCols.toSeq, minMaxCols.toSeq).count()
            diffs
          }.toOption
        }
        attempt match {
          case Some(0L) => (name, nKeys, 0L, "ok")
          case Some(d) => (name, nKeys, d, "drift")
          case None => (name, nKeys, -1L, "missing")
        }
      }
    }
  }

  case class SummaryRewriteRule(spark: SparkSession)
      extends Rule[LogicalPlan] with PredicateHelper {

    /** The fact relation under at most Projects and deterministic,
      * subquery-free Filters — Project entries may be bare attributes
      * (column pruning) or deterministic aggregate-free ALIASES (the
      * optimizer's own PullOutGroupingExpressions hoists `GROUP BY
      * f(key)` into exactly such a Project), which are collected into
      * a substitution so the grouping can be judged against the
      * UNDERLYING fact columns. Anything else (nondeterminism,
      * subqueries) refuses the rewrite. Stacked filters conjoin;
      * whether each predicate is KEY-ONLY is judged per candidate
      * summary later. Both read paths match: V1 `LogicalRelation`/
      * `HadoopFsRelation`, DSv2 `DataSourceV2Relation`, and a
      * post-pushdown `DataSourceV2ScanRelation` whose scan carries the
      * [[ResidualOnlyScan]] contract (a scan that may CONSUME pushed
      * filters must refuse — the rewrite would silently drop the
      * predicate) — the fact identity is its path(s), and for catalog
      * reads (`spark.table`) its TABLE name(s): the bare name and the
      * qualified string, both lowercased for the match. */
    private[plans] case class Shape(paths: Seq[String], tables: Seq[String],
        pred: Option[Expression], subst: Map[ExprId, Expression])

    /** Replace references to hoisted Project aliases with their
      * defining expressions (values are pre-inlined: one pass). */
    private[plans] def inline(e: Expression,
        subst: Map[ExprId, Expression]): Expression =
      if (subst.isEmpty) e
      else e.transform {
        case a: AttributeReference if subst.contains(a.exprId) =>
          subst(a.exprId)
      }

    /** [[inline]] for an aggregate-list entry: a BARE attribute whose
      * subst entry is a computed expression (the user aliased
      * `length(lang) as ll` below the aggregate and grouped by `ll`)
      * re-wraps under its own name and exprId, so the output schema is
      * untouched and the grouping-expression derivation sees the
      * coarsening; anything else that stops being named refuses. */
    private def inlineNamed(e: NamedExpression,
        subst: Map[ExprId, Expression]): Option[NamedExpression] =
      inline(e, subst) match {
        case ne: NamedExpression => Some(ne)
        case ex => e match {
          case a: AttributeReference =>
            Some(Alias(ex, a.name)(exprId = a.exprId))
          case _ => None
        }
      }

    private def safeProjectEntry(ne: NamedExpression): Boolean = ne match {
      case _: AttributeReference => true
      case a: Alias => a.child.deterministic &&
        !a.child.exists(_.isInstanceOf[AggregateExpression]) &&
        !a.child.exists(_.isInstanceOf[PlanExpression[_]])
      case _ => false
    }

    private def v2Paths(rel: DataSourceV2Relation): Seq[String] =
      Option(rel.options.get("path")).toSeq ++
        Option(rel.options.get("paths")).toSeq.flatMap(parseCatalogPaths)

    /** Table-identity strings of a catalog-read relation: the bare
      * table name and the fully-qualified `catalog.db.table` string,
      * lowercased (Spark resolves identifiers case-insensitively by
      * default — a summary registered for `Orders` must bind the scan
      * of `orders`). */
    private def v1Tables(rel: LogicalRelation): Seq[String] =
      rel.catalogTable.toSeq.flatMap(ct =>
        Seq(ct.identifier.table, ct.identifier.unquotedString))
        .map(_.toLowerCase(java.util.Locale.ROOT))

    private def v2Tables(rel: DataSourceV2Relation): Seq[String] =
      rel.identifier.toSeq.flatMap(id =>
        Seq(id.name, (id.namespace :+ id.name).mkString(".")))
        .map(_.toLowerCase(java.util.Locale.ROOT))

    private[plans] def decompose(plan: LogicalPlan): Option[Shape] = plan match {
      case rel: LogicalRelation =>
        rel.relation match {
          case fs: HadoopFsRelation =>
            Some(Shape(fs.location.rootPaths.map(_.toString),
              v1Tables(rel), None, Map.empty))
          case _ => None
        }
      case rel: DataSourceV2Relation =>
        val paths = v2Paths(rel)
        val tables = v2Tables(rel)
        if (paths.isEmpty && tables.isEmpty) None
        else Some(Shape(paths, tables, None, Map.empty))
      case sr: DataSourceV2ScanRelation
          if sr.scan.isInstanceOf[ResidualOnlyScan] =>
        val paths = v2Paths(sr.relation)
        val tables = v2Tables(sr.relation)
        if (paths.isEmpty && tables.isEmpty) None
        else Some(Shape(paths, tables, None, Map.empty))
      case Project(projectList, child)
          if projectList.forall(safeProjectEntry) =>
        decompose(child).map { sh =>
          sh.copy(subst = sh.subst ++ projectList.collect {
            case a: Alias => a.exprId -> inline(a.child, sh.subst)
          })
        }
      case Filter(cond, child)
          if cond.deterministic &&
            !cond.exists(_.isInstanceOf[PlanExpression[_]]) =>
        decompose(child).map { sh =>
          val c = inline(cond, sh.subst)
          sh.copy(pred = sh.pred.map(And(c, _)).orElse(Some(c)))
        }
      case _ => None
    }

    /** DSv2 multi-path reads carry a JSON string array in the `paths`
      * option; only the writer format DataFrameReader produces. */
    private def parseCatalogPaths(json: String): Seq[String] =
      """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(json)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq

    /** All registered summaries of this relation whose keys cover the
      * needed columns, smallest first (fewest keys, then registration
      * name — deterministic under any registration order). Path match
      * is boundary-anchored: `documents.parquet` matches
      * `.../documents.parquet` but never `.../raw_documents.parquet`.
      * Table match is exact-name equality (bare or qualified,
      * case-insensitive) — a table-registered summary can never claim
      * a scan of a DIFFERENT table, and an empty factPathSuffix
      * disables the path match entirely. */
    private def candidates(shape: Shape,
        needed: Set[String]): Seq[(String, Summary)] = {
      import scala.jdk.CollectionConverters._
      val all = registry.entrySet().asScala.toSeq
        .map(e => (e.getKey, e.getValue))
      val matching = all.filter { case (_, s) =>
        (s.factPathSuffix.nonEmpty && shape.paths.exists(p =>
          p == s.factPathSuffix ||
            p.endsWith("/" + s.factPathSuffix))) ||
        s.table.exists(t =>
          shape.tables.contains(t.toLowerCase(java.util.Locale.ROOT)))
      }
      val covering = matching.filter { case (_, s) =>
        needed.subsetOf(s.keys)
      }
      matching.diff(covering).foreach { case (n, s) =>
        note(s"candidate '$n': keys ${s.keys.toSeq.sorted.mkString(",")} " +
          s"do not cover needed columns ${needed.toSeq.sorted.mkString(",")}")
      }
      if (matching.isEmpty && all.nonEmpty)
        note(s"no registered summary matches fact path(s)/table(s) " +
          (shape.paths ++ shape.tables).mkString(", "))
      // COST-ordered: smallest artifact first (actual bytes, TTL-
      // cached), then fewest keys, then name — the first candidate
      // that derives the measures wins, so the cheapest covering
      // summary serves. Key-count alone is a weak proxy (a 1-key
      // per-document rollup dwarfs a 2-key dashboard summary); bytes
      // are what the serving scan actually pays. With ≤ 1 covering
      // candidate ordering cannot matter, so the sizing listing (a
      // recursive getContentSummary — a paid LIST walk on an object
      // store) is skipped entirely.
      if (covering.size <= 1) covering
      else covering.sortBy { case (name, s) =>
        (artifactBytes(s), s.keys.size, name)
      }
    }

    /** Artifact footprint in bytes for candidate ORDERING, TTL-cached
      * per path. Unresolved/unreadable artifacts sort LAST but remain
      * candidates — the per-candidate readable guard downstream
      * decides whether they can serve at all. */
    private def artifactBytes(s: Summary): Long =
      resolveMvPath(s).flatMap { path =>
        val now = nanoClock()
        Option(sizeCache.get(path))
          .filter { case (stamp, _) => now - stamp < refreshTtlNanos }
          .map(_._2)
          .orElse(Try {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val bytes = fs.getContentSummary(p).getLength
            if (sizeCache.size >= sizeCacheLimit) sizeCache.clear()
            sizeCache.put(path, (now, bytes))
            bytes
          }.toOption)
      }.getOrElse(Long.MaxValue)

    /** Newest committed artifact for the summary — fixed path, or the
      * latest snapshot version when store-backed (None when the store
      * has no committed snapshot yet: refuse, the fact scan answers).
      * The store listing is TTL-cached ([[SummaryRewrite
      * .invalidateStoreListing]]) so a dashboard pays ≤ 1 LIST per
      * TTL per store, not one per candidate per optimizer pass. */
    private def resolveMvPath(s: Summary): Option[String] = s.store match {
      case None => Some(s.mvPath)
      case Some(st) =>
        val now = nanoClock()
        val newest = Option(storeListCache.get(st))
          .filter { case (stamp, _) => now - stamp < refreshTtlNanos }
          .map(_._2)
          .getOrElse {
            storeListingCount.incrementAndGet()
            val live = graft.operators.IndexOps.snapshotVersions(spark, st)
            val n = if (live.isEmpty) None else Some(live.max)
            storeListCache.put(st, (now, n))
            n
          }
        newest.map(v => s"$st/snap=$v")
    }

    /** Bounded: a long-lived dashboard session with a streaming
      * maintainer sees a NEW immutable `snap=N` path per commit, so an
      * unbounded cache would grow with every maintenance cycle. 256
      * footer-read plans is far beyond any real summary count; on
      * overflow the cache clears (the next query re-reads one footer —
      * correctness is untouched, the cache is latency-only). */
    private val mvRelCacheLimit = 256
    private val mvRelCache =
      new ConcurrentHashMap[String, LogicalRelation]()

    /** The summary's analyzed relation. Store-backed paths are
      * IMMUTABLE by construction (a new commit is a new `snap=N`
      * directory), so their footer read is cached per path — the
      * serving-layer latency win for a long-lived dashboard session.
      * Every use gets `newInstance()` (fresh exprIds, zero IO) so two
      * rewrites in ONE plan — a union of rollup members, a self-join —
      * can never collide on attribute ids. Fixed mvPath registrations
      * may be rebuilt in place and are re-read per query. */
    private def mvPlanFor(path: String,
        immutable: Boolean): Option[LogicalPlan] =
      if (!immutable)
        Try(spark.read.parquet(path).queryExecution.analyzed).toOption
      else Option(mvRelCache.get(path)).map(_.newInstance()).orElse {
        Try(spark.read.parquet(path).queryExecution.analyzed).toOption.map {
          case lr: LogicalRelation =>
            if (mvRelCache.size >= mvRelCacheLimit) mvRelCache.clear()
            mvRelCache.put(path, lr)
            lr.newInstance()
          case other => other
        }
      }

    /** Union branches may carry bare-attribute RENAME aliases in their
      * pushed-down projects (PullOutGroupingExpressions copies grouping
      * attrs under fresh exprIds and PushProjectionThroughUnion lands
      * them inside the branches): those are column-IDENTITY and safe
      * for by-name matching as long as each alias preserves its
      * column's name.
      *
      * COMPUTED aliases are admitted only when every branch computes
      * the SAME expression at the same output position (semantic
      * equality after rebasing attribute references by lower-cased
      * name onto branch 0's) — exactly the shape
      * PullOutGroupingExpressions + PushProjectionThroughUnion emit
      * for `GROUP BY f(key)` / `ROLLUP(f(key))` over a union: the
      * hoisted grouping alias lands inside every branch as one
      * identical computed projection, so derivations against branch 0
      * hold verbatim on every branch. A computed alias that differs
      * across branches, pairs with a bare column in another branch,
      * or is nondeterministic refuses (the shadowing class: a branch
      * whose `n_chars` is secretly `abs(n_chars)` must not fold into
      * a by-name measure match). */
    private def substAgrees(u: Union, shapes: Seq[Shape]): Boolean = {
      val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
      // per-branch: renames preserve their column's name; computed
      // aliases must be carriable (deterministic, aggregate- and
      // subquery-free — branch 0's get INLINED into the derivation)
      val perBranch = u.children.zip(shapes).forall { case (c, sh) =>
        sh.subst.forall { case (id, e) =>
          e match {
            case ar: AttributeReference =>
              c.output.find(_.exprId == id)
                .forall(o => lower(o.name) == lower(ar.name))
            case other => carriableGrouping(other)
          }
        }
      }
      // cross-branch: resolve every output position through its
      // branch's subst; computed positions must agree semantically
      def resolve(c: LogicalPlan, sh: Shape, p: Int): Expression = {
        val o = c.output(p)
        sh.subst.getOrElse(o.exprId, o)
      }
      perBranch && u.output.indices.forall { p =>
        resolve(u.children.head, shapes.head, p) match {
          case _: AttributeReference =>
            // positional NAME agreement is the callers' check; here a
            // computed alias under a bare column elsewhere refuses
            u.children.zip(shapes).forall { case (c, sh) =>
              resolve(c, sh, p).isInstanceOf[AttributeReference] }
          case e0 =>
            val pool = e0.references.toSeq
              .map(a => lower(a.name) -> a).toMap
            u.children.zip(shapes).drop(1).forall { case (c, sh) =>
              resolve(c, sh, p) match {
                case _: AttributeReference => false
                case ei =>
                  var ok = true
                  val rebased = ei.transform {
                    case a: AttributeReference =>
                      pool.get(lower(a.name)) match {
                        case Some(b) if b.dataType == a.dataType => b
                        case _ => ok = false; a
                      }
                  }
                  ok && rebased.semanticEquals(e0)
              }
            }
        }
      }
    }

    /** The STRICT variant: rename-only substs, no computed aliases at
      * all. The star-join fact-union path keeps this discipline — its
      * join conditions and aggregates reference the union's OUTPUT
      * attrs and are matched to artifact columns BY NAME without
      * inlining through a branch subst, so a computed alias (even a
      * cross-branch-identical one) could claim a real column's key or
      * partial. The flat and Expand union paths bridge union outputs
      * through branch-0's subst and use [[substAgrees]] instead. */
    private def renameOnlySubst(u: Union, shapes: Seq[Shape]): Boolean = {
      val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
      u.children.zip(shapes).forall { case (c, sh) =>
        sh.subst.forall { case (id, e) =>
          e match {
            case ar: AttributeReference =>
              c.output.find(_.exprId == id)
                .forall(o => lower(o.name) == lower(ar.name))
            case _ => false
          }
        }
      }
    }

    /** Whether a column name is a PARTIAL under the artifact naming
      * contract. Cross-branch (union) serving matches columns by name,
      * so each required name must be the SAME kind on every branch:
      * partial-named requirements must not be declared KEYS of a
      * branch's summary (a key column named `sum_x` would be served as
      * a partial — refuse the ambiguity), and non-partial requirements
      * must BE keys (the key-determined-value arguments hold per
      * branch only for that branch's own grouping columns). */
    private def isPartialName(n: String): Boolean =
      n == "cnt" || n.startsWith("sum_") || n.startsWith("cnt_") ||
        n.startsWith("min_") || n.startsWith("max_") ||
        n.startsWith("hist_") ||
        n.startsWith("sumx_") || n.startsWith("cntx_") ||
        n.startsWith("minx_") || n.startsWith("maxx_") ||
        HllSummary.NamePattern.pattern.matcher(n).matches()

    /** Branch-i acceptance for union serving: the candidate's artifact
      * carries every required column with exactly the reference type,
      * with the name-kind discipline above. */
    private def branchCarries(required: Seq[String],
        refTypes: Map[String, DataType],
        attrs: Map[String, Attribute], keys: Set[String]): Boolean =
      required.forall { nm =>
        attrs.get(nm).exists(_.dataType == refTypes(nm)) &&
          (if (isPartialName(nm)) !keys.contains(nm) else keys.contains(nm))
      }

    /** A grouping expression the rewrite can carry: deterministic,
      * aggregate- and subquery-free — its references are checked
      * against the candidate's keys later (per summary). */
    private[plans] def carriableGrouping(ge: Expression): Boolean =
      ge.deterministic &&
        !ge.exists(_.isInstanceOf[AggregateExpression]) &&
        !ge.exists(_.isInstanceOf[PlanExpression[_]])

    override def apply(plan: LogicalPlan): LogicalPlan = {
      // bound-catalog freshness: a long-lived consumer re-resolves the
      // newest committed cat=N per optimization pass (no-op volatile
      // read when nothing is bound; one driver-side listing when bound)
      refreshBoundCatalog(spark)
      plan transform {
      case agg @ Aggregate(groupExprs0, aggExprs0, child, hint) =>
        val direct = for {
          shape <- decompose(child)
          groupExprs = groupExprs0.map(inline(_, shape.subst))
          aggExprsO = aggExprs0.map(inlineNamed(_, shape.subst))
          if aggExprsO.forall(_.isDefined)
          aggExprs = aggExprsO.map(_.get)
          if groupExprs.forall(carriableGrouping)
          needed = (groupExprs.flatMap(_.references.toSeq.map(_.name)) ++
            shape.pred.toSeq.flatMap(_.references.toSeq.map(_.name))).toSet
          result <- candidates(shape, needed).view
            .flatMap { case (n, s) => tryRewrite(n, s, groupExprs,
              aggExprs, shape.pred, hint) }
            .headOption
        } yield result
        direct
          .orElse {
            val (below, subst) = stripProjects(child)
            below match {
              case j: Join =>
                val gs = groupExprs0.map(inline(_, subst))
                val asO = aggExprs0.map(inlineNamed(_, subst))
                if (asO.forall(_.isDefined))
                  tryJoinRewrite(gs, asO.map(_.get), j, hint)
                else None
              case ex: Expand =>
                tryExpandRewrite(groupExprs0, aggExprs0, ex, hint)
                  .orElse(multiHistExpandSplit(groupExprs0, aggExprs0,
                    ex, hint))
              case inner: Aggregate if subst.isEmpty =>
                tryDistinctHistRewrite(groupExprs0, aggExprs0, inner, hint)
              case un: Union =>
                val gs = groupExprs0.map(inline(_, subst))
                val asO = aggExprs0.map(inlineNamed(_, subst))
                if (asO.forall(_.isDefined))
                  tryUnionRewrite(gs, asO.map(_.get), un, hint)
                else None
              case _ => None
            }
          }
          .getOrElse(agg)
      }
    }

    /** The DOUBLE-AGGREGATION shape — `Aggregate(outer, Aggregate(inner,
      * Expand(fact)))`, what RewriteDistinctAggregates emits for
      * multi-distinct and mixed regular+distinct queries — with a
      * DISTINCT column that is a hist-carried MEASURE, not a key:
      * `count(DISTINCT m), count(*), sum(w)` where m rides `hist_m`.
      * The inner aggregate GROUPS BY the distinct column, so the
      * measure-position machinery cannot serve it; instead the
      * position becomes a HIST-VALUE grouping position — the kept
      * entry sources the exploded value, and grouping over entries
      * yields exactly the per-key distinct value set.
      *
      * This is sound ONLY with an audit of the OUTER aggregate,
      * because the rewritten inner's row set and regular-aggregate
      * values at the hist projections differ from the fact's in two
      * bounded ways: (a) a phantom (key, NULL-value) group can appear
      * (the OUTER explode's empty-map row) and the fact's own
      * null-value group can be missing (histograms carry non-null
      * values only); (b) regular partial values at hist-projection
      * groups are first-entry artifacts, not per-value aggregates
      * (sum(w) per distinct m value is not derivable from a histogram
      * at all). Both are invisible iff every outer aggregate is
      * gid-FILTERED and (for filters selecting a hist projection)
      * null-skipping over the hist value column alone — which is
      * precisely the shape RewriteDistinctAggregates emits:
      * `First(regular_result) FILTER (gid = 0)` and
      * `Count/Sum/Avg/Min/Max(value_col) FILTER (gid = k)`. The audit
      * verifies exactly that, names the positions the inner rewrite
      * may serve via histogram ([[tryExpandRewrite]]'s `allowedHist`),
      * and refuses anything else — an unfiltered outer aggregate, a
      * filter mixing consumers, a hist value in the outer GROUP BY. */
    /** Flatten an Expand-over-Expand STACK into one equivalent Expand:
      * each (outer projection, inner projection) pair composes by
      * substituting the inner projection's entry for every reference
      * to the inner Expand's output. This is the shape
      * RewriteDistinctAggregates leaves when the aggregate it rewrites
      * sits over a native ROLLUP/CUBE Expand — the multi-distinct
      * Expand stacks ON TOP of the lattice Expand — and it is exactly
      * row-equivalent: the stack emits one row per (fact row, inner
      * projection, outer projection) and so does the composition. The
      * composed projection count is (lattice sets × distinct groups) —
      * bounded by the query text, never by the data. Flattening
      * grounds the grouping-sets uniques-pair matrix (`ROLLUP(k) +
      * count(DISTINCT x), count(DISTINCT y)`) on the proven
      * single-Expand machinery: the lattice gid rides as a kept
      * literal position, the distinct discriminator stays the audit's
      * gid, and the per-measure split prunes composed projections by
      * discriminator exactly like flat ones. */
    private def composeExpands(e: Expand): Expand = e.child match {
      case innerEx: Expand =>
        val innerPos = innerEx.output.map(_.exprId).zipWithIndex.toMap
        val composed = for {
          ip <- innerEx.projections
          op <- e.projections
        } yield op.map(_.transform {
          case a: AttributeReference if innerPos.contains(a.exprId) =>
            ip(innerPos(a.exprId))
        })
        composeExpands(Expand(composed.map(_.toIndexedSeq).toIndexedSeq,
          e.output, innerEx.child))
      case _ => e
    }

    private def tryDistinctHistRewrite(outerGroup: Seq[Expression],
        outerAggs: Seq[NamedExpression], inner: Aggregate,
        hint: Option[AggregateHint]): Option[LogicalPlan] = {
      val ex = inner.child match {
        case e: Expand => composeExpands(e)
        case _ => return None
      }
      val Expand(projections, output, _) = ex
      if (projections.isEmpty) return None
      // inner outputs: grouping pass-throughs (bare Expand attrs) vs
      // aggregate results
      val innerGroupOuts = inner.aggregateExpressions.collect {
        case a: Attribute => a
      }
      val posOf = output.map(_.exprId).zipWithIndex.toMap
      if (!innerGroupOuts.forall(o => posOf.contains(o.exprId)))
        return None
      // the gid column: an all-int-literal Expand position the inner
      // groups by — the grouping-set discriminator every outer filter
      // keys on
      def intLit(e: Expression): Option[Long] = e match {
        case Literal(v: Int, IntegerType) => Some(v.toLong)
        case Literal(v: Long, LongType) => Some(v)
        case _ => None
      }
      val gidCands = innerGroupOuts.filter { o =>
        projections.forall(p => intLit(p(posOf(o.exprId))).isDefined)
      }
      // outer aggregates: every one must carry EqualTo(gid, lit) —
      // collect (agg, gid value); bare grouping pass-throughs are fine
      val outerAes = outerAggs.flatMap(_.collect {
        case ae: AggregateExpression => ae
      })
      if (outerAes.isEmpty) return None
      val gidOpt = gidCands.find(g =>
        outerAes.forall(_.filter.exists {
          case EqualTo(a: AttributeReference, l) =>
            a.exprId == g.exprId && intLit(l).isDefined
          case EqualTo(l, a: AttributeReference) =>
            a.exprId == g.exprId && intLit(l).isDefined
          case _ => false
        }))
      val gid = gidOpt.getOrElse(return None)
      val gidPos = posOf(gid.exprId)
      def gidOf(j: Int): Long = intLit(projections(j)(gidPos)).get
      def filterGid(ae: AggregateExpression): Long = ae.filter.get match {
        case EqualTo(_: AttributeReference, l) => intLit(l).get
        case EqualTo(l, _) => intLit(l).get
      }
      // live projections per inner grouping output
      def live(o: Attribute): Set[Int] =
        projections.indices.filter(j =>
          projections(j)(posOf(o.exprId))
            .isInstanceOf[AttributeReference]).toSet
      val outerGroupRefs = AttributeSet(
        outerGroup.flatMap(_.references.toSeq))
      // a grouping output may serve via HISTOGRAM iff: never in the
      // outer GROUP BY, and every outer aggregate whose filter selects
      // one of its live projections is null-skipping over THAT column
      // alone (phantom/missing null-value groups and bogus regular
      // values at those projections are then provably invisible)
      def nullSkipping(fn: AggregateFunction): Boolean = fn match {
        case c: Count => c.children.nonEmpty
        case _: Sum | _: Average | _: Min | _: Max => true
        case _: HyperLogLogPlusPlus => true
        case _ => false
      }
      val allowedHist = AttributeSet(innerGroupOuts.filter { o =>
        o.exprId != gid.exprId && !outerGroupRefs.contains(o) && {
          val lv = live(o)
          outerAes.forall { ae =>
            val sel = projections.indices
              .filter(j => gidOf(j) == filterGid(ae)).toSet
            sel.intersect(lv).isEmpty || (
              nullSkipping(ae.aggregateFunction) && !ae.isDistinct &&
                ae.aggregateFunction.references.toSeq
                  .forall(_.exprId == o.exprId) &&
                ae.aggregateFunction.references.nonEmpty)
          }
        }
      }.toSeq)
      if (allowedHist.isEmpty) return None
      tryExpandRewrite(inner.groupingExpressions,
        inner.aggregateExpressions, ex, inner.hint, allowedHist)
        .map { newInner =>
          note("double-aggregation (distinct over a hist measure) " +
            "SERVED — inner Expand rewritten, outer audit passed")
          Aggregate(outerGroup, outerAggs, newInner, hint)
        }
        .orElse(multiDistinctSplit(outerGroup, outerAggs, inner, ex,
          allowedHist, hint, gidOf, filterGid, live))
    }

    /** TWO-histogram serving under native ROLLUP/CUBE — `median(x),
      * median(y)` with subtotal rows: ONE explosion per rewritten
      * Expand is the law, so the lattice splits per measure exactly
      * like the flat path ([[multiHistRewrite]]): each base measure's
      * outputs rewrite through their OWN [[tryExpandRewrite]] over an
      * Expand pruned to the positions that side consumes (an
      * unreferenced measure position would misclassify as a key), and
      * the per-measure lattice Aggregates join back on NULL-SAFE
      * grouping values — which include the grouping_id, so every
      * grouping SET row pairs with its twin and only its twin. The
      * group sets agree across sides (same projections over the same
      * artifact rows), so the join is a bijection. Side 0 carries the
      * measure-free outputs (grouping pass-throughs, COUNT(*)). An
      * output spanning two measures refuses. Composes with the
      * union-of-epochs child — each side's Expand rewrite unions its
      * own per-branch artifact scans. */
    /** Join hint for the per-measure serve sides: both sides aggregate
      * the same artifact rows under the same grouping, so each side is
      * summary-GROUP-sized by construction. Pinning BROADCAST on the
      * right side makes that size argument a plan property instead of
      * prose: a stats regression (or a disabled AQE) can never
      * silently degrade the serve path to a shuffled sort-merge join. */
    private val broadcastRight =
      JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))

    /** The pin above is applied per-join through this guard: BROADCAST
      * only when the build side is PROVABLY small. "Summary-group-
      * sized" is bounded by the QUERY's group count, which is
      * unbounded when the grouping is a high-cardinality summary key
      * (GROUP BY o_custkey is a legal registration) — and a forced
      * broadcast of a large side is an availability cliff at scale
      * (512M-row/8 GB broadcast limits, driver memory), not a perf
      * win. The proof uses the side's LEAF bytes — actual artifact/dim
      * file sizes, not derived estimates (Catalyst's default join
      * stats are the PRODUCT of child sizes, which would reject every
      * star side): the aggregated side's groups are distinct tuples of
      * columns drawn from those leaves, and with every input leaf
      * under the bound the aggregate output is of the same small
      * magnitude — while the failure mode (a multi-hundred-MB artifact
      * or dim supplying the grouping) trips the leaf sum directly.
      * When withheld the join carries NO hint: stats/AQE pick the
      * strategy, results identical, the plan just may shuffle — noted
      * for [[explainServing]]. The bound floors at 64 MB even when the
      * session disables auto-broadcast: a provably-small side is safe
      * to broadcast, and the serve gates' plan-shape guarantees stay
      * intact. */
    private def sideJoinHint(r: LogicalPlan): JoinHint = {
      val leafBytes = scala.util.Try(
        r.collectLeaves().map(_.stats.sizeInBytes).sum).toOption
      val bound = BigInt(math.max(
        spark.sessionState.conf.autoBroadcastJoinThreshold,
        64L * 1024 * 1024))
      if (leafBytes.exists(b => b >= 0 && b <= bound)) broadcastRight
      else {
        note("per-measure side join: BROADCAST withheld — side leaf " +
          s"bytes ${leafBytes.getOrElse(BigInt(-1))} exceed the " +
          s"$bound B bound (high-cardinality grouping source); " +
          "stats/AQE pick the join strategy")
        JoinHint.NONE
      }
    }

    private def multiHistExpandSplit(groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression], expand: Expand,
        hint: Option[AggregateHint]): Option[LogicalPlan] = {
      val Expand(projections, output, child) = expand
      if (projections.isEmpty) return None
      val posOf = output.map(_.exprId).zipWithIndex.toMap
      def baseOf(o: Attribute): Option[String] = {
        val ents = projections.map(_(posOf(o.exprId)))
        ents.collect { case a: AttributeReference => a.name }
          .distinct match {
          case Seq(one)
              if ents.forall(e => e.isInstanceOf[AttributeReference] ||
                (e.foldable && e.eval() == null)) => Some(one)
          case _ => None
        }
      }
      // measure-like positions: single-base entries consumed ONLY
      // inside aggregate functions (mirrors the classifier)
      val aggFuncRefs = AttributeSet(aggExprs.flatMap(_.collect {
        case ae: AggregateExpression => ae.references.toSeq
      }.flatten))
      val nonAggRefs = AttributeSet(
        groupExprs.flatMap(_.references.toSeq) ++
          aggExprs.flatMap(e =>
            e.transform { case _: AggregateExpression => Literal(null) }
              .references.toSeq))
      val measureBaseOf: Map[ExprId, String] = output.collect {
        case o if aggFuncRefs.contains(o) && !nonAggRefs.contains(o) &&
            baseOf(o).isDefined => o.exprId -> baseOf(o).get
      }.toMap
      val assigns: Seq[Set[String]] = aggExprs.map { ne =>
        ne.collect { case ae: AggregateExpression =>
          ae.references.toSeq
        }.flatten.flatMap(r => measureBaseOf.get(r.exprId)).toSet
      }
      val bases = assigns.flatten.distinct.sorted
      if (bases.size < 2) return None
      // composed GLUE across measures under the lattice —
      // `median(x) + median(y)` in one output WITH subtotal rows: the
      // output splits into its embedded aggregates, each rides ITS
      // measure's lattice side under a fresh name, and the glue
      // re-evaluates above the join (exact: embedded aggregates are
      // unchanged and the join is a bijection on the grouping values,
      // grouping_id included). An embedded aggregate itself spanning
      // two measures, bare non-aggregate references, or
      // nondeterminism refuse.
      var pieceSeq = 0
      val assign: Seq[Option[Either[Set[String],
          Seq[(AggregateExpression, Set[String], Alias)]]]] =
        aggExprs.zip(assigns).map { case (ne, bs) =>
          if (bs.size <= 1) Some(scala.util.Left(bs))
          else {
            val aes = ne.collect { case ae: AggregateExpression => ae }
            val bare = ne.transform {
              case _: AggregateExpression => Literal(null)
            }.references
            if (aes.isEmpty || bare.nonEmpty || !ne.deterministic ||
                ne.exists(_.isInstanceOf[PlanExpression[_]])) None
            else sequence(aes.map { ae =>
              val s = ae.references.toSeq
                .flatMap(r => measureBaseOf.get(r.exprId)).toSet
              if (s.size > 1) None else Some(s)
            }).map { sides =>
              scala.util.Right(aes.zip(sides).map { case (ae, s) =>
                pieceSeq += 1
                (ae, s, Alias(ae, s"__mhx_ae_$pieceSeq")())
              })
            }
          }
        }
      if (assign.exists(_.isEmpty)) {
        note("expand split: a glue output embeds an aggregate spanning " +
          "two measures (or bare references) — refusing")
        return None
      }
      val flatAssign = assign.map(_.get)
      val sideOuts: Seq[(String, Seq[NamedExpression])] =
        bases.zipWithIndex.map { case (b, i) =>
          b -> aggExprs.zip(flatAssign).flatMap {
            case (ne, scala.util.Left(s))
                if s == Set(b) || (i == 0 && s.isEmpty) => Seq(ne)
            case (_, scala.util.Right(ps)) => ps.collect {
              case (_, s, al) if s == Set(b) || (i == 0 && s.isEmpty) => al
            }
            case _ => Seq.empty
          }
        }
      def buildSide(outs: Seq[NamedExpression], freshIds: Boolean)
          : Option[(Aggregate, Seq[Attribute])] = {
        val childPrep: Option[(LogicalPlan, Map[ExprId, Attribute])] =
          if (!freshIds || !child.exists(_.isInstanceOf[Join]))
            Some((child, Map.empty[ExprId, Attribute]))
          else freshDimCopy(child)
        if (childPrep.isEmpty) return None
        val (child2, childMap) = childPrep.get
        // child-copy ids win on pass-through positions (see the
        // multi-distinct split's identical note)
        val idMap: Map[ExprId, AttributeReference] =
          if (!freshIds) Map.empty
          else output.filterNot(a => childMap.contains(a.exprId))
            .map(a => a.exprId ->
              AttributeReference(a.name, a.dataType, nullable = true)()
            ).toMap
        def rex(e: Expression): Expression = {
          val e1 = if (idMap.isEmpty) e else e.transformUp {
            case a: AttributeReference if idMap.contains(a.exprId) =>
              idMap(a.exprId)
          }
          if (childMap.isEmpty) e1 else e1.transformUp {
            case a: AttributeReference if childMap.contains(a.exprId) =>
              childMap(a.exprId)
          }
        }
        val refIds = AttributeSet(outs.flatMap(_.references.toSeq) ++
          groupExprs.flatMap(_.references.toSeq))
        // keep referenced positions + literal (gid) positions; prune
        // the other measures' positions
        val keepPos = output.indices.filter(i =>
          refIds.contains(output(i)) ||
            projections.forall(p => p(i).foldable))
        val exOutput = keepPos
          .map(i => rex(output(i)).asInstanceOf[Attribute])
        val exProjections = projections.map(p =>
          keepPos.map(i => rex(p(i))).toIndexedSeq)
        val groupVals = groupExprs.zipWithIndex.map { case (g, j) =>
          Alias(rex(g), s"__mhx_g$j")()
        }
        tryExpandRewrite(groupExprs.map(rex),
          outs.map(ne => rex(ne).asInstanceOf[NamedExpression]) ++
            groupVals,
          Expand(exProjections.toIndexedSeq, exOutput, child2), hint)
          .map(agg => (agg, groupVals.map(_.toAttribute)))
      }
      val sides = sideOuts.zipWithIndex.map { case ((_, outs), i) =>
        buildSide(outs, freshIds = i > 0)
      }
      if (sides.exists(_.isEmpty)) return None
      val joined = sides.map(_.get).reduceLeft[(LogicalPlan,
          Seq[Attribute])] { case ((l, lg), (r, rg)) =>
        val cond = lg.zip(rg).map { case (a, b) =>
          EqualNullSafe(a, b): Expression
        }.reduceOption(And)
        (Join(l, r, if (cond.isEmpty) Cross else Inner, cond,
          sideJoinHint(r)), lg)
      }._1
      val byId: Map[ExprId, Attribute] = sides.flatMap(
        _.get._1.aggregateExpressions.map(_.toAttribute))
        .map(a => a.exprId -> a).toMap
      val projected: Seq[Option[NamedExpression]] =
        aggExprs.zip(flatAssign).map {
          case (ne, scala.util.Left(_)) => byId.get(ne.exprId)
          case (ne, scala.util.Right(ps)) =>
            if (!ps.forall(p => byId.contains(p._3.exprId))) None
            else {
              val glued = ne.transform {
                case ae: AggregateExpression =>
                  ps.find(_._1 eq ae).map(p => byId(p._3.exprId))
                    .getOrElse(ae)
              }
              Some(Alias(glued, ne.name)(exprId = ne.exprId))
            }
        }
      if (projected.exists(_.isEmpty)) return None
      note(s"rollup/cube aggregate SERVED via ${bases.size} " +
        "per-measure lattice sides joined on the grouping values")
      Some(Project(projected.map(_.get), joined))
    }

    /** TWO-DISTINCT-MEASURE serving — `count(DISTINCT m),
      * count(DISTINCT w)` (plus regulars) in one aggregate:
      * RewriteDistinctAggregates emits a double aggregation whose
      * inner groups by BOTH hist-value positions, and one explosion
      * cannot source two value sets without cross-producting the
      * entries. The split runs the PROVEN single-measure rewrite once
      * PER measure — each side keeps only the grouping-set projections
      * its outputs' gid filters select (plus the regular gid-0 set
      * when referenced), prunes the inner outputs to what its outer
      * outputs consume, and explodes exactly ONE histogram — then
      * joins the per-measure outer aggregates back on NULL-SAFE
      * grouping values. Exactness: subsetting projections only removes
      * gid groups whose rows every side output FILTERs away anyway
      * (the audit already proved every outer aggregate is
      * gid-filtered), the outer group set (distinct grouping values)
      * is identical on every side (every projection carries every
      * summary row's keys), so the inner `<=>` join is a bijection.
      * Non-first sides are rebuilt under FRESH expression ids (the
      * sides would otherwise share the original Expand/inner ids).
      * Outputs whose inner references span TWO measures (composed
      * glue) refuse — the sides cannot split them. */
    private def multiDistinctSplit(outerGroup: Seq[Expression],
        outerAggs: Seq[NamedExpression], inner: Aggregate, ex: Expand,
        allowedHist: AttributeSet, hint: Option[AggregateHint],
        gidOf: Int => Long,
        filterGid: AggregateExpression => Long,
        live: Attribute => Set[Int]): Option[LogicalPlan] = {
      val Expand(projections, output, child) = ex
      if (allowedHist.size < 2) return None
      val posOf = output.map(_.exprId).zipWithIndex.toMap
      // BASE fact column behind an Expand position (the single attr
      // its entries carry) — the side identity of a measure
      def baseOf(o: Attribute): Option[String] = {
        val ents = projections.map(_(posOf(o.exprId)))
        ents.collect { case a: AttributeReference => a.name }
          .distinct match {
          case Seq(one)
              if ents.forall(e => e.isInstanceOf[AttributeReference] ||
                (e.foldable && e.eval() == null)) => Some(one)
          case _ => None
        }
      }
      // inner output → base measure it touches (None = measure-free)
      val innerByIdAttr = inner.aggregateExpressions
        .map(ne => ne.toAttribute.exprId -> ne).toMap
      def innerBases(ne: NamedExpression): Option[Set[String]] = ne match {
        case a: Attribute if posOf.contains(a.exprId) =>
          if (allowedHist.contains(a)) baseOf(a).map(Set(_))
          else Some(Set.empty)
        case _ =>
          val refs = ne.collect {
            case ae: AggregateExpression => ae.references.toSeq
          }.flatten
          val bs = refs.flatMap { r =>
            output.find(_.exprId == r.exprId) match {
              case Some(o) => Seq(baseOf(o))
              case None => Seq.empty // gid or non-position ref
            }
          }
          if (bs.exists(_.isEmpty)) None
          else Some(bs.flatten.toSet)
      }
      // assign each OUTER output to at most one base measure via the
      // inner outputs it references
      val assigns: Seq[Option[Set[String]]] = outerAggs.map { ne =>
        val innerRefs = ne.references.toSeq
          .flatMap(r => innerByIdAttr.get(r.exprId))
        val bs = innerRefs.map(innerBases)
        if (bs.exists(_.isEmpty)) None else Some(bs.flatten.flatten.toSet)
      }
      if (assigns.exists(_.isEmpty)) return None
      // bases that must be served via a HISTOGRAM side: those of the
      // hist-value grouping positions (the distinct measures)
      val histBases = allowedHist.toSeq.flatMap(baseOf).distinct.sorted
      if (histBases.size < 2) return None
      val perOut = assigns.map(_.get.intersect(histBases.toSet))
      // composed GLUE across distinct measures — `count(DISTINCT x) −
      // count(DISTINCT y)` in one output: the output splits into its
      // embedded aggregates, each becomes a fresh-named output on ITS
      // measure's side, and the glue re-evaluates above the join (the
      // multiHistRewrite discipline; exact because each embedded
      // aggregate is unchanged and the join is a bijection on the
      // grouping values). An embedded aggregate itself spanning two
      // measures, bare non-aggregate references in the glue, or
      // nondeterminism refuse.
      var pieceSeq = 0
      val assign: Seq[Option[Either[Set[String],
          Seq[(AggregateExpression, Set[String], Alias)]]]] =
        outerAggs.zip(perOut).map { case (ne, bs) =>
          if (bs.size <= 1) Some(scala.util.Left(bs))
          else {
            val aes = ne.collect { case ae: AggregateExpression => ae }
            val bare = ne.transform {
              case _: AggregateExpression => Literal(null)
            }.references
            if (aes.isEmpty || bare.nonEmpty || !ne.deterministic ||
                ne.exists(_.isInstanceOf[PlanExpression[_]])) None
            else sequence(aes.map { ae =>
              val abs = ae.references.toSeq
                .flatMap(r => innerByIdAttr.get(r.exprId)).map(innerBases)
              if (abs.exists(_.isEmpty)) None
              else {
                val s = abs.flatten.flatten.toSet
                  .intersect(histBases.toSet)
                if (s.size > 1) None else Some(s)
              }
            }).map { sides =>
              scala.util.Right(aes.zip(sides).map { case (ae, s) =>
                pieceSeq += 1
                (ae, s, Alias(ae, s"__md_ae_$pieceSeq")())
              })
            }
          }
        }
      if (assign.exists(_.isEmpty)) {
        note("multi-distinct split: a glue output embeds an aggregate " +
          "spanning two distinct measures (or bare references) — " +
          "refusing")
        return None
      }
      val flatAssign = assign.map(_.get)
      val sideBases: Seq[String] = histBases
      // side 0 carries the measure-free outputs too
      val sideOuts: Seq[Seq[NamedExpression]] = sideBases.zipWithIndex
        .map { case (b, i) =>
          outerAggs.zip(flatAssign).flatMap {
            case (ne, scala.util.Left(bs))
                if bs == Set(b) || (i == 0 && bs.isEmpty) => Seq(ne)
            case (_, scala.util.Right(ps)) => ps.collect {
              case (_, s, al) if s == Set(b) || (i == 0 && s.isEmpty) => al
            }
            case _ => Seq.empty
          }
        }
      if (sideOuts.exists(_.isEmpty)) return None
      val conflictIds: Seq[Attribute] =
        output ++ inner.aggregateExpressions.map(_.toAttribute)
      def buildSide(b: String, outs: Seq[NamedExpression],
          freshIds: Boolean): Option[(Aggregate, Seq[Attribute])] = {
        // a JOIN child is shared verbatim across sides — its dim
        // subtree's exprIds would collide across the side join, so
        // fresh sides take a FRESH-id copy of the whole child
        // ([[freshDimCopy]]): the fact side is replaced by the
        // artifact scan anyway (its remap is by NAME, id-agnostic),
        // and a child minting its own exprIds refuses the copy
        val childPrep: Option[(LogicalPlan, Map[ExprId, Attribute])] =
          if (!freshIds || !child.exists(_.isInstanceOf[Join]))
            Some((child, Map.empty[ExprId, Attribute]))
          else freshDimCopy(child)
        if (childPrep.isEmpty) return None
        val (child2, childMap) = childPrep.get
        // pass-through grouping attrs are BOTH Expand outputs and
        // child outputs — the child copy's fresh id must win there,
        // or the side's projections would reference an attr the fresh
        // child no longer produces
        val idMap: Map[ExprId, AttributeReference] =
          if (!freshIds) Map.empty
          else conflictIds.filterNot(a => childMap.contains(a.exprId))
            .map(a => a.exprId ->
              AttributeReference(a.name, a.dataType, nullable = true)()
            ).toMap
        def rex(e: Expression): Expression = {
          val e1 = if (idMap.isEmpty) e else e.transformUp {
            case a: AttributeReference if idMap.contains(a.exprId) =>
              idMap(a.exprId)
            case al: Alias if idMap.contains(al.exprId) =>
              Alias(al.child, al.name)(exprId = idMap(al.exprId).exprId)
          }
          if (childMap.isEmpty) e1 else e1.transformUp {
            case a: AttributeReference if childMap.contains(a.exprId) =>
              childMap(a.exprId)
          }
        }
        // grouping-set projections this side's outputs actually read
        val gids = outs.flatMap(_.collect {
          case ae: AggregateExpression => filterGid(ae)
        }).toSet
        val projIdx = projections.indices.filter(j => gids(gidOf(j)))
        if (projIdx.isEmpty) return None
        // inner outputs this side consumes
        val refIds = AttributeSet(outs.flatMap(_.references.toSeq) ++
          outerGroup.flatMap(_.references.toSeq))
        val innerKept = inner.aggregateExpressions.filter(ne =>
          refIds.contains(ne.toAttribute))
        if (innerKept.isEmpty) return None
        // Expand positions still referenced by the pruned inner — an
        // unreferenced measure position would misclassify as a key
        val usedPos = AttributeSet(
          inner.groupingExpressions.flatMap(_.references.toSeq) ++
            innerKept.flatMap(_.references.toSeq))
        val keepPos = output.indices.filter(i => usedPos.contains(output(i)))
        val exOutput = keepPos
          .map(i => rex(output(i)).asInstanceOf[Attribute])
        val exProjections = projIdx.map(j =>
          keepPos.map(i => rex(projections(j)(i))))
        val innerGroup2 = inner.groupingExpressions.map(rex)
        val innerAggs2 = innerKept
          .map(ne => rex(ne).asInstanceOf[NamedExpression])
        val allowed2 = AttributeSet(allowedHist.toSeq
          .filter(h => baseOf(h).contains(b))
          .map(h => rex(h).asInstanceOf[Attribute]))
        tryExpandRewrite(innerGroup2, innerAggs2,
          Expand(exProjections.map(_.toIndexedSeq).toIndexedSeq,
            exOutput, child2), inner.hint, allowed2)
          .map { newInner =>
            val groupVals = outerGroup.zipWithIndex.map { case (g, j) =>
              Alias(rex(g), s"__md_g$j")()
            }
            val outs2 = outs.map(ne => rex(ne).asInstanceOf[NamedExpression])
            (Aggregate(outerGroup.map(rex), outs2 ++ groupVals,
              newInner, hint), groupVals.map(_.toAttribute))
          }
      }
      val sides = sideBases.zip(sideOuts).zipWithIndex.map {
        case ((b, outs), i) => buildSide(b, outs, freshIds = i > 0)
      }
      if (sides.exists(_.isEmpty)) {
        note("multi-distinct split: side(s) " +
          sideBases.zip(sides).collect { case (b, None) => b }
            .mkString(", ") + " failed to build — refusing")
        return None
      }
      val joined = sides.map(_.get).reduceLeft[(LogicalPlan,
          Seq[Attribute])] { case ((l, lg), (r, rg)) =>
        val cond = lg.zip(rg).map { case (a, bb) =>
          EqualNullSafe(a, bb): Expression
        }.reduceOption(And)
        (Join(l, r, if (cond.isEmpty) Cross else Inner, cond,
          sideJoinHint(r)), lg)
      }._1
      val byId: Map[ExprId, Attribute] = sides.flatMap(
        _.get._1.aggregateExpressions.map(_.toAttribute))
        .map(a => a.exprId -> a).toMap
      val projected: Seq[Option[NamedExpression]] =
        outerAggs.zip(flatAssign).map {
          case (ne, scala.util.Left(_)) => byId.get(ne.exprId)
          case (ne, scala.util.Right(ps)) =>
            if (!ps.forall(p => byId.contains(p._3.exprId))) None
            else {
              // re-evaluate the glue above the join: each embedded
              // aggregate occurrence swaps for its side's attribute
              // (node identity — the pieces were collected from this
              // very tree)
              val glued = ne.transform {
                case ae: AggregateExpression =>
                  ps.find(_._1 eq ae).map(p => byId(p._3.exprId))
                    .getOrElse(ae)
              }
              Some(Alias(glued, ne.name)(exprId = ne.exprId))
            }
        }
      if (projected.exists(_.isEmpty)) return None
      note(s"double-aggregation over ${sideBases.size} distinct " +
        "MEASURES SERVED — per-measure sides joined on the grouping " +
        "values")
      Some(Project(projected.map(_.get), joined))
    }

    /** NATIVE ROLLUP / CUBE / GROUPING SETS rewrite — `Aggregate(keys +
      * grouping_id, aggs, Expand(projections, fact))` is served from
      * the summary by replacing the Expand's child with the summary
      * scan and its measure pass-throughs with PARTIAL columns: each
      * summary row expands into every grouping set exactly like its
      * cnt fact rows would, and per set the re-aggregation is the same
      * monoid fold the plain rewrite rides — so the whole lattice
      * costs sets × summary-rows instead of sets × corpus (the Expand
      * multiplies the SCAN at 100 TB; here it multiplies kilobytes).
      * This serves the real `GROUP BY ROLLUP(...)` shape natively —
      * q261's union-of-aggregates composition stays as the manual
      * alternative, this rule catches what users actually write.
      *
      * Position discipline (refuse anything else): each Expand output
      * column is (a) a LITERAL position (the grouping_id — all entries
      * foldable, kept verbatim), (b) a KEY position (entries are one
      * attribute or null-literals; the attribute — inlined through
      * hoisted aliases, so ROLLUP over f(key) coarsenings compose —
      * must reference only summary keys; entries remapped onto the
      * summary, output attr kept so the Aggregate above is untouched),
      * or (c) a MEASURE position (entries one attribute or
      * null-literals, referenced only inside aggregate functions;
      * replaced by fresh partial columns carrying the attribute's
      * per-projection NULL MASK — non-null exactly in the projections
      * the original measure was, so the per-group aggregation sees the
      * same row multiset collapsed; one partial per (column, position),
      * so `sum(x)` and `min(x)` over the same column never collide).
      * The mask is what makes RewriteDistinctAggregates' MIXED shape
      * (`count(distinct a), count(*), sum(x)` — regular measures live
      * only in the gid-0 projection) servable alongside the pure
      * ROLLUP shape (measures in every projection). Aggregates derive
      * exactly like the direct path: COUNT(*) → Σcnt (coalesced),
      * COUNT(col) → Σcnt_col, SUM → Σsum_ (integral partials only),
      * MIN/MAX → min_/max_, AVG → Σsum_/Σcnt_col (Long); the exact
      * DISTINCT family (count/sum/avg DISTINCT) serves over keys and
      * over hist-carried measures (the exploded entry values are each
      * grouping set's exact distinct multiset — `ROLLUP(k) +
      * count(DISTINCT m)`, the grouping-sets uniques matrix, reads
      * kilobytes); filtered distinct and distinct over uncarried
      * measures refuse. Key-only Filters below the Expand push onto
      * the summary scan like everywhere else. */
    private def tryExpandRewrite(groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression], expand: Expand,
        hint: Option[AggregateHint],
        allowedHist: AttributeSet = AttributeSet.empty): Option[Aggregate] = {
      val Expand(projections, output, child) = expand
      if (projections.isEmpty) return None
      // the Expand's fact may itself be a UNION of registered facts
      // (ROLLUP over a multi-epoch corpus): classify and derive
      // against branch 0's artifact, then substitute a union of
      // per-branch canonical scans for the fact (the tryUnionRewrite
      // discipline: positional names, cross-branch-identical aliases,
      // one uncovered epoch refuses everything). `ROLLUP(year(ts))`
      // lands here with the hoisted grouping alias pushed INTO the
      // union branches by the optimizer — [[substAgrees]] admits it
      // when every branch computes the same expression, and the
      // keyPos classifier then inlines it through branch 0's subst
      // like any direct-path coarsening.
      val unionOpt: Option[(Union, Seq[Shape])] = child match {
        case u: Union if !u.byName && u.children.size >= 2 =>
          val shapesOpt = u.children.map(decompose)
          if (shapesOpt.exists(_.isEmpty)) return None
          val shapes = shapesOpt.map(_.get)
          if (!substAgrees(u, shapes)) return None
          val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
          if (!u.children.forall(c =>
              c.output.map(a => lower(a.name)) ==
                u.output.map(a => lower(a.name)))) return None
          Some((u, shapes))
        case _ => None
      }
      // ... or a STAR JOIN: the double-aggregation's Expand sits over
      // the Join when a dashboard counts uniques per DIM attribute.
      // Peel ONE fact-preserved dim level (snowflakes refuse — note,
      // not silently), classify fact positions against the fact side's
      // shape, keep dim positions verbatim (inlined through the
      // stripped Projects), and rebuild the join around the filtered
      // artifact scan. The explosion then lands ABOVE the join, which
      // is row-equivalent to under it: each joined row explodes its
      // own (constant-per-summary-row) histogram, so entries replicate
      // per dim match exactly like the fact rows they stand for — the
      // single-hist star path's multiplicity argument. Join conditions'
      // fact attributes ride `needed`, so they must be summary KEYS
      // (joining on a collapsed measure cannot serve).
      type Flattening = (List[DimLevel], Shape, AttributeSet,
        AttributeSet, Map[ExprId, Expression],
        Option[(Union, Seq[Shape])])
      val joinAlternatives: LazyList[Flattening] =
        if (unionOpt.isDefined) LazyList.empty
        else {
          // peel a fact-preserved dim TOWER (snowflakes compose like
          // tryJoinRewrite's peel): descend the fact side of each
          // join, collecting dim levels innermost-LAST; the final
          // fact must decompose to a REGISTERED fact (cheap registry
          // match — no artifact IO). At each Inner join BOTH
          // orientations are enumerated LAZILY (left-first): a join of
          // TWO registered facts serves from whichever side's
          // artifact derives the query — the left-first leaf merely
          // getting a registry hit no longer pins a flattening whose
          // rewrite then refuses (the non-expanded peel's behavior,
          // now here too). Bounded: ≤ 2^MaxStarDepth candidate
          // flattenings, each costing a registry match until
          // attempted. Every conjunct must be (final-fact attr =
          // other attr) — the fact attr lands in `needed`, so it must
          // be a summary KEY — or a deterministic residual never
          // touching the final fact (dim-dim snowflake links,
          // dim-local predicates), validated once the final fact is
          // known.
          def peelTower(p: LogicalPlan, depth: Int)
              : LazyList[(Shape, AttributeSet, List[DimLevel],
                Map[ExprId, Expression],
                Option[(Union, Seq[Shape])])] = {
            val (below, ps) = stripProjects(p)
            below match {
              case Join(l, r, jt, Some(cond), jh) if depth > 0 =>
                val orients = jt match {
                  case Inner => Seq((l, r, true), (r, l, false))
                  case LeftOuter => Seq((l, r, true))
                  case RightOuter => Seq((r, l, false))
                  case _ => Seq.empty
                }
                LazyList.from(orients).flatMap { case (fs, ds, fol) =>
                  peelTower(fs, depth - 1).map {
                    case (sh, fo, dims, sub, lu) =>
                      (sh, fo, dims :+ DimLevel(ds, jt, cond, fol, jh),
                        sub ++ ps, lu)
                  }
                }
              case u: Union if !u.byName && u.children.size >= 2 =>
                // multi-epoch star under the Expand: the fact leaf is
                // a UNION of registered facts — tryJoinRewrite's
                // strict rename-only discipline, branch 0's shape
                // anchors classification, the child builder unions
                // per-branch canonical scans (hybrid partialization
                // included) under the rebuilt dim tower
                val shapesOpt = u.children.map(decompose)
                if (shapesOpt.exists(_.isEmpty)) LazyList.empty
                else {
                  val shapes = shapesOpt.map(_.get)
                  val lower = (x: String) =>
                    x.toLowerCase(java.util.Locale.ROOT)
                  if (renameOnlySubst(u, shapes) &&
                      u.children.forall(c =>
                        c.output.map(a => lower(a.name)) ==
                          u.output.map(a => lower(a.name))) &&
                      candidates(shapes.head, Set.empty).nonEmpty)
                    LazyList((shapes.head, u.outputSet,
                      List.empty[DimLevel], ps, Some((u, shapes))))
                  else LazyList.empty
                }
              case _ =>
                LazyList.from(decompose(below)
                  .filter(sh => candidates(sh, Set.empty).nonEmpty)
                  .map(sh => (sh, below.outputSet,
                    List.empty[DimLevel], ps, None)))
            }
          }
          val (below0, _) = stripProjects(child)
          if (!below0.isInstanceOf[Join]) LazyList.empty
          else peelTower(child, MaxStarDepth).filter {
            case (_, fo, dims, _, _) =>
              dims.forall(lvl =>
                splitConjunctivePredicates(lvl.cond).forall {
                  case EqualTo(a: AttributeReference,
                      b: AttributeReference)
                      if fo.contains(a) || fo.contains(b) =>
                    fo.contains(a) ^ fo.contains(b)
                  case c => c.deterministic &&
                    !c.exists(_.isInstanceOf[PlanExpression[_]]) &&
                    c.references.toSeq.forall(r => !fo.contains(r))
                })
          }.map { case (sh, fo, dims, sub, lu) =>
            val dimOut = AttributeSet(dims.flatMap(_.dim.output))
            (dims, sh, fo, dimOut, sub, lu)
          }
        }

      // the whole classification + candidate build runs PER flattening
      // (per join orientation); a refusal here falls through to the
      // next flattening, not to the fact scan
      def attempt(joinOpt: Option[Flattening]): Option[Aggregate] = {
      val shape = unionOpt match {
        case Some((_, shapes)) => shapes.head
        case None => joinOpt.map(_._2).getOrElse(
          decompose(child).getOrElse(return None))
      }
      val dimOutJ: AttributeSet = joinOpt.map(_._4)
        .getOrElse(AttributeSet.empty)
      val factOutJ: AttributeSet = joinOpt.map(_._3)
        .getOrElse(AttributeSet.empty)
      // inlining substitution for position entries: Projects stripped
      // between the Expand and the Join compose with the fact side's
      // own aliases (empty in every non-join path — behavior unchanged)
      val inlSubst: Map[ExprId, Expression] =
        joinOpt.map(_._5 ++ shape.subst).getOrElse(shape.subst)

      // how each Expand output attr is used by the Aggregate above:
      // inside aggregate functions vs outside (grouping + pass-through)
      val aggFuncRefs = AttributeSet(aggExprs.flatMap(_.collect {
        case ae: AggregateExpression => ae.references.toSeq
      }.flatten))
      val nonAggRefs = AttributeSet(
        groupExprs.flatMap(_.references.toSeq) ++
          aggExprs.flatMap(e =>
            e.transform { case _: AggregateExpression => Literal(null) }
              .references.toSeq))

      // classify positions; any other shape refuses
      // lit: kept verbatim; key: (idx, inlined base expr);
      // measure: (idx, base attr) + its per-projection non-null mask;
      // key-EXPRESSION: (idx, per-projection inlined entries) — a
      // position whose entries are null-or-deterministic expressions
      // over keys (RewriteDistinctAggregates materializes a distinct
      // aggregate's FILTER predicate as exactly this), remapped
      // verbatim per projection; sound ONLY under value-SET consumers
      // (Min/Max), because the expression is key-determined and the
      // summary preserves every key combination — so the value SET
      // per inner group survives the collapse even when the expr's
      // keys are not all in that group's grouping columns.
      var keyPos = Seq.empty[(Int, Expression)]
      // key positions whose inlined base references only DIM attrs
      // (join shape): kept verbatim, excluded from `needed`, never a
      // histogram — the dim side stays in the plan untouched
      var dimKeyIdx = Set.empty[Int]
      // expression positions over DIM attrs only: ride the
      // key-expression machinery (value-set Min/Max pass-throughs and
      // the cnt-weighted Σ cnt·f family are EXACT over dim values —
      // a dim value is constant per joined (summary row, dim match)
      // and cnt replays precisely the fact rows the collapse removed,
      // each of which joined the same dim rows) but bypass the
      // summary-keys coverage check — the dim column stays in the
      // rebuilt join, it is not an artifact column
      var dimExprIdx = Set.empty[Int]
      var measurePos = Seq.empty[(Int, AttributeReference)]
      var measureMask = Map.empty[Int, Seq[Boolean]]
      var exprPos = Map.empty[Int, Seq[Expression]]
      var keptIdx = Seq.empty[Int]
      output.indices.foreach { i =>
        val entries = projections.map(_(i))
        val out = output(i)
        val attrs = entries.collect {
          case a: AttributeReference => a
        }.distinct
        val nonAttrs = entries.filterNot(_.isInstanceOf[AttributeReference])
        val nullsOnly = nonAttrs.forall(e => e.foldable && e.eval() == null)
        if (entries.forall(_.foldable)) keptIdx :+= i
        else if (attrs.size == 1 && nullsOnly && !aggFuncRefs.contains(out)) {
          val base = inline(attrs.head, inlSubst)
          if (!base.deterministic ||
              base.exists(_.isInstanceOf[AggregateExpression]) ||
              base.exists(_.isInstanceOf[PlanExpression[_]])) return None
          val refs = base.references.toSeq
          if (joinOpt.isDefined && refs.nonEmpty &&
              refs.forall(dimOutJ.contains))
            dimKeyIdx += i
          else if (joinOpt.isDefined && refs.exists(dimOutJ.contains))
            return None // fact×dim mixed grouping position
          keyPos :+= (i -> base)
          keptIdx :+= i
        } else if (attrs.size == 1 && nullsOnly && !nonAggRefs.contains(out)
            && !(joinOpt.isDefined && {
              val b = inline(attrs.head, inlSubst)
              b.references.nonEmpty &&
                b.references.toSeq.forall(dimOutJ.contains)
            })) {
          // partials are keyed by the BASE scan column: a renamed
          // measure resolves through the hoisted alias to its true
          // column; a COMPUTED alias (whose name could shadow a real
          // measure's partial) resolves to an expression and refuses.
          // The mask records which projections carry the measure (all
          // of them in the ROLLUP shape; only the regular-aggregate
          // one in RewriteDistinctAggregates' mixed shape)
          inline(attrs.head, inlSubst) match {
            // a DIM attribute consumed inside an aggregate is not a
            // summary measure — refuse (value-set dim aggregates ride
            // the non-expanded star path)
            case ar: AttributeReference if dimOutJ.contains(ar) =>
              return None
            case ar: AttributeReference =>
              measurePos :+= (i -> ar)
              measureMask += i ->
                entries.map(_.isInstanceOf[AttributeReference])
            case _ => return None
          }
        } else {
          // key-expression position: null-or-expression entries whose
          // references must all be summary keys (enforced via
          // `needed` coverage below), with Min/Max-only aggregate
          // consumers (grouping references are fine — kept positions
          // are groupable like keys)
          val inlined = entries.map(inline(_, inlSubst))
          val wellFormed = inlined.forall(en =>
            (en.foldable && en.eval() == null) ||
              (en.deterministic &&
                !en.exists(_.isInstanceOf[AggregateExpression]) &&
                !en.exists(_.isInstanceOf[PlanExpression[_]]) &&
                en.references.nonEmpty))
          // admissible consumers of a key-expression position: value-SET
          // aggregates (Min/Max — the set survives the collapse) and
          // the cnt-WEIGHTED family (Sum/Average/Count — Σ cnt·f, the
          // value is key-determined so constant per summary row; the
          // build derives or refuses per aggregate, filters via the
          // kept-position exFilter path). Distinct stays refused here
          // (it rides the key-position path).
          val consumersOk = aggExprs.forall(_.collect {
            case ae: AggregateExpression if ae.references.contains(out) => ae
          }.forall(ae => !ae.isDistinct &&
            (ae.aggregateFunction match {
              case _: Min | _: Max | _: Sum | _: Average | _: Count => true
              // value-set pure / frequency-replayable (see the build
              // derivations below)
              case _: HyperLogLogPlusPlus | _: Percentile => true
              case _ => false
            })))
          if (!wellFormed || !consumersOk) return None
          if (joinOpt.isDefined && inlined.forall(en =>
              (en.foldable && en.eval() == null) ||
                (en.references.nonEmpty &&
                  en.references.toSeq.forall(dimOutJ.contains))))
            dimExprIdx += i
          exprPos += i -> inlined
          keptIdx :+= i
        }
      }
      val keyBase = keyPos.toMap
      val measureBase = measurePos.map { case (i, a) => output(i) -> ((i, a)) }.toMap

      // a HIST-ELIGIBLE grouping position (verified by the caller's
      // outer-aggregate audit — [[tryDistinctHistRewrite]]) may serve
      // from a hist_<col> partial when a candidate's keys do not cover
      // it, so its references stay OUT of the mandatory `needed` set;
      // per candidate it either rides the key path (covered) or the
      // histogram (carried), or the candidate refuses.
      val histEligible: Set[Int] = keyPos.collect {
        case (i, base: AttributeReference)
            if allowedHist.contains(output(i)) => i
      }.toSet
      val needed =
        (keyPos.filterNot(kp => histEligible(kp._1) || dimKeyIdx(kp._1))
          .flatMap(_._2.references.toSeq.map(_.name)) ++
          exprPos.filterNot(kv => dimExprIdx(kv._1)).values.flatten
            .flatMap(_.references.toSeq.map(_.name)) ++
          // join-condition fact attrs must be summary KEYS (candidates
          // filters on needed ⊆ keys): joining on a collapsed measure
          // cannot serve
          joinOpt.toSeq.flatMap { case (dims, _, fo, _, _, _) =>
            dims.flatMap(lvl => splitConjunctivePredicates(lvl.cond)
              .flatMap(_.references.toSeq).filter(fo.contains)
              .map(_.name))
          } ++
          shape.pred.toSeq.flatMap(_.references.toSeq.map(_.name))).toSet

      candidates(shape, needed).view.flatMap { case (n, summary) =>
        val r = for {
          path <- resolveMvPath(summary)
          mvPlan <- mvPlanFor(path, summary.store.isDefined)
          mvAttrs = mvPlan.output.map(a => a.name -> a).toMap
          // per candidate: a hist-eligible position whose refs the keys
          // cover rides the KEY path; otherwise it must be a bare attr
          // whose hist_<col> the artifact carries with the exact type
          covered = (kp: (Int, Expression)) =>
            dimKeyIdx(kp._1) ||
              kp._2.references.toSeq.forall(r =>
                summary.keys.contains(r.name) && mvAttrs.contains(r.name))
          // join shape guards: dim output names must be DISJOINT from
          // the artifact's (the by-name remap and the hist-column
          // lookup must never touch a dim column), and the join
          // condition's fact attrs must exist on the artifact
          if joinOpt.forall { case (dims, _, fo, _, _, _) =>
            dims.forall { lvl =>
              lvl.dim.output.forall(a => !mvAttrs.contains(a.name)) &&
                splitConjunctivePredicates(lvl.cond)
                  .flatMap(_.references.toSeq).filter(fo.contains)
                  .forall(r => mvAttrs.contains(r.name))
            }
          }
          histValPos = keyPos.filterNot(covered).collect {
            case (i, base: AttributeReference) if histEligible(i) &&
                mvAttrs.get(HistSummary.colName(base.name)).exists(at =>
                  HistSummary.isHistType(at.dataType) &&
                    at.dataType.asInstanceOf[MapType].keyType ==
                      base.dataType) =>
              i -> base
          }.toMap
          if keyPos.forall(kp => covered(kp) || histValPos.contains(kp._1))
          // ONE histogram per rewritten Expand
          if histValPos.values.map(_.name).toSet.size <= 1
          if exprPos.filterNot(kv => dimExprIdx(kv._1)).values.flatten
            .forall(_.references.toSeq.forall(r =>
              summary.keys.contains(r.name) && mvAttrs.contains(r.name)))
          if shape.pred.forall(_.references.toSeq.forall(r =>
            mvAttrs.contains(r.name)))
          cnt <- mvAttrs.get("cnt")
          if cnt.dataType == LongType
          mkChild = (joinOpt match {
            case Some((dims, _, fo, _, _, luOpt)) =>
              (refs: Seq[Attribute]) => {
                // rebuild the dim tower (innermost-first) around the
                // filtered artifact scan — or, for a UNION fact leaf,
                // around the union of per-branch canonical scans (the
                // shared child builder: per-branch filters, hybrid
                // partialization). The caller explodes the histogram
                // ABOVE this join (row-equivalent — see joinOpt's
                // derivation note). Join-cond fact attrs join the
                // union's required projection.
                val remapF = (ex: Expression) => ex.transform {
                  case a: AttributeReference
                      if fo.contains(a) && mvAttrs.contains(a.name) =>
                    mvAttrs(a.name)
                }
                val base: Option[LogicalPlan] = luOpt match {
                  case Some(_) =>
                    val condFactRefs = dims.flatMap(lvl =>
                      splitConjunctivePredicates(lvl.cond)
                        .flatMap(_.references.toSeq).filter(fo.contains))
                      .flatMap(r => mvAttrs.get(r.name))
                    expandChildBuilder(luOpt, shape, summary, mvPlan,
                      mvAttrs)((refs ++ condFactRefs).distinct)
                  case None =>
                    Some(shape.pred.map(p => Filter(remapF(p), mvPlan))
                      .getOrElse(mvPlan))
                }
                base.map(b => dims.foldLeft(b) { case (pl, lvl) =>
                  val c = remapF(lvl.cond)
                  if (lvl.factOnLeft)
                    Join(pl, lvl.dim, lvl.joinType, Some(c), lvl.jhint)
                  else
                    Join(lvl.dim, pl, lvl.joinType, Some(c), lvl.jhint)
                })
              }
            case None => expandChildBuilder(unionOpt, shape, summary,
              mvPlan, mvAttrs)
          })
          result <- buildExpandRewrite(groupExprs, aggExprs, mkChild,
            projections, output, keptIdx, keyBase, exprPos, measureBase,
            measureMask, mvAttrs, summary.keys, hint, histValPos,
            summary.exprs)
        } yield result
        if (r.isEmpty)
          note(s"candidate '$n': rollup/cube (Expand) shape not " +
            "derivable (needs key-covered rollup columns and derivable " +
            "pass-through measures)")
        else note(s"rollup/cube aggregate SERVED by summary '$n'")
        r
      }.headOption
      }

      if (joinAlternatives.isEmpty) attempt(None)
      else joinAlternatives.flatMap(j => attempt(Some(j))).headOption
    }

    /** The rewritten Expand's CHILD for one branch-0 candidate: the
      * single-fact case filters the artifact scan; the union case
      * resolves, per remaining branch, a covering candidate whose
      * artifact carries every referenced column with the same type and
      * name-kind ([[branchCarries]]), pushes that branch's key-only
      * filter onto its scan, and unions the canonical projections —
      * refusing everything when any branch is uncovered. */
    private def expandChildBuilder(unionOpt: Option[(Union, Seq[Shape])],
        shape: Shape, summary0: Summary, mvPlan0: LogicalPlan,
        mvAttrs0: Map[String, Attribute])
        : Seq[Attribute] => Option[LogicalPlan] = {
      val remap0 = (ex: Expression) => ex.transform {
        case a: AttributeReference if mvAttrs0.contains(a.name) =>
          mvAttrs0(a.name)
      }
      unionOpt match {
        case None => _ =>
          Some(shape.pred.map(p => Filter(remap0(p), mvPlan0))
            .getOrElse(mvPlan0))
        case Some((u, shapes)) => refs => {
          val required = refs.map(_.name).distinct.sorted
          val refTypes = required.map(nm => nm -> mvAttrs0(nm).dataType)
            .toMap
          if (required.isEmpty ||
              !branchCarries(required, refTypes, mvAttrs0, summary0.keys))
            None
          else {
            val p0 = shapes.head.pred.map(p => Filter(remap0(p), mvPlan0))
              .getOrElse(mvPlan0)
            val proj0 = Project(required.map(mvAttrs0(_)), p0)
            // expression partials ride the cross-branch contract one
            // step stricter than name+type (same discipline as the
            // flat union path): the branch's registration must bind
            // the same SQL to the name, or an epoch whose sumx_<n>
            // means a different expression would silently fold
            val usedExprNames = required.collect {
              case nm if nm.startsWith("sumx_") => nm.stripPrefix("sumx_")
              case nm if nm.startsWith("cntx_") => nm.stripPrefix("cntx_")
              case nm if nm.startsWith("minx_") => nm.stripPrefix("minx_")
              case nm if nm.startsWith("maxx_") => nm.stripPrefix("maxx_")
            }.distinct
            val others = u.children.indices.drop(1).map { i =>
              val needs = required.filterNot(isPartialName).toSet ++
                shapes(i).pred.toSeq
                  .flatMap(_.references.toSeq.map(_.name))
              candidates(shapes(i), needs).view.flatMap { case (_, s) =>
                for {
                  path <- resolveMvPath(s)
                  plan <- mvPlanFor(path, s.store.isDefined)
                  attrs = plan.output.map(a => a.name -> a).toMap
                  if shapes(i).pred.forall(_.references.toSeq.forall(r =>
                    attrs.contains(r.name)))
                  if branchCarries(required, refTypes, attrs, s.keys)
                  if usedExprNames.forall(en =>
                    s.exprs.get(en) == summary0.exprs.get(en))
                } yield {
                  val remapI = (ex: Expression) => ex.transform {
                    case a: AttributeReference if attrs.contains(a.name) =>
                      attrs(a.name)
                  }
                  val pi = shapes(i).pred
                    .map(p => Filter(remapI(p), plan)).getOrElse(plan)
                  Project(required.map(nm => attrs(nm)), pi)
                }
              }.headOption
                // HYBRID: an epoch without a carrying artifact (or
                // whose registration binds different SQL) partializes
                // its fact with the ANCHOR's expression SQL — exact,
                // and the covered epochs keep their artifact scans
                .orElse(partializer(u.children(i), shapes(i), required,
                  refTypes, summary0.exprs))
            }
            if (others.exists(_.isEmpty)) {
              note("expand-over-union: a branch has neither a carrying " +
                "artifact nor an exact fact partialization — refusing")
              None
            } else Some(Union((proj0 +: others.map(_.get)).toIndexedSeq))
          }
        }
      }
    }

    /** Assemble the rewritten Aggregate-over-Expand-over-summary; any
      * missing partial column or type mismatch refuses. Each partial
      * pass-through column is bound to its measure POSITION's null
      * mask: it carries the summary column exactly in the projections
      * where the original measure attribute appeared and a typed null
      * elsewhere, so every per-group aggregation over the rewritten
      * Expand sees the same row multiset the fact-based Expand fed it
      * (null-masked partials are what make the mixed
      * regular+distinct shape exact WITHOUT relying on the parent
      * aggregate's FILTER clauses to discard anything). */
    private def buildExpandRewrite(groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression],
        mkChild: Seq[Attribute] => Option[LogicalPlan],
        projections: Seq[Seq[Expression]], output: Seq[Attribute],
        keptIdx: Seq[Int], keyBase: Map[Int, Expression],
        exprPos: Map[Int, Seq[Expression]],
        measureBase: Map[Attribute, (Int, AttributeReference)],
        measureMask: Map[Int, Seq[Boolean]],
        mvAttrs: Map[String, Attribute],
        keys: Set[String],
        hint: Option[AggregateHint],
        histValPos: Map[Int, AttributeReference] = Map.empty,
        exprs: Map[String, String] = Map.empty)
        : Option[Aggregate] = {
      val remap = (ex: Expression) => ex.transform {
        case a: AttributeReference if mvAttrs.contains(a.name) =>
          mvAttrs(a.name)
      }
      // fresh pass-through columns, one per needed (PARTIAL, position)
      // pair — so sum(x)+min(x) never collide, and the same partial
      // behind two positions with different masks stays distinct.
      // pos = -1 means mask-free (present in every projection): the
      // global cnt and distinct-key pass-throughs.
      var partialCols = Seq.empty[(String, Int, AttributeReference)]
      def partialAttr(name: String, pos: Int): Option[AttributeReference] =
        partialCols.find(p => p._1 == name && p._2 == pos)
          .map(p => Some(p._3)).getOrElse {
            mvAttrs.get(name).map { src =>
              val fresh = AttributeReference(name, src.dataType,
                nullable = true)()
              partialCols :+= ((name, pos, fresh))
              fresh
            }
          }
      def agg(fn: AggregateFunction): Expression =
        AggregateExpression(fn, Complete, isDistinct = false)
      // (position, base fact column) behind a measure pass-through
      def baseOf(a: Attribute): Option[(Int, String)] =
        measureBase.get(a).map { case (i, b) => (i, b.name) }
      // ONE hist_<col> explosion per rewritten Expand (a second map
      // would cross-product the entries — the flat path's law, here):
      // lazily pinned by the first hist-needing measure; the exploded
      // (value, count) ride the Expand as per-POSITION pass-throughs
      // under the measure's own null mask, and every partial-NAMED
      // pass-through gets the first-entry mask (coalesce(pos,0)=0) at
      // projection level so the entry replication never double-counts
      // a partial. Min/Max/approx_count_distinct/exact-percentile over
      // a hist-carried measure thereby serve under native ROLLUP/CUBE.
      var histGen: Option[(String, AttributeReference, AttributeReference,
        AttributeReference)] = None
      var histPasses =
        Seq.empty[(Int, Boolean, AttributeReference, AttributeReference)]
      def pinHist(b: String): Option[(AttributeReference,
          AttributeReference, AttributeReference)] = {
        val histName = HistSummary.colName(b)
        mvAttrs.get(histName)
          .filter(at => HistSummary.isHistType(at.dataType))
          .flatMap { at =>
            histGen match {
              case Some((n, _, _, _)) if n != histName => None
              case Some((_, p, k, v)) => Some((p, k, v))
              case None =>
                val vt = at.dataType.asInstanceOf[MapType].keyType
                val (p, k, v) = histEntryAttrs(vt)
                histGen = Some((histName, p, k, v))
                Some((p, k, v))
            }
          }
      }
      def histAttr(b: String, pos: Int,
          wantCount: Boolean): Option[AttributeReference] =
        pinHist(b).flatMap { case (_, kA, vA) =>
          histPasses.find(h => h._1 == pos && h._2 == wantCount)
            .map(h => Some(h._3)).getOrElse {
              val src = if (wantCount) vA else kA
              val fresh = AttributeReference(
                (if (wantCount) "__hist_cnt_" else "__hist_val_") + b,
                src.dataType, nullable = true)()
              histPasses :+= ((pos, wantCount, fresh, src))
              Some(fresh)
            }
        }
      // HIST-VALUE grouping positions (the verified double-aggregation
      // shape): pin the explosion up front — the kept entry sources
      // the exploded value so the inner aggregate GROUPS BY the exact
      // value set; [[tryExpandRewrite]] validated carriage and the
      // one-map rule against this candidate's artifact
      histValPos.values.headOption.foreach { base =>
        if (pinHist(base.name).isEmpty) return None
      }
      val histOuts = AttributeSet(histValPos.keys.toSeq.map(output))
      val keptAttrs = AttributeSet(keptIdx.map(output))
      // FILTER clause carried onto the rewritten aggregate: sound when
      // the predicate is key-determined per summary row — every
      // reference is a kept position or a masked pass-through of a
      // summary KEY (remapped to a key pass-through at the same
      // position; RewriteDistinctAggregates materializes regular
      // aggregates' FILTER predicates as exactly such masked refs).
      // Returns Some(newFilter) when carryable, None to refuse.
      def exFilter(ae: AggregateExpression): Option[Option[Expression]] =
        ae.filter match {
          case None => Some(None)
          case Some(f) if f.deterministic &&
              !f.exists(_.isInstanceOf[AggregateExpression]) &&
              !f.exists(_.isInstanceOf[PlanExpression[_]]) &&
              f.references.nonEmpty &&
              // hist-value outputs vary per ENTRY, not per summary
              // row — a predicate over one is not key-determined
              f.references.toSeq.forall(r =>
                (keptAttrs.contains(r) && !histOuts.contains(r)) ||
                measureBase.get(r).exists { case (_, b) =>
                  keys.contains(b.name) && mvAttrs.contains(b.name) }) =>
            var ok = true
            val f2 = f.transform {
              case a: AttributeReference if measureBase.contains(a) =>
                val (pos, b) = measureBase(a)
                partialAttr(b.name, pos) match {
                  // a KEY pass-through: never pos0-masked below, so
                  // the predicate stays constant per summary row on
                  // every exploded entry row
                  case Some(p) => p
                  case None => ok = false; a
                }
            }
            if (ok) Some(Some(f2)) else None
          case _ => None
        }
      // a deterministic expression whose references are all
      // KEY-DETERMINED in the rewritten Expand — kept positions (keys,
      // gid, key-expressions) stay as-is, measure pass-throughs of
      // summary KEY columns remap to their masked key pass-through.
      // Per (summary row, projection) such an expression is CONSTANT
      // across the collapsed fact rows (null-masked refs included: the
      // fact Expand fed the same null to every fact row), which is
      // what makes the cnt-weighted derivations below exact:
      // sum(f) = Σ cnt·f, count(f) = Σ cnt over non-null f,
      // avg(f) = their ratio — the direct path's keyExpr family,
      // brought to the ROLLUP/CUBE shape.
      def keyDetermined(ex: Expression): Option[Expression] = {
        if (!ex.deterministic ||
            ex.exists(_.isInstanceOf[AggregateExpression]) ||
            ex.exists(_.isInstanceOf[PlanExpression[_]]) ||
            ex.references.isEmpty) None
        else {
          var ok = true
          val r = ex.transform {
            case a: AttributeReference
                if keptAttrs.contains(a) && !histOuts.contains(a) => a
            case a: AttributeReference =>
              measureBase.get(a).filter { case (_, b) =>
                keys.contains(b.name) && mvAttrs.contains(b.name) } match {
                case Some((pos, b)) =>
                  partialAttr(b.name, pos).getOrElse { ok = false; a }
                case None => ok = false; a
              }
          }
          if (ok) Some(r) else None
        }
      }
      def integral(t: org.apache.spark.sql.types.DataType): Boolean =
        t match {
          case IntegerType | LongType | ShortType | ByteType => true
          case _ => false
        }
      // a registered EXPRESSION measure on the Expand shape: every
      // reference of the aggregate child is a measure pass-through,
      // all at positions sharing ONE mask (the partial is exactly as
      // live as its inputs — in plain ROLLUP every measure mask is
      // all-true; in the mixed-distinct shape regular measures share
      // the gid-0 mask), and the child REBASED onto the base fact
      // columns matches the registered SQL semantically. Returns the
      // registration name and a representative position whose mask
      // gates the partial pass-through.
      def exprNameX(child: Expression): Option[(String, Int)] = {
        if (exprs.isEmpty || !child.deterministic ||
            child.exists(_.isInstanceOf[AggregateExpression]) ||
            child.exists(_.isInstanceOf[PlanExpression[_]]) ||
            child.references.isEmpty) return None
        val refs = child.references.toSeq
        val bases = refs.map(measureBase.get)
        if (bases.exists(_.isEmpty)) return None
        val poss = bases.flatten.map(_._1)
        if (poss.map(measureMask).distinct.size != 1) return None
        val rebased = child.transform {
          case a: AttributeReference if measureBase.contains(a) =>
            measureBase(a)._2
        }
        exprs.collectFirst {
          case (nm, sql) if (mvAttrs.contains(s"sumx_$nm") ||
              mvAttrs.contains(s"minx_$nm")) &&
              exprMatches(sql, rebased) => (nm, poss.head)
        }
      }
      val newAggs = sequence(aggExprs.map {
        case a: AttributeReference if keptAttrs.contains(a) => Some(a)
        case al @ Alias(c, _) if c.foldable && c.deterministic => Some(al)
        // COUNT(DISTINCT key...) per grouping set: the summary's key
        // column rides along as a mask-free pass-through (mvAttrs
        // carries it by its own name), and the distinct key set of
        // summary rows per set equals the fact's — same argument as
        // the direct path
        case e @ Alias(ae: AggregateExpression, name)
            if ae.isDistinct && ae.filter.isEmpty =>
          // DISTINCT over a hist-carried MEASURE under the rewritten
          // Expand: the exploded entry values — masked to the
          // measure's own projections — are exactly each grouping
          // set's distinct-value multiset (dedup across summary rows
          // and entry replication is the distinct aggregate's own
          // job, the flat path's argument on the Expand shape), so
          // count/sum/avg DISTINCT re-run verbatim on the value attr.
          def histDistinct(fn: AttributeReference => Option[
              AggregateFunction]): PartialFunction[Seq[Expression],
              Option[Expression]] = {
            case Seq(a: AttributeReference) =>
              baseOf(a).flatMap { case (pos, b) =>
                histAttr(b, pos, wantCount = false).flatMap(k =>
                  fn(k).map(AggregateExpression(_, Complete,
                    isDistinct = true)))
              }
          }
          (ae.aggregateFunction match {
            case c: Count if c.children.nonEmpty && c.children.forall {
                case a: AttributeReference =>
                  baseOf(a).exists(b => keys.contains(b._2))
                case _ => false
              } =>
              sequence(c.children.map {
                case a: AttributeReference =>
                  baseOf(a).flatMap(b => partialAttr(b._2, -1))
              }).map(ks => AggregateExpression(Count(ks), Complete,
                isDistinct = true))
            case c: Count =>
              histDistinct(k => Some(Count(Seq(k))))
                .lift(c.children).flatten
            case s: Sum =>
              histDistinct(k => Some(Sum(k))).lift(Seq(s.child)).flatten
            case av: Average =>
              histDistinct(k => Some(Average(k)))
                .lift(Seq(av.child)).flatten
            case _ => None
          }).map(ex => Alias(ex, name)(exprId = e.exprId))
        case e @ Alias(ae: AggregateExpression, name) if !ae.isDistinct =>
          exFilter(ae).flatMap { fOpt =>
            def fagg(fn: AggregateFunction): Expression =
              AggregateExpression(fn, Complete, isDistinct = false,
                filter = fOpt)
            // Min/Max over a KEPT position (key or key-expression)
            // passes through with the carried filter: the column
            // survives in the rewritten Expand, and the value SET per
            // group is preserved by the collapse (the classifier
            // admitted the position only under value-set consumers)
            val fn = ae.aggregateFunction
            if ((fn.isInstanceOf[Min] || fn.isInstanceOf[Max]) &&
                fn.references.nonEmpty &&
                fn.references.subsetOf(keptAttrs))
              Some(fagg(fn))
            else {
              // cnt-weighted derivations over key-determined
              // expressions (the Σ cnt·f family — `sum(CASE WHEN
              // lang='en' THEN 1 ELSE 0 END)` under ROLLUP(source)).
              // DECIMALS are exact under reassociation, so they serve
              // too: the product rides a LOSSLESS decimal type
              // (20-digit cnt × p-digit f needs 21+p ≤ 38 — wider
              // REFUSES rather than round), the true total fits the
              // original Sum's result type by definition (or both
              // overflow to null identically), and the final cast
              // narrows exactly. FLOATS stay refused (ulp discipline).
              def weightedSum(child: Expression): Option[Expression] =
                child.dataType match {
                  case t if integral(t) => for {
                      f <- keyDetermined(child)
                      cnt <- partialAttr("cnt", -1)
                    } yield fagg(Sum(Multiply(cnt, Cast(f, LongType))))
                  case d: DecimalType if 21 + d.precision <= 38 => for {
                      f <- keyDetermined(child)
                      cnt <- partialAttr("cnt", -1)
                    } yield Cast(fagg(Sum(Multiply(
                      Cast(cnt, DecimalType(20, 0)), f))), ae.dataType)
                  case _ => None
                }
              def weightedCnt(children: Seq[Expression]): Option[Expression] =
                for {
                  ks <- sequence(children.map(keyDetermined))
                  cnt <- partialAttr("cnt", -1)
                } yield Coalesce(Seq(fagg(Sum(If(
                  ks.map(IsNotNull(_): Expression).reduce(And),
                  cnt, Literal(null, LongType)))), Literal(0L)))
              fn match {
              case c: Count if c.children.forall(ch =>
                  ch.foldable && ch.eval() != null) =>
                partialAttr("cnt", -1).map(p =>
                  Coalesce(Seq(fagg(Sum(p)), Literal(0L))))
              // COUNT(col) skips nulls -> Σcnt_col (the non-null count
              // partial), masked to the measure's projections; a
              // key-determined child falls back to Σ cnt gated on its
              // nullity (constant per summary row)
              case c: Count => (c.children match {
                case Seq(a: AttributeReference) =>
                  baseOf(a).flatMap { case (pos, b) =>
                    partialAttr(s"cnt_$b", pos).map(p =>
                      Coalesce(Seq(fagg(Sum(p)), Literal(0L))))
                  }
                case _ => None
              }).orElse(weightedCnt(c.children))
                .orElse(c.children match {
                  case Seq(one) => exprNameX(one).flatMap {
                    case (nm, pos) => partialAttr(s"cntx_$nm", pos).map(
                      p => Coalesce(Seq(fagg(Sum(p)), Literal(0L))))
                  }
                  case _ => None
                })
              case s: Sum => (s.child match {
                // float partials refuse — see rewriteAgg's Sum case
                case a: AttributeReference => baseOf(a)
                  .filter { case (_, b) => mvAttrs.get(s"sum_$b")
                    .exists(at => !fpType(at.dataType)) }
                  .flatMap { case (pos, b) => partialAttr(s"sum_$b", pos) }
                  .map(p => fagg(Sum(p)))
                  .orElse(weightedSum(a))
                case child => weightedSum(child)
              }).orElse(exprNameX(s.child).flatMap { case (nm, pos) =>
                mvAttrs.get(s"sumx_$nm")
                  .filterNot(at => fpType(at.dataType))
                  .flatMap(_ => partialAttr(s"sumx_$nm", pos))
                  .map(p => fagg(Sum(p)))
              })
              case m: Min => m.child match {
                case a: AttributeReference => baseOf(a)
                  .flatMap { case (pos, b) => partialAttr(s"min_$b", pos) }
                  .map(p => fagg(Min(p)))
                  .orElse(keyDetermined(a).map(k => fagg(Min(k))))
                  // value-SET aggregate: the hist entry values ARE the
                  // set, masked to the measure's projections
                  .orElse(baseOf(a).flatMap { case (pos, b) =>
                    histAttr(b, pos, wantCount = false)
                      .map(k => fagg(Min(k))) })
                case child => keyDetermined(child).map(k => fagg(Min(k)))
                  .orElse(exprNameX(child).flatMap { case (nm, pos) =>
                    partialAttr(s"minx_$nm", pos).map(p => fagg(Min(p))) })
              }
              case m: Max => m.child match {
                case a: AttributeReference => baseOf(a)
                  .flatMap { case (pos, b) => partialAttr(s"max_$b", pos) }
                  .map(p => fagg(Max(p)))
                  .orElse(keyDetermined(a).map(k => fagg(Max(k))))
                  .orElse(baseOf(a).flatMap { case (pos, b) =>
                    histAttr(b, pos, wantCount = false)
                      .map(k => fagg(Max(k))) })
                case child => keyDetermined(child).map(k => fagg(Max(k)))
                  .orElse(exprNameX(child).flatMap { case (nm, pos) =>
                    partialAttr(s"maxx_$nm", pos).map(p => fagg(Max(p))) })
              }
              // AVG = Σsum_col / Σcnt_col (the non-null count — see
              // rewriteAgg's Average case), both masked to the
              // position; a key-determined child derives as
              // Σ cnt·f / Σ cnt[f non-null]
              case av: Average => (av.child match {
                case a: AttributeReference => baseOf(a).flatMap {
                  case (pos, b) =>
                    mvAttrs.get(s"sum_$b")
                      .filter(_.dataType == LongType)
                      .flatMap(_ => for {
                        ps <- partialAttr(s"sum_$b", pos)
                        pc <- partialAttr(s"cnt_$b", pos)
                      } yield Divide(Cast(fagg(Sum(ps)), DoubleType),
                        Cast(fagg(Sum(pc)), DoubleType)))
                }
                case _ => None
              }).orElse {
                av.child.dataType match {
                  case t if integral(t) => for {
                      f <- keyDetermined(av.child)
                      cnt <- partialAttr("cnt", -1)
                    } yield Divide(
                      Cast(fagg(Sum(Multiply(cnt, Cast(f, LongType)))),
                        DoubleType),
                      Cast(fagg(Sum(If(IsNotNull(f), cnt,
                        Literal(null, LongType)))), DoubleType))
                  // decimal AVG mirrors Spark's own Average-on-decimal
                  // shape — Divide(sum: dec(p+10, s), count: dec(20,
                  // 0)) cast to the result type — over the exact
                  // Σ cnt·f total, so rounding behavior matches the
                  // fact's bit-for-bit (the law asserts it)
                  case d: DecimalType if 21 + d.precision <= 38 => for {
                      f <- keyDetermined(av.child)
                      cnt <- partialAttr("cnt", -1)
                    } yield Cast(Divide(
                      Cast(fagg(Sum(Multiply(
                        Cast(cnt, DecimalType(20, 0)), f))),
                        DecimalType(math.min(38, d.precision + 10),
                          d.scale)),
                      Cast(fagg(Sum(If(IsNotNull(f), cnt,
                        Literal(null, LongType)))), DecimalType(20, 0))),
                      ae.dataType)
                  case _ => None
                }
              }.orElse(exprNameX(av.child).flatMap { case (nm, pos) =>
                mvAttrs.get(s"sumx_$nm")
                  .filter(_.dataType == LongType)
                  .flatMap(_ => for {
                    ps <- partialAttr(s"sumx_$nm", pos)
                    pc <- partialAttr(s"cntx_$nm", pos)
                  } yield Divide(Cast(fagg(Sum(ps)), DoubleType),
                    Cast(fagg(Sum(pc)), DoubleType)))
              })
              // approx_count_distinct: over a key-determined child the
              // sketch re-runs verbatim (value-SET pure — the collapse
              // preserves the set per projection, null masks included);
              // over a measure attr it merges the hll_<p>_ register
              // partial masked to the position — both bit-identical to
              // the fact sketch (see rewriteAgg's HLL branch)
              case h: HyperLogLogPlusPlus =>
                keyDetermined(h.child).map(k =>
                  fagg(h.withNewChildren(Seq(k))
                    .asInstanceOf[AggregateFunction]))
                .orElse(h.child match {
                  case a: AttributeReference =>
                    baseOf(a).flatMap { case (pos, b) =>
                      val p = HllSummary.pFor(h.relativeSD)
                      mvAttrs.get(HllSummary.colName(p, b))
                        .filter(at => HllSummary.isWordsType(at.dataType))
                        .flatMap(_ =>
                          partialAttr(HllSummary.colName(p, b), pos))
                        .map(reg => fagg(HllMergeEstimate(reg, p)))
                    }
                    // ... and from the exact histogram at ANY rsd (the
                    // sketch is value-set pure; the masked entry values
                    // are the exact set per projection)
                    .orElse(baseOf(a).flatMap { case (pos, b) =>
                      histAttr(b, pos, wantCount = false).map(k =>
                        fagg(h.withNewChildren(Seq(k))
                          .asInstanceOf[AggregateFunction])) })
                  case _ => None
                })
              // EXACT percentile/median over a key-determined child:
              // cnt is the multiplicity the collapse removed, replayed
              // through the frequency argument (the direct path's
              // derivation on the Expand shape); a null child value is
              // skipped regardless of frequency, so the masked
              // projections contribute nothing — like the fact's
              case pct: Percentile
                  if pct.frequencyExpression.foldable &&
                    pct.frequencyExpression.eval() == 1L &&
                    pct.percentageExpression.foldable =>
                (for {
                  k <- keyDetermined(pct.child)
                  cnt <- partialAttr("cnt", -1)
                } yield fagg(pct.withNewChildren(
                  Seq(k, pct.percentageExpression, cnt))
                  .asInstanceOf[AggregateFunction]))
                // EXACT percentile/median over a hist measure under
                // ROLLUP/CUBE: the masked entry (value, count) replay
                // the multiset per grouping set through the frequency
                // argument — the flat hist path on the Expand shape
                .orElse(pct.child match {
                  case a: AttributeReference =>
                    baseOf(a).flatMap { case (pos, b) =>
                      for {
                        k <- histAttr(b, pos, wantCount = false)
                        v <- histAttr(b, pos, wantCount = true)
                      } yield fagg(pct.withNewChildren(
                        Seq(k, pct.percentageExpression, v))
                        .asInstanceOf[AggregateFunction])
                    }
                  case _ => None
                })
              case _ => None
              }
            }
          }.map(ex => Alias(ex, name)(exprId = e.exprId))
        // non-aggregate outputs over kept (key/gid) attrs pass through
        case al @ Alias(ex, _)
            if ex.deterministic &&
              !ex.exists(_.isInstanceOf[AggregateExpression]) &&
              ex.references.subsetOf(keptAttrs) =>
          Some(al)
        case _ => None
      })
      newAggs.flatMap { as =>
        if (as.zip(aggExprs).exists { case (n, o) => n.dataType != o.dataType })
          None
        else if (!groupExprs.forall(_.references.subsetOf(keptAttrs)))
          None
        else {
          // with a hist explosion below the Expand, every partial-NAMED
          // pass-through is masked to the FIRST entry per summary row
          // (pos 0, or the pos-null row of an empty histogram under
          // OUTER explode) so entry replication never double-counts a
          // partial; KEY pass-throughs stay unmasked (constant per
          // summary row — value-set and predicate consumers need them
          // on every entry row)
          val pos0 = histGen.map { case (_, posA, _, _) =>
            EqualTo(Coalesce(Seq(posA, Literal(0))), Literal(0))
          }
          val newProjections = projections.zipWithIndex.map {
            case (proj, j) =>
              keptIdx.map { i =>
                if (histValPos.contains(i)) proj(i) match {
                  // hist-value grouping position: the exploded VALUE
                  // where the original distinct column was live, the
                  // original null literal elsewhere
                  case _: AttributeReference => histGen.get._3
                  case other => other
                } else if (exprPos.contains(i)) {
                  // key-expression position: per-projection entry,
                  // remapped (null-literal entries kept verbatim)
                  val en = exprPos(i)(j)
                  if (en.foldable) en else remap(en)
                } else proj(i) match {
                  case _: AttributeReference => remap(keyBase(i))
                  case other => other // null literal / gid literal
                }
              } ++ partialCols.map { case (n, pos, _) =>
                if (pos < 0 || measureMask(pos)(j)) pos0 match {
                  case Some(p0) if isPartialName(n) =>
                    If(p0, mvAttrs(n), Literal(null, mvAttrs(n).dataType))
                  case _ => mvAttrs(n)
                }
                else Literal(null, mvAttrs(n).dataType)
              } ++ histPasses.map { case (pos, _, _, src) =>
                if (measureMask(pos)(j)) src
                else Literal(null, src.dataType)
              }
          }
          val mvIds = mvAttrs.values.map(_.exprId).toSet
          val childRefs = (AttributeSet(
            newProjections.flatten.flatMap(_.references.toSeq)).toSeq
            .filter(a => mvIds.contains(a.exprId)) ++
            histGen.map { case (n, _, _, _) => mvAttrs(n) }).distinct
          mkChild(childRefs).map { factPlan =>
            val genPlan = histGen match {
              case Some((n, posA, kA, vA)) =>
                // factPlan is the canonical scan (or the union of
                // per-branch scans — the hist column rides the
                // cross-branch contract like any partial), so ONE
                // Generate serves every epoch
                histExplode(factPlan.output.find(_.name == n)
                  .getOrElse(mvAttrs(n)), posA, kA, vA, factPlan)
              case None => factPlan
            }
            val newOutput = keptIdx.map(output) ++ partialCols.map(_._3) ++
              histPasses.map(_._3)
            val newExpand = Expand(newProjections, newOutput, genPlan)
            Aggregate(groupExprs, as, newExpand, hint)
          }
        }
      }
    }

    /** UNION-of-facts rewrite — `Aggregate(g, a, Union(branches))`
      * where EVERY branch independently resolves to a registered fact
      * with a covering summary. Multi-epoch corpora are the realistic
      * 100 TB deployment shape: `read.parquet(jan) union
      * read.parquet(feb)` (multi-path single reads already match via
      * rootPaths; an explicit Union node lands here). Each branch's
      * summary scan substitutes independently and the branches union:
      * cnt/sum_/cnt_/min_/max_/hll_ partials are all monoids under
      * UNION, so Σ over branches of exact per-branch partials is
      * EXACTLY the aggregate over the concatenated facts — including
      * distinct-over-keys (the union of key-combination sets is the
      * concatenation's key set), frequency-weighted percentiles
      * (multiset sum), and HLL register merges. A branch that reads
      * the same fact twice double-counts exactly like the fact union
      * does.
      *
      * Soundness guardrails: positional semantics only (`byName`
      * refuses); every branch decomposes with rename-only or
      * cross-branch-IDENTICAL computed aliases ([[substAgrees]] —
      * `GROUP BY year(ts)` over a union lands the hoisted grouping
      * alias inside every branch), and the group/agg expressions are
      * bridged through branch-0's subst before classification, so a
      * computed column can never shadow a measure by name — it
      * resolves to its computing EXPRESSION and serves only through a
      * same-SQL expression partial; every
      * branch's column names must agree POSITIONALLY with the union
      * output (same-schema epochs — the name is the only cross-branch
      * identity the naming contract has); measures derive against
      * branch 0's artifact and every other branch's artifact must
      * carry the SAME required partial columns with the SAME types;
      * per-branch key-only filters push onto that branch's summary
      * scan. Any failure refuses the whole rewrite — one uncovered
      * epoch means the fact union answers. */
    private def tryUnionRewrite(groupExprs0: Seq[Expression],
        aggExprs0: Seq[NamedExpression], u: Union,
        hint: Option[AggregateHint]): Option[Aggregate] = {
      if (u.byName || u.children.size < 2) return None
      val shapesOpt = u.children.map(decompose)
      if (shapesOpt.exists(_.isEmpty)) {
        if (shapesOpt.exists(_.isDefined))
          note("union: a branch does not decompose to a bare fact scan")
        return None
      }
      val shapes = shapesOpt.map(_.get)
      if (!substAgrees(u, shapes)) {
        note("union: branch projections disagree — a computed alias " +
          "must be the identical expression in every branch (renames " +
          "name-preserving); anything else could shadow a measure")
        return None
      }
      val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
      if (!u.children.forall(c =>
          c.output.map(a => lower(a.name)) ==
            u.output.map(a => lower(a.name)))) {
        note("union: branch column names disagree positionally")
        return None
      }
      // bridge union OUTPUT attrs to branch-0's inlined expressions: a
      // computed grouping alias resolves to its base expression (the
      // direct path's coarsening shape — substAgrees proved every
      // branch computes the same thing), and a computed measure alias
      // resolves to an EXPRESSION that can only serve through a
      // same-SQL expression partial, never by claiming the real
      // column's partial by name
      val unionSubst: Map[ExprId, Expression] =
        u.output.zip(u.children.head.output).flatMap { case (uo, bo) =>
          shapes.head.subst.get(bo.exprId).map(uo.exprId -> _)
        }.toMap
      val groupExprs = groupExprs0.map(inline(_, unionSubst))
      val aggExprsO = aggExprs0.map(inlineNamed(_, unionSubst))
      if (aggExprsO.exists(_.isEmpty)) return None
      val aggExprs = aggExprsO.map(_.get)
      if (!groupExprs.forall(carriableGrouping)) return None
      val groupRefNames =
        groupExprs.flatMap(_.references.toSeq.map(_.name)).toSet
      // per-branch artifact resolution: first covering candidate whose
      // artifact is readable and carries the branch's filter columns.
      // MEMOIZED per rewrite attempt — resolution reads parquet footers
      // (mvPlanFor) and sizes artifacts (candidates), and the anchor
      // search + every assemble() probe re-asks the same branches.
      val resolvedMemo = scala.collection.mutable.HashMap
        .empty[Int, Seq[(String, LogicalPlan, Map[String, Attribute],
          Set[String], Map[String, String])]]
      def resolved(i: Int): Seq[(String, LogicalPlan,
          Map[String, Attribute], Set[String], Map[String, String])] =
        resolvedMemo.getOrElseUpdate(i, {
          val needed = groupRefNames ++
            shapes(i).pred.toSeq.flatMap(_.references.toSeq.map(_.name))
          candidates(shapes(i), needed).flatMap { case (n, s) =>
            for {
              path <- resolveMvPath(s)
              plan <- mvPlanFor(path, s.store.isDefined)
              attrs = plan.output.map(a => a.name -> a).toMap
              if shapes(i).pred.forall(_.references.toSeq.forall(r =>
                attrs.contains(r.name)))
              if groupRefNames.forall(attrs.contains)
              cnt <- attrs.get("cnt")
              if cnt.dataType == LongType
            } yield (n, plan, attrs, s.keys, s.exprs)
          }
        })
      // the ANCHOR is the first branch with any covering artifact —
      // measures derive against its partial schema; every other branch
      // either resolves its own artifact or PARTIALIZES its fact
      // (union order is aggregate-irrelevant, so the anchor's plan
      // leads the rewritten union and binds the output attrs)
      val anchorIdx = u.children.indices.find(i => resolved(i).nonEmpty)
        .getOrElse {
          note("union: no branch has a covering artifact")
          return None
        }
      val otherIdx = u.children.indices.filterNot(_ == anchorIdx)
      val result = resolved(anchorIdx).view.flatMap {
        case (n0, plan0, attrs0, keys0, exprs0) =>
          val remap0 = (ex: Expression) => ex.transform {
            case a: AttributeReference if attrs0.contains(a.name) =>
              attrs0(a.name)
          }
          val newGroup = groupExprs.map(remap0)
          // resolve every remaining branch against the cross-branch
          // schema contract and assemble the final plan; `extra` names
          // columns the aggregates consume through a wrapper node (the
          // hist explosion) rather than by direct reference, `wrap`
          // installs that node ABOVE the union (the anchor's attrs are
          // the union's output, so one Generate serves every epoch —
          // partials fold across branches exactly like the flat union)
          def assemble(newAggs: Seq[NamedExpression],
              extra: Seq[String],
              wrap: LogicalPlan => LogicalPlan): Option[Aggregate] = {
            val required = (AttributeSet(
              newAggs.flatMap(_.references.toSeq) ++
                newGroup.flatMap(_.references.toSeq))
              .toSeq.map(_.name).filter(attrs0.contains) ++ extra)
              .distinct.sorted
            val refTypes = required.map(nm => nm -> attrs0(nm).dataType)
              .toMap
            // expression partials ride the cross-branch contract
            // one step stricter than name+type: the OTHER branch's
            // registration must bind the same SQL to the name, or an
            // epoch whose sumx_<n> means a different expression would
            // silently fold into the total
            val usedExprNames = required.collect {
              case nm if nm.startsWith("sumx_") => nm.stripPrefix("sumx_")
              case nm if nm.startsWith("cntx_") => nm.stripPrefix("cntx_")
              case nm if nm.startsWith("minx_") => nm.stripPrefix("minx_")
              case nm if nm.startsWith("maxx_") => nm.stripPrefix("maxx_")
            }.distinct
            // HYBRID serving: a branch with no artifact carrying the
            // required partials falls back to a per-row PARTIALIZER of
            // its fact — exact by construction, so covered epochs
            // still shrink to summary scans while the uncovered one
            // pays what it always paid. Refusal only when a branch
            // neither resolves nor partializes (sketch/histogram
            // partials, inexact numeric widening).
            val others = otherIdx.map { i =>
              resolved(i).find { case (_, _, attrs, keys, exprsI) =>
                branchCarries(required, refTypes, attrs, keys) &&
                  usedExprNames.forall(en =>
                    exprsI.get(en) == exprs0.get(en))
              }.map(scala.util.Left(_)).orElse(
                partializer(u.children(i), shapes(i), required, refTypes,
                  exprs0).map(scala.util.Right(_)))
            }
            if (required.isEmpty ||
                !branchCarries(required, refTypes, attrs0, keys0)) None
            else if (others.exists(_.isEmpty)) {
              note(s"union: candidate '$n0' derives the measures but " +
                "another branch has neither a carrying artifact nor an " +
                "exact fact partialization — refusing")
              None
            } else {
              def artifactPlan(plan: LogicalPlan,
                  attrs: Map[String, Attribute], sh: Shape): LogicalPlan = {
                val remapI = (ex: Expression) => ex.transform {
                  case a: AttributeReference if attrs.contains(a.name) =>
                    attrs(a.name)
                }
                val filtered = sh.pred match {
                  case Some(p) => Filter(remapI(p), plan)
                  case None => plan
                }
                Project(required.map(nm => attrs(nm)), filtered)
              }
              val anchorPlan =
                artifactPlan(plan0, attrs0, shapes(anchorIdx))
              val otherPlans = others.map(_.get).zip(otherIdx).map {
                case (scala.util.Left((_, plan, attrs, _, _)), i) =>
                  artifactPlan(plan, attrs, shapes(i))
                case (scala.util.Right(p), _) => p
              }
              val nPart = others.count(_.exists(_.isRight))
              note(s"union aggregate SERVED by summary '$n0' on branch " +
                s"$anchorIdx (+${others.size - nPart} artifact, " +
                s"$nPart partialized fact branches)")
              Some(Aggregate(newGroup, newAggs,
                wrap(Union((anchorPlan +: otherPlans).toIndexedSeq)),
                hint))
            }
          }
          val plain = sequence(aggExprs.map(e =>
            rewriteAgg(e, attrs0, keys0, exprs = exprs0)
              .filter(_.dataType == e.dataType)))
            .flatMap(assemble(_, Seq.empty, identity))
          plain.orElse {
            // the hist explosion over a UNION fact: every branch must
            // carry the same-typed hist_<col> (branchCarries), the
            // count-sum map monoid folds across epochs through the
            // single Generate above the union
            histCandidatesOf(attrs0).view.flatMap {
              case (histName, base, histAttr, valueType) =>
                val (posA, kA, vA) = histEntryAttrs(valueType)
                val ctx = HistCtx(base, kA, vA)
                sequence(aggExprs.map(e =>
                  rewriteAgg(e, attrs0, keys0, hist = Some(ctx),
                      exprs = exprs0)
                    .filter(_.dataType == e.dataType)))
                  .filter(_.exists(_.exists(ex => ex == kA || ex == vA)))
                  .flatMap { newAggs =>
                    assemble(maskToFirstEntry(newAggs, posA, attrs0),
                      Seq(histName),
                      child => histExplode(
                        child.output.find(_.name == histName)
                          .getOrElse(histAttr), posA, kA, vA, child))
                  }
            }.headOption
          }
      }.headOption
      if (result.isEmpty)
        note("union: no candidate combination serves every branch")
      result
    }

    /** Per-row PARTIALIZER — the hybrid-union fallback for a branch
      * with no covering artifact: the branch's fact rows project to
      * the summary partial schema (`cnt`=1, `sum_<c>`=c, `cnt_<c>`=
      * c IS NOT NULL, `min_/max_<c>`=c, `sumx_/cntx_/minx_/maxx_<n>` =
      * the registered SQL evaluated per row), so the outer aggregate
      * folds them EXACTLY like summary rows — Σ of per-row partials
      * over the branch IS the branch's exact partials, and Spark's own
      * partial aggregation does the map-side combine. Covered epochs
      * shrink to kilobyte artifact scans while the uncovered one pays
      * exactly what it paid before the rewrite: the "latest epoch not
      * yet summarized" deployment shape at 100 TB. Value-SET
      * consumers stay exact too (distinct-over-keys, frequency-
      * argument percentiles with cnt=1, HLL over key VALUES — all
      * multiplicity-pure).
      *
      * Only EXACT constructions are emitted: identity, integral→long,
      * and same-scale decimal widening for sums; identity for min/max
      * and keys; `hist_<x>` partializes as a single-entry per-row map
      * (NULL for null values — outer-explode-identical to an all-null
      * group's histogram; float keys normalized like the build side),
      * so the whole distinct/percentile family serves hybrid too;
      * `hll_` registers partialize by INLINE AGGREGATION — the branch
      * becomes summaryFrame-in-the-plan (one epoch-sized shuffle on
      * the required keys), and the register max-merge with artifact
      * registers is value-set pure, so the folded estimate stays
      * bit-identical to the direct sketch. The branch's key-only filter is
      * grafted UNDER the projection onto a `newInstance()` of the
      * branch's OWN leaf relation — never a re-resolved `spark.read`/
      * `spark.table` — so the scan is value-faithful by construction
      * (the original reader options — basePath partition columns,
      * mergeSchema, rebase modes — ride along verbatim), no catalog
      * lookup can bind a same-named table in a different database, and
      * the grafted subtree contains no analyzer-only nodes
      * (SubqueryAlias) that the earlier optimizer batches would have
      * removed. V1 predicate pushdown happens at PHYSICAL planning
      * (FileSourceStrategy), so the grafted filter still reaches the
      * parquet reader. Any unresolvable column, missing registered SQL,
      * type drift, or nondeterministic expression refuses the branch
      * (and with it the whole rewrite — never a wrong answer). */
    private def partializer(branch: LogicalPlan, sh: Shape,
        required: Seq[String], refTypes: Map[String, DataType],
        exprSql: Map[String, String]): Option[LogicalPlan] = Try {
      def bq(s: String) = "`" + s.replace("`", "``") + "`"
      @scala.annotation.tailrec
      def leafOf(p: LogicalPlan): LogicalPlan = p match {
        case Project(_, c) => leafOf(c)
        case Filter(_, c) => leafOf(c)
        case other => other
      }
      // V1 relations keep their FULL schema at the leaf (column pruning
      // is a Project above; partition pruning only drops rows the
      // branch's own filter — re-grafted below — excludes), so a fresh
      // instance is the whole faithful table. An unconverted DSv2
      // relation is equally whole (V2 pushdown runs in a later batch on
      // the rewritten tree). A DSv2 ScanRelation REFUSES: its Scan was
      // already specialized to the branch's required columns, so a
      // fresh instance may lack partial inputs.
      val df0: DataFrame = leafOf(branch) match {
        case lr: LogicalRelation =>
          org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
            lr.newInstance())
        case r: DataSourceV2Relation =>
          org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
            r.newInstance())
        case _ => return None
      }
      val srcCols = df0.schema.map(_.name).toSet
      // raw pass: per required column, the uncast source expression
      // (counts are emitted final — they are BIGINT by construction)
      def colOf(nm: String, pfx: String): Option[String] =
        Some(nm.stripPrefix(pfx)).filter(srcCols.contains)
      def sqlOf(nm: String, pfx: String): Option[String] =
        exprSql.get(nm.stripPrefix(pfx))
      // two construction modes. Per-ROW projection (no shuffle — the
      // outer aggregate's map-side combine does the folding) whenever
      // every required partial has a per-row form. Per-GROUP inline
      // aggregation — summaryFrame-in-the-plan, one epoch-sized
      // shuffle on the required keys — when HLL registers are
      // required, since a register is an aggregate, not a projection;
      // still far cheaper at scale than refusing (which rescans every
      // covered epoch's fact too), and the register max-merge with
      // artifact registers is value-set pure, so the folded estimate
      // is bit-identical to the direct sketch.
      val needsAgg = required.exists(_.startsWith("hll_"))
      val rawDf = if (needsAgg) {
        import org.apache.spark.sql.functions.{col, count, lit, max, min,
          sum, expr => sqlExpr}
        val keys = required.filterNot(isPartialName)
        if (!keys.forall(srcCols.contains)) return None
        val aggs: Seq[Option[Column]] =
          required.filter(isPartialName).map {
            case "cnt" => Some(count(lit(1)).as("cnt"))
            case nm @ HllSummary.NamePattern(pStr, c) =>
              Some(c).filter(srcCols.contains).map(cc =>
                HllSummary.partialWords(col(cc), pStr.toInt).as(nm))
            case nm if nm.startsWith("hist_") =>
              val base = nm.stripPrefix("hist_")
              exprSql.get(base).map(sqlExpr)
                .orElse(Some(base).filter(srcCols.contains).map(col))
                .map(v => HistSummary.partialHist(v, Int.MaxValue).as(nm))
            case nm if nm.startsWith("cnt_") =>
              colOf(nm, "cnt_").map(c => count(col(c)).as(nm))
            case nm if nm.startsWith("cntx_") =>
              sqlOf(nm, "cntx_").map(sql => count(sqlExpr(sql)).as(nm))
            case nm if nm.startsWith("sum_") =>
              colOf(nm, "sum_").map(c => sum(col(c)).as(nm))
            case nm if nm.startsWith("sumx_") =>
              sqlOf(nm, "sumx_").map(sql => sum(sqlExpr(sql)).as(nm))
            case nm if nm.startsWith("min_") =>
              colOf(nm, "min_").map(c => min(col(c)).as(nm))
            case nm if nm.startsWith("minx_") =>
              sqlOf(nm, "minx_").map(sql => min(sqlExpr(sql)).as(nm))
            case nm if nm.startsWith("max_") =>
              colOf(nm, "max_").map(c => max(col(c)).as(nm))
            case nm if nm.startsWith("maxx_") =>
              sqlOf(nm, "maxx_").map(sql => max(sqlExpr(sql)).as(nm))
            case _ => None
          }
        if (aggs.exists(_.isEmpty) || aggs.isEmpty) return None
        val ag = aggs.map(_.get)
        df0.groupBy(keys.map(col): _*).agg(ag.head, ag.tail: _*)
          .selectExpr(required.map(bq): _*)
      } else {
      val raws: Seq[Option[String]] = required.map {
        case "cnt" => Some("CAST(1 AS BIGINT) AS `cnt`")
        case nm if nm.startsWith("hll_") => None
        case nm if nm.startsWith("hist_") =>
          // single-entry per-row histogram — NULL for a null value:
          // posexplode_outer emits the same null-entry row an all-null
          // artifact group's histogram does, and plain partials ride
          // it via the coalesce(pos,0)=0 first-entry mask. Float keys
          // normalize like the build side (-0.0 → 0.0, canonical NaN
          // — HistSummary.copyValue's contract), so the folded
          // multiset is bit-compatible with artifact histograms.
          val base = nm.stripPrefix("hist_")
          exprSql.get(base).map(sql => s"($sql)")
            .orElse(Some(bq(base)).filter(_ => srcCols.contains(base)))
            .flatMap { v =>
              refTypes(nm) match {
                case MapType(kt, LongType, _) =>
                  val norm = kt match {
                    case DoubleType =>
                      s"IF(isnan($v), CAST('NaN' AS DOUBLE), " +
                        s"CAST($v + CAST(0.0 AS DOUBLE) AS DOUBLE))"
                    case FloatType =>
                      s"IF(isnan($v), CAST('NaN' AS FLOAT), " +
                        s"CAST($v + CAST(0.0 AS FLOAT) AS FLOAT))"
                    case _ => v
                  }
                  Some(s"IF(($v) IS NULL, NULL, " +
                    s"map($norm, CAST(1 AS BIGINT))) AS ${bq(nm)}")
                case _ => None
              }
            }
        case nm if nm.startsWith("cnt_") =>
          colOf(nm, "cnt_").map(c =>
            s"CAST(IF(${bq(c)} IS NULL, 0, 1) AS BIGINT) AS ${bq(nm)}")
        case nm if nm.startsWith("cntx_") =>
          sqlOf(nm, "cntx_").map(sql =>
            s"CAST(IF(($sql) IS NULL, 0, 1) AS BIGINT) AS ${bq(nm)}")
        case nm if nm.startsWith("sum_") =>
          colOf(nm, "sum_").map(c => s"${bq(c)} AS ${bq(nm)}")
        case nm if nm.startsWith("min_") =>
          colOf(nm, "min_").map(c => s"${bq(c)} AS ${bq(nm)}")
        case nm if nm.startsWith("max_") =>
          colOf(nm, "max_").map(c => s"${bq(c)} AS ${bq(nm)}")
        case nm if nm.startsWith("sumx_") =>
          sqlOf(nm, "sumx_").map(sql => s"($sql) AS ${bq(nm)}")
        case nm if nm.startsWith("minx_") =>
          sqlOf(nm, "minx_").map(sql => s"($sql) AS ${bq(nm)}")
        case nm if nm.startsWith("maxx_") =>
          sqlOf(nm, "maxx_").map(sql => s"($sql) AS ${bq(nm)}")
        case nm => // summary KEY — the fact column itself
          Some(nm).filter(srcCols.contains).map(c => bq(c))
      }
      if (raws.exists(_.isEmpty)) return None
      df0.selectExpr(raws.map(_.get): _*)
      }
      val rawTypes = rawDf.schema.map(f => f.name -> f.dataType).toMap
      // exactness gate between the raw type and the artifact partial's
      // type: identity always; integral→long and same-scale decimal
      // widening for SUM partials only (both are value-exact embeds —
      // precisely the widenings Spark's own sum() partials perform)
      def widenOk(nm: String): Boolean = {
        val (src, dst) = (rawTypes(nm), refTypes(nm))
        if (src == dst) true
        else if (nm.startsWith("hist_")) (src, dst) match {
          // parquet reads a map value back as NULLABLE even when the
          // build side wrote it required — same entries, wider flag
          case (MapType(k1, v1, false), MapType(k2, v2, true)) =>
            k1 == k2 && v1 == v2
          case _ => false
        }
        else if (nm.startsWith("hll_")) (src, dst) match {
          // same roundtrip widening for register-word arrays
          case (ArrayType(LongType, false), ArrayType(LongType, true)) =>
            true
          case _ => false
        }
        else if (!nm.startsWith("sum_") && !nm.startsWith("sumx_")) false
        else (src, dst) match {
          case (ByteType | ShortType | IntegerType, LongType) => true
          case (a: DecimalType, b: DecimalType) =>
            a.scale == b.scale && b.precision >= a.precision
          case _ => false
        }
      }
      if (!required.forall(nm => rawTypes.contains(nm) && widenOk(nm)))
        return None
      val casts = required.map { nm =>
        if (rawTypes(nm) == refTypes(nm)) bq(nm)
        else s"CAST(${bq(nm)} AS ${refTypes(nm).sql}) AS ${bq(nm)}"
      }
      val plan = rawDf.selectExpr(casts: _*).queryExecution.analyzed
      // the nondeterminism/subquery gate must walk EVERY node — the
      // replayed registered SQL lives in the child Project/Aggregate,
      // not the top-level cast Project
      if (plan.output.map(_.name) != required ||
          plan.output.exists(a => a.dataType != refTypes(a.name)) ||
          plan.exists(_.expressions.exists(e =>
            !e.deterministic || e.exists(_.isInstanceOf[PlanExpression[_]]))))
        return None
      // graft the branch's (pre-inlined, key-only) filter under the
      // projections, rebased by name onto the fresh scan's attrs
      sh.pred match {
        case None => Some(plan)
        case Some(p) =>
          def graft(pl: LogicalPlan): Option[LogicalPlan] = pl match {
            case pr @ Project(_, ch) =>
              graft(ch).map(f => pr.copy(child = f))
            case ag @ Aggregate(_, _, ch, _) =>
              graft(ch).map(f => ag.copy(child = f))
            case leaf =>
              val byName = leaf.output.map(a => a.name -> a).toMap
              var ok = true
              val p2 = p.transform { case a: AttributeReference =>
                byName.get(a.name) match {
                  case Some(b) if b.dataType == a.dataType => b
                  case _ => ok = false; a
                }
              }
              if (ok) Some(Filter(p2, leaf)) else None
          }
          graft(plan)
      }
    }.toOption.flatten

    /** Strip Projects above the Join, collecting hoisted-alias
      * substitutions exactly like [[decompose]] does. */
    private def stripProjects(
        plan: LogicalPlan): (LogicalPlan, Map[ExprId, Expression]) =
      plan match {
        case Project(pl, child) if pl.forall(safeProjectEntry) =>
          val (below, subst) = stripProjects(child)
          (below, subst ++ pl.collect {
            case a: Alias => a.exprId -> inline(a.child, subst)
          })
        case other => (other, Map.empty)
      }

    /** STAR-JOIN rewrite — `Aggregate(g, a, fact ⋈ dim)` becomes
      * `Aggregate(g, a', summary ⋈ dim)` when the equi-join runs
      * entirely on summary KEYS: all fact rows sharing a key have the
      * same dim matches, so collapsing them into their summary row
      * multiplies every joined group identically — count(*) = Σcnt·m,
      * sum(x) = Σsum_x·m, min/max multiplicity-insensitive, avg a
      * ratio of the two sums — and the rewritten aggregate is EXACT
      * for any dim side, unique keys or not. This is the classic
      * partial-aggregation pushdown through a star join, served from
      * a PERSISTED partial: the 100 TB fact scan disappears and the
      * join shrinks to summary-size × dim.
      *
      * Join types: Inner (both orientations) and LEFT/RIGHT OUTER with
      * the fact on the PRESERVED side — a fact key with zero dim
      * matches null-extends its one summary row exactly like its cnt
      * fact rows (same multiplicity argument, m = max(matches, 1),
      * null dim attrs group identically on both sides). A
      * dim-preserved outer join refuses: an unmatched dim row counts 1
      * under COUNT(*) but its null-extended summary row contributes
      * nothing to Σcnt. FullOuter combines both failure modes and
      * refuses.
      *
      * MULTI-dimension stars (and snowflakes) serve too: the join may
      * be a NESTED tree — `((fact ⋈ date_dim) ⋈ cust_dim) ⋈ nation` —
      * peeled one dimension level at a time until the remaining side
      * decomposes to a registered fact (or fact union). The
      * multiplicity argument composes level by level: every join
      * predicate that touches the FACT references summary keys only,
      * so the dim-match set of a summary row is exactly its fact
      * rows' common match set at every level, and dim-to-dim
      * (snowflake) or dim-local conjuncts are untouched by the
      * rewrite. Projects BETWEEN the joins (column pruning, hoisted
      * aliases) strip with their substitutions inlined, exactly like
      * the direct path.
      *
      * Soundness: every conjunct either a fact-attr = dim-attr EqualTo
      * (the fact attr must be a summary key) or a deterministic
      * dim-only residual (snowflake links, dim-local predicates);
      * grouping attrs from the dim sides or fact summary keys;
      * dim-side measures only the multiplicity-insensitive MIN/MAX
      * and DISTINCT aggregates (count/sum/avg over dim change with
      * fact collapse and refuse); fact-side measures the usual
      * cnt/sum/min/max/avg derivations; mixed fact×dim expressions
      * refuse. */
    private final case class DimLevel(dim: LogicalPlan,
        joinType: org.apache.spark.sql.catalyst.plans.JoinType,
        cond: Expression, factOnLeft: Boolean, jhint: JoinHint)

    /** Peel depth cap: a star query joining more dimensions than this
      * refuses (bounded planning time on pathological join towers). */
    private val MaxStarDepth = 8

    private def tryJoinRewrite(groupExprs0: Seq[Expression],
        aggExprs0: Seq[NamedExpression], join: Join,
        hint: Option[AggregateHint]): Option[LogicalPlan] = {
      // every candidate flattening of the join tree: (fact side, dims
      // innermost-first, hoisted-alias substitutions from Projects
      // BETWEEN the joins). Lazy — the first flattening that serves
      // wins, and refused branches never build deeper candidates.
      def peel(plan: LogicalPlan, depth: Int): LazyList[
          (LogicalPlan, List[DimLevel], Map[ExprId, Expression])] =
        plan match {
          case Join(l, r, jt, Some(cond), jh) if depth > 0 =>
            val orients = jt match {
              case Inner => Seq((l, r, true), (r, l, false))
              case LeftOuter => Seq((l, r, true)) // fact preserved
              case RightOuter => Seq((r, l, false))
              case _ => Seq.empty
            }
            LazyList.from(orients).flatMap { case (fs, ds, fol) =>
              val lvl = DimLevel(ds, jt, cond, fol, jh)
              val (below, subst) = stripProjects(fs)
              ((below, List(lvl), subst)) #:: (below match {
                case inner: Join => peel(inner, depth - 1).map {
                  case (f, dims, s2) => (f, dims :+ lvl, subst ++ s2)
                }
                case _ => LazyList.empty[
                  (LogicalPlan, List[DimLevel], Map[ExprId, Expression])]
              })
            }
          case _ => LazyList.empty
        }
      peel(join, MaxStarDepth).flatMap { case (factSide, dims0, subst) =>
        val groupExprs = groupExprs0.map(inline(_, subst))
        val aggExprsI = aggExprs0.map(e => inline(e, subst))
        if (!aggExprsI.forall(_.isInstanceOf[NamedExpression])) None
        else {
          val aggExprs = aggExprsI.map(_.asInstanceOf[NamedExpression])
          val dims = dims0.map(d => d.copy(cond = inline(d.cond, subst)))
          // the fact side may itself be a UNION of registered facts
          // (multi-epoch star schema): validated like tryUnionRewrite,
          // the per-branch canonical scans substitute under the join —
          // Join(Union(b1, b2), dim) distributes over the union, so
          // each branch's multiplicity argument holds independently
          val factUnion: Option[(Union, Seq[Shape])] = factSide match {
            case u: Union if !u.byName && u.children.size >= 2 =>
              val shapesOpt = u.children.map(decompose)
              if (shapesOpt.exists(_.isEmpty)) None
              else {
                val shapes = shapesOpt.map(_.get)
                val lower = (s: String) =>
                  s.toLowerCase(java.util.Locale.ROOT)
                if (renameOnlySubst(u, shapes) &&
                    u.children.forall(c =>
                      c.output.map(a => lower(a.name)) ==
                        u.output.map(a => lower(a.name))))
                  Some((u, shapes))
                else None
              }
            case _ => None
          }
          for {
            shape <- factUnion.map(_._2.head).orElse(decompose(factSide))
            // fact-side Projects were stripped by peel() and their
            // aliases INLINED into the aggregates/groupings/conditions,
            // so a computed column renamed to a measure's name resolves
            // to its computing EXPRESSION — it can never claim the real
            // column's partial by name. This is exactly the direct
            // path's shadowing discipline (the law's VALUE-equality
            // gate covers the join path too). Union facts enforce
            // rename-only substs above; any residual decompose subst
            // (a Project shape peel didn't strip) still refuses.
            if factUnion.isDefined || shape.subst.isEmpty
            factOut = factSide.outputSet
            dimOut = AttributeSet(dims.flatMap(_.dim.output))
            // conjuncts across ALL levels: fact-attr = dim-attr pairs
            // (the fact attr lands in `needed`, so it must be a
            // summary KEY), or deterministic residuals that never
            // touch the fact (dim-dim snowflake links, dim-local
            // predicates) — those the rewrite leaves untouched
            pairs <- sequence(
              dims.flatMap(l => splitConjunctivePredicates(l.cond)).map {
                case EqualTo(a: AttributeReference, b: AttributeReference)
                    if factOut.contains(a) && dimOut.contains(b) =>
                  Some(Some(a))
                case EqualTo(b: AttributeReference, a: AttributeReference)
                    if factOut.contains(a) && dimOut.contains(b) =>
                  Some(Some(a))
                case c if c.deterministic &&
                    !c.exists(_.isInstanceOf[PlanExpression[_]]) &&
                    c.references.toSeq.forall(r => !factOut.contains(r)) =>
                  Some(None)
                case _ => None
              }).map(_.flatten)
            if groupExprs.forall(ge => carriableGrouping(ge) &&
              ge.references.toSeq.forall(ref =>
                dimOut.contains(ref) || factOut.contains(ref)))
            needed = (groupExprs.flatMap(_.references.toSeq
                .filter(factOut.contains).map(_.name)) ++
              pairs.map(_.name) ++
              shape.pred.toSeq.flatMap(_.references.toSeq.map(_.name))).toSet
            result <- candidates(shape, needed).view.flatMap {
              case (n, s) =>
                val r: Option[LogicalPlan] =
                  tryJoinCandidate(s, groupExprs, aggExprs,
                    shape, factUnion, factOut, dimOut, dims, hint)
                  .orElse {
                    // TWO hist measures through the peel: per-measure
                    // join trees, sides joined back. A UNION fact
                    // composes: each side's fact child is the union of
                    // per-branch artifact instances (fresh ids per
                    // side), ONE explosion per side sits OVER the
                    // union — entry multisets concatenate across
                    // branches exactly like the facts they stand for
                    multiHistJoinCandidate(s, groupExprs, aggExprs,
                      shape, factUnion, factOut, dimOut, dims, hint)
                  }
                if (r.isEmpty)
                  note(s"candidate '$n': star-join shape not derivable " +
                    "(needs all-key equi-join, derivable fact measures, " +
                    "multiplicity-insensitive dim measures)")
                else note(s"star-join aggregate SERVED by summary '$n'")
                r
            }.headOption
          } yield result
        }
      }.headOption
    }

    private def tryJoinCandidate(summary: Summary,
        groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression], shape: Shape,
        factUnion: Option[(Union, Seq[Shape])],
        factOut: AttributeSet, dimOut: AttributeSet,
        dims: List[DimLevel],
        hint: Option[AggregateHint]): Option[Aggregate] = for {
      path <- resolveMvPath(summary)
      mvPlan <- mvPlanFor(path, summary.store.isDefined)
      mvAttrs = mvPlan.output.map(a => a.name -> a).toMap
      pred = shape.pred
      if groupExprs.forall(_.references.toSeq.forall(ref =>
        dimOut.contains(ref) ||
          (summary.keys.contains(ref.name) && mvAttrs.contains(ref.name))))
      if pred.forall(_.references.toSeq.forall(r => mvAttrs.contains(r.name)))
      // a registration whose declared keys are absent from the summary
      // FILE must refuse, not throw inside the condition remap
      if dims.forall(_.cond.references.toSeq.filter(factOut.contains)
        .forall(r => mvAttrs.contains(r.name)))
      cnt <- mvAttrs.get("cnt")
      if cnt.dataType == LongType
      // plain partials first; on refusal, the hist explosion (the fact
      // side becomes Generate(posexplode_outer(hist_m), scan) UNDER
      // the join — join keys are summary keys, constant per entry row,
      // so each entry joins exactly like its summary row; dim-side
      // distinct/min-max pass-throughs are value-SET aggregates and
      // replication-safe; fact partials get the first-entry mask). If
      // a dim key matches multiple dim rows, entries replicate per dim
      // row exactly like the fact rows they stand for — consistent
      // with the unrewritten plan by the same multiplicity argument.
      attempt <- {
        val plain = sequence(aggExprs.map(e =>
          rewriteAgg(e, mvAttrs, summary.keys, dimOut,
              exprs = summary.exprs)
            .filter(_.dataType == e.dataType))).map(a =>
          (a, Option.empty[(String, AttributeReference,
            AttributeReference, AttributeReference)]))
        plain.orElse {
          histCandidatesOf(mvAttrs).view.flatMap {
            case (histName, base, _, valueType) =>
              val (posA, kA, vA) = histEntryAttrs(valueType)
              val ctx = HistCtx(base, kA, vA)
              sequence(aggExprs.map(e =>
                rewriteAgg(e, mvAttrs, summary.keys, dimOut,
                  hist = Some(ctx), exprs = summary.exprs)
                  .filter(_.dataType == e.dataType)))
                .filter(_.exists(_.exists(ex => ex == kA || ex == vA)))
                .map(a => (maskToFirstEntry(a, posA, mvAttrs),
                  Some((histName, posA, kA, vA))))
          }.headOption
        }
      }
      (newAggs, histOpt) = attempt
      remap = (ex: Expression) => ex.transform {
        case a: AttributeReference if factOut.contains(a) => mvAttrs(a.name)
      }
      newGroup = groupExprs.map(remap)
      newConds = dims.map(l => remap(l.cond))
      // the fact child: a filtered artifact scan, or (union fact) the
      // union of per-branch canonical scans — shared with the Expand
      // path so the two compositions can never drift
      mvOut = AttributeSet(mvPlan.output)
      childRefs = (AttributeSet(
        newAggs.flatMap(_.references.toSeq) ++
          newGroup.flatMap(_.references.toSeq) ++
          newConds.flatMap(_.references.toSeq)).toSeq.filter(mvOut.contains) ++
        histOpt.map { case (n, _, _, _) => mvAttrs(n) }).distinct
      factPlan0 <- expandChildBuilder(factUnion, shape, summary, mvPlan,
        mvAttrs)(childRefs)
      factPlan = histOpt match {
        case Some((n, posA, kA, vA)) =>
          histExplode(factPlan0.output.find(_.name == n)
            .getOrElse(mvAttrs(n)), posA, kA, vA, factPlan0)
        case None => factPlan0
      }
      // rebuild the join tree innermost-first around the summary scan;
      // dim sides, join types, and residual conjuncts are untouched
      newJoin = dims.zip(newConds).foldLeft(factPlan) {
        case (p, (lvl, c)) =>
          if (lvl.factOnLeft) Join(p, lvl.dim, lvl.joinType, Some(c), lvl.jhint)
          else Join(lvl.dim, p, lvl.joinType, Some(c), lvl.jhint)
      }
    } yield Aggregate(newGroup, newAggs, newJoin, hint)

    /** A FRESH-id copy of a dim-side plan for one per-measure serve
      * side: leaf relations are re-instanced (`newInstance` — fresh
      * exprIds, zero IO), id-MINTING operators re-mint — every Alias
      * in a Project/Aggregate/Window gets a fresh exprId (an
      * aggregated calendar dim, a windowed rank dim, a computed dim
      * projection are ordinary BI dims) — and references above are
      * remapped via `transformUpWithNewOutput`; returns the old→new
      * attribute map so the caller can rewrite join conditions and
      * groupings. Still refused: Generate/Expand dims (generator
      * output ids), non-re-instançable leaves, and any
      * NONDETERMINISTIC expression anywhere in the dim — the two
      * copies must compute value-identical rows or the sides' group
      * sets diverge and the join-back stops being a bijection. */
    private def freshDimCopy(dim: LogicalPlan)
        : Option[(LogicalPlan, Map[ExprId, Attribute])] = {
      import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
      val unsafe = dim.exists {
        case _: Generate | _: Expand => true
        case l: LeafNode => !l.isInstanceOf[MultiInstanceRelation]
        case p => !p.expressions.forall(_.deterministic)
      }
      if (unsafe) None
      else {
        var mapping = Map.empty[ExprId, Attribute]
        def remint(ne: NamedExpression)
            : (NamedExpression, Seq[(Attribute, Attribute)]) = ne match {
          case al: Alias =>
            val fresh = Alias(al.child, al.name)(
              qualifier = al.qualifier,
              explicitMetadata = al.explicitMetadata)
            (fresh, Seq((al.toAttribute, fresh.toAttribute)))
          case other => (other, Seq.empty)
        }
        val fresh = dim.transformUpWithNewOutput {
          case m: MultiInstanceRelation =>
            val ni = m.newInstance()
            val pairs = m.asInstanceOf[LogicalPlan].output.zip(ni.output)
            mapping ++= pairs.map { case (o, n) => o.exprId -> n }
            (ni, pairs)
          case p: Project if p.projectList.exists(_.isInstanceOf[Alias]) =>
            val r = p.projectList.map(remint)
            val pairs = r.flatMap(_._2)
            mapping ++= pairs.map { case (o, n) => o.exprId -> n }
            (Project(r.map(_._1), p.child), pairs)
          case a: Aggregate
              if a.aggregateExpressions.exists(_.isInstanceOf[Alias]) =>
            val r = a.aggregateExpressions.map(remint)
            val pairs = r.flatMap(_._2)
            mapping ++= pairs.map { case (o, n) => o.exprId -> n }
            (a.copy(aggregateExpressions = r.map(_._1)), pairs)
          case w: Window
              if w.windowExpressions.exists(_.isInstanceOf[Alias]) =>
            val r = w.windowExpressions.map(remint)
            val pairs = r.flatMap(_._2)
            mapping ++= pairs.map { case (o, n) => o.exprId -> n }
            (w.copy(windowExpressions = r.map(_._1)), pairs)
        }
        Some((fresh, mapping))
      }
    }

    /** TWO-histogram serving THROUGH the star peel — `median(x),
      * median(y)` (plus distinct counts, plain totals, and dim
      * value-set pass-throughs) grouped by DIM attributes: one
      * explosion per rewritten plan is the law, so the star splits per
      * measure exactly like the flat path ([[multiHistRewrite]]) —
      * each side joins ITS own artifact instance (explosion UNDER the
      * join, the proven single-hist star discipline: join keys are
      * summary keys, constant per entry row) to a FRESH-id copy of the
      * dim sides ([[freshDimCopy]]), and the per-side aggregates join
      * back BROADCAST on null-safe grouping values. Exactness: every
      * side rebuilds the identical join (same conditions over equal
      * dim copies), so the sides' group sets agree and the join back
      * is a bijection; per side the aggregates are the single-hist
      * star derivations, first-entry-masked. Side 0 keeps the ORIGINAL
      * dim instances, so grouping pass-throughs keep their exprIds and
      * the parent plan is untouched. Composed glue across measures
      * splits into per-side pieces and re-evaluates above the join.
      * At 100 TB each side is summary-group-sized — the "two medians
      * per dim attribute" dashboard reads kilobytes per measure. */
    private def multiHistJoinCandidate(summary: Summary,
        groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression], shape: Shape,
        factUnion: Option[(Union, Seq[Shape])],
        factOut: AttributeSet, dimOut: AttributeSet,
        dims: List[DimLevel],
        hint: Option[AggregateHint]): Option[LogicalPlan] = {
      val path = resolveMvPath(summary).getOrElse(return None)
      val probeAttrs = mvPlanFor(path, summary.store.isDefined)
        .map(_.output.map(a => a.name -> a).toMap).getOrElse(return None)
      if (!probeAttrs.get("cnt").exists(_.dataType == LongType))
        return None
      val cands = histCandidatesOf(probeAttrs)
      if (cands.size < 2) return None
      // side of one rewritable unit: "" = plain star-derivable (rides
      // side 0), else the hist_<col> whose explosion derives it
      def probeSide(ne: NamedExpression): Option[String] = {
        if (rewriteAgg(ne, probeAttrs, summary.keys, dimOut,
            exprs = summary.exprs)
            .filter(_.dataType == ne.dataType).isDefined) Some("")
        else cands.collectFirst {
          case (hn, base, _, vt) if {
            val (_, kA, vA) = histEntryAttrs(vt)
            rewriteAgg(ne, probeAttrs, summary.keys, dimOut,
              hist = Some(HistCtx(base, kA, vA)), exprs = summary.exprs)
              .filter(_.dataType == ne.dataType)
              .exists(_.exists(ex => ex == kA || ex == vA))
          } => hn
        }
      }
      var pieceSeq = 0
      val assign: Seq[Option[Either[String,
          Seq[(AggregateExpression, String, Alias)]]]] =
        aggExprs.map { e =>
          probeSide(e).map(scala.util.Left(_)).orElse {
            val aes = e.collect { case ae: AggregateExpression => ae }
            val bare = e.transform {
              case _: AggregateExpression => Literal(null)
            }.references
            if (aes.isEmpty || bare.nonEmpty || !e.deterministic ||
                e.exists(_.isInstanceOf[PlanExpression[_]])) None
            else sequence(aes.map(ae =>
              probeSide(Alias(ae, "__mhj_probe")())))
              .map { sides =>
                scala.util.Right(aes.zip(sides).map { case (ae, s) =>
                  pieceSeq += 1
                  (ae, s, Alias(ae, s"__mhj_ae_$pieceSeq")())
                })
              }
          }
        }
      if (assign.exists(_.isEmpty)) return None
      val flatAssign = assign.map(_.get)
      val neededHists = flatAssign.flatMap {
        case scala.util.Left(s) => Seq(s)
        case scala.util.Right(ps) => ps.map(_._2)
      }.filter(_.nonEmpty).distinct
      if (neededHists.size < 2) return None
      val sideOuts: Seq[(String, Seq[NamedExpression])] =
        neededHists.zipWithIndex.map { case (hn, i) =>
          hn -> aggExprs.zip(flatAssign).flatMap {
            case (e, scala.util.Left(a))
                if a == hn || (i == 0 && a.isEmpty) => Seq(e)
            case (_, scala.util.Right(ps)) => ps.collect {
              case (_, s, al) if s == hn || (i == 0 && s.isEmpty) => al
            }
            case _ => Seq.empty
          }
        }
      // one side: fresh artifact instance, pushed fact filter, ONE
      // explosion UNDER the rebuilt join to (fresh) dim copies
      def buildSide(hn: String, outs: Seq[NamedExpression],
          freshDims: Boolean): Option[(Aggregate, Seq[Attribute])] = for {
        plan <- mvPlanFor(path, summary.store.isDefined)
        attrs = plan.output.map(a => a.name -> a).toMap
        histAttr <- attrs.get(hn)
        if HistSummary.isHistType(histAttr.dataType)
        if shape.pred.forall(_.references.toSeq.forall(r =>
          attrs.contains(r.name)))
        if dims.forall(_.cond.references.toSeq.filter(factOut.contains)
          .forall(r => attrs.contains(r.name)))
        dimCopies <- sequence(dims.map { l =>
          if (!freshDims) Some((l, Seq.empty[(ExprId, Attribute)]))
          else freshDimCopy(l.dim).map { case (d, m) =>
            (l.copy(dim = d), m.toSeq)
          }
        })
        base = hn.stripPrefix("hist_")
        entryAttrs = histEntryAttrs(
          histAttr.dataType.asInstanceOf[MapType].keyType)
        rewritten <- sequence(outs.map(e =>
          rewriteAgg(e, attrs, summary.keys, dimOut,
            hist = Some(HistCtx(base, entryAttrs._2, entryAttrs._3)),
            exprs = summary.exprs)
            .filter(_.dataType == e.dataType)))
        (posA, kA, vA) = entryAttrs
        dimMap = dimCopies.flatMap(_._2).toMap
        remap = (ex: Expression) => ex.transform {
          case a: AttributeReference
              if factOut.contains(a) && attrs.contains(a.name) =>
            attrs(a.name)
          case a: AttributeReference if dimMap.contains(a.exprId) =>
            dimMap(a.exprId)
        }
        masked = maskToFirstEntry(rewritten, posA, attrs)
          .map(e => remap(e).asInstanceOf[NamedExpression])
        groupVals = groupExprs.zipWithIndex.map { case (g, j) =>
          Alias(remap(g), s"__mhj_g$j")()
        }
        newConds = dims.map(l => remap(l.cond))
        filtered = shape.pred.map(p => Filter(remap(p), plan))
          .getOrElse(plan)
        // the fact child under THIS side's explosion: the filtered
        // anchor instance, or (union fact) the union of per-branch
        // artifact instances projected to the side's required columns
        // — branch 0 is the anchor, each other branch resolves its own
        // carrying candidate by the cross-branch name+type(+expression
        // SQL) contract. No hybrid here: an exact histogram cannot be
        // partialized from a fact scan without defeating
        // fact-scan-free, so a branch without a carrying artifact
        // refuses the whole side.
        factChild <- factUnion match {
          case None => Some(filtered)
          case Some((u, shapes)) =>
            val planOut = AttributeSet(plan.output)
            val required = (AttributeSet(
              masked.flatMap(_.references.toSeq) ++
                groupVals.flatMap(_.references.toSeq) ++
                newConds.flatMap(_.references.toSeq)).toSeq
              .filter(planOut.contains) :+ histAttr)
              .map(_.name).distinct.sorted
            val refTypes = required.map(nm => nm -> attrs(nm).dataType)
              .toMap
            if (!branchCarries(required, refTypes, attrs, summary.keys))
              None
            else {
              // expression-backed partials (hist_<e> included) must
              // bind the SAME SQL on every branch's registration
              val usedExprNames = required.collect {
                case nm if nm.startsWith("sumx_") => nm.stripPrefix("sumx_")
                case nm if nm.startsWith("cntx_") => nm.stripPrefix("cntx_")
                case nm if nm.startsWith("minx_") => nm.stripPrefix("minx_")
                case nm if nm.startsWith("maxx_") => nm.stripPrefix("maxx_")
                case nm if nm.startsWith("hist_") &&
                    summary.exprs.contains(nm.stripPrefix("hist_")) =>
                  nm.stripPrefix("hist_")
              }.distinct
              val proj0 = Project(required.map(attrs(_)), filtered)
              val others = u.children.indices.drop(1).map { i =>
                val needs = required.filterNot(isPartialName).toSet ++
                  shapes(i).pred.toSeq
                    .flatMap(_.references.toSeq.map(_.name))
                candidates(shapes(i), needs).view.flatMap { case (_, s) =>
                  for {
                    pth <- resolveMvPath(s)
                    pl <- mvPlanFor(pth, s.store.isDefined)
                    at = pl.output.map(a => a.name -> a).toMap
                    if shapes(i).pred.forall(_.references.toSeq.forall(
                      r => at.contains(r.name)))
                    if branchCarries(required, refTypes, at, s.keys)
                    if usedExprNames.forall(en =>
                      s.exprs.get(en) == summary.exprs.get(en))
                  } yield {
                    val remapI = (ex: Expression) => ex.transform {
                      case a: AttributeReference if at.contains(a.name) =>
                        at(a.name)
                    }
                    val pi = shapes(i).pred
                      .map(p => Filter(remapI(p), pl)).getOrElse(pl)
                    Project(required.map(at(_)), pi)
                  }
                }.headOption
              }
              if (others.exists(_.isEmpty)) {
                note("multi-hist star over a union fact: a branch has " +
                  "no carrying artifact — refusing the side (exact " +
                  "histograms cannot be partialized fact-scan-free)")
                None
              } else Some(Union((proj0 +: others.map(_.get)).toIndexedSeq))
            }
        }
      } yield {
        val gen = histExplode(histAttr, posA, kA, vA, factChild)
        val newJoin = dimCopies.zip(newConds).foldLeft(gen: LogicalPlan) {
          case (p, ((lvl, _), c)) =>
            if (lvl.factOnLeft)
              Join(p, lvl.dim, lvl.joinType, Some(c), lvl.jhint)
            else Join(lvl.dim, p, lvl.joinType, Some(c), lvl.jhint)
        }
        val agg = Aggregate(groupExprs.map(remap),
          groupVals ++ masked, newJoin, hint)
        (agg, groupVals.map(_.toAttribute))
      }
      val sides = sideOuts.zipWithIndex.map { case ((hn, outs), i) =>
        buildSide(hn, outs, freshDims = i > 0)
      }
      if (sides.exists(_.isEmpty)) return None
      val joined = sides.map(_.get).reduceLeft[(LogicalPlan,
          Seq[Attribute])] { case ((l, lg), (r, rg)) =>
        val cond = lg.zip(rg).map { case (a, b) =>
          EqualNullSafe(a, b): Expression
        }.reduceOption(And)
        (Join(l, r, if (cond.isEmpty) Cross else Inner, cond,
          sideJoinHint(r)), lg)
      }._1
      val byId: Map[ExprId, Attribute] = sides.flatMap(
        _.get._1.aggregateExpressions.map(_.toAttribute))
        .map(a => a.exprId -> a).toMap
      val projected: Seq[Option[NamedExpression]] =
        aggExprs.zip(flatAssign).map {
          case (e, scala.util.Left(_)) => byId.get(e.exprId)
          case (e, scala.util.Right(ps)) =>
            if (!ps.forall(p => byId.contains(p._3.exprId))) None
            else {
              val glued = e.transform {
                case ae: AggregateExpression =>
                  ps.find(_._1 eq ae).map(p => byId(p._3.exprId))
                    .getOrElse(ae)
              }
              Some(Alias(glued, e.name)(exprId = e.exprId))
            }
        }
      if (projected.exists(_.isEmpty)) return None
      note(s"star-join aggregate SERVED via ${neededHists.size} " +
        "per-measure histogram explosions under per-side join trees, " +
        "joined back on the grouping values")
      Some(Project(projected.map(_.get), joined))
    }

    /** Attempt the rewrite against ONE candidate summary; any missing
      * measure column, type mismatch, or unreadable artifact refuses
      * this candidate (the next — or the fact scan — answers), with
      * the reason traced for [[explainServing]]. */
    private def tryRewrite(name: String, summary: Summary,
        groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression], pred: Option[Expression],
        hint: Option[AggregateHint]): Option[LogicalPlan] = {
      def refuse(reason: String): Option[LogicalPlan] = {
        note(s"candidate '$name': $reason")
        None
      }
      val path = resolveMvPath(summary).getOrElse(
        return refuse("store has no committed snapshot yet"))
      val mvPlan = mvPlanFor(path, summary.store.isDefined).getOrElse(
        return refuse(s"artifact unreadable at $path"))
      val mvAttrs = mvPlan.output.map(a => a.name -> a).toMap
      if (!groupExprs.forall(_.references.toSeq.forall(r =>
          summary.keys.contains(r.name) && mvAttrs.contains(r.name))))
        return refuse("a grouping column is not a declared key present " +
          "in the artifact")
      if (!pred.forall(_.references.toSeq.forall(r =>
          mvAttrs.contains(r.name))))
        return refuse("the filter references a column absent from the " +
          "artifact")
      val cnt = mvAttrs.getOrElse("cnt",
        return refuse("artifact has no 'cnt' column"))
      if (cnt.dataType != LongType)
        return refuse("artifact 'cnt' column is not LongType")
      val remap = (ex: Expression) => ex.transform {
        case a: AttributeReference if mvAttrs.contains(a.name) =>
          mvAttrs(a.name)
      }
      val filteredMv = pred match {
        case Some(p) => Filter(remap(p), mvPlan)
        case None => mvPlan
      }
      // type-preservation contract: the substituted expression must
      // resolve to EXACTLY the original dataType, or parents would see
      // a corrupted schema (e.g. decimal Sum re-aggregation widens)
      val rewritten = aggExprs.map(e =>
        e -> rewriteAgg(e, mvAttrs, summary.keys, exprs = summary.exprs)
          .filter(_.dataType == e.dataType))
      if (rewritten.forall(_._2.isDefined)) {
        note(s"aggregate SERVED by summary '$name' (artifact: $path)")
        return Some(Aggregate(groupExprs.map(remap),
          rewritten.map(_._2.get), filteredMv, hint))
      }
      // the plain partials cannot serve some output — try the
      // HISTOGRAM path: explode ONE hist_<col> map into (pos, value,
      // count) entry rows so the distinct-family/percentile/sketch
      // over that measure re-run on the exact value→count multiset,
      // while every OTHER aggregate's partial reference is null-MASKED
      // to the first entry per summary row (coalesce(pos,0)=0 — the
      // explosion replicates summary rows, and an unmasked Σcnt would
      // overcount by the histogram's size; outer explode keeps
      // all-null-measure groups as a single pos-null row that carries
      // the partials). One map per EXPLOSION by design: a second
      // exploded histogram in one Generate chain would cross-product
      // the entries — so a query needing TWO histograms serves via
      // per-measure explosions JOINED on the grouping values
      // ([[multiHistRewrite]]), never a cross-product.
      histRewrite(name, summary, groupExprs, aggExprs, mvAttrs,
        filteredMv, remap, hint).orElse(
        multiHistRewrite(name, summary, path, groupExprs, aggExprs,
          pred, hint, mvAttrs)
      ).orElse {
        refuse(s"output '${rewritten.find(_._2.isEmpty).get._1.name}' " +
          "is not derivable from the artifact (needs a matching " +
          "cnt/sum_/min_/max_/hll_/hist_ partial of the same type; " +
          "distinct/percentile over keys or hist-carried measures)")
      }
    }

    /** Two-level rebuild of a hist-serving Aggregate when a DISTINCT
      * aggregate over the exploded value is present. Spark plans a
      * single-distinct-group aggregate (AggUtils
      * planAggregateWithOneDistinct) by FIRST partially aggregating on
      * (grouping ∪ distinct-value) — which instantiates every
      * imperative buffer (Percentile's value→count OpenHashMap, HLL
      * registers) once per DISTINCT VALUE: for a near-unique hist
      * measure (q289's revenue, ~150k values per group at sf0.1) that
      * is hundreds of thousands of boxed maps allocated and merged per
      * partition — measured 18.8 task-sec + GC storms for a 600k-entry
      * explosion whose useful work is a few hundred ms.
      *
      * The rebuild makes the value-merge EXPLICIT and keeps the
      * expensive aggregates out of it:
      *
      *   Aggregate(G, aggs, Generate)
      *     → Aggregate(G', aggs', Aggregate(G ∪ {k}, pre, Generate))
      *
      * The inner aggregate groups by (G, value) — plain codegen
      * hash-aggregation over longs — merging entry multiplicities
      * (Σ count) and pre-folding every decomposable partial (Σ/min/max/
      * count of masked partials). The outer then computes:
      * count/sum/avg DISTINCT value → the same function NON-distinct
      * (each surviving (G, value) row carries the value exactly once);
      * percentile(value, p, count) → percentile(value, p, Σcount)
      * (identical value→count multiset, identical interpolation);
      * min/max(value) and set-pure HLL(value) verbatim; Σ over a
      * pre-Σ, min over a pre-min, max over a pre-max, Σ over a
      * pre-count. Every derivation is the associative-partial argument
      * the rewrite already rests on; the outer result is value-exact
      * against the single-level plan. The pos-null row an OUTER
      * explode emits for an empty histogram forms its own (G, null)
      * inner group: null values are skipped by count/sum/avg/min/max
      * DISTINCT exactly as before, and its Σcount is null, which
      * Percentile's update skips — the same null-row reliance the
      * single-level plan documents above.
      *
      * Scope guard: fires only when at least one distinct-over-value
      * aggregate exists (the pathological planner shape); bails to the
      * unsplit Aggregate whenever ANY aggregate falls outside the
      * decomposable set (FILTER clauses, non-Long sums whose
      * re-aggregation would widen the type, register-merge partials,
      * percentile over anything but the bare value) — refusal keeps
      * the proven single-level plan, never guesses. */
    private def splitHistDistinct(agg: Aggregate, posA: Attribute,
        kA: Attribute, vA: Attribute): Aggregate = {
      val distinctOverK = (ae: AggregateExpression) =>
        ae.isDistinct && ae.filter.isEmpty &&
          (ae.aggregateFunction match {
            case c: Count => c.children == Seq(kA)
            case s: Sum => s.child == kA
            case av: Average => av.child == kA
            case _ => false
          })
      if (!agg.aggregateExpressions.exists(_.exists {
          case ae: AggregateExpression => distinctOverK(ae)
          case _ => false
        })) return agg
      // inner pre-aggregates, deduped by canonicalized function
      var pres = Seq.empty[(Expression, Alias)]
      def preFor(fn: AggregateFunction): Attribute = {
        val key = fn.canonicalized
        pres.find(_._1 == key).map(_._2.toAttribute).getOrElse {
          val al = Alias(
            AggregateExpression(fn, Complete, isDistinct = false),
            s"__dh_pre_${pres.size}")()
          pres :+= ((key, al))
          al.toAttribute
        }
      }
      var ok = true
      def complete(fn: AggregateFunction): AggregateExpression =
        AggregateExpression(fn, Complete, isDistinct = false)
      val replaced = agg.aggregateExpressions.map(_.transformUp {
        case ae: AggregateExpression if distinctOverK(ae) =>
          complete(ae.aggregateFunction)
        case ae: AggregateExpression if ae.filter.isEmpty &&
            !ae.isDistinct =>
          ae.aggregateFunction match {
            case p: Percentile
                if p.child == kA && p.frequencyExpression == vA =>
              complete(p.withNewChildren(Seq(kA,
                p.percentageExpression, preFor(Sum(vA))))
                .asInstanceOf[AggregateFunction])
            // set-pure over the value: identical registers whether it
            // sees each value once (inner-merged) or per entry row
            case h: HyperLogLogPlusPlus if h.child == kA => ae
            case s: Sum if s.dataType == LongType &&
                !s.child.exists(_ == kA) =>
              complete(Sum(preFor(Sum(s.child))))
            case m: Min if !m.child.exists(_ == kA) =>
              complete(Min(preFor(Min(m.child))))
            case m: Max if !m.child.exists(_ == kA) =>
              complete(Max(preFor(Max(m.child))))
            case m: Min if m.child == kA => ae
            case m: Max if m.child == kA => ae
            case c: Count if !c.children.exists(_.exists(_ == kA)) =>
              complete(Sum(preFor(Count(c.children))))
            case _ => ok = false; ae
          }
        case ae: AggregateExpression => ok = false; ae
      }.asInstanceOf[NamedExpression])
      if (!ok) return agg
      val gAliases = agg.groupingExpressions.zipWithIndex.map {
        case (g, i) => Alias(g, s"__dh_g$i")()
      }
      val gAttrs = gAliases.map(_.toAttribute)
      // rebase grouping-expression occurrences in the outputs onto the
      // inner grouping aliases (aggregate children were already fully
      // replaced above, so only passthrough/glue positions remain)
      val rebased = replaced.zip(agg.aggregateExpressions).map {
        case (ne, orig) =>
          val r = ne.transformDown {
            case ex if agg.groupingExpressions.exists(_.semanticEquals(ex)) =>
              gAttrs(agg.groupingExpressions.indexWhere(_.semanticEquals(ex)))
          }
          r match {
            case n: NamedExpression if n.exprId == orig.exprId => n
            case other => Alias(other, orig.name)(exprId = orig.exprId)
          }
      }
      val allowed = AttributeSet(gAttrs ++ Seq(kA) ++
        pres.map(_._2.toAttribute))
      if (!rebased.forall(_.references.subsetOf(allowed))) return agg
      val inner = Aggregate(agg.groupingExpressions :+ kA,
        gAliases ++ Seq(kA) ++ pres.map(_._2), agg.child)
      note("hist distinct serve split into (grouping, value) " +
        "pre-aggregation + plain outer aggregates")
      Aggregate(gAttrs, rebased, inner, agg.hint)
    }

    /** The histogram serving path of [[tryRewrite]]: pick the first
      * `hist_<col>` artifact column (name order — deterministic) that
      * lets EVERY output rewrite, and serve over
      * `Generate(PosExplode(hist_col), outer)` with non-hist partial
      * references masked to one entry per summary row. Exactness: the
      * hist aggregates consume the exact value→count multiset
      * ([[HistSummary]]); the masked aggregates see exactly one
      * un-nulled partial per summary row (pos 0, or the pos-null row
      * of an empty histogram under OUTER explode), which is the
      * un-exploded input; Percentile/HLL ignore null-frequency/null-
      * register rows by Spark's own update semantics. */
    private def histRewrite(name: String, summary: Summary,
        groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression],
        mvAttrs: Map[String, Attribute], filteredMv: LogicalPlan,
        remap: Expression => Expression,
        hint: Option[AggregateHint]): Option[Aggregate] = {
      histCandidatesOf(mvAttrs).view.flatMap {
        case (histName, base, histAttr, valueType) =>
          val (posA, kA, vA) = histEntryAttrs(valueType)
          val ctx = HistCtx(base, kA, vA)
          val rewritten = sequence(aggExprs.map(e =>
            rewriteAgg(e, mvAttrs, summary.keys, hist = Some(ctx),
                exprs = summary.exprs)
              .filter(_.dataType == e.dataType)))
          rewritten.flatMap { newAggs =>
            // the hist attempt must have been NEEDED: at least one
            // output actually consumes the exploded entries, or the
            // plain refusal had a different cause and the explosion
            // would only add a pointless Generate
            if (!newAggs.exists(_.exists(ex => ex == kA || ex == vA)))
              None
            else {
              val masked = maskToFirstEntry(newAggs, posA, mvAttrs)
              val gen = histExplode(histAttr, posA, kA, vA, filteredMv)
              note(s"aggregate SERVED by summary '$name' via $histName " +
                "histogram explosion")
              Some(splitHistDistinct(
                Aggregate(groupExprs.map(remap), masked, gen, hint),
                posA, kA, vA))
            }
          }
      }.headOption
    }

    /** TWO-HISTOGRAM serving — `median(x), median(y) GROUP BY k` in
      * one aggregate (the common two-median dashboard row). One map
      * per explosion is the law (a second PosExplode in the same
      * chain would cross-product the entries), so each needed
      * histogram gets its OWN explosion over its OWN instance of the
      * artifact scan, aggregated per measure group, and the
      * per-measure Aggregates JOIN back on NULL-SAFE grouping values.
      *
      * Exactness: each side is exactly the single-histogram rewrite
      * (its own soundness laws apply verbatim); both sides aggregate
      * the SAME artifact rows under the SAME filter and grouping, so
      * their group sets are identical and the inner `<=>` equi-join is
      * a bijection — no group appears, disappears, or duplicates
      * (grouping values are unique per Aggregate output by
      * construction). A global (group-less) aggregate joins two
      * single-row sides with a Cross join — still a bijection.
      *
      * Cost at 100 TB: both sides re-scan the same kilobyte artifact
      * and the join is summary-GROUP-sized (≤ artifact rows) — noise
      * next to the fact scan it replaces. Broadcast-ability is free
      * (tiny sides).
      *
      * Composed glue ACROSS the measures serves too —
      * `median(x) + median(y)` in ONE output splits at the
      * AGGREGATE-EXPRESSION level: each embedded aggregate computes on
      * its own side under a fresh name and the glue is re-evaluated in
      * the top Project over the joined sides (sound because per output
      * group the join is a bijection, so the glue sees exactly the
      * per-group aggregate values the single plan would have). Glue
      * with bare non-aggregate references, a subquery, or an embedded
      * aggregate deriving from no side refuses; fewer than two needed
      * histograms defers to the single-map path. */
    private def multiHistRewrite(name: String, summary: Summary,
        path: String, groupExprs: Seq[Expression],
        aggExprs: Seq[NamedExpression], pred: Option[Expression],
        hint: Option[AggregateHint],
        probeAttrs: Map[String, Attribute]): Option[LogicalPlan] = {
      // derivability probing reuses the caller's already-resolved
      // artifact attrs — no extra footer read on the refusal path
      val cands = histCandidatesOf(probeAttrs)
      if (cands.size < 2) return None
      // side of one rewritable unit: "" = plain-derivable (rides side
      // 0), else the hist_<col> name whose explosion derives it
      def probeSide(ne: NamedExpression): Option[String] = {
        if (rewriteAgg(ne, probeAttrs, summary.keys,
            exprs = summary.exprs)
            .filter(_.dataType == ne.dataType).isDefined) Some("")
        else cands.collectFirst {
          case (hn, base, _, vt) if {
            val (_, kA, vA) = histEntryAttrs(vt)
            rewriteAgg(ne, probeAttrs, summary.keys,
              hist = Some(HistCtx(base, kA, vA)), exprs = summary.exprs)
              .filter(_.dataType == ne.dataType)
              .exists(_.exists(ex => ex == kA || ex == vA))
          } => hn
        }
      }
      // partition outputs: Left(side) = the WHOLE output derives on
      // one side; Right(pieces) = composed glue across sides — each
      // embedded aggregate becomes a fresh-named side output and the
      // glue re-evaluates above the join; None refuses
      var pieceSeq = 0
      val assign: Seq[Option[Either[String,
          Seq[(AggregateExpression, String, Alias)]]]] =
        aggExprs.map { e =>
          probeSide(e).map(scala.util.Left(_)).orElse {
            val aes = e.collect { case ae: AggregateExpression => ae }
            val bare = e.transform {
              case _: AggregateExpression => Literal(null)
            }.references
            if (aes.isEmpty || bare.nonEmpty || !e.deterministic ||
                e.exists(_.isInstanceOf[PlanExpression[_]])) None
            else sequence(aes.map(ae =>
              probeSide(Alias(ae, "__mh_probe")())))
              .map { sides =>
                scala.util.Right(aes.zip(sides).map { case (ae, s) =>
                  pieceSeq += 1
                  (ae, s, Alias(ae, s"__mh_ae_$pieceSeq")())
                })
              }
          }
        }
      if (assign.exists(_.isEmpty)) return None
      val flatAssign = assign.map(_.get)
      val neededHists = flatAssign.flatMap {
        case scala.util.Left(s) => Seq(s)
        case scala.util.Right(ps) => ps.map(_._2)
      }.filter(_.nonEmpty).distinct
      if (neededHists.size < 2) return None
      // side 0 carries the plain units + the first histogram's; each
      // further histogram gets its own side
      val sideOuts: Seq[(String, Seq[NamedExpression])] =
        neededHists.zipWithIndex.map { case (hn, i) =>
          hn -> aggExprs.zip(flatAssign).flatMap {
            case (e, scala.util.Left(a))
                if a == hn || (i == 0 && a.isEmpty) => Seq(e)
            case (_, scala.util.Right(ps)) => ps.collect {
              case (_, s, al) if s == hn || (i == 0 && s.isEmpty) => al
            }
            case _ => Seq.empty
          }
        }
      // one side: fresh artifact instance, the branch filter, ONE
      // explosion, grouping values under stable fresh names
      def buildSide(hn: String, outs: Seq[NamedExpression])
          : Option[(Aggregate, Seq[Attribute])] = for {
        plan <- mvPlanFor(path, summary.store.isDefined)
        attrs = plan.output.map(a => a.name -> a).toMap
        histAttr <- attrs.get(hn)
        if HistSummary.isHistType(histAttr.dataType)
        base = hn.stripPrefix("hist_")
        (posA, kA, vA) = histEntryAttrs(
          histAttr.dataType.asInstanceOf[MapType].keyType)
        remap = (ex: Expression) => ex.transform {
          case a: AttributeReference if attrs.contains(a.name) =>
            attrs(a.name)
        }
        rewritten <- sequence(outs.map(e =>
          rewriteAgg(e, attrs, summary.keys,
            hist = Some(HistCtx(base, kA, vA)), exprs = summary.exprs)
            .filter(_.dataType == e.dataType)))
      } yield {
        val filtered = pred.map(p => Filter(remap(p), plan))
          .getOrElse(plan)
        val gen = histExplode(histAttr, posA, kA, vA, filtered)
        val groupVals = groupExprs.zipWithIndex.map { case (g, j) =>
          Alias(remap(g), s"__mh_g$j")()
        }
        val agg = splitHistDistinct(
          Aggregate(groupExprs.map(remap),
            groupVals ++ maskToFirstEntry(rewritten, posA, attrs), gen,
            hint),
          posA, kA, vA)
        (agg, groupVals.map(_.toAttribute))
      }
      val sides = sideOuts.map { case (hn, outs) => buildSide(hn, outs) }
      if (sides.exists(_.isEmpty)) return None
      val joined = sides.map(_.get).reduceLeft[(LogicalPlan,
          Seq[Attribute])] { case ((l, lg), (r, rg)) =>
        val cond = lg.zip(rg).map { case (a, b) =>
          EqualNullSafe(a, b): Expression
        }.reduceOption(And)
        (Join(l, r, if (cond.isEmpty) Cross else Inner, cond,
          sideJoinHint(r)), lg)
      }._1
      val byId: Map[ExprId, Attribute] = sides.flatMap(
        _.get._1.aggregateExpressions.map(_.toAttribute))
        .map(a => a.exprId -> a).toMap
      val projected: Seq[Option[NamedExpression]] =
        aggExprs.zip(flatAssign).map {
          case (e, scala.util.Left(_)) => byId.get(e.exprId)
          case (e, scala.util.Right(ps)) =>
            if (!ps.forall(p => byId.contains(p._3.exprId))) None
            else {
              // re-evaluate the glue above the join: each embedded
              // aggregate occurrence swaps for its side's attribute
              // (node identity — the pieces were collected from this
              // very tree)
              val glued = e.transform {
                case ae: AggregateExpression =>
                  ps.find(_._1 eq ae).map(p => byId(p._3.exprId))
                    .getOrElse(ae)
              }
              Some(Alias(glued, e.name)(exprId = e.exprId))
            }
        }
      if (projected.exists(_.isEmpty)) return None
      note(s"aggregate SERVED by summary '$name' via " +
        s"${neededHists.size} per-measure histogram explosions joined " +
        "on the grouping values")
      Some(Project(projected.map(_.get), joined))
    }

    /** `hist_<col>` columns of an artifact's attribute map: (column
      * name, base measure, attribute, value type) — name-sorted so
      * the candidate order is deterministic. */
    private def histCandidatesOf(attrs: Map[String, Attribute])
        : Seq[(String, String, Attribute, DataType)] =
      attrs.toSeq.sortBy(_._1).flatMap {
        case (n, at) if HistSummary.isHistType(at.dataType) =>
          n match {
            case HistSummary.NamePattern(base) =>
              Seq((n, base, at, at.dataType.asInstanceOf[MapType].keyType))
            case _ => Seq.empty
          }
        case _ => Seq.empty
      }

    /** Fresh (pos, value, count) attributes for one histogram
      * explosion — PosExplode's element schema over map<T,bigint>. */
    private def histEntryAttrs(valueType: DataType)
        : (AttributeReference, AttributeReference, AttributeReference) =
      (AttributeReference("__hist_pos", IntegerType, nullable = true)(),
        AttributeReference("__hist_value", valueType, nullable = true)(),
        AttributeReference("__hist_count", LongType, nullable = true)())

    /** Null-mask every artifact PARTIAL reference in `aggs` to the
      * first entry per summary row — exactly one un-nulled partial
      * per summary row survives the explosion: pos 0 of a non-empty
      * histogram, or the pos-null row an OUTER explode emits for an
      * empty one. transformUp, not transformDown: the replacement
      * embeds the original attribute, and a downward transform would
      * descend into it and wrap forever. */
    /** The histogram explosion node, with the MAP column dropped from
      * the generate OUTPUT (`unrequiredChildIndex`). The rule runs in
      * extraOptimizations — AFTER ColumnPruning's batch — so nothing
      * downstream re-prunes, and an exploded row that carried the
      * whole map would multiply the map's footprint by its own entry
      * count: quadratic in histogram size, an executor OOM on large
      * histograms (a ~150k-entry revenue histogram exploded to ~150k
      * rows × a ~2 MB map each). The aggregates above reference only
      * the entry attrs and first-entry-masked partials, never the
      * map itself. */
    private def histExplode(histAttr: Attribute, posA: Attribute,
        kA: Attribute, vA: Attribute, child: LogicalPlan): Generate = {
      val drop = child.output.zipWithIndex.collect {
        case (a, i) if a.exprId == histAttr.exprId => i
      }
      Generate(PosExplode(histAttr), drop, outer = true, None,
        Seq(posA, kA, vA), child)
    }

    private def maskToFirstEntry(aggs: Seq[NamedExpression],
        posA: Attribute,
        attrs: Map[String, Attribute]): Seq[NamedExpression] = {
      val pos0 = EqualTo(Coalesce(Seq(posA, Literal(0))), Literal(0))
      aggs.map(_.transformUp {
        case a: AttributeReference
            if isPartialName(a.name) &&
              attrs.get(a.name).exists(_.exprId == a.exprId) =>
          If(pos0, a, Literal(null, a.dataType))
      }.asInstanceOf[NamedExpression])
    }

    private def sequence[T](xs: Seq[Option[T]]): Option[Seq[T]] =
      if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

    /** Floating-point partials refuse SUM derivation (see the Sum case
      * in [[rewriteAgg]]): re-associated float adds are not the fact
      * scan's bits. */
    private def fpType(t: DataType): Boolean =
      t == DoubleType || t == FloatType

    /** Rewrite one output expression of the aggregate, preserving its
      * name and exprId so the subtree drops into the parent plan.
      * Matching goes through the AggregateExpression's function field
      * (not positional patterns — Sum carries an evalMode in Spark 4).
      * Measure children must be FACT-side (`!dimOut.contains`) — a
      * dim attribute whose NAME collides with a summarized fact
      * measure must refuse, never silently serve the fact partial. */
    /** Histogram-serving context for [[rewriteAgg]]: the measure
      * column whose `hist_<col>` map the rewritten plan explodes, and
      * the exploded entry attributes (value `k`, multiplicity `v`) —
      * what lets the distinct-family/percentile/sketch branches below
      * substitute Spark's OWN aggregates over the exact value→count
      * multiset ([[HistSummary]]). */
    private case class HistCtx(col: String, k: AttributeReference,
        v: AttributeReference)

    /** Semantic match of a registered expression-measure SQL against a
      * query's aggregate child: the SQL is parsed, its attributes
      * bound BY NAME to the child's own references (so exprIds line up
      * and semanticEquals is meaningful), type-coerced through the
      * session analyzer on a throwaway LocalRelation probe — the same
      * coercion the query side went through — and constant-folded (the
      * optimizer folds the analyzer's literal casts in the query
      * plan). Anything that fails to parse, bind, or analyze, and any
      * structural mismatch after folding, returns false: the match
      * refuses, never guesses. Driver-side only, no jobs; memoized
      * across fixed-point passes. */
    private def exprMatches(sql: String, child: Expression): Boolean = {
      if (!child.deterministic ||
          child.exists(_.isInstanceOf[AggregateExpression]) ||
          child.exists(_.isInstanceOf[PlanExpression[_]])) return false
      val key = (sql, child.canonicalized)
      val cached = SummaryRewrite.exprMatchCache.get(key)
      if (cached != null) return cached.booleanValue()
      val res = Try {
        val parsed = spark.sessionState.sqlParser.parseExpression(sql)
        val byName = child.references.toSeq
          .map(a => a.name.toLowerCase(java.util.Locale.ROOT) -> a).toMap
        var bound = true
        val boundExpr = parsed.transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            byName.get(ua.nameParts.mkString(".")
                .toLowerCase(java.util.Locale.ROOT)) match {
              case Some(a) => a
              case None => bound = false; ua
            }
        }
        bound && {
          val probe = Project(Seq(Alias(boundExpr, "__expr_probe")()),
            LocalRelation(child.references.toSeq))
          // normalize with the expression-level optimizer rules the
          // QUERY side went through (the full optimizer would collapse
          // the probe Project into its LocalRelation): fold the
          // analyzer's literal casts, drop redundant casts (FLOOR
          // already returns BIGINT — the query side lost the user's
          // CAST to SimplifyCasts), simplify conditionals/booleans.
          // Three passes reach the small expressions' fixpoint; a
          // residual difference refuses, never mis-serves.
          import org.apache.spark.sql.catalyst.optimizer._
          val rules: Seq[Rule[LogicalPlan]] = Seq(ConstantFolding,
            SimplifyCasts, NullPropagation, SimplifyConditionals,
            BooleanSimplification, ReorderAssociativeOperator)
          val analyzed = spark.sessionState.analyzer.execute(probe)
          val folded = (1 to 3).foldLeft(analyzed)((p, _) =>
            rules.foldLeft(p)((q, r) => r(q)))
          folded.asInstanceOf[Project].projectList.head
            .asInstanceOf[Alias].child.semanticEquals(child)
        }
      }.getOrElse(false)
      if (SummaryRewrite.exprMatchCache.size() > 10000)
        SummaryRewrite.exprMatchCache.clear()
      SummaryRewrite.exprMatchCache.put(key, java.lang.Boolean.valueOf(res))
      res
    }

    private def rewriteAgg(e: NamedExpression, mv: Map[String, Attribute],
        keys: Set[String],
        dimOut: AttributeSet = AttributeSet.empty,
        hist: Option[HistCtx] = None,
        exprs: Map[String, String] = Map.empty): Option[NamedExpression] =
      e match {
      // dim-side grouping attr passed through unchanged (join path)
      case a: AttributeReference if dimOut.contains(a) => Some(a)
      // fact grouping key passed through via the summary column
      case a: AttributeReference
          if keys.contains(a.name) && mv.contains(a.name) =>
        Some(Alias(mv(a.name), a.name)(exprId = a.exprId))
      // constant output columns (CollapseProject folds literal
      // level/label columns into the aggregate list) are trivially
      // preserved — no references, nothing to derive
      case al @ Alias(c, _) if c.foldable && c.deterministic => Some(al)
      case Alias(ae: AggregateExpression, name) =>
        // Value-SET aggregates over DIM attrs are multiplicity-
        // insensitive: a dim row reaches a group iff >= 1 fact row
        // (= its summary row, cnt >= 1) matches, so the value SET per
        // group is unchanged by the fact collapse — MIN/MAX always,
        // and count/sum/avg when DISTINCT. Multiplicity-sensitive
        // aggregates over dim attrs fall through to refusal. A FILTER
        // clause keeps the pass-through sound only when it, too, is
        // dim-only (a fact-side filter would reference attrs the
        // rewritten plan no longer has).
        val dimSafe = (ae.aggregateFunction match {
          case m: Min => m.child.references.nonEmpty &&
            m.child.references.subsetOf(dimOut)
          case m: Max => m.child.references.nonEmpty &&
            m.child.references.subsetOf(dimOut)
          case f @ (_: Count | _: Sum | _: Average) if ae.isDistinct =>
            f.references.nonEmpty && f.references.subsetOf(dimOut)
          case _ => false
        }) && ae.filter.forall(f => f.deterministic &&
          !f.exists(_.isInstanceOf[PlanExpression[_]]) &&
          f.references.nonEmpty && f.references.subsetOf(dimOut))
        if (dimSafe) return Some(e)
        // FILTER (WHERE p) over fact KEYS only is replayed onto every
        // derived input: p partitions whole summary rows (the same
        // argument as the plan-level key filter), so wrapping each
        // aggregate-function input in If(p', input, null) feeds the
        // aggregation exactly the partials of the rows that pass —
        // count(*) FILTER p → Σ(If(p', cnt, null)), etc. This is the
        // conditional-dashboard shape (`count(*) FILTER (WHERE
        // source = 'web')` per lang). Any other filter refuses.
        val wrap: Expression => Expression = ae.filter match {
          case None => identity
          case Some(f) if f.deterministic &&
              !f.exists(_.isInstanceOf[AggregateExpression]) &&
              !f.exists(_.isInstanceOf[PlanExpression[_]]) &&
              f.references.nonEmpty &&
              f.references.toSeq.forall(r => !dimOut.contains(r) &&
                keys.contains(r.name) && mv.contains(r.name)) =>
            val f2 = f.transform { case a: AttributeReference
                if mv.contains(a.name) => mv(a.name) }
            (c: Expression) => If(f2, c, Literal(null, c.dataType))
          case _ => return None
        }
        def agg(fn: AggregateFunction, distinct: Boolean = false): Expression =
          AggregateExpression(
            fn.mapChildren(wrap).asInstanceOf[AggregateFunction],
            Complete, isDistinct = distinct)
        // a deterministic expression over fact KEYS only (bare key
        // attribute = the degenerate case), remapped onto the summary:
        // its value is CONSTANT across every fact row of a summary
        // row, which is what makes whole measure EXPRESSIONS over
        // keys derivable — sum(f(keys)) = Σ cnt·f, count(f(keys)) =
        // Σ cnt over rows where f is non-null, min/max/distinct over
        // the summary rows' value set verbatim
        def keyExpr(ex: Expression): Option[Expression] =
          if (ex.deterministic &&
              !ex.exists(_.isInstanceOf[AggregateExpression]) &&
              !ex.exists(_.isInstanceOf[PlanExpression[_]]) &&
              ex.references.nonEmpty &&
              ex.references.toSeq.forall(r => !dimOut.contains(r) &&
                keys.contains(r.name) && mv.contains(r.name)))
            Some(ex.transform { case a: AttributeReference
              if mv.contains(a.name) => mv(a.name) })
          else None
        // the HISTOGRAM value attribute for a bare reference to the
        // hist-served measure column: the exploded `hist_<col>` entry
        // value carries the EXACT distinct-value multiset of the
        // group (one entry row per (summary row, value), multiplicity
        // in the companion count attr), so value-SET aggregates re-run
        // verbatim over it and multiset aggregates replay through the
        // count ([[HistSummary]])
        def histVal(ex: Expression): Option[Expression] = hist match {
          case Some(h) => exprs.get(h.col) match {
            // an EXPRESSION histogram (hist_<name> where <name> is a
            // registration, not a fact column): the aggregate child
            // must match the registered SQL semantically — a bare
            // column that merely SHARES the name can never claim it
            case Some(sql) =>
              if (h.k.dataType == ex.dataType &&
                  ex.references.toSeq.forall(r => !dimOut.contains(r)) &&
                  exprMatches(sql, ex)) Some(h.k)
              else None
            // the map's VALUE type must be the measure's exact type: a
            // mis-registered artifact whose hist_<col> was built from a
            // differently-typed column would serve a wrong distinct set
            // (Count's own result type would not catch it)
            case None => ex match {
              case a: AttributeReference
                  if !dimOut.contains(a) && a.name == h.col &&
                    h.k.dataType == a.dataType => Some(h.k)
              case _ => None
            }
          }
          case None => None
        }
        // a registered EXPRESSION measure: the aggregate child matches
        // a (name → SQL) registration semantically and the artifact
        // carries the sumx_<name> family — the computed-measure
        // analogue of sum_<col>, what serves the canonical
        // `sum(price * (1 - discount))` without keying its columns
        def exprName(ex: Expression): Option[String] =
          if (exprs.isEmpty ||
              ex.references.toSeq.exists(dimOut.contains)) None
          else exprs.collectFirst {
            case (n, sql) if (mv.contains(s"sumx_$n") ||
                mv.contains(s"minx_$n")) && exprMatches(sql, ex) => n
          }
        def integral(t: DataType): Boolean = t match {
          case IntegerType | LongType | ShortType | ByteType => true
          case _ => false
        }
        if (ae.isDistinct) {
          // DISTINCT aggregates over summary KEYS (or expressions of
          // them): the summary has every key combination present in
          // the fact, so the distinct value set per coarser group
          // equals the one over summary rows — any value-SET aggregate
          // (count/sum/avg distinct) re-runs verbatim
          // ... and over the HIST-served measure: the exploded entry
          // values are exactly the group's distinct-value set (dedup
          // across summary rows is the distinct aggregate's own job,
          // same as over keys), so count/sum/avg DISTINCT re-run
          // verbatim on the value attribute
          return (ae.aggregateFunction match {
            case c: Count if c.children.nonEmpty =>
              sequence(c.children.map(keyExpr))
                .map(ks => agg(Count(ks), distinct = true))
                .orElse(c.children match {
                  case Seq(one) => histVal(one)
                    .map(k => agg(Count(Seq(k)), distinct = true))
                  case _ => None
                })
            case s: Sum =>
              keyExpr(s.child).orElse(histVal(s.child))
                .map(k => agg(Sum(k), distinct = true))
            case av: Average =>
              keyExpr(av.child).orElse(histVal(av.child))
                .map(k => agg(Average(k), distinct = true))
            case _ => None
          }).map(ex => Alias(ex, name)(exprId = e.exprId))
        }
        ae.aggregateFunction match {
          case c: Count
              // COUNT(*) / COUNT(<non-null constant>)
              if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
            // COUNT(*) -> SUM(cnt); groups only exist where summary
            // rows exist, so the sum is never null — coalesce keeps
            // the original non-nullable contract explicit
            Some(Alias(
              Coalesce(Seq(agg(Sum(mv("cnt"))), Literal(0L))),
              name)(exprId = e.exprId))
          // COUNT(col) skips NULLs — derivable from the cnt_<col>
          // non-null-count partial (NOT from cnt, which counts rows);
          // COUNT(f(keys)...) — rows where every child is non-null —
          // derivable from cnt gated on the children's nullity, which
          // is constant per summary row
          case c: Count => (c.children match {
            case Seq(a: AttributeReference)
                if !dimOut.contains(a) && mv.contains(s"cnt_${a.name}") =>
              Some(Alias(
                Coalesce(Seq(agg(Sum(mv(s"cnt_${a.name}"))), Literal(0L))),
                name)(exprId = e.exprId))
            case cs => sequence(cs.map(keyExpr)).map { ks =>
              val allNotNull = ks.map(IsNotNull(_): Expression).reduce(And)
              Alias(
                Coalesce(Seq(agg(Sum(
                  If(allNotNull, mv("cnt"), Literal(null, LongType)))),
                  Literal(0L))),
                name)(exprId = e.exprId)
            }
          }).orElse(c.children match {
            // COUNT(m) over the hist-served measure without a cnt_
            // partial: Σ of the entry multiplicities is exactly the
            // group's non-null count (each (summary row, value) entry
            // appears once in the explosion)
            case Seq(one) => histVal(one).map(_ =>
              Alias(Coalesce(Seq(agg(Sum(hist.get.v)), Literal(0L))),
                name)(exprId = e.exprId))
              // COUNT(expr) over a registered expression measure:
              // Σ cntx_<n> is the exact non-null count of the expr
              .orElse(exprName(one).flatMap(n => mv.get(s"cntx_$n")).map(
                p => Alias(Coalesce(Seq(agg(Sum(p)), Literal(0L))),
                  name)(exprId = e.exprId)))
            case _ => None
          })
          // SUM over a FLOATING-POINT measure refuses: Σsum_x
          // re-associates the adds, and float addition is not
          // associative — the served value could differ from the fact
          // scan in the last ulp, and "exactly the fact answer" is the
          // rewrite's whole contract (integral partials are exact under
          // any association; decimal widening already refuses via the
          // type-preservation guard). Build a Long-measure summary, or
          // query the fact. SUM over an integral key EXPRESSION is
          // Σ cnt·f — every fact row of a summary row contributes the
          // same f value.
          case s: Sum => (s.child match {
            case a: AttributeReference
                if !dimOut.contains(a) && mv.contains(s"sum_${a.name}") &&
                  !fpType(mv(s"sum_${a.name}").dataType) =>
              Some(Alias(agg(Sum(mv(s"sum_${a.name}"))),
                name)(exprId = e.exprId))
            case child if integral(child.dataType) =>
              keyExpr(child).map(k =>
                Alias(agg(Sum(Multiply(mv("cnt"), Cast(k, LongType)))),
                  name)(exprId = e.exprId))
            case _ => None
          }).orElse(
            // registered expression measure: Σ sumx_<n> (float partials
            // refuse exactly like sum_ — re-associated adds)
            exprName(s.child)
              .map(n => mv(s"sumx_$n"))
              .filterNot(p => fpType(p.dataType))
              .map(p => Alias(agg(Sum(p)), name)(exprId = e.exprId)))
          // MIN/MAX are value-SET aggregates, so beside the min_/max_
          // partials they also serve from the hist-carried value set
          // (an artifact built with histCols but no minMaxCols — the
          // histogram IS the finer partial)
          case m: Min => m.child match {
            case a: AttributeReference
                if !dimOut.contains(a) && mv.contains(s"min_${a.name}") =>
              Some(Alias(agg(Min(mv(s"min_${a.name}"))),
                name)(exprId = e.exprId))
            case child => keyExpr(child).orElse(histVal(child))
              .orElse(exprName(child).flatMap(n => mv.get(s"minx_$n")))
              .map(k => Alias(agg(Min(k)), name)(exprId = e.exprId))
          }
          case m: Max => m.child match {
            case a: AttributeReference
                if !dimOut.contains(a) && mv.contains(s"max_${a.name}") =>
              Some(Alias(agg(Max(mv(s"max_${a.name}"))),
                name)(exprId = e.exprId))
            case child => keyExpr(child).orElse(histVal(child))
              .orElse(exprName(child).flatMap(n => mv.get(s"maxx_$n")))
              .map(k => Alias(agg(Max(k)), name)(exprId = e.exprId))
          }
          // AVG(x) = Σsum_x / Σcnt_x — the NON-NULL count partial, not
          // the row count: avg skips nulls, so a nullable measure
          // served over Σcnt would be silently wrong (an artifact
          // without cnt_<col> — pre-cnt_ era — refuses AVG rather than
          // guessing). Long measures only (the guard below): the
          // quotient is then DoubleType like the original, and the
          // exact-Long Σsum_x matches DuckDB's exact integer-avg
          // semantics (Spark's unrewritten Average accumulates
          // integral sums in double — bit-identical while the total
          // stays under 2^53, i.e. everywhere it is exact). AVG over
          // an integral key EXPRESSION is Σ cnt·f / Σ cnt[f non-null].
          case av: Average => (av.child match {
            case a: AttributeReference
                if !dimOut.contains(a) && mv.contains(s"sum_${a.name}") &&
                  mv(s"sum_${a.name}").dataType == LongType &&
                  mv.contains(s"cnt_${a.name}") =>
              Some(Alias(
                Divide(
                  Cast(agg(Sum(mv(s"sum_${a.name}"))), DoubleType),
                  Cast(agg(Sum(mv(s"cnt_${a.name}"))), DoubleType)),
                name)(exprId = e.exprId))
            case child if integral(child.dataType) =>
              keyExpr(child).map(k =>
                Alias(
                  Divide(
                    Cast(agg(Sum(Multiply(mv("cnt"), Cast(k, LongType)))),
                      DoubleType),
                    Cast(agg(Sum(If(IsNotNull(k), mv("cnt"),
                      Literal(null, LongType)))), DoubleType)),
                  name)(exprId = e.exprId))
            case _ => None
          }).orElse(
            // AVG(expr) over a registered expression measure:
            // Σ sumx / Σ cntx — Long sums only, the same exactness
            // contract as the avg-over-sum_ branch above
            exprName(av.child).flatMap { n =>
              (mv.get(s"sumx_$n"), mv.get(s"cntx_$n")) match {
                case (Some(sx), Some(cx)) if sx.dataType == LongType =>
                  Some(Alias(
                    Divide(
                      Cast(agg(Sum(sx)), DoubleType),
                      Cast(agg(Sum(cx)), DoubleType)),
                    name)(exprId = e.exprId))
                case _ => None
              }
            })
          // approx_count_distinct over a key (expression): HLL is a
          // pure function of the value SET — multiplicities never
          // touch the registers — and the summary preserves the set,
          // so the sketch re-runs over summary rows BIT-identically
          // (same hashes, same registers, same estimate). Over a
          // non-key MEASURE it serves from the artifact's
          // hll_<p>_<col> register-word partial when one was built
          // ([[HllSummary]]): the precision is in the column NAME, so
          // the query's own rsd resolves its p — a mismatched rsd
          // finds no column and refuses — and the register max-merge
          // reproduces the direct sketch's words exactly (the same
          // helper hashes, the same bias-corrected query)
          case h: HyperLogLogPlusPlus =>
            keyExpr(h.child).map(k =>
              Alias(agg(h.withNewChildren(Seq(k))
                .asInstanceOf[AggregateFunction]), name)(exprId = e.exprId))
              .orElse(h.child match {
                case a: AttributeReference if !dimOut.contains(a) =>
                  val p = HllSummary.pFor(h.relativeSD)
                  mv.get(HllSummary.colName(p, a.name))
                    .filter(reg => HllSummary.isWordsType(reg.dataType))
                    .map(reg => Alias(agg(HllMergeEstimate(reg, p)),
                      name)(exprId = e.exprId))
                case _ => None
              })
              // ... and from the hist_<col> EXACT histogram when no
              // register partial matches: the exploded values are the
              // group's exact value set, and the sketch is set-pure —
              // re-running it over the entry values is bit-identical
              // at ANY rsd (no per-precision column to match)
              .orElse(histVal(h.child).map(k =>
                Alias(agg(h.withNewChildren(Seq(k))
                  .asInstanceOf[AggregateFunction]),
                  name)(exprId = e.exprId)))
          // EXACT percentile/median over a key (expression): Spark's
          // Percentile takes a FREQUENCY argument, and cnt is exactly
          // the multiplicity the collapse removed — percentile(k, p)
          // over the fact ≡ percentile(k, p, cnt) over summary rows
          // (same value→count multiset, same interpolation). Median
          // arrives here too (it is replaced by percentile 0.5
          // upstream). The frequency must still be the DEFAULT 1 on
          // the original (a user-supplied frequency is not a row
          // count and refuses).
          case p: Percentile
              if p.frequencyExpression.foldable &&
                p.frequencyExpression.eval() == 1L &&
                p.percentageExpression.foldable =>
            // only the VALUE child takes the filter wrap (a null child
            // row is skipped regardless of its frequency); the
            // percentage must stay a foldable literal
            keyExpr(p.child).map(k =>
              Alias(AggregateExpression(
                p.withNewChildren(Seq(wrap(k),
                  p.percentageExpression, mv("cnt")))
                  .asInstanceOf[AggregateFunction],
                Complete, isDistinct = false), name)(exprId = e.exprId))
              // ... and over the hist-served MEASURE: the entry
              // multiplicity is exactly the count the collapse
              // removed — percentile(m, pct) over the fact ≡
              // percentile(value, pct, count) over the exploded
              // histogram (same value→count multiset, same
              // interpolation)
              .orElse(histVal(p.child).map(k =>
                Alias(AggregateExpression(
                  p.withNewChildren(Seq(wrap(k),
                    p.percentageExpression, hist.get.v))
                    .asInstanceOf[AggregateFunction],
                  Complete, isDistinct = false), name)(exprId = e.exprId)))
          case _ => None
        }
      // COMPOSED outputs — expressions OVER aggregates
      // (`coalesce(sum(x) FILTER ..., 0)`, `sum(a) / count(*)`,
      // ratios, CASE over counts — CollapseProject folds the user's
      // post-aggregation Project into the aggregate list, so these
      // are what the rule actually sees): derive each embedded
      // AggregateExpression independently through this same
      // dispatcher; the GLUE must be deterministic, subquery-free,
      // and reference only keys (remapped) or dim attrs. Exact
      // because each aggregate is exact and the glue is a pure
      // function of exact inputs.
      case al @ Alias(ex, name)
          if ex.exists(_.isInstanceOf[AggregateExpression]) &&
            !ex.isInstanceOf[AggregateExpression] &&
            ex.deterministic &&
            !ex.exists(_.isInstanceOf[PlanExpression[_]]) =>
        def rw(expr: Expression): Option[Expression] = expr match {
          case ae: AggregateExpression =>
            // each EMBEDDED aggregate's derived type must match ITS
            // original, not just the composed result: type-erasing glue
            // (cast(sum(dec) as string)) would otherwise hide a widened
            // decimal re-aggregation whose extra overflow headroom can
            // return a value where the fact scan overflows to NULL
            rewriteAgg(Alias(ae, "t")(), mv, keys, dimOut, hist,
              exprs).collect {
              case Alias(d, _) => d
              case a: Attribute => a
            }.filter(_.dataType == ae.dataType)
          case a: AttributeReference =>
            if (dimOut.contains(a)) Some(a)
            else if (keys.contains(a.name) && mv.contains(a.name))
              Some(mv(a.name))
            else None
          case other if other.deterministic =>
            sequence(other.children.map(rw))
              .map(cs => other.withNewChildren(cs))
          case _ => None
        }
        rw(ex).filter(_.dataType == ex.dataType)
          .map(d => Alias(d, name)(exprId = al.exprId))
      // grouping-EXPRESSION outputs (and compositions of grouping
      // expressions): deterministic, aggregate-free, references all
      // summary keys (or dim attrs in the join path) — remapped
      // verbatim, a coarsening of a coarsening (HEALPix parent =
      // id >> 2, year(date), …)
      case al @ Alias(ex, name)
          if ex.deterministic &&
            !ex.exists(_.isInstanceOf[AggregateExpression]) &&
            !ex.exists(_.isInstanceOf[PlanExpression[_]]) &&
            ex.references.nonEmpty &&
            ex.references.toSeq.forall(r => dimOut.contains(r) ||
              (keys.contains(r.name) && mv.contains(r.name))) =>
        Some(Alias(ex.transform {
          case a: AttributeReference if !dimOut.contains(a) &&
              mv.contains(a.name) => mv(a.name)
        }, name)(exprId = al.exprId))
      case _ => None
    }
  }

  /** Add the rule to the session — a no-op when it is already there,
    * whether via a previous `install` (extraOptimizations) or via
    * config-driven [[GraftExtensions]] (injected into the optimizer's
    * operator-optimization batch): a session built with the extension
    * that also calls `install` must not run the rule twice per
    * optimization pass. Idempotent either way (the rewritten plan no
    * longer matches any registration) — this is purely the wasted
    * planning pass. */
  def install(spark: SparkSession): Unit = {
    val injected = Try(spark.sessionState.optimizer
      .extendedOperatorOptimizationRules
      .exists(_.isInstanceOf[SummaryRewriteRule])).getOrElse(false)
    if (!injected && !spark.experimental.extraOptimizations.exists(
        _.isInstanceOf[SummaryRewriteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SummaryRewriteRule(spark)
  }
}
