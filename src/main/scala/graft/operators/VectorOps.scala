package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.syntax._

/** Embedding-vector operators: flatten, L1 target-distance (the
  * reference's similarity scalar, metadata_strategy_cube_ml.py:40-48),
  * brute-force cosine scoring, and ANN top-k (brute force + LSH-bucketed
  * scale path). All arithmetic is widened to DOUBLE before any math so
  * the DuckDB oracle computes bit-identical values.
  */
object VectorOps {

  /** Cast array<float> → array<double> so all downstream math is f64. */
  def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Element-wise |a-b| summed — the reference's `target_distance`
    * (nansum of abs diff of IVW vectors). Native codegen kernel
    * ([[graft.plans.ArrayL1Expr]]): a tight primitive loop inside
    * whole-stage codegen, bit-identical to the HOF fold it replaced
    * (registered on the session by `Tables.load` / GraftExtensions). */
  def l1Distance(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.vec_l1(a, b)

  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** One-pass native cosine (dot and both norms in a single traversal —
    * the HOF form scanned each array three times, re-evaluating lambdas
    * per element outside codegen). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.vec_cos(a, b)

  /** V1 visualization-cube flatten: vector → one row per element
    * (posexplode; the reference's spectrum→pixel-rows generator).
    * idx is 1-based to match SQL generate_subscripts. (SURVEY §2.9 V1)
    */
  def q14Flatten(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .filter($"vec_id" < 20)
      .select($"vec_id", posexplode($"embedding"))
      .select(
        $"vec_id",
        ($"pos" + 1).cast("long").as("idx"),
        round($"col".cast("double"), 6).as("val"))

  /** A4 target_distance of every vector to a reference vector (vec_id=0),
    * broadcast cross-join — the distance scan under similarity search.
    * (SURVEY §2.6 A4)
    */
  def q15L1Distance(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val ref = emb.filter($"vec_id" === 0).select($"embedding".as("ref_emb"))
    emb.crossJoin(broadcast(ref))
      .select($"vec_id", round(l1Distance($"embedding", $"ref_emb"), 3).as("l1"))
  }

  /** Brute-force cosine similarity of every vector to vec_id=0 — the
    * ANN baseline; at scale this is one broadcast + a codegen'd scan,
    * no shuffle. */
  def q16Cosine(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val ref = emb.filter($"vec_id" === 0).select($"embedding".as("ref_emb"))
    emb.crossJoin(broadcast(ref))
      .select($"vec_id", round(cosine($"embedding", $"ref_emb"), 4).as("cos"))
  }

  /** Brute-force cosine top-k. Oracle-stable: the score is scaled into
    * exact integer space (floor(cos*1e6+0.5), pure IEEE arithmetic — no
    * engine-divergent decimal rounding) and the ordering key is that
    * integer with vec_id tie-break, so the top-k SET is deterministic
    * across engines. TakeOrderedAndProject — no full sort at scale. */
  def q24AnnTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val ref = emb.filter($"vec_id" === 0).select($"embedding".as("ref_emb"))
    emb.filter($"vec_id" =!= 0).crossJoin(broadcast(ref))
      .select($"vec_id",
        floor(cosine($"embedding", $"ref_emb") * 1e6 + 0.5).cast("long").as("cos_scaled"))
      .orderBy($"cos_scaled".desc, $"vec_id")
      .limit(k)
  }

  /** Hard-negative mining — the contrastive-training retrieval step:
    * the most similar vectors to the probe EXCLUDING the near-duplicate
    * band (cos ≥ bandScaled/10⁶ is "same content", useless as a
    * negative; just-below-band is the hard negative that teaches the
    * margin). Same broadcast-probe scan + TakeOrdered shape as q24 with
    * the band filter fused into the scan — at corpus scale the LSH/IVF
    * routes (q25/q48) produce the candidates and this band filter
    * re-ranks them. The band (0.30 here) is fixture-tuned so the gate
    * provably excludes the top of the ranking; semantics are
    * threshold-independent. */
  def q119HardNegatives(
      s: SparkSession, dir: String, k: Int = 10,
      bandScaled: Long = 300000L): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val ref = emb.filter($"vec_id" === 0).select($"embedding".as("ref_emb"))
    emb.filter($"vec_id" =!= 0).crossJoin(broadcast(ref))
      .select($"vec_id",
        floor(cosine($"embedding", $"ref_emb") * 1e6 + 0.5).cast("long").as("cos_scaled"))
      .filter($"cos_scaled" < bandScaled)
      .orderBy($"cos_scaled".desc, $"vec_id")
      .limit(k)
  }

  /** LSH-bucketed ANN scale path: sparse random-hyperplane signatures
    * (cosine LSH) → candidates share a signature bucket → exact cosine
    * re-rank within bucket. At 100 TB the bucket join replaces the
    * all-pairs scan.
    *
    * Plane p is the sparse hyperplane e[a_p] − e[b_p] with (a_p, b_p)
    * deterministic distinct coordinates (an LCG over the dim index — no
    * RNG, no per-element lambda work, stays in codegen: 2 element_at +
    * 1 compare per bit).
    */
  def signatureCol(emb: Column, dim: Int, nPlanes: Int): Column = {
    val terms = (0 until nPlanes).map { p =>
      val a = ((p * 2654435761L) % dim).toInt.abs
      val b0 = ((p * 40503L + 2654435761L) % dim).toInt.abs
      val b = if (b0 == a) (b0 + 1) % dim else b0
      when(element_at(emb, a + 1) >= element_at(emb, b + 1), shiftleft(lit(1L), p))
        .otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  /** ANN via LSH buckets: group by signature, exact re-rank inside each
    * bucket against the bucket's query members. Oracle-gated: the
    * signature is pure deterministic compare/shift arithmetic, so the
    * DuckDB oracle rebuilds the identical signature in SQL (generated
    * from the same plane constants by [[signatureSql]]) and the bucket
    * profile must match exactly. Integer outputs only. */
  def q25AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .withColumn("sig", signatureCol($"embedding", 64, 12))
    emb.groupBy($"sig").agg(count(lit(1)).as("bucket_size"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_buckets"),
        max($"bucket_size").as("max_bucket"),
        sum($"bucket_size").as("n_vectors"))
  }

  /** The DuckDB twin of [[signatureCol]]: same LCG plane constants, same
    * compare + power-of-two accumulation, over 1-based list indexing. */
  def signatureSql(embCol: String, dim: Int, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val a = ((p * 2654435761L) % dim).toInt.abs
      val b0 = ((p * 40503L + 2654435761L) % dim).toInt.abs
      val b = if (b0 == a) (b0 + 1) % dim else b0
      s"(CASE WHEN $embCol[${a + 1}] >= $embCol[${b + 1}] THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * signature blocking + exact verify (the embedding near-dup deduper).
    * Self-join only within identical signatures — shuffle on sig key.
    * Oracle-gated: the DuckDB twin reproduces the same signature blocking
    * ([[signatureSql]]) and exact cosine verify, so the count matches
    * exactly (not merely an all-pairs approximation of the LSH result).
    */
  def q26EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .withColumn("sig", signatureCol($"embedding", 64, 10))
      .select($"vec_id", $"sig", $"embedding")
    val a = emb.as("a")
    val b = emb.as("b")
    a.join(b, $"a.sig" === $"b.sig" && $"a.vec_id" < $"b.vec_id")
      .select(
        $"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        cosine($"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" > 0.95)
      .groupBy()
      .agg(count(lit(1)).as("n_neardup_pairs"))
  }

  /** The persistable IVF index ARTIFACT: one (vec_id, cent_id) row per
    * vector — its nearest centroid under exact L1, deterministic
    * tie-break. Persist as plain parquet next to the (tiny) centroid
    * table and every later search starts bucket-pruned without
    * re-scanning the corpus — the embedding-side twin of the text
    * signature artifact ([[TextOps.signatureFrame]]). Assignment is
    * stateless per vector, so maintenance is embarrassingly
    * incremental: [[updateIvfAssignments]] assigns only vectors absent
    * from the stored artifact (anti-join on the pruned id column) and
    * the rebuild law `assign(all) = assign(old) ∪ assign(new)` holds by
    * construction (pinned in AnnSpec). */
  def ivfAssignments(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cent_id", l1Distance($"embedding", $"cent").as("d"))
      .groupBy($"vec_id")
      .agg(min_by($"cent_id", struct($"d", $"cent_id")).as("cent_id"))

  /** Incremental artifact maintenance: assignments for vectors NOT yet
    * indexed. Append the result to the stored artifact. */
  def updateIvfAssignments(
      emb: DataFrame, existing: DataFrame, cents: DataFrame): DataFrame =
    ivfAssignments(
      emb.join(existing.select($"vec_id"), Seq("vec_id"), "left_anti"), cents)

  /** Bucket-pruned ANN search over the stored artifact: rank centroids
    * against the probe (centroid-table-sized — broadcastable by
    * construction), keep the `nprobe` nearest buckets, join the
    * assignment artifact to fetch ONLY those buckets' vector ids, then
    * exact cosine re-rank of the survivors. The corpus is touched only
    * through the id join on the candidate set — at nprobe ≪ k_buckets
    * that is the IVF speedup; at nprobe = #buckets the result equals
    * the brute-force top-k exactly (law-tested). */
  def ivfSearch(
      emb: DataFrame, assignments: DataFrame, cents: DataFrame,
      probe: Seq[Float], nprobe: Int, k: Int): DataFrame = {
    val p = typedlit(probe)
    val nearBuckets = cents
      .select($"cent_id", l1Distance($"cent", p).as("d"))
      .orderBy($"d", $"cent_id")
      .limit(nprobe)
      .select($"cent_id")
    val cand = assignments.join(broadcast(nearBuckets), "cent_id")
      .select($"vec_id")
    emb.join(cand, "vec_id")
      .select($"vec_id",
        floor(cosine($"embedding", p) * 1e6 + 0.5).cast("long").as("cos_scaled"))
      .orderBy($"cos_scaled".desc, $"vec_id")
      .limit(k)
  }

  /** Integer-scaled embedding rows for the deterministic k-means loop:
    * every element becomes ⌊v·10⁶ + ½⌋ as a Long, so distances, argmin
    * tie-breaks and centroid updates are exact integer (or
    * floor-of-double-ratio) math — order-independent, engine-exact,
    * iteration-stable. */
  private def scaledRows(emb: DataFrame): DataFrame =
    emb.select($"vec_id",
      transform($"embedding",
        v => floor(v.cast("double") * 1e6 + 0.5).cast("long")).as("e"))

  /** One full Lloyd step over GROUPED scaled rows — the shared kernel
    * of whole-vector k-means ([[lloydStep]], `sub` constant 0) and
    * per-subspace product-quantization training ([[pqTrainCodebooks]],
    * `sub` = subspace index, all subspaces advancing in the SAME two
    * shuffles): broadcast-assign each (sub, vector) to its L1-argmin
    * centroid (deterministic (d, cent_id) tie-break), then new centroid
    * c_i = ⌊Σv_i / n⌋ per cluster — one shuffle keyed by (sub, vec_id)
    * (the vector payload rides the map-side-combined `min_by`, so
    * members are never re-joined), then one tiny (groups·k·dim)-row
    * aggregation. Clusters that lose all members drop (classic
    * empty-cluster policy). Returns (sub, cent_id, cent, n_members). */
  private def lloydStepKeyed(rows: DataFrame, cents: DataFrame): DataFrame = {
    val d = aggregate(
      zip_with($"es", $"cent", (a, c) => abs(a - c)),
      lit(0L), (acc, x) => acc + x)
    rows.join(broadcast(cents.select($"sub", $"cent_id", $"cent")), "sub")
      .select($"sub", $"vec_id", $"es", $"cent_id", d.as("d"))
      .groupBy($"sub", $"vec_id")
      .agg(min_by(struct($"cent_id", $"es"), struct($"d", $"cent_id")).as("m"))
      .select($"sub", $"m.cent_id".as("cent_id"),
        posexplode($"m.es").as(Seq("i", "v")))
      .groupBy($"sub", $"cent_id", $"i")
      .agg(
        floor(sum($"v").cast("double") / count(lit(1))).cast("long").as("s"),
        count(lit(1)).as("n"))
      .groupBy($"sub", $"cent_id")
      .agg(
        transform(array_sort(collect_list(struct($"i", $"s"))), x => x("s"))
          .as("cent"),
        first($"n").as("n_members"))
  }

  private def lloydStep(embS: DataFrame, cents: DataFrame): DataFrame =
    lloydStepKeyed(
      embS.select($"vec_id", lit(0).as("sub"), $"e".as("es")),
      cents.select(lit(0).as("sub"), $"cent_id", $"cent"))
      .drop("sub")

  /** Subvector rows for product quantization: (vec_id, sub, es) — the
    * scaled vector split into `m` contiguous subspaces. */
  private def subvectorRows(embS: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    embS.select($"vec_id", explode(array((0 until m).map { sub =>
      struct(lit(sub).as("sub"), slice($"e", sub * dsub + 1, dsub).as("es"))
    }: _*)).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.es".as("es"))
  }

  /** IVF centroid TRAINING — the pipeline that produces the centroid
    * artifact [[ivfAssignments]]/[[ivfSearch]] consume: deterministic
    * k-means (init = the k lowest vec_ids, exact integer math
    * throughout, [[lloydStep]]) iterated to a FIXPOINT. Each round's
    * centroid table is `localCheckpoint`ed (the q108 PageRank
    * discipline — k·dim rows, so the checkpoint is trivially small and
    * the lineage never grows), and convergence is an exact centroid
    * comparison (bounded driver collect of k rows per round — the
    * centroid table is broadcast-sized by construction). A loop that
    * has not converged by `maxIter` REFUSES loudly (the q51/q108
    * converge-or-throw family) unless `bestEffort = true` returns the
    * last iterate. Output: (cent_id, cent: array<float>), descaled to
    * the embedding space. */
  def trainIvfCentroids(
      emb: DataFrame, k: Int, maxIter: Int = 25,
      bestEffort: Boolean = false): DataFrame = Pins.scope {
    // consumed every round: checkpoint once, scan k·N·dim per iteration
    val embS = Pins.pin(scaledRows(emb), eager = true)
    var cents = embS.orderBy($"vec_id").limit(k)
      .select($"vec_id".as("cent_id"), $"e".as("cent"))
      .transform(Pins.pin(_, eager = true))
    var prev = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = Pins.pin(lloydStep(embS, cents), eager = true)
      Pins.release(cents)
      cents = next
      val cur = cents.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      converged = cur == prev
      prev = cur
      it += 1
    }
    if (!converged && !bestEffort)
      throw new IllegalStateException(
        s"trainIvfCentroids: no fixpoint after $maxIter Lloyd iterations " +
          "(assignment may be 2-cycling); raise maxIter or pass " +
          "bestEffort=true to keep the last iterate")
    cents.select($"cent_id",
      transform($"cent", x => (x.cast("double") / 1e6).cast("float")).as("cent"))
  }

  /** The centroid-training pipeline through the oracle gate: exactly
    * TWO Lloyd steps from the deterministic seed (first 8 vectors), so
    * the DuckDB twin can replay the loop as two chained CTE blocks —
    * per surviving centroid, the member count of the second assignment
    * and the integer checksum of the updated centroid. Fixpoint
    * training itself is [[trainIvfCentroids]] (AnnSpec laws: retrain
    * identity, nprobe=k ≡ brute force, recall@10 floor). */
  def q125IvfTrain(s: SparkSession, dir: String): DataFrame = {
    val embS = scaledRows(load(s, dir, "embeddings"))
    val c0 = embS.filter($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"e".as("cent"))
    val c1 = lloydStep(embS, c0).select($"cent_id", $"cent")
    lloydStep(embS, c1)
      .select(
        $"cent_id".cast("long").as("cent_id"),
        $"n_members",
        aggregate($"cent", lit(0L), (a, x) => a + x).as("cent_sum_scaled"))
  }

  /** Product-quantization codebook TRAINING — the IVF-PQ compression
    * step of a billion-vector ANN index: the vector space splits into
    * `m` contiguous subspaces and each learns its own k-code codebook
    * by deterministic k-means. All `m` subspaces advance together in
    * the SAME two shuffles per round ([[lloydStepKeyed]] keyed by
    * subspace — m× fewer passes than training each codebook alone),
    * with the [[trainIvfCentroids]] loop discipline: integer-exact
    * math, per-round localCheckpoint, fixpoint detection over a
    * bounded (m·k)-row collect, converge-or-throw with a `bestEffort`
    * escape. Returns (sub, code_id, cent) in SCALED space — the
    * artifact [[pqEncode]]/[[pqSearch]] consume. Memory law: codes
    * store m·⌈log₂k⌉ bits per vector (m=8, k=256 → 8 B) against
    * dim·4 B raw — the 32× compression that lets the candidate set of
    * a 10⁹-vector index live in executor memory. */
  def pqTrainCodebooks(
      emb: DataFrame, m: Int, k: Int, dim: Int = 64,
      maxIter: Int = 200, bestEffort: Boolean = false): DataFrame = Pins.scope {
    val rows = subvectorRows(Pins.pin(scaledRows(emb), eager = true), m, dim)
    // seed from the k LOWEST vec_ids (the trainIvfCentroids discipline —
    // a `vec_id < k` filter would silently under-seed, or return an
    // empty codebook, on non-zero-based id spaces)
    val seedIds = rows.select($"vec_id").distinct()
      .orderBy($"vec_id").limit(k)
    var cents = rows.join(broadcast(seedIds), "vec_id")
      .select($"sub", $"vec_id".as("cent_id"), $"es".as("cent"))
      .transform(Pins.pin(_, eager = true))
    var prev = cents.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    require(prev.nonEmpty, "pqTrainCodebooks: no vectors to seed from")
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = Pins.pin(lloydStepKeyed(rows, cents), eager = true)
      Pins.release(cents)
      cents = next
      val cur = cents.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
      converged = cur == prev
      prev = cur
      it += 1
    }
    if (!converged && !bestEffort)
      throw new IllegalStateException(
        s"pqTrainCodebooks: no fixpoint after $maxIter Lloyd iterations; " +
          "raise maxIter or pass bestEffort=true to keep the last iterate")
    cents.select($"sub", $"cent_id".as("code_id"), $"cent")
  }

  /** PQ encoding: each vector becomes `m` code ids (its L1-argmin
    * codebook entry per subspace, deterministic tie-break) — one
    * broadcast join + one shuffle on (sub, vec_id) + one collect per
    * vector; the persistable (vec_id, codes) artifact is the
    * compressed corpus. */
  def pqEncode(
      emb: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int = 64): DataFrame = {
    val rows = subvectorRows(scaledRows(emb), m, dim)
    val d = aggregate(
      zip_with($"es", $"cent", (a, c) => abs(a - c)),
      lit(0L), (acc, x) => acc + x)
    rows.join(broadcast(codebooks), "sub")
      .select($"sub", $"vec_id", $"code_id", d.as("d"))
      .groupBy($"sub", $"vec_id")
      .agg(min_by($"code_id", struct($"d", $"code_id")).as("code_id"))
      .groupBy($"vec_id")
      .agg(transform(
        array_sort(collect_list(struct($"sub", $"code_id"))), x => x("code_id"))
        .as("codes"))
  }

  /** Incremental CODES maintenance — the [[updateIvfAssignments]]
    * discipline applied to the PQ artifact: encode ONLY the vectors
    * absent from the stored codes (anti-join on the pruned id column)
    * and append the result. Per-vector rows make the artifact
    * embarrassingly incremental; for UNCHANGED codebooks the rebuild
    * law `codes(all) = codes(old) ∪ update(new, old)` holds by
    * construction (pinned in AnnSpec, gated by q134). When codebooks
    * RETRAIN, the old codes are stale — [[pqDriftStat]] is the signal
    * that decides when that retrain is due. */
  def updatePqCodes(
      emb: DataFrame, existingCodes: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int = 64): DataFrame =
    pqEncode(
      emb.join(existingCodes.select($"vec_id"), Seq("vec_id"), "left_anti"),
      codebooks, m, dim)

  /** Quantization-DRIFT statistic — the retrain trigger for a PQ
    * artifact that keeps absorbing appends: mean |ADC − exact L1| for
    * one probe over a BOUNDED deterministic sample (the `sampleSize`
    * lowest vec_ids — id-space-agnostic, replayable), all integer
    * math. One row: n_sampled, mean/max absolute ADC error, and the
    * error as permille of the mean exact distance
    * (`err_permille = ⌊Σ|err|·1000 / Σexact⌋`).
    *
    * RETRAIN THRESHOLD: for a codebook trained on its own corpus the
    * ratio sits well under ~150‰ (AnnSpec pins 0‰ for the degenerate
    * every-vector-its-own-code codebook, where ADC is exact by
    * construction); distribution drift shows up as a creeping ratio —
    * retrain the codebooks (and re-encode, [[pqEncode]]) when it
    * crosses ~2× its post-train baseline. The stat costs one
    * broadcast-LUT pass over the sampled codes + one exact pass over
    * the sampled raw vectors — never a corpus scan. */
  def pqDriftStat(
      emb: DataFrame, codes: DataFrame, codebooks: DataFrame,
      probe: Seq[Float], m: Int, dim: Int = 64,
      sampleSize: Int = 256): DataFrame = {
    val probeScaled = scaleProbe(probe)
    val sample = emb.select($"vec_id").orderBy($"vec_id").limit(sampleSize)
    val adc = codes.join(broadcast(sample), "vec_id")
      .select($"vec_id", posexplode($"codes").as(Seq("sub", "code_id")))
      .join(broadcast(adcLut(codebooks, probeScaled, m, dim)),
        Seq("sub", "code_id"))
      .groupBy($"vec_id")
      .agg(sum($"pd").as("adc_dist"))
    val exact = scaledRows(emb.join(broadcast(sample), "vec_id"))
      .select($"vec_id", exactL1Col(probeScaled).as("exact_dist"))
    adc.join(exact, "vec_id")
      .select($"vec_id", abs($"adc_dist" - $"exact_dist").as("err"),
        $"exact_dist")
      .groupBy()
      .agg(
        count(lit(1)).as("n_sampled"),
        expr("sum(err) div count(1)").as("mean_adc_err_scaled"),
        max($"err").as("max_adc_err_scaled"),
        expr("(sum(err) * 1000) div greatest(sum(exact_dist), 1)")
          .as("err_permille"))
  }

  /** EXACT RE-RANK over ADC candidates — the second stage
    * [[pqSearch]]'s scaladoc promises: the quantized top-`rerankFrom`
    * candidates join back to the RAW vectors (the [[ivfSearch]]
    * candidate-join shape — the corpus is touched only through the
    * bounded candidate id set) and the final top-k ranks by EXACT
    * integer-scaled L1 through the native top-k
    * (`TakeOrderedAndProject` single-probe; the [[pqSearchMany]]
    * bounded-heap shape when probes arrive as a table). Recall law
    * (AnnSpec): against the brute-force exact top-k,
    * recall(rerank over R candidates) ≥ recall(plain ADC top-k) — the
    * re-rank can only fix quantization-induced rank inversions inside
    * the candidate set, never lose a candidate. */
  def pqSearchRerank(
      emb: DataFrame, codes: DataFrame, codebooks: DataFrame,
      probe: Seq[Float], m: Int, k: Int, rerankFrom: Int,
      dim: Int = 64): DataFrame = {
    require(rerankFrom >= k, s"rerankFrom $rerankFrom must cover k = $k")
    val cand = pqSearch(codes, codebooks, probe, m, rerankFrom, dim)
      .select($"vec_id")
    exactRerankL1(emb, cand, probe, k)
  }

  /** The shared exact-re-rank stage: candidates (a bounded id set) join
    * back to the raw vectors — the corpus is touched only through the
    * id join — and rank by exact integer-scaled L1 through the native
    * top-k. */
  private def exactRerankL1(
      emb: DataFrame, cand: DataFrame, probe: Seq[Float], k: Int): DataFrame =
    scaledRows(emb.join(cand, "vec_id"))
      .select($"vec_id", exactL1Col(scaleProbe(probe)).as("exact_dist"))
      .orderBy($"exact_dist", $"vec_id")
      .limit(k)

  /** The ONE probe-scaling convention every integer-exact vector path
    * shares (`⌊v·10⁶+0.5⌋` — the q57 k-means discipline). */
  private def scaleProbe(probe: Seq[Float]): Seq[Long] =
    probe.map(v => math.floor(v.toDouble * 1e6 + 0.5).toLong)

  /** The broadcast ADC lookup table for one probe — per (sub, code_id),
    * the integer-scaled L1 between the probe's sub-slice and the
    * codebook centroid. [[pqSearch]] and [[pqDriftStat]] both consume
    * THIS kernel, so the drift stat can never diverge from the search
    * it is supposed to measure. */
  private def adcLut(
      codebooks: DataFrame, probeScaled: Seq[Long],
      m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    codebooks.select($"sub", $"code_id",
      aggregate(
        zip_with(
          $"cent",
          slice(typedlit(probeScaled), $"sub" * dsub + 1, lit(dsub)),
          (c, p) => abs(c - p)),
        lit(0L), (acc, x) => acc + x).as("pd"))
  }

  /** Exact integer-scaled L1 of a [[scaledRows]] row (`e`) against the
    * scaled probe — shared by the re-rank stage and the drift stat. */
  private def exactL1Col(probeScaled: Seq[Long]): Column =
    aggregate(
      zip_with($"e", typedlit(probeScaled), (a, p) => abs(a - p)),
      lit(0L), (acc, x) => acc + x)

  /** The full production three-stage composition — IVF bucket prune →
    * ADC over the pruned codes → exact re-rank of the quantized
    * top-`rerankFrom`: the probe touches the centroid table (broadcast
    * by construction), the (vec_id, codes) artifact of `nprobe` buckets,
    * and `rerankFrom` raw vectors — never the corpus. At nprobe =
    * #buckets this degrades exactly to [[pqSearchRerank]], and with
    * `rerankFrom` ≥ the probed population it returns the EXACT
    * bucket-restricted top-k (both law-tested in AnnSpec; the second is
    * what q138 pins cross-engine with integer bucket math). */
  def ivfPqSearchRerank(
      emb: DataFrame, codes: DataFrame, assignments: DataFrame,
      cents: DataFrame, codebooks: DataFrame, probe: Seq[Float],
      nprobe: Int, m: Int, k: Int, rerankFrom: Int,
      dim: Int = 64): DataFrame = {
    require(rerankFrom >= k, s"rerankFrom $rerankFrom must cover k = $k")
    val cand = ivfPqSearch(codes, assignments, cents, codebooks, probe,
      nprobe, m, rerankFrom, dim).select($"vec_id")
    exactRerankL1(emb, cand, probe, k)
  }

  /** Asymmetric-distance (ADC) search over the PQ artifact: the probe
    * is compared to every CODEBOOK entry once (an (m·k)-row lookup
    * table, broadcast by construction), then each encoded vector's
    * distance is the sum of its codes' table entries — the corpus is
    * touched only through the (vec_id, codes) artifact, never the raw
    * vectors. Exact integer table; ties broken by vec_id. Returns the
    * approximate top-k by quantized L1 (`adc_dist`); callers needing
    * exact ranks re-rank the survivors against the raw vectors, the
    * [[ivfSearch]] candidate-join shape. */
  def pqSearch(
      codes: DataFrame, codebooks: DataFrame, probe: Seq[Float],
      m: Int, k: Int, dim: Int = 64): DataFrame = {
    val lut = adcLut(codebooks, scaleProbe(probe), m, dim)
    codes
      .select($"vec_id", posexplode($"codes").as(Seq("sub", "code_id")))
      .join(broadcast(lut), Seq("sub", "code_id"))
      .groupBy($"vec_id")
      .agg(sum($"pd").as("adc_dist"))
      .orderBy($"adc_dist", $"vec_id")
      .limit(k)
  }

  /** IVF-PQ composition — the production billion-vector search shape:
    * the IVF bucket prune picks the `nprobe` nearest coarse buckets
    * (centroid table is broadcast-sized), the PQ codes of ONLY those
    * buckets' vectors are ADC-scored, and the top-k comes back without
    * the raw corpus ever being scanned. At nprobe = #buckets this
    * degrades exactly to [[pqSearch]] over the whole artifact
    * (law-tested in AnnSpec). */
  def ivfPqSearch(
      codes: DataFrame, assignments: DataFrame, cents: DataFrame,
      codebooks: DataFrame, probe: Seq[Float],
      nprobe: Int, m: Int, k: Int, dim: Int = 64): DataFrame = {
    val p = typedlit(probe)
    val nearBuckets = cents
      .select($"cent_id", l1Distance($"cent", p).as("d"))
      .orderBy($"d", $"cent_id")
      .limit(nprobe)
      .select($"cent_id")
    val cand = assignments.join(broadcast(nearBuckets), "cent_id")
      .select($"vec_id")
    pqSearch(codes.join(cand, "vec_id"), codebooks, probe, m, k, dim)
  }

  /** Multi-probe ADC search — the production batch-query shape: probes
    * arrive as a TABLE (pid, probe array<float>), the lookup tables for
    * ALL probes are ONE broadcast-sized frame (nprobes·m·k rows), and
    * per-probe ranking runs through the `row_number ≤ k` shape the
    * native grouped top-k rewrite ([[graft.plans.TopKPerKey]]) compiles
    * to a single-pass bounded heap — one scoring pass over the codes
    * regardless of probe count. Single-probe identity with
    * [[pqSearch]] is AnnSpec-law-tested. */
  def pqSearchMany(
      codes: DataFrame, codebooks: DataFrame, probes: DataFrame,
      m: Int, k: Int, dim: Int = 64): DataFrame = {
    val dsub = dim / m
    val pScaled = probes.select($"pid",
      transform($"probe",
        v => floor(v.cast("double") * 1e6 + 0.5).cast("long")).as("p"))
    val lut = pScaled.crossJoin(codebooks)
      .select($"pid", $"sub", $"code_id",
        aggregate(
          zip_with(slice($"p", $"sub" * dsub + 1, lit(dsub)), $"cent",
            (a, c) => abs(a - c)),
          lit(0L), (acc, x) => acc + x).as("pd"))
    val scored = codes
      .select($"vec_id", posexplode($"codes").as(Seq("sub", "code_id")))
      .join(broadcast(lut), Seq("sub", "code_id"))
      .groupBy($"pid", $"vec_id")
      .agg(sum($"pd").as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"adc_dist", $"vec_id")
    // the rank column is DROPPED from the projection — that is the
    // TopKPerKey rewrite's firing condition (TopKSpec pins it), so this
    // plans as the single-pass bounded heap, not a per-pid window sort
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= k)
      .select($"pid", $"vec_id", $"adc_dist")
  }

  /** IVF recall/cost SWEEP — the eval harness that sizes `nprobe`
    * before an approximate index replaces brute force: for each probe
    * and each candidate nprobe, how many of the exact top-k live in the
    * probed buckets (the recall ceiling of `ivfSearch`, whose exact
    * re-rank can only lose what bucket pruning already lost) and how
    * many candidates those buckets hold (the cost side). Computed
    * set-theoretically in ONE plan — bucket ranks per probe ×
    * exploded nprobe settings — instead of running the search per
    * setting. Laws (AnnSpec): recall non-decreasing in nprobe; equals
    * k at nprobe = #buckets; matches |ivfSearch ∩ brute| pointwise. */
  def ivfRecallSweep(
      emb: DataFrame, assignments: DataFrame, cents: DataFrame,
      probeIds: Seq[Long], nprobes: Seq[Int], k: Int): DataFrame = {
    val probes = emb.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id".as("pid"), $"embedding".as("pemb"))
    // bucket rank per probe: centroid table is broadcast-sized
    val bRank = cents.crossJoin(broadcast(probes))
      .select($"pid", $"cent_id",
        l1Distance($"cent", $"pemb").as("d"))
      .withColumn("brank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"pid").orderBy($"d", $"cent_id")))
      .select($"pid", $"cent_id", $"brank")
    // every vector's bucket rank under every probe
    val vecRank = assignments.join(broadcast(bRank), "cent_id")
      .select($"pid", $"vec_id", $"brank")
    // exact top-k per probe (integer-scaled cosine, id tie-break)
    val topk = emb.join(broadcast(probes), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        floor(cosine($"embedding", $"pemb") * 1e6 + 0.5).cast("long").as("cs"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"pid").orderBy($"cs".desc, $"vec_id")))
      .filter($"rk" <= k)
      .select($"pid", $"vec_id", lit(1).as("is_topk"))
    val np = explode(array(nprobes.map(lit(_)): _*)).as("nprobe")
    // rows above the largest setting can never survive: prune BEFORE the
    // join and the |nprobes|-way explode
    vecRank.filter($"brank" <= nprobes.max)
      .join(topk, Seq("pid", "vec_id"), "left")
      .select($"pid", $"brank", coalesce($"is_topk", lit(0)).as("is_topk"), np)
      .filter($"brank" <= $"nprobe")
      .groupBy($"pid", $"nprobe")
      .agg(
        sum($"is_topk").as("n_topk_found"),
        count(lit(1)).as("n_candidates"))
  }

  /** The PQ pipeline through the oracle gate: one Lloyd step per
    * subspace from the deterministic seed (m=4 subspaces of 16 dims,
    * codes seeded from the first 8 vectors), then the corpus encoded
    * against the UPDATED codebooks — per (sub, code_id), the assigned
    * count and the integer centroid checksum. Fixpoint training and
    * the search laws live in AnnSpec. */
  def q126PqEncode(s: SparkSession, dir: String): DataFrame = {
    val m = 4
    val rows = subvectorRows(scaledRows(load(s, dir, "embeddings")), m, 64)
    val c0 = rows.filter($"vec_id" < 8)
      .select($"sub", $"vec_id".as("cent_id"), $"es".as("cent"))
    val c1 = lloydStepKeyed(rows, c0)
      .select($"sub", $"cent_id", $"cent")
    val d = aggregate(
      zip_with($"es", $"cent", (a, c) => abs(a - c)),
      lit(0L), (acc, x) => acc + x)
    val assigned = rows.join(broadcast(c1), "sub")
      .select($"sub", $"vec_id", $"cent_id", d.as("d"))
      .groupBy($"sub", $"vec_id")
      .agg(min_by($"cent_id", struct($"d", $"cent_id")).as("cent_id"))
      .groupBy($"sub", $"cent_id")
      .agg(count(lit(1)).as("n_assigned"))
    assigned.join(c1, Seq("sub", "cent_id"))
      .select(
        $"sub".cast("long").as("sub"),
        $"cent_id".cast("long").as("code_id"),
        $"n_assigned",
        aggregate($"cent", lit(0L), (a, x) => a + x).as("cent_sum_scaled"))
  }

  /** The ADC SEARCH path through the oracle gate: with SEED codebooks
    * (the first 8 vectors' subvectors — no training, so the twin is
    * closed-form SQL), encode the corpus, build each probe's
    * (sub, code) lookup table, and rank the whole corpus by summed
    * table entries — top-5 per probe, exact integer distances,
    * deterministic (adc, vec_id) tie-break. This pins the quantize →
    * table → sum → rank machinery of [[pqSearch]] cross-engine;
    * training itself is gated by q125/q126 and the composed search by
    * AnnSpec laws. */
  def q127PqAdc(s: SparkSession, dir: String): DataFrame = {
    val m = 4
    val emb = load(s, dir, "embeddings")
    val c0 = subvectorRows(scaledRows(emb.filter($"vec_id" < 8)), m, 64)
      .select($"sub", $"vec_id".as("code_id"), $"es".as("cent"))
    // the SHIPPED operators, not a parallel re-implementation: encode
    // once, then one pqSearch per probe — a regression anywhere in the
    // quantize/table/sum/rank path fails this gate
    val codes = Pins.pin(pqEncode(emb, c0, m), eager = true)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect() // bounded: 3 rows
      .sortBy(_.getLong(0))
    probes.map { p =>
      pqSearch(codes, c0, p.getSeq[Float](1), m, k = 5)
        .withColumn("pid", lit(p.getLong(0)))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"adc_dist", $"vec_id")).cast("long"))
    }.reduce(_ unionByName _)
      .select($"pid", $"rk", $"vec_id", $"adc_dist")
  }

  /** The INCREMENTAL codes path + drift stat through the oracle gate:
    * with seed codebooks (first 8 vectors — closed-form twin), the
    * EVEN vec_ids are encoded first, the odds arrive as an append
    * through [[updatePqCodes]] (anti-join increment — a broken
    * anti-join double-encodes and fails the row-multiplicity hash),
    * and the union must equal the one-shot full encode. The
    * [[pqDriftStat]] ride-along columns pin the retrain signal's
    * integer math (probe = vector 0, sample = the 256 lowest ids)
    * cross-engine. */
  def q134PqIncremental(s: SparkSession, dir: String): DataFrame = {
    val m = 4
    val emb = load(s, dir, "embeddings")
    val c0 = subvectorRows(scaledRows(emb.filter($"vec_id" < 8)), m, 64)
      .select($"sub", $"vec_id".as("code_id"), $"es".as("cent"))
    val codesOld = pqEncode(emb.filter($"vec_id" % 2 === 0), c0, m)
    val inc = updatePqCodes(emb, codesOld, c0, m)
    val nNew = inc.groupBy().agg(count(lit(1)).as("n_new"))
    val allCodes = codesOld.unionByName(inc)
    val probe = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0) // bounded: 1 row
    val drift = pqDriftStat(emb, allCodes, c0, probe, m, sampleSize = 256)
      .select($"mean_adc_err_scaled", $"err_permille")
    allCodes
      .select($"vec_id", posexplode($"codes").as(Seq("sub", "code_id")))
      .select($"vec_id", $"sub".cast("long").as("sub"),
        $"code_id".cast("long").as("code_id"))
      .crossJoin(broadcast(nNew))
      .crossJoin(broadcast(drift))
  }

  /** The exact re-rank composition through the oracle gate — and a
    * RECALL statement, not just mechanics: the oracle is the plain
    * BRUTE-FORCE exact top-5 per probe (no PQ anywhere in the SQL), so
    * the gate passes only when [[pqSearchRerank]]'s ADC top-256
    * candidate set actually contains the true top-5 and the exact
    * re-rank restores their true order. Quantized ranks (q127) and the
    * recall-dominance law live alongside in AnnSpec. */
  def q135PqRerank(s: SparkSession, dir: String): DataFrame = {
    val m = 4
    val emb = load(s, dir, "embeddings")
    val c0 = subvectorRows(scaledRows(emb.filter($"vec_id" < 8)), m, 64)
      .select($"sub", $"vec_id".as("code_id"), $"es".as("cent"))
    val codes = Pins.pin(pqEncode(emb, c0, m), eager = true)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect() // bounded: 3 rows
      .sortBy(_.getLong(0))
    probes.map { p =>
      // 256 covers the measured worst ADC rank of a true top-5 member
      // on both test corpora (212 at sf0.001, 194 at sf0.01) — seed
      // codebooks are deliberately coarse, so the candidate set must
      // reach past the quantization's rank inversions
      pqSearchRerank(emb, codes, c0, p.getSeq[Float](1), m,
        k = 5, rerankFrom = 256)
        .withColumn("pid", lit(p.getLong(0)))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"exact_dist", $"vec_id")).cast("long"))
    }.reduce(_ unionByName _)
      .select($"pid", $"rk", $"vec_id", $"exact_dist")
  }

  /** The three-stage IVF→ADC→exact-re-rank composition through the
    * oracle gate. Bucket math is INTEGER-exact in-gate (scaled L1 for
    * both the vector→centroid assignment and the probe→bucket ranking,
    * (dist, cent_id) tie-breaks) so the DuckDB twin replays it bit-for-
    * bit — the float [[ivfPqSearchRerank]] API carries the same shape
    * under AnnSpec laws. `rerankFrom = 256` covers the probed two-bucket
    * population at the gated SFs (≤ ~125 vectors), so the oracle is the
    * plain EXACT bucket-restricted top-5 — no PQ in the SQL at all: the
    * gate states that the ADC candidate stage loses nothing when the
    * re-rank depth reaches the probed population. */
  def q138IvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val m = 4
    val emb = load(s, dir, "embeddings")
    val embS = Pins.pin(scaledRows(emb), eager = true)
    val cents = embS.filter($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"e".as("cent"))
    val intL1 = (a: Column, b: Column) => aggregate(
      zip_with(a, b, (x, y) => abs(x - y)), lit(0L), (acc, x) => acc + x)
    val assigned = embS.crossJoin(broadcast(cents))
      .select($"vec_id", $"cent_id", intL1($"e", $"cent").as("d"))
      .groupBy($"vec_id")
      .agg(min_by($"cent_id", struct($"d", $"cent_id")).as("cent_id"))
      .transform(Pins.pin(_, eager = true))
    val c0 = subvectorRows(embS.filter($"vec_id" < 8), m, 64)
      .select($"sub", $"vec_id".as("code_id"), $"es".as("cent"))
    val codes = Pins.pin(pqEncode(emb, c0, m), eager = true)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect() // bounded: 3 rows
      .sortBy(_.getLong(0))
    probes.map { p =>
      val pv = p.getSeq[Float](1)
      val pS = pv.map(v => math.floor(v.toDouble * 1e6 + 0.5).toLong)
      val near = cents
        .select($"cent_id", intL1($"cent", typedlit(pS)).as("d"))
        .orderBy($"d", $"cent_id").limit(2).select($"cent_id")
      val bucketIds = assigned.join(broadcast(near), "cent_id")
        .select($"vec_id")
      pqSearchRerank(emb, codes.join(bucketIds, "vec_id"), c0, pv, m,
        k = 5, rerankFrom = 256)
        .withColumn("pid", lit(p.getLong(0)))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"exact_dist", $"vec_id")).cast("long"))
    }.reduce(_ unionByName _)
      .select($"pid", $"rk", $"vec_id", $"exact_dist")
  }

  /** One deterministic Lloyd iteration — the k-means step of
    * embedding-space data mixing / diversity clustering: coarse
    * centroids = the first 8 vectors, L1-argmin assignment (broadcast
    * centroids + `min_by` partial aggregation, one shuffle on vec_id),
    * then per-cluster member counts and the new-centroid NUMERATOR as
    * exact integer math — each element is scaled to an integer BEFORE
    * the cross-row sum, because cross-row floating sums are
    * order-dependent and would diverge between engines. At scale each
    * further iteration is the same single-shuffle pass. */
  def q57KmeansIter(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent"))
    val elemSum = aggregate(
      transform($"embedding", v => floor(v.cast("double") * 1e6 + 0.5).cast("long")),
      lit(0L), (a, x) => a + x)
    // The argmin distance gets the same integer-scale-before-cross-row-sum
    // treatment as esum: a floating L1 accumulates in array order here but
    // in unnest order in the oracle, so a ULP tie near the min can flip the
    // min_by assignment. Per-element |⌊a·10⁶+½⌋ − ⌊c·10⁶+½⌋| in Long is
    // engine-exact and order-independent.
    val dScaled = aggregate(
      zip_with($"embedding", $"cent", (a, c) =>
        abs(floor(a.cast("double") * 1e6 + 0.5).cast("long") -
          floor(c.cast("double") * 1e6 + 0.5).cast("long"))),
      lit(0L), (acc, x) => acc + x)
    emb
      .select($"vec_id", $"embedding", elemSum.as("esum"))
      .crossJoin(broadcast(cents))
      .select($"vec_id", $"esum", $"cent_id", dScaled.as("d"))
      .groupBy($"vec_id")
      .agg(
        min_by($"cent_id", struct($"d", $"cent_id")).as("cent_id"),
        first($"esum").as("esum"))
      .groupBy($"cent_id")
      .agg(
        count(lit(1)).as("n_members"),
        sum($"esum").as("member_sum_scaled"))
      .select($"cent_id".cast("long").as("cent_id"), $"n_members", $"member_sum_scaled")
  }

  /** Affine int8 quantization of an embedding column (the storage /
    * transfer compression step of an embedding pipeline): per vector,
    * q_i = ⌊(v_i − min)·255/(max − min) + ½⌋. Stateless column math —
    * scan-speed, no shuffle; the gate checks the per-vector quantized
    * checksum (pure IEEE +,−,×,÷,floor on identical expression trees —
    * bit-identical across engines; no library rounding). */
  def q61QuantizeInt8(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select($"vec_id", $"embedding",
        array_min($"embedding").cast("double").as("vmin"),
        array_max($"embedding").cast("double").as("vmax"))
      .select(
        $"vec_id",
        floor(($"vmax" - $"vmin") * 1e6 + 0.5).cast("long").as("range_scaled"),
        when($"vmax" === $"vmin", 0L).otherwise(
          aggregate(
            transform($"embedding", v =>
              floor((v.cast("double") - $"vmin") * 255.0 / ($"vmax" - $"vmin") + 0.5)
                .cast("long")),
            lit(0L), (a, x) => a + x)).as("qsum"))

  /** ANN recall measurement — the eval harness an approximate index
    * needs before it replaces brute force: for each probe vector, how
    * many of the EXACT top-10 cosine neighbors land in the probe's LSH
    * bucket (same 10-plane signature as [[q26EmbeddingNearDup]]), plus
    * the bucket's candidate count (the cost side of the recall/cost
    * trade). Probes broadcast against the corpus scan (one pass, no
    * self-shuffle); the top-k rank is a probe-local window. Scores are
    * integer-scaled cosines with id tie-breaks, so the gate is exact. */
  def q72AnnRecall(s: SparkSession, dir: String): DataFrame = {
    // 6 planes → 64 buckets: coarse enough that buckets hold ~n/64
    // vectors and the recall numerator is a real measurement (10 planes
    // gives mostly-singleton buckets whose recall is trivially 0)
    val emb = load(s, dir, "embeddings")
      .withColumn("sig", signatureCol($"embedding", 64, 6))
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("pid"), $"sig".as("psig"), $"embedding".as("pemb"))
    val scored = emb.join(broadcast(probes), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        floor(cosine($"embedding", $"pemb") * 1e6 + 0.5).cast("long").as("cs"),
        ($"sig" === $"psig").as("same_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"cs".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w))
      .groupBy($"pid")
      .agg(
        count(when($"rk" <= 10 && $"same_bucket", lit(1))).as("n_topk_in_bucket"),
        count(when($"same_bucket", lit(1))).as("n_bucket"))
  }

  /** q218 — exact MRR (mean reciprocal rank) of the LSH index against
    * brute-force ground truth, the rank-sensitive eval recall (q72)
    * can't see: recall@k says whether the true neighbor is in the
    * shortlist AT ALL; MRR says how far down it surfaced — the metric
    * that actually moves retrieval quality dashboards. Per probe: the
    * exact top-1 neighbor (cosine, id tie-break), its rank inside the
    * probe's LSH bucket ranked the same way (null if the bucket missed
    * it), and the reciprocal rank scaled by 2520 = lcm(1..10) so
    * 2520/rank is an EXACT integer for every rank ≤ 10 (the q84
    * no-floats rule applied to 1/rank; rank > 10 scores 0 — standard
    * MRR@10 cutoff). Mean over probes = Σ rr_scaled / (2520·n), left
    * to the dashboard; the gate pins the per-probe integers.
    *
    * SCALE: same harness as q72 — probes broadcast against one corpus
    * scan, ranks are probe-local windows over probe-sized slices; the
    * corpus never self-joins. */
  def q218AnnMrr(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .withColumn("sig", signatureCol($"embedding", 64, 6))
    val probes = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("pid"), $"sig".as("psig"), $"embedding".as("pemb"))
    val scored = emb.join(broadcast(probes), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        floor(cosine($"embedding", $"pemb") * 1e6 + 0.5).cast("long").as("cs"),
        ($"sig" === $"psig").as("same_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"cs".desc, $"vec_id")
    val rel = scored.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).select($"pid", $"vec_id".as("rel_id"))
    val br = scored.filter($"same_bucket")
      .withColumn("brk", row_number().over(w).cast("long"))
      .select($"pid", $"vec_id", $"brk")
    // a bucket miss ranks 0, not NULL (ranks are >= 1, so 0 is an
    // unambiguous miss sentinel and the integer column stays NULL-free
    // for the driver's row comparator)
    rel.join(br, rel("pid") === br("pid") && $"rel_id" === br("vec_id"), "left")
      .select(rel("pid"), $"rel_id",
        coalesce($"brk", lit(0L)).as("rel_rank"),
        when($"brk".isNotNull && $"brk" <= 10L,
          expr("cast(2520 div brk as bigint)")).otherwise(0L).as("rr_scaled"))
  }

  /** q231 — quantized-retrieval recall: how many of the float top-10
    * cosine neighbors survive when search runs on the int8-quantized
    * vectors (q61's per-vector min/max 255-level grid) ranked by raw
    * integer dot — the eval that decides whether a deployment can
    * serve from the 4×-smaller quantized index. The quantized ranking
    * is ENTIRELY integer (products of 0..255 codes summed — exact on
    * both engines with no float in sight), so the gate needs float
    * tolerance only where q72 already proved it (the scaled-cosine
    * ground truth). Per probe: overlap count of the two top-10 sets
    * and the quantized winner's id.
    *
    * SCALE: q72's broadcast-probe harness — probes (with their code
    * arrays) broadcast against one corpus scan; both rankings are
    * probe-local windows; the corpus never self-joins. */
  def q231Int8Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select($"vec_id", $"embedding",
        array_min($"embedding").cast("double").as("vmin"),
        array_max($"embedding").cast("double").as("vmax"))
      .select($"vec_id", $"embedding",
        when($"vmax" === $"vmin",
          expr("transform(embedding, v -> 0L)"))
          .otherwise(expr(
            "transform(embedding, v -> cast(floor((cast(v as double) - vmin)" +
              " * 255.0 / (vmax - vmin) + 0.5) as bigint))")).as("qv"))
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("pid"), $"embedding".as("pemb"), $"qv".as("pqv"))
    val scored = emb.join(broadcast(probes), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        floor(cosine($"embedding", $"pemb") * 1e6 + 0.5).cast("long").as("cs"),
        expr("aggregate(zip_with(qv, pqv, (x, y) -> x * y), 0L," +
          " (acc, v) -> acc + v)").as("idot"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"cs".desc, $"vec_id")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"idot".desc, $"vec_id")
    scored
      .withColumn("frk", row_number().over(wf))
      .withColumn("qrk", row_number().over(wq))
      .groupBy($"pid")
      .agg(
        count(when($"frk" <= 10 && $"qrk" <= 10, lit(1))).as("n_overlap"),
        min(when($"qrk" === 1, $"vec_id")).as("q_top1"))
  }

  /** q193 — per-label embedding CENTROID DRIFT between releases, the
    * vector-side complement of q189's length-percentile drift: a
    * retrained encoder, a changed normalization, or a shifted domain
    * mix moves class centroids long before individual-pair metrics
    * notice. Everything is exact-integer: components scale to
    * floor(v·10⁶ + ½) (the q57 rule), per-dim per-release SUMS
    * accumulate as longs, and the drift is division-cleared —
    * drift_num = Σ_d |sumA_d·n_b − sumB_d·n_a| = n_a·n_b·L1(meanA,
    * meanB) scaled — so both engines compute the same integer. One
    * posexplode (64 dim-rows per vector, map-side-combinable into a
    * (label, dim)-keyed partial agg — dim count is bounded, this is a
    * fan-out into a combiner, not a blowup), then a labels×dims-sized
    * comparison. */
  def q193CentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        posexplode($"embedding").as(Seq("dim", "v")))
      .select($"vec_id", $"label", $"dim",
        floor($"v" * 1e6 + 0.5).cast("long").as("sv"))
    def sums(rel: Long) = emb.filter($"vec_id" % 2 === rel)
      .groupBy($"label", $"dim")
      .agg(sum($"sv").as(s"s$rel"), countDistinct($"vec_id").as(s"n$rel"))
    sums(0L).join(sums(1L), Seq("label", "dim"))
      .groupBy($"label")
      .agg(
        max($"n0").as("n_a"), max($"n1").as("n_b"),
        sum(abs($"s0" * $"n1" - $"s1" * $"n0")).cast("long").as("drift_num"))
  }

  /** q201 — Matryoshka (prefix-dimension) retrieval recall: rank by the
    * FIRST 16 of 64 dimensions, shortlist the prefix top-30, re-rank
    * the shortlist with full-dimension cosine, and measure both recalls
    * against the exact full-dimension top-10 — the MRL evaluation
    * (Kusupati et al., NeurIPS 2022) that decides whether truncated
    * embeddings can drive the first retrieval pass. Integer-scaled
    * scores, vec_id tie-breaks, exact ranks (the q72/q135 harness
    * convention — the all-pairs ranking exists to provide ground truth
    * at gate scale).
    *
    * The DOMINANCE LAW is structural, and AnnSpec pins it: any true
    * top-10 item the prefix top-10 captures is also captured by the
    * shortlist re-rank (it sits in the shortlist, and only 9 items in
    * the whole corpus out-score it on full cosine), so
    * n_topk_rerank ≥ n_topk_prefix row by row.
    *
    * SCALE: prefix-first is the same two-phase shape as q135's
    * PQ→exact re-rank with the cheap pass now a PREFIX of the stored
    * vector — 4× less data per candidate and no codebook artifact to
    * maintain; at 100 TB the prefix lives as its own column (column
    * pruning reads 16 dims, not 64) and the full vector is fetched
    * only for the ≤ 30-row shortlist per probe. */
  def q201MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("pid"), $"embedding".as("pemb"))
    val scored = emb.join(broadcast(probes), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        floor(cosine($"embedding", $"pemb") * 1e6 + 0.5)
          .cast("long").as("cs_full"),
        floor(cosine(slice($"embedding", 1, 16), slice($"pemb", 1, 16))
          * 1e6 + 0.5).cast("long").as("cs_pre"))
    val byFull = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"cs_full".desc, $"vec_id")
    val byPre = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"cs_pre".desc, $"vec_id")
    val rk = scored
      .withColumn("rkf", row_number().over(byFull))
      .withColumn("rkp", row_number().over(byPre))
    val direct = rk.groupBy($"pid")
      .agg(count(when($"rkf" <= 10 && $"rkp" <= 10, lit(1)))
        .as("n_topk_prefix"))
    val rerank = rk.filter($"rkp" <= 30)
      .withColumn("rkr", row_number().over(byFull))
      .groupBy($"pid")
      .agg(count(when($"rkf" <= 10 && $"rkr" <= 10, lit(1)))
        .as("n_topk_rerank"))
    direct.join(rerank, Seq("pid"))
  }

  /** Multi-probe LSH candidate generation (Lv et al., VLDB 2007): probe
    * not just the query's own signature bucket but every bucket at
    * Hamming distance 1 — a near-neighbor that lost ONE plane's coin
    * flip lands there, which is the dominant miss mode of single-probe
    * LSH. The 100 TB shape is the point: recall is recovered WITHOUT
    * multiplying index tables (the classic L-tables remedy multiplies
    * storage and build passes by L), and the plan stays ONE equi-join —
    * each probe explodes to its nPlanes+1 bucket keys (map-side,
    * nPlanes+1 rows per probe) joined on the data side's signature.
    * Candidate volume grows only by the neighbor buckets' occupancy
    * (≈ (nPlanes+1)× the expected bucket size). No dedup pass is
    * needed: a vector has ONE signature and the probed keys are
    * pairwise distinct, so each (probe, vector) pair matches at most
    * once — the q81 exactly-one-bucket discipline. */
  def multiProbeCandidates(data: DataFrame, probes: DataFrame,
      nPlanes: Int): DataFrame = {
    val keys = probes.select($"pid", $"psig",
      explode(array(($"psig" +: (0 until nPlanes).map(p =>
        $"psig".bitwiseXOR(lit(1L << p)))): _*)).as("bsig"))
    data.join(keys, data("sig") === keys("bsig")).drop("bsig")
  }

  /** q183 — multi-probe recall measurement, q72's harness extended with
    * the Hamming-1 probe ring: per probe vector, exact top-10 recall
    * and candidate volume under single-probe (own bucket) vs
    * multi-probe. The candidates come through [[multiProbeCandidates]]'
    * equi-join — the scale path IS the measured path; the exact
    * all-pairs ranking exists only because the gate's job is to measure
    * recall against ground truth (5 probes × corpus, broadcast-bounded,
    * the q72 convention). Multi-probe counts dominate single-probe
    * counts row-by-row — a law AnnSpec pins and the gate exhibits. */
  def q183MultiProbeRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .withColumn("sig", signatureCol($"embedding", 64, 6))
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("pid"), $"sig".as("psig"), $"embedding".as("pemb"))
    val cands = multiProbeCandidates(
        emb.select($"vec_id", $"sig"),
        probes.select($"pid", $"psig"), 6)
      .filter($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id", ($"sig" === $"psig").as("own_bucket"))
    val scored = emb.join(broadcast(probes), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        floor(cosine($"embedding", $"pemb") * 1e6 + 0.5).cast("long").as("cs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"cs".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w))
      .join(cands, Seq("pid", "vec_id"), "left")
      .groupBy($"pid")
      .agg(
        count(when($"rk" <= 10 && coalesce($"own_bucket", lit(false)), lit(1)))
          .as("n_topk_single"),
        count(when($"rk" <= 10 && $"own_bucket".isNotNull, lit(1)))
          .as("n_topk_multi"),
        count(when(coalesce($"own_bucket", lit(false)), lit(1))).as("n_single"),
        count(when($"own_bucket".isNotNull, lit(1))).as("n_multi"))
  }

  /** Semantic decontamination scoring — the embedding-space complement
    * of n-gram decontamination (q55/q67): an eval item paraphrased into
    * the training set shares no shingles but sits next to it in
    * embedding space. Per corpus vector: max cosine to ANY benchmark
    * vector + which benchmark item it matches; top-20 most-contaminated
    * reported (TakeOrderedAndProject). Benchmark embeddings broadcast
    * against one corpus scan — no shuffle; when the benchmark itself is
    * huge, the same LSH-signature blocking as [[q26EmbeddingNearDup]]
    * replaces the broadcast. Integer-scaled scores, exact composite-key
    * argmax for the nearest-item tie-break. */
  def q74SemanticDecon(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val bench = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("bid"), $"embedding".as("bemb"))
    emb.filter($"vec_id" >= 10)
      .join(broadcast(bench))
      .select($"vec_id",
        floor(cosine($"embedding", $"bemb") * 1e6 + 0.5).cast("long").as("cs"),
        $"bid")
      .groupBy($"vec_id")
      .agg(
        max($"cs").as("max_cos_scaled"),
        // nearest benchmark item: highest cosine, smallest bid on ties
        max_by($"bid", $"cs" * lit(1000L) - $"bid").as("nearest_bench"))
      .orderBy($"max_cos_scaled".desc, $"vec_id")
      .limit(20)
  }

  val oracles: Map[String, String] = Map(
    // per-subspace Lloyd step + encode against the updated codebooks;
    // sub = (i-1)//16 splits the 64-dim rows into m=4 subspaces
    "q126_pq_encode" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1e6+0.5) AS BIGINT) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |su AS (SELECT vec_id, CAST((i-1)//16 AS BIGINT) AS sub,
        |  i - ((i-1)//16)*16 AS j, v FROM u),
        |c0 AS (SELECT sub, vec_id AS code_id, j, v FROM su WHERE vec_id < 8),
        |d1 AS (SELECT a.vec_id, a.sub, c.code_id, sum(abs(a.v - c.v)) AS dist
        |  FROM su a JOIN c0 c ON a.sub = c.sub AND a.j = c.j GROUP BY 1,2,3),
        |a1 AS (SELECT vec_id, sub, code_id FROM (
        |  SELECT vec_id, sub, code_id, row_number() OVER (
        |    PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        |  FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a.sub, a.code_id, s.j,
        |    CAST(floor(sum(s.v) * 1.0 / count(*)) AS BIGINT) AS v
        |  FROM a1 a JOIN su s ON s.vec_id = a.vec_id AND s.sub = a.sub
        |  GROUP BY 1,2,3),
        |d2 AS (SELECT a.vec_id, a.sub, c.code_id, sum(abs(a.v - c.v)) AS dist
        |  FROM su a JOIN c1 c ON a.sub = c.sub AND a.j = c.j GROUP BY 1,2,3),
        |a2 AS (SELECT vec_id, sub, code_id FROM (
        |  SELECT vec_id, sub, code_id, row_number() OVER (
        |    PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        |  FROM d2) WHERE rn = 1),
        |n2 AS (SELECT sub, code_id, CAST(count(*) AS BIGINT) AS n_assigned
        |  FROM a2 GROUP BY 1,2)
        |SELECT n2.sub, CAST(n2.code_id AS BIGINT) AS code_id, n2.n_assigned,
        |  CAST(sum(c.v) AS BIGINT) AS cent_sum_scaled
        |FROM n2 JOIN c1 c ON c.sub = n2.sub AND c.code_id = n2.code_id
        |GROUP BY 1,2,3""".stripMargin,
    // incremental encode-append: the oracle encodes EVERYTHING against
    // the seed codebooks in one pass — engine-side increment mechanics
    // (anti-join, union) must converge to exactly this, and the drift
    // ride-alongs replay pqDriftStat's integer math for probe 0 over
    // the 256 lowest ids
    "q134_pq_incremental" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1e6+0.5) AS BIGINT) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |su AS (SELECT vec_id, CAST((i-1)//16 AS BIGINT) AS sub,
        |  i - ((i-1)//16)*16 AS j, v FROM u),
        |c0 AS (SELECT sub, vec_id AS code_id, j, v FROM su WHERE vec_id < 8),
        |d AS (SELECT a.vec_id, a.sub, c.code_id, sum(abs(a.v - c.v)) AS dist
        |  FROM su a JOIN c0 c ON a.sub = c.sub AND a.j = c.j GROUP BY 1,2,3),
        |codes AS (SELECT vec_id, sub, code_id FROM (
        |  SELECT vec_id, sub, code_id, row_number() OVER (
        |    PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        |  FROM d) WHERE rn = 1),
        |nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_new
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |samp AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 256),
        |lut AS (SELECT c.sub, c.code_id, sum(abs(p.v - c.v)) AS pd
        |  FROM su p JOIN c0 c ON p.sub = c.sub AND p.j = c.j
        |  WHERE p.vec_id = 0 GROUP BY 1,2),
        |adc AS (SELECT cd.vec_id, sum(l.pd) AS adc_dist
        |  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.code_id = cd.code_id
        |  JOIN samp s ON s.vec_id = cd.vec_id GROUP BY 1),
        |ex AS (SELECT a.vec_id, sum(abs(a.v - p.v)) AS exact_dist
        |  FROM u a JOIN u p ON p.vec_id = 0 AND a.i = p.i
        |  JOIN samp s ON s.vec_id = a.vec_id GROUP BY 1),
        |dr AS (SELECT
        |    CAST(sum(abs(adc.adc_dist - ex.exact_dist)) //
        |      count(*) AS BIGINT) AS mean_adc_err_scaled,
        |    CAST((sum(abs(adc.adc_dist - ex.exact_dist)) * 1000) //
        |      greatest(sum(ex.exact_dist), 1) AS BIGINT) AS err_permille
        |  FROM adc JOIN ex ON ex.vec_id = adc.vec_id)
        |SELECT c.vec_id, c.sub, CAST(c.code_id AS BIGINT) AS code_id,
        |  nn.n_new, dr.mean_adc_err_scaled, dr.err_permille
        |FROM codes c CROSS JOIN nn CROSS JOIN dr""".stripMargin,
    // exact re-rank recall gate: the oracle is plain brute-force exact
    // top-5 by scaled L1 — no PQ in the SQL at all
    "q135_pq_rerank" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1e6+0.5) AS BIGINT) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |ex AS (SELECT p.vec_id AS pid, a.vec_id, sum(abs(a.v - p.v)) AS exact_dist
        |  FROM u a JOIN u p ON a.i = p.i WHERE p.vec_id < 3 GROUP BY 1,2)
        |SELECT pid, CAST(rk AS BIGINT) AS rk, vec_id,
        |  CAST(exact_dist AS BIGINT) AS exact_dist FROM (
        |  SELECT pid, vec_id, exact_dist, row_number() OVER (
        |    PARTITION BY pid ORDER BY exact_dist, vec_id) AS rk FROM ex)
        |WHERE rk <= 5""".stripMargin,
    // IVF->ADC->exact-rerank composition: the oracle replays the integer
    // bucket math (seed centroids = first 8 vectors, scaled-L1 argmin
    // assignment, 2 nearest buckets per probe) and ranks the probed
    // population by plain exact L1 — no PQ in the SQL: with the re-rank
    // depth covering the probed population, the quantized candidate
    // stage must lose nothing
    "q138_ivfpq_rerank" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1e6+0.5) AS BIGINT) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |d AS (SELECT a.vec_id, c.vec_id AS cent_id, sum(abs(a.v - c.v)) AS dist
        |  FROM u a JOIN u c ON a.i = c.i AND c.vec_id < 8 GROUP BY 1,2),
        |assigned AS (SELECT vec_id, cent_id FROM (
        |  SELECT vec_id, cent_id, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, cent_id) AS rn FROM d)
        |  WHERE rn = 1),
        |pd AS (SELECT p.vec_id AS pid, c.vec_id AS cent_id,
        |    sum(abs(c.v - p.v)) AS dist
        |  FROM u c JOIN u p ON c.i = p.i
        |  WHERE c.vec_id < 8 AND p.vec_id < 3 GROUP BY 1,2),
        |pb AS (SELECT pid, cent_id FROM (SELECT pid, cent_id,
        |    row_number() OVER (PARTITION BY pid ORDER BY dist, cent_id) AS rn
        |  FROM pd) WHERE rn <= 2),
        |cand AS (SELECT pb.pid, a.vec_id FROM pb
        |  JOIN assigned a ON a.cent_id = pb.cent_id),
        |ex AS (SELECT cand.pid, cand.vec_id, sum(abs(a.v - p.v)) AS exact_dist
        |  FROM cand JOIN u a ON a.vec_id = cand.vec_id
        |  JOIN u p ON p.vec_id = cand.pid AND a.i = p.i
        |  GROUP BY 1,2)
        |SELECT pid, CAST(rk AS BIGINT) AS rk, vec_id,
        |  CAST(exact_dist AS BIGINT) AS exact_dist FROM (
        |  SELECT pid, vec_id, exact_dist, row_number() OVER (
        |    PARTITION BY pid ORDER BY exact_dist, vec_id) AS rk FROM ex)
        |WHERE rk <= 5""".stripMargin,
    // ADC search with seed codebooks: quantize → per-probe lookup
    // table → summed table entries → ranked top-5, all integer-exact
    "q127_pq_adc" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1e6+0.5) AS BIGINT) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |su AS (SELECT vec_id, CAST((i-1)//16 AS BIGINT) AS sub,
        |  i - ((i-1)//16)*16 AS j, v FROM u),
        |c0 AS (SELECT sub, vec_id AS code_id, j, v FROM su WHERE vec_id < 8),
        |d AS (SELECT a.vec_id, a.sub, c.code_id, sum(abs(a.v - c.v)) AS dist
        |  FROM su a JOIN c0 c ON a.sub = c.sub AND a.j = c.j GROUP BY 1,2,3),
        |codes AS (SELECT vec_id, sub, code_id FROM (
        |  SELECT vec_id, sub, code_id, row_number() OVER (
        |    PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        |  FROM d) WHERE rn = 1),
        |lut AS (SELECT p.vec_id AS pid, c.sub, c.code_id,
        |    sum(abs(p.v - c.v)) AS pd
        |  FROM su p JOIN c0 c ON p.sub = c.sub AND p.j = c.j
        |  WHERE p.vec_id < 3 GROUP BY 1,2,3),
        |adc AS (SELECT l.pid, cd.vec_id, sum(l.pd) AS adc_dist
        |  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.code_id = cd.code_id
        |  GROUP BY 1,2)
        |SELECT pid, CAST(rk AS BIGINT) AS rk, vec_id,
        |  CAST(adc_dist AS BIGINT) AS adc_dist FROM (
        |  SELECT pid, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY pid ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |WHERE rk <= 5""".stripMargin,
    // two chained Lloyd steps, element-row space; the floor-of-double-
    // ratio centroid update and the (dist, cent_id) argmin tie-break
    // mirror lloydStep exactly
    "q125_ivf_train" ->
      """WITH u AS (SELECT vec_id,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1e6+0.5) AS BIGINT) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |c0 AS (SELECT vec_id AS cent_id, i, v FROM u WHERE vec_id < 8),
        |d1 AS (SELECT a.vec_id, c.cent_id, sum(abs(a.v - c.v)) AS dist
        |  FROM u a JOIN c0 c ON a.i = c.i GROUP BY 1,2),
        |a1 AS (SELECT vec_id, cent_id FROM (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |  FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a.cent_id, u.i,
        |    CAST(floor(sum(u.v) * 1.0 / count(*)) AS BIGINT) AS v
        |  FROM a1 a JOIN u ON u.vec_id = a.vec_id GROUP BY 1,2),
        |d2 AS (SELECT a.vec_id, c.cent_id, sum(abs(a.v - c.v)) AS dist
        |  FROM u a JOIN c1 c ON a.i = c.i GROUP BY 1,2),
        |a2 AS (SELECT vec_id, cent_id FROM (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |  FROM d2) WHERE rn = 1),
        |c2 AS (SELECT a.cent_id, u.i,
        |    CAST(floor(sum(u.v) * 1.0 / count(*)) AS BIGINT) AS v
        |  FROM a2 a JOIN u ON u.vec_id = a.vec_id GROUP BY 1,2),
        |n2 AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_members
        |  FROM a2 GROUP BY 1)
        |SELECT CAST(c.cent_id AS BIGINT) AS cent_id, n2.n_members,
        |  CAST(sum(c.v) AS BIGINT) AS cent_sum_scaled
        |FROM c2 c JOIN n2 ON n2.cent_id = c.cent_id
        |GROUP BY 1, n2.n_members""".stripMargin,
    "q74_semantic_decon" ->
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |cs AS (SELECT a.vec_id, b.vec_id AS bid,
        |  CAST(floor(sum(a.v*b.v)/(sqrt(sum(a.v*a.v))*sqrt(sum(b.v*b.v))) * 1e6 + 0.5) AS BIGINT) AS cs
        |  FROM u a JOIN u b ON a.i = b.i AND b.vec_id < 10 AND a.vec_id >= 10
        |  GROUP BY 1,2)
        |SELECT vec_id, CAST(max(cs) AS BIGINT) AS max_cos_scaled,
        |CAST(arg_max(bid, cs * 1000 - bid) AS BIGINT) AS nearest_bench
        |FROM cs GROUP BY 1 ORDER BY max_cos_scaled DESC, vec_id LIMIT 20""".stripMargin,
    "q72_ann_recall" ->
      s"""WITH s AS (SELECT vec_id, ${signatureSql("embedding", 64, 6)} AS sig, embedding FROM embeddings),
         |p AS (SELECT vec_id AS pid, sig AS psig FROM s WHERE vec_id < 5),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |  generate_subscripts(embedding,1) AS i FROM embeddings),
         |cs AS (SELECT p.pid, a.vec_id,
         |  CAST(floor(sum(a.v*b.v)/(sqrt(sum(a.v*a.v))*sqrt(sum(b.v*b.v))) * 1e6 + 0.5) AS BIGINT) AS cs
         |  FROM p JOIN u a ON a.vec_id != p.pid JOIN u b ON b.vec_id = p.pid AND b.i = a.i
         |  GROUP BY 1,2),
         |sb AS (SELECT p.pid, s.vec_id, s.sig = p.psig AS same FROM p JOIN s ON s.vec_id != p.pid),
         |rk AS (SELECT pid, vec_id, row_number() OVER (PARTITION BY pid ORDER BY cs DESC, vec_id) AS rk FROM cs)
         |SELECT pid, CAST(count(CASE WHEN rk.rk <= 10 AND sb.same THEN 1 END) AS BIGINT) AS n_topk_in_bucket,
         |CAST(count(CASE WHEN sb.same THEN 1 END) AS BIGINT) AS n_bucket
         |FROM rk JOIN sb USING (pid, vec_id) GROUP BY 1""".stripMargin,
    // q231: q72's harness with the q61 quantization grid — the int
    // ranking replays exactly; only the float ground truth needs the
    // proven scaled-cosine form
    "q231_int8_recall" ->
      """WITH m AS (SELECT vec_id, embedding,
        |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vmin,
        |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS vmax
        |  FROM embeddings),
        |u AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |  CAST(unnest(embedding) AS DOUBLE) AS v, vmin, vmax FROM m),
        |q AS (SELECT vec_id, i, CASE WHEN vmax = vmin THEN 0
        |  ELSE CAST(floor((v - vmin) * 255.0 / (vmax - vmin) + 0.5) AS BIGINT)
        |  END AS qv, v FROM u),
        |p AS (SELECT vec_id AS pid FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT p.pid, a.vec_id,
        |  CAST(floor(sum(a.v*b.v)/(sqrt(sum(a.v*a.v))*sqrt(sum(b.v*b.v))) * 1e6 + 0.5) AS BIGINT) AS cs,
        |  CAST(sum(a.qv * b.qv) AS BIGINT) AS idot
        |  FROM p JOIN q a ON a.vec_id != p.pid
        |  JOIN q b ON b.vec_id = p.pid AND b.i = a.i
        |  GROUP BY 1, 2),
        |rk AS (SELECT pid, vec_id,
        |  row_number() OVER (PARTITION BY pid ORDER BY cs DESC, vec_id) AS frk,
        |  row_number() OVER (PARTITION BY pid ORDER BY idot DESC, vec_id) AS qrk
        |  FROM sc)
        |SELECT pid,
        |  CAST(count(CASE WHEN frk <= 10 AND qrk <= 10 THEN 1 END) AS BIGINT)
        |    AS n_overlap,
        |  min(CASE WHEN qrk = 1 THEN vec_id END) AS q_top1
        |FROM rk GROUP BY 1""".stripMargin,
    // q218: q72's harness with the rank turned into scaled 1/rank —
    // 2520 = lcm(1..10) keeps every reciprocal an exact integer
    "q218_ann_mrr" ->
      s"""WITH s AS (SELECT vec_id, ${signatureSql("embedding", 64, 6)} AS sig, embedding FROM embeddings),
         |p AS (SELECT vec_id AS pid, sig AS psig FROM s WHERE vec_id < 20),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |  generate_subscripts(embedding,1) AS i FROM embeddings),
         |cs AS (SELECT p.pid, a.vec_id,
         |  CAST(floor(sum(a.v*b.v)/(sqrt(sum(a.v*a.v))*sqrt(sum(b.v*b.v))) * 1e6 + 0.5) AS BIGINT) AS cs
         |  FROM p JOIN u a ON a.vec_id != p.pid JOIN u b ON b.vec_id = p.pid AND b.i = a.i
         |  GROUP BY 1,2),
         |rel AS (SELECT pid, vec_id AS rel_id FROM (SELECT pid, vec_id,
         |    row_number() OVER (PARTITION BY pid ORDER BY cs DESC, vec_id) AS rk
         |  FROM cs) WHERE rk = 1),
         |sb AS (SELECT p.pid, s.vec_id FROM p
         |  JOIN s ON s.vec_id != p.pid AND s.sig = p.psig),
         |br AS (SELECT cs.pid, cs.vec_id, CAST(row_number() OVER (
         |    PARTITION BY cs.pid ORDER BY cs DESC, cs.vec_id) AS BIGINT) AS brk
         |  FROM cs JOIN sb ON sb.pid = cs.pid AND sb.vec_id = cs.vec_id)
         |SELECT rel.pid, rel.rel_id, coalesce(br.brk, 0) AS rel_rank,
         |  CAST(CASE WHEN br.brk IS NOT NULL AND br.brk <= 10
         |    THEN 2520 // br.brk ELSE 0 END AS BIGINT) AS rr_scaled
         |FROM rel LEFT JOIN br ON br.pid = rel.pid AND br.vec_id = rel.rel_id""".stripMargin,
    // q193 replays scale → per-dim sums → division-cleared L1 in
    // integer SQL (unnest + generate_subscripts, the q57 pattern)
    "q193_centroid_drift" ->
      """WITH u AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
        |      AS BIGINT) AS sv
        |  FROM embeddings),
        |a AS (SELECT label, dim, CAST(sum(sv) AS BIGINT) AS s0,
        |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n0
        |  FROM u WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |b AS (SELECT label, dim, CAST(sum(sv) AS BIGINT) AS s1,
        |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n1
        |  FROM u WHERE vec_id % 2 = 1 GROUP BY 1, 2)
        |SELECT label, CAST(max(n0) AS BIGINT) AS n_a,
        |  CAST(max(n1) AS BIGINT) AS n_b,
        |  CAST(sum(abs(s0 * n1 - s1 * n0)) AS BIGINT) AS drift_num
        |FROM a JOIN b USING (label, dim) GROUP BY 1""".stripMargin,
    // q201 replays the full- and prefix-cosine rankings from the same
    // per-dimension join (prefix terms CASE-gated on i <= 16), then the
    // shortlist re-rank as a second row_number over the filtered set
    "q201_matryoshka_recall" ->
      """WITH p AS (SELECT vec_id AS pid FROM embeddings WHERE vec_id < 5),
        |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |cs AS (SELECT p.pid, a.vec_id,
        |  CAST(floor(sum(a.v*b.v) /
        |    (sqrt(sum(a.v*a.v)) * sqrt(sum(b.v*b.v))) * 1e6 + 0.5)
        |    AS BIGINT) AS cs_full,
        |  CAST(floor(sum(CASE WHEN a.i <= 16 THEN a.v*b.v ELSE 0 END) /
        |    (sqrt(sum(CASE WHEN a.i <= 16 THEN a.v*a.v ELSE 0 END)) *
        |     sqrt(sum(CASE WHEN a.i <= 16 THEN b.v*b.v ELSE 0 END)))
        |    * 1e6 + 0.5) AS BIGINT) AS cs_pre
        |  FROM p JOIN u a ON a.vec_id != p.pid
        |    JOIN u b ON b.vec_id = p.pid AND b.i = a.i
        |  GROUP BY 1, 2),
        |rk AS (SELECT pid, vec_id, cs_full,
        |  row_number() OVER (PARTITION BY pid ORDER BY cs_full DESC, vec_id)
        |    AS rkf,
        |  row_number() OVER (PARTITION BY pid ORDER BY cs_pre DESC, vec_id)
        |    AS rkp FROM cs),
        |a1 AS (SELECT pid, CAST(count(CASE WHEN rkf <= 10 AND rkp <= 10
        |    THEN 1 END) AS BIGINT) AS n_topk_prefix FROM rk GROUP BY 1),
        |rr AS (SELECT pid, rkf, row_number() OVER (PARTITION BY pid
        |    ORDER BY cs_full DESC, vec_id) AS rkr
        |  FROM rk WHERE rkp <= 30),
        |a2 AS (SELECT pid, CAST(count(CASE WHEN rkf <= 10 AND rkr <= 10
        |    THEN 1 END) AS BIGINT) AS n_topk_rerank FROM rr GROUP BY 1)
        |SELECT pid, n_topk_prefix, n_topk_rerank
        |FROM a1 JOIN a2 USING (pid)""".stripMargin,
    // q183 replays q72's signature + exact-rank harness with the
    // Hamming-1 probe ring via xor/bit_count — membership in the
    // multi-probe candidate set is bit_count(xor(sig, psig)) <= 1,
    // which must equal the Spark side's bucket-explode equi-join
    "q183_multiprobe_recall" ->
      s"""WITH s AS (SELECT vec_id, ${signatureSql("embedding", 64, 6)} AS sig, embedding FROM embeddings),
         |p AS (SELECT vec_id AS pid, sig AS psig FROM s WHERE vec_id < 5),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |  generate_subscripts(embedding,1) AS i FROM embeddings),
         |cs AS (SELECT p.pid, a.vec_id,
         |  CAST(floor(sum(a.v*b.v)/(sqrt(sum(a.v*a.v))*sqrt(sum(b.v*b.v))) * 1e6 + 0.5) AS BIGINT) AS cs
         |  FROM p JOIN u a ON a.vec_id != p.pid JOIN u b ON b.vec_id = p.pid AND b.i = a.i
         |  GROUP BY 1,2),
         |sb AS (SELECT p.pid, s.vec_id, s.sig = p.psig AS own,
         |  bit_count(xor(s.sig, p.psig)) <= 1 AS probed
         |  FROM p JOIN s ON s.vec_id != p.pid),
         |rk AS (SELECT pid, vec_id, row_number() OVER (PARTITION BY pid ORDER BY cs DESC, vec_id) AS rk FROM cs)
         |SELECT pid,
         |CAST(count(CASE WHEN rk.rk <= 10 AND sb.own THEN 1 END) AS BIGINT) AS n_topk_single,
         |CAST(count(CASE WHEN rk.rk <= 10 AND sb.probed THEN 1 END) AS BIGINT) AS n_topk_multi,
         |CAST(count(CASE WHEN sb.own THEN 1 END) AS BIGINT) AS n_single,
         |CAST(count(CASE WHEN sb.probed THEN 1 END) AS BIGINT) AS n_multi
         |FROM rk JOIN sb USING (pid, vec_id) GROUP BY 1""".stripMargin,
    "q57_kmeans_iter" ->
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |  generate_subscripts(embedding,1) AS i FROM embeddings),
        |d AS (SELECT a.vec_id, c.vec_id AS cent_id,
        |  sum(abs(CAST(floor(a.v*1e6+0.5) AS BIGINT) - CAST(floor(c.v*1e6+0.5) AS BIGINT))) AS dist
        |  FROM u a JOIN u c ON a.i = c.i AND c.vec_id < 8 GROUP BY 1,2),
        |assigned AS (SELECT vec_id, cent_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn FROM d),
        |es AS (SELECT vec_id, sum(CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS esum
        |  FROM u GROUP BY 1)
        |SELECT CAST(a.cent_id AS BIGINT) AS cent_id,
        |CAST(count(*) AS BIGINT) AS n_members,
        |CAST(sum(es.esum) AS BIGINT) AS member_sum_scaled
        |FROM assigned a JOIN es ON es.vec_id = a.vec_id WHERE a.rn = 1
        |GROUP BY 1""".stripMargin,
    "q61_quantize_int8" ->
      """WITH m AS (SELECT vec_id, embedding,
        |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vmin,
        |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS vmax FROM embeddings),
        |q AS (SELECT vec_id, vmin, vmax, CAST(unnest(embedding) AS DOUBLE) AS v FROM m)
        |SELECT vec_id,
        |CAST(floor((any_value(vmax) - any_value(vmin)) * 1e6 + 0.5) AS BIGINT) AS range_scaled,
        |CAST(CASE WHEN any_value(vmax) = any_value(vmin) THEN 0
        |  ELSE sum(CAST(floor((v - vmin) * 255.0 / (vmax - vmin) + 0.5) AS BIGINT))
        |  END AS BIGINT) AS qsum
        |FROM q GROUP BY vec_id""".stripMargin,
    "q24_ann_topk" ->
      """WITH ref AS (SELECT embedding AS ref_emb FROM embeddings WHERE vec_id=0),
        |pairs AS (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS v,
        |  CAST(unnest(r.ref_emb) AS DOUBLE) AS rv FROM embeddings e CROSS JOIN ref r
        |  WHERE e.vec_id != 0)
        |SELECT vec_id,
        |CAST(floor(sum(v*rv)/(sqrt(sum(v*v))*sqrt(sum(rv*rv))) * 1e6 + 0.5) AS BIGINT) AS cos_scaled
        |FROM pairs GROUP BY 1 ORDER BY cos_scaled DESC, vec_id LIMIT 10""".stripMargin,
    "q119_hard_negatives" ->
      """WITH ref AS (SELECT embedding AS ref_emb FROM embeddings WHERE vec_id=0),
        |pairs AS (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS v,
        |  CAST(unnest(r.ref_emb) AS DOUBLE) AS rv FROM embeddings e CROSS JOIN ref r
        |  WHERE e.vec_id != 0)
        |SELECT vec_id,
        |CAST(floor(sum(v*rv)/(sqrt(sum(v*v))*sqrt(sum(rv*rv))) * 1e6 + 0.5) AS BIGINT) AS cos_scaled
        |FROM pairs GROUP BY 1 HAVING cos_scaled < 300000
        |ORDER BY cos_scaled DESC, vec_id LIMIT 10""".stripMargin,
    "q25_ann_lsh" ->
      s"""WITH s AS (SELECT ${signatureSql("embedding", 64, 12)} AS sig FROM embeddings),
         |b AS (SELECT sig, count(*) AS bucket_size FROM s GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |CAST(max(bucket_size) AS BIGINT) AS max_bucket,
         |CAST(sum(bucket_size) AS BIGINT) AS n_vectors FROM b""".stripMargin,
    "q26_embedding_neardup" ->
      s"""WITH s AS (SELECT vec_id, ${signatureSql("embedding", 64, 10)} AS sig FROM embeddings),
         |cand AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM s a JOIN s b
         |  ON a.sig = b.sig AND a.vec_id < b.vec_id),
         |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |  generate_subscripts(embedding,1) AS i FROM embeddings),
         |cos AS (SELECT c.ia, c.ib, sum(ua.v*ub.v)/(sqrt(sum(ua.v*ua.v))*sqrt(sum(ub.v*ub.v))) AS cs
         |  FROM cand c JOIN u ua ON ua.vec_id = c.ia JOIN u ub ON ub.vec_id = c.ib AND ua.i = ub.i
         |  GROUP BY 1,2)
         |SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs FROM cos WHERE cs > 0.95""".stripMargin,
    "q14_flatten" ->
      """SELECT vec_id, CAST(generate_subscripts(embedding,1) AS BIGINT) AS idx,
        |round(CAST(unnest(embedding) AS DOUBLE),6) AS val
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    "q15_l1_distance" ->
      """WITH ref AS (SELECT embedding AS ref_emb FROM embeddings WHERE vec_id=0),
        |pairs AS (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS v,
        |  CAST(unnest(r.ref_emb) AS DOUBLE) AS rv FROM embeddings e CROSS JOIN ref r)
        |SELECT vec_id, round(sum(abs(v-rv)),3) AS l1 FROM pairs GROUP BY 1""".stripMargin,
    "q16_cosine" ->
      """WITH ref AS (SELECT embedding AS ref_emb FROM embeddings WHERE vec_id=0),
        |pairs AS (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS v,
        |  CAST(unnest(r.ref_emb) AS DOUBLE) AS rv FROM embeddings e CROSS JOIN ref r)
        |SELECT vec_id, round(sum(v*rv)/(sqrt(sum(v*v))*sqrt(sum(rv*rv))),4) AS cos
        |FROM pairs GROUP BY 1""".stripMargin,
  )
}
