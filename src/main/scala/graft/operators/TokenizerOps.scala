package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.syntax._

/** Tokenizer-induction operators: the corpus→vocabulary reduction and
  * byte-pair-encoding (BPE) training loop that every LLM data pipeline
  * runs before a single training token is emitted (Sennrich et al.,
  * ACL 2016 — the algorithm behind GPT-2/LLaMA tokenizers).
  *
  * The scale discipline is a single Zipf/Heaps'-law cliff: the corpus
  * is touched EXACTLY ONCE (one shuffle: word → weighted frequency),
  * and every subsequent step — pair counting, argmax selection, merge
  * application, k training rounds — runs on the WORD-FREQUENCY TABLE,
  * whose row count grows like the vocabulary (Heaps' law: ~ O(N^0.5)
  * of corpus tokens), not the corpus. This is exactly how industrial
  * BPE trainers (HuggingFace tokenizers, SentencePiece) are
  * structured, re-expressed as Spark aggregations: at 100 TB the word
  * count is one map-side-combinable shuffle of (word, 1) partials and
  * the whole training loop then fits in vocabulary-sized jobs.
  */
object TokenizerOps {

  /** Word-frequency table: the one corpus-wide pass. Map-side
    * combinable (partial counts per word per partition), hash shuffle
    * on the word — the canonical Heaps'-law reduction. */
  private def wordFreq(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"w")
      .agg(count(lit(1)).as("wf"))

  /** Adjacent symbol pairs of a space-separated symbol string `wsCol`,
    * weighted by `wf`: explode over positions 1..n-1 (bounded fan-out:
    * symbols per word ≤ word length), then a (l_sym, r_sym) hash agg.
    * Runs on the vocabulary, never the corpus. */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select($"wf", split($"ws", " ").as("syms"))
      .filter(size($"syms") >= 2)
      .select($"wf",
        explode(sequence(lit(1), size($"syms") - 1)).as("i"),
        $"syms")
      .select(
        element_at($"syms", $"i").as("l_sym"),
        element_at($"syms", $"i" + 1).as("r_sym"),
        $"wf")
      .groupBy($"l_sym", $"r_sym")
      .agg(sum($"wf").as("pair_count"))

  /** Char-split a word into a space-separated symbol string:
    * "table" → "t a b l e". regexp_replace + trim rather than
    * split-by-empty so the Spark side and the DuckDB oracle share one
    * derivation (both engines' `(.)` → `$1 ` semantics agree). */
  private def spaced(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(c, "(.)", "$1 "))

  // --------------------------------------------------------------- q194

  /** q194 — BPE round-0 pair statistics: the weighted adjacent
    * character-pair distribution over the word-frequency table, the
    * input to the first merge decision. One corpus shuffle
    * ([[wordFreq]]), then vocabulary-sized pair explode + agg; output
    * is the pair vocabulary (alphabet², tiny). The gate pins the exact
    * weighted counts — the quantity whose argmax IS the first BPE
    * merge. */
  def q194BpePairs(s: SparkSession, dir: String): DataFrame =
    pairCounts(wordFreq(s, dir).select(spaced($"w").as("ws"), $"wf"))

  /** One BPE merge applied by leftmost non-overlapping replacement via
    * the double-space trick (see [[q195BpeMerges]]): every boundary
    * carries two spaces, so adjacent matches never steal each other's
    * separator and plain `replace` IS greedy BPE application —
    * identical semantics on Spark and DuckDB, no regex. */
  private def applyMerge(ws: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column = {
    val doubled = concat(lit(" "), regexp_replace(
      concat(ws, lit(" ")), " ", "  "))
    trim(replace(
      replace(doubled, lit(s" $l  $r "), lit(s" $l$r ")),
      lit("  "), lit(" ")))
  }

  /** Train `k` BPE merges on a word-frequency table: per round, argmax
    * pair (count desc, (l, r) asc) + merge application — the q195 loop
    * without the per-round inventory job, returning the merge TABLE
    * (the artifact a tokenizer ships). k one-row driver collects. */
  def trainMerges(wf0: DataFrame, k: Int): Seq[(String, String)] = Pins.scope {
    // pin the corpus reduction: each round's argmax is an ACTION, and
    // without the checkpoint every round re-ran the corpus scan +
    // word-count shuffle through the vocab lineage (k corpus passes
    // for k rounds); the checkpoint makes round r a scan of the
    // materialized vocabulary + r stacked replaces — the documented
    // "corpus touched exactly once" contract, now true per action too.
    // Boundedness: the pin is the word-frequency VOCABULARY (Heaps'-law
    // bounded), never the corpus; the scope frees its blocks on return
    var vocab = wf0.select(spaced($"w").as("ws"), $"wf")
      .transform(Pins.pin(_, eager = false))
    (1 to k).map { _ =>
      val top = pairCounts(vocab)
        .orderBy($"pair_count".desc, $"l_sym", $"r_sym")
        .limit(1).collect() // bounded: exactly one row (the argmax)
      val (l, r) = (top(0).getString(0), top(0).getString(1))
      vocab = vocab.select(applyMerge($"ws", l, r).as("ws"), $"wf")
      (l, r)
    }
  }

  // --------------------------------------------------------------- q195

  /** q195 — BPE merge training, `k` rounds. Per round: weighted pair
    * counts over the current symbolized vocabulary, argmax winner
    * (count desc, then (l, r) lexicographic — the deterministic
    * tie-break both engines replay), then the merge applied to every
    * word by leftmost non-overlapping replacement — the classic greedy
    * BPE application order, realized with the double-space trick so
    * plain `replace` (identical leftmost-non-overlap semantics on
    * Spark and DuckDB, no regex) applies it exactly: double every
    * boundary space, replace " l  r " with " lr ", collapse. Every
    * boundary carries exactly two spaces so adjacent matches never
    * steal each other's separator (the " a a a " + merge(a,a) → "aa a"
    * case is law-tested).
    *
    * Output: one row per round — round, winning pair, its weighted
    * count, and the distinct-symbol inventory size after the merge.
    *
    * Scale shape: the corpus is read once ([[wordFreq]]); each round
    * is a vocabulary-sized agg plus a ONE-ROW driver collect (the
    * argmax — the same driver-held merge list every industrial BPE
    * trainer keeps; k rounds ⇒ k rows held on the driver, bounded by
    * construction). The vocabulary DataFrame is re-derived per round
    * by stacking `replace` steps onto one lineage — k is small (the
    * merge-table budget, 10s of thousands in production), and each
    * round's plan is a scan of the cached word-freq table, never the
    * corpus. */
  def q195BpeMerges(s: SparkSession, dir: String, k: Int = 4): DataFrame = Pins.scope {
    val wf0 = wordFreq(s, dir)
    // pinned (lazy localCheckpoint): the per-round argmax and
    // symbol-inventory actions would otherwise each re-run the corpus
    // scan + word-count shuffle through the vocab lineage — 2k corpus
    // passes for k rounds; with the checkpoint the corpus is touched
    // exactly once and every round is vocabulary-sized
    var vocab = wf0.select(spaced($"w").as("ws"), $"wf")
      .transform(Pins.pin(_, eager = false))
    // k vocabulary-sized rounds; the corpus shuffle above happened once
    val rows = (1 to k).map { round =>
      val top = pairCounts(vocab)
        .orderBy($"pair_count".desc, $"l_sym", $"r_sym")
        .limit(1)
        .collect() // bounded: exactly one row (the argmax)
      val (l, r, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      // " l  r " → " lr ": every boundary carries two spaces, a match
      // consumes one from each side and re-emits one — neighbors keep
      // a full separator, so leftmost-non-overlap replace IS greedy BPE
      vocab = vocab.select(applyMerge($"ws", l, r).as("ws"), $"wf")
      val nSyms = vocab
        .select(explode(split($"ws", " ")).as("sym"))
        .agg(count_distinct($"sym"))
        .collect()(0).getLong(0) // bounded: one scalar per round
      (round.toLong, l, r, cnt, nSyms)
    }
    s.createDataFrame(rows)
      .toDF("round", "l_sym", "r_sym", "pair_count", "n_syms")
  }

  /** DuckDB replay of [[q195BpeMerges]], generated: round i's merge
    * winner is embedded via scalar subqueries over the previous
    * round's pair CTE, so the chained CTEs replay the driver loop
    * exactly — same double-space replace, same tie-break. */
  private def bpeMergesSql(k: Int): String = {
    def pairsCte(v: String, p: String): String =
      s"""$p AS (SELECT sy[i] AS l_sym, sy[i+1] AS r_sym,
         |    CAST(sum(wf) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(ws, ' ') AS sy, wf FROM $v)
         |    , unnest(generate_series(1, len(sy)-1)) AS u(i)
         |  WHERE len(sy) >= 2 GROUP BY 1, 2)""".stripMargin
    def winCte(p: String, w: String): String =
      s"""$w AS (SELECT l_sym, r_sym, pair_count FROM $p
         |  ORDER BY pair_count DESC, l_sym, r_sym LIMIT 1)""".stripMargin
    def mergeCte(v: String, w: String, v2: String): String =
      s"""$v2 AS (SELECT trim(replace(replace(
         |    ' ' || replace(ws || ' ', ' ', '  '),
         |    ' ' || (SELECT l_sym FROM $w) || '  ' || (SELECT r_sym FROM $w) || ' ',
         |    ' ' || (SELECT l_sym FROM $w) || (SELECT r_sym FROM $w) || ' '),
         |    '  ', ' ')) AS ws, wf FROM $v)""".stripMargin
    val base =
      """wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1 GROUP BY 1),
        |v0 AS (SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS ws, wf
        |  FROM wf)""".stripMargin
    val rounds = (1 to k).map { i =>
      Seq(
        pairsCte(s"v${i - 1}", s"p$i"),
        winCte(s"p$i", s"w$i"),
        mergeCte(s"v${i - 1}", s"w$i", s"v$i"),
        s"""n$i AS (SELECT CAST(count(DISTINCT sym) AS BIGINT) AS n_syms
           |  FROM (SELECT unnest(string_split(ws, ' ')) AS sym FROM v$i))""".stripMargin
      ).mkString(",\n")
    }.mkString(",\n")
    val out = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, l_sym, r_sym, pair_count,
         |  (SELECT n_syms FROM n$i) AS n_syms FROM w$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $base,\n$rounds\n$out"
  }

  // --------------------------------------------------------------- q221

  /** q221 — BPE ENCODE: apply the trained merge table to the corpus
    * and report per-source token economics — words, chars, and BPE
    * tokens after the merges (chars/tokens is the compression ratio
    * every tokenizer eval reports, and bytes-per-token per SOURCE is a
    * live quality signal: a source whose text is mostly markup or
    * numerals compresses worse under merges trained on the whole mix).
    * This closes the tokenizer lifecycle: q194 round-0 stats → q195
    * merge training → ENCODE at corpus scale.
    *
    * SCALE: encoding is per-word deterministic, so it runs ONCE PER
    * DISTINCT WORD (Heaps'-law vocabulary, not the corpus): the
    * (source, word) frequency table is the only corpus-wide shuffle
    * (map-side combinable), the merge chain is a stack of codegen'd
    * `replace` projections over the distinct-word table, and the
    * encoded lengths hash-join back on the word key. The merge table
    * itself is driver-held (k rows — the artifact tokenizers ship) and
    * enters the plan as literals, exactly like a broadcast of the
    * merges. A per-document UDF encode would re-derive every duplicate
    * word's segmentation; this shape never does. */
  def q221BpeEncode(s: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val merges = trainMerges(wordFreq(s, dir), k)
    val sw = load(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"source", $"w").agg(count(lit(1)).as("wf"))
    var enc = sw.select($"w").distinct().select($"w", spaced($"w").as("ws"))
    merges.foreach { case (l, r) =>
      enc = enc.select($"w", applyMerge($"ws", l, r).as("ws"))
    }
    val nsyms = enc.select($"w",
      size(split($"ws", " ")).cast("long").as("n_syms"))
    sw.join(nsyms, "w")
      .groupBy($"source")
      .agg(sum($"wf").as("n_words"),
        sum($"wf" * length($"w")).as("n_chars"),
        sum($"wf" * $"n_syms").as("n_bpe_tokens"))
  }

  /** DuckDB replay of [[q221BpeEncode]]: the q195 training CTEs give
    * winners w1..wk; a second chain e0..ek applies them to the
    * distinct-word table CARRYING the original word, so encoded
    * lengths join back exactly like the Spark plan. */
  private def bpeEncodeSql(k: Int): String = {
    def pairsCte(v: String, p: String): String =
      s"""$p AS (SELECT sy[i] AS l_sym, sy[i+1] AS r_sym,
         |    CAST(sum(wf) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(ws, ' ') AS sy, wf FROM $v)
         |    , unnest(generate_series(1, len(sy)-1)) AS u(i)
         |  WHERE len(sy) >= 2 GROUP BY 1, 2)""".stripMargin
    def winCte(p: String, w: String): String =
      s"""$w AS (SELECT l_sym, r_sym FROM $p
         |  ORDER BY pair_count DESC, l_sym, r_sym LIMIT 1)""".stripMargin
    def mergeExpr(col: String, w: String): String =
      s"""trim(replace(replace(
         |    ' ' || replace($col || ' ', ' ', '  '),
         |    ' ' || (SELECT l_sym FROM $w) || '  ' || (SELECT r_sym FROM $w) || ' ',
         |    ' ' || (SELECT l_sym FROM $w) || (SELECT r_sym FROM $w) || ' '),
         |    '  ', ' '))""".stripMargin
    val base =
      """wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1 GROUP BY 1),
        |v0 AS (SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS ws, wf
        |  FROM wf)""".stripMargin
    val train = (1 to k).map { i =>
      Seq(pairsCte(s"v${i - 1}", s"p$i"), winCte(s"p$i", s"w$i"),
        s"v$i AS (SELECT ${mergeExpr("ws", s"w$i")} AS ws, wf FROM v${i - 1})"
      ).mkString(",\n")
    }.mkString(",\n")
    val encChain = (1 to k).map { i =>
      s"e$i AS (SELECT w, ${mergeExpr("ws", s"w$i")} AS ws FROM e${i - 1})"
    }.mkString(",\n")
    s"""WITH $base,
       |$train,
       |sv AS (SELECT source, w, CAST(count(*) AS BIGINT) AS wf
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE len(w) >= 1 GROUP BY 1, 2),
       |e0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ws
       |  FROM (SELECT DISTINCT w FROM sv)),
       |$encChain,
       |ns AS (SELECT w, CAST(len(string_split(ws, ' ')) AS BIGINT) AS n_syms
       |  FROM e$k)
       |SELECT source, CAST(sum(wf) AS BIGINT) AS n_words,
       |  CAST(sum(wf * len(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(wf * n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM sv JOIN ns USING (w) GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q204

  /** q204 — skip-gram (center, context) pair counts, window ±`w`: the
    * co-occurrence table word2vec/GloVe-style embedding training reads
    * (Mikolov et al., NIPS 2013). Pair generation runs INSIDE the row
    * (the q196 zero-pre-shuffle discipline): one indexed `transform`
    * over the bound token array emits each position's ≤ 2w window
    * neighbors as structs, flattened and exploded map-side — the plan
    * is scan → project → generate → partial agg → ONE exchange on the
    * pair key → final agg (plan-gated). The textbook positional
    * self-join (posexplode → shuffle on (doc, pos) → band join) pays
    * two corpus shuffles and materializes the corpus×L position table
    * before its first filter; here fan-out is bounded by 2w per token
    * and the only shuffle carries map-combined partial counts, sized
    * by the PAIR VOCABULARY (Heaps-law bounded), not the corpus.
    * Aggregation state per key is a single counter — no buffers. */
  def skipGramPairs(docs: DataFrame, w: Int = 2): DataFrame =
    docs
      .select(split($"text", " ").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(expr(
        s"""flatten(transform(toks, (t, i) ->
           |  transform(
           |    filter(sequence(greatest(0, i - $w),
           |                    least(size(toks) - 1, i + $w)),
           |           j -> j != i),
           |    j -> struct(t AS center, toks[j] AS context))))""".stripMargin))
        .as("p"))
      .groupBy($"p.center".as("center"), $"p.context".as("context"))
      .agg(count(lit(1)).as("cnt"))

  def q204SkipGrams(s: SparkSession, dir: String): DataFrame =
    skipGramPairs(load(s, dir, "documents"))

  val oracles: Map[String, String] = Map(
    // q221: train w1..w4 in CTEs, apply the same chain to the distinct
    // word table (carrying w), join the encoded lengths back
    "q221_bpe_encode" -> bpeEncodeSql(4),
    // q204 replays the windowed pair generation as a double lateral
    // unnest (1-based list indexing) + the same pair aggregate
    "q204_skipgram_pairs" ->
      """WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT l[i] AS center, l[j] AS context
        |  FROM t,
        |    unnest(generate_series(1, len(l))) AS u(i),
        |    unnest(generate_series(greatest(1, i - 2),
        |                           least(len(l), i + 2))) AS v(j)
        |  WHERE j != i)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q194_bpe_pairs" ->
      """WITH wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1 GROUP BY 1),
        |v AS (SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS ws, wf FROM wf),
        |p AS (SELECT sy[i] AS l_sym, sy[i+1] AS r_sym, wf
        |  FROM (SELECT string_split(ws, ' ') AS sy, wf FROM v)
        |    , unnest(generate_series(1, len(sy)-1)) AS u(i)
        |  WHERE len(sy) >= 2)
        |SELECT l_sym, r_sym, CAST(sum(wf) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q195_bpe_merges" -> bpeMergesSql(4)
  )
}
