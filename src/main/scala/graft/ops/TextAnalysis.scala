package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Text-analysis operators over the `documents` fixture — the
  * training-data-pipeline surface (SURVEY.md §2.4): token statistics,
  * term frequencies, tf-idf, quality scoring, n-gram language scoring,
  * and content fingerprinting. No counterpart exists in the reference
  * (its payloads are opaque bytes); everything is built from codegen'd
  * `functions._` primitives — split/explode/groupBy/join — so Catalyst
  * plans partial aggregation and pushes column pruning into the scan.
  *
  * Cross-engine determinism: token hashing uses the first 8 hex digits
  * of md5 (identical in Spark `conv(substr(md5(x),1,8),16,10)` and
  * DuckDB `('0x' || substr(md5(x),1,8))::BIGINT`); every float is
  * rounded identically on both sides.
  *
  * Scale posture (100 TB): all operators are explode → hash-aggregate
  * pipelines that shuffle once on (term) or (doc) keys; nothing holds
  * per-corpus state on the driver. tf-idf's document-frequency side is
  * orders of magnitude smaller than the corpus after aggregation and
  * broadcasts when small.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** a–z occurrence histogram of `p_name` — the t10 bag-distance
    * prefilter input (`lev ≥ Σ|count diffs|/2`). Shared with the parity
    * spec so the soundness test always checks the shipped definition.
    */
  private[graft] val letterHistExpr: String =
    "transform(sequence(97, 122), c -> " +
      "cast(length(p_name) - length(replace(p_name, char(c), '')) " +
      "as bigint))"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** t24's boilerplate quantile: a shingle occurrence counts as
    * corpus-common when its document frequency sits at or above this
    * doc-weighted percentile of the corpus's own df distribution. A
    * RELATIVE threshold on purpose: absolute df cuts degenerate as the
    * corpus grows (measured on the fixtures — df>=3 calls everything
    * common at sf0.1 and nothing at sf0.01, because trigram collision
    * rates shift with corpus size), while the quantile self-calibrates
    * to whatever duplication structure the corpus actually has — the
    * same reason production boilerplate filters cut on df percentiles,
    * not counts.
    */
  private val NoveltyQuantile = 0.9

  // ---- BPE merge application (t23, p11) ------------------------------
  // t13 produces one BPE-training iteration's merge table; these apply
  // it, so downstream token budgets (p11 packing) count TOKENIZER
  // tokens, not whitespace tokens. Application semantics: for each
  // merge "a b" in rank order (count desc, pair asc — t13's order),
  // every occurrence of adjacent tokens a b fuses into one token
  // a<US>b, via string replace on the space-wrapped doc (" a b " →
  // " a<US>b "). replace() consumes the shared separator between
  // CONSECUTIVE occurrences ("b c b c" matches alternately), so each
  // merge is applied in TWO passes — the second pass catches the
  // alternation remainder. This double-pass rule is deterministic and
  // byte-identical in both engines (both replace() kernels scan
  // left-to-right, non-overlapping); it can under-merge long
  // same-token chains ("a a a a a a" yields 2 merges where sequential
  // greedy yields 3) — an accepted, documented deviation (such chains
  // are noise in natural text, and engine-exact beats
  // sequential-greedy-but-ungateable). Merged supertokens contain the
  // US joiner, so no later merge (built from plain-space pairs) can
  // rematch them — one training iteration's merges never cascade, by
  // construction.
  //
  // Scale posture: the merge table is ~20 rows → ONE array literal
  // broadcast to every task; application is a narrow per-row fold
  // (40 bounded replace scans per doc) fused into the document scan —
  // no shuffle anywhere before the per-source rollup.

  /** t28's sweep of the kept-merge count: 0 (the whitespace baseline),
    * brackets below the shipped 20-merge table, and the table itself.
    */
  private val BpeCurveKs = Seq(0, 5, 10, 20)

  /** The doubled, rank-ordered merge list as a 1-row array frame. */
  private def bpeMergeList(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 2)
      .select($"toks", explode(expr("sequence(1, size(toks) - 1)"))
        .as("i"))
      .select(concat_ws(" ", expr("element_at(toks, i)"),
        expr("element_at(toks, i + 1)")).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair").limit(20)
      .agg(array_sort(collect_list(struct((-$"n").as("nn"), $"pair")))
        .as("ps"))
      .select(expr("flatten(transform(ps, p -> array(p.pair, p.pair)))")
        .as("ms"))
  }

  /** Whitespace and post-merge token counts per document —
    * (doc_id, source, n_ws, n_bpe). Shared by t23 and p11.
    */
  private[ops] def bpeTokenCounts(s: SparkSession, dir: String): DataFrame =
    bpeTokenCountsOn(s, docs(s, dir), bpeMergeList(s, dir))

  /** [[bpeTokenCounts]] on injectable docs/merge frames — the
    * differential spec drives synthetic token streams through THIS
    * definition against an independent Scala reference of the
    * double-pass rule, so the shipped fold is the tested fold.
    */
  private[graft] def bpeTokenCountsOn(s: SparkSession, d: DataFrame,
      merges: DataFrame): DataFrame = {
    import s.implicits._
    d.crossJoin(broadcast(merges))
      .withColumn("n_ws", when($"text".isNull, lit(0L))
        .otherwise(size(split($"text", " ")).cast("long")))
      .withColumn("n_bpe", when($"text".isNull, lit(0L))
        .otherwise(size(split(trim(expr(
          """aggregate(ms, concat(' ', text, ' '),
            |  (acc, m) -> replace(acc, concat(' ', m, ' '),
            |    concat(' ', replace(m, ' ', chr(31)), ' ')))"""
            .stripMargin)), " ")).cast("long")))
      .select($"doc_id", $"source", $"n_ws", $"n_bpe")
  }

  /** DuckDB twin of [[bpeTokenCounts]]: CTE chain ending in
    * bpec(doc_id, source, n_ws, n_bpe).
    */
  private[ops] val bpeCountsSqlCtes: String =
    """bx AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bp AS (
      |  SELECT toks[CAST(i AS INT)] || ' ' ||
      |         toks[CAST(i AS INT) + 1] AS pair
      |  FROM bx, unnest(range(1, len(toks))) AS t(i)),
      |btp AS (
      |  SELECT pair, count(*) AS n FROM bp
      |  GROUP BY pair ORDER BY n DESC, pair LIMIT 20),
      |bml AS (
      |  SELECT flatten(list_transform(list(pair ORDER BY n DESC, pair),
      |                                m -> [m, m])) AS ms
      |  FROM btp),
      |bpec AS (
      |  SELECT doc_id, source,
      |    CAST(CASE WHEN text IS NULL THEN 0
      |         ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_ws,
      |    CAST(CASE WHEN text IS NULL THEN 0
      |         ELSE len(string_split(trim(list_reduce(
      |           list_prepend(' ' || text || ' ', ms),
      |           (acc, m) -> replace(acc, ' ' || m || ' ',
      |             ' ' || replace(m, ' ', chr(31)) || ' '))), ' '))
      |    END AS BIGINT) AS n_bpe
      |  FROM documents CROSS JOIN bml)""".stripMargin

  /** Shared repetition signals — t11 publishes them, p02 gates on them.
    * ONE definition per engine (the exactQuantileCols convention): a
    * drift between "the score t11 reports" and "the signal p02 filters
    * on" cannot happen, because both read these columns. Input must
    * carry (doc_id, text); output adds n_tokens, tts (top-token share)
    * and dup2 (duplicate-2-gram share), both UNROUNDED — presentation
    * rounding is the caller's.
    */
  private[graft] def repetitionSignals(d0: DataFrame): DataFrame = {
    val d = d0.withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
    val top = d.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_cnt"))
    // LEFT join: a null-text doc has no exploded tokens and hence no
    // top_cnt row — an inner join would drop it from the signal frame
    // entirely (and from every downstream accounting bucket); with the
    // left join its signals are null and consumers decide (p04 coalesces
    // q_pass to false, so such a doc fails quality rather than vanish).
    d.join(top, Seq("doc_id"), "left")
      .withColumn("tts", col("top_cnt") / col("n_tokens").cast("double"))
      .withColumn("dup2",
        when(col("n_tokens") < 2, lit(0.0))
          .otherwise(lit(1.0) -
            size(array_distinct(expr(
              "transform(sequence(1, size(toks) - 1), " +
                "i -> concat(element_at(toks, i), ' ', " +
                "element_at(toks, i + 1)))")))
              / (col("n_tokens") - 1).cast("double")))
  }

  /** DuckDB twin of [[repetitionSignals]]: CTE chain ending in `g`
    * with (doc_id, source, n_tokens, tts, dup2). */
  private[graft] val repetitionSignalsSql: String =
    """x AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |top AS (
      |  SELECT doc_id, max(c) AS top_cnt FROM (
      |    SELECT doc_id, t.tok, count(*) AS c
      |    FROM x, unnest(toks) AS t(tok) GROUP BY doc_id, t.tok)
      |  GROUP BY doc_id),
      |g AS (
      |  SELECT x.doc_id, source, n_tokens,
      |    top_cnt / CAST(n_tokens AS DOUBLE) AS tts,
      |    CASE WHEN n_tokens < 2 THEN 0.0
      |         ELSE 1.0 - len(list_distinct(list_transform(
      |                range(1, n_tokens),
      |                i -> toks[i] || ' ' || toks[i+1])))
      |              / CAST(n_tokens - 1 AS DOUBLE) END AS dup2
      |  FROM x LEFT JOIN top ON x.doc_id = top.doc_id)""".stripMargin

  /** Winnowing fingerprint pipeline — ONE definition per engine, shared
    * by t12 (per-doc summary) and Dedup's d15 (overlap join): 3-shingle
    * hashes over a `toks` column, then distinct window-4 minima. The
    * ≥6-token shared-run ⇒ shared-fingerprint guarantee is proven by
    * TextAnalysisSpec on constructed inputs.
    */
  /** Single 3-shingle hash at position column `i` over a `toks` column
    * — the SAME hash winnowHsExpr computes per lambda element, exposed
    * for exploded (codegen) formulations like d15 where the array form
    * would be re-expanded per consumer by projection collapse.
    */
  private[graft] val shingleHashSql =
    "cast(conv(substr(md5(concat_ws(' ', element_at(toks, i), " +
      "element_at(toks, i + 1), element_at(toks, i + 2))), 1, 7), " +
      "16, 10) as bigint)"

  private[graft] val winnowHsExpr =
    "CASE WHEN size(toks) < 3 THEN cast(array() as array<bigint>) " +
      "ELSE transform(sequence(1, size(toks) - 2), i -> " +
      "cast(conv(substr(md5(concat_ws(' ', element_at(toks, i), " +
      "element_at(toks, i + 1), element_at(toks, i + 2))), 1, 7), " +
      "16, 10) as bigint)) END"

  private[graft] val winnowFpsExpr =
    "CASE WHEN size(hs) < 4 THEN cast(array() as array<bigint>) " +
      "ELSE transform(sequence(1, size(hs) - 3), " +
      "j -> array_min(slice(hs, j, 4))) END"

  /** DuckDB twin: CTE chain `x` → `h` → `m`, ending with
    * m(doc_id, hs, fps) over the documents table.
    */
  private[graft] val winnowSqlCtes =
    """x AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN []::BIGINT[]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |           i -> ('0x' || substr(md5(toks[i] || ' ' ||
      |                  toks[i + 1] || ' ' || toks[i + 2]), 1, 7))::BIGINT)
      |    END AS hs
      |  FROM x),
      |m AS (
      |  SELECT doc_id, hs,
      |    CASE WHEN len(hs) < 4 THEN []::BIGINT[]
      |         ELSE list_distinct(list_transform(range(1, len(hs) - 2),
      |           j -> list_min(hs[j:j+3])))
      |    END AS fps
      |  FROM h)""".stripMargin

  /** t17's retrieval-chunk geometry: ChunkW-token windows every
    * ChunkStride tokens (50% overlap, the common retrieval default,
    * scaled to the fixture's ~54-token docs).
    */
  private val ChunkW = 16
  private val ChunkStride = 8

  /** t16's per-(doc, term) surprisal contribution tf·ln(p(term)) — one
    * expression string valid in both Spark SQL and DuckDB; explicit
    * double casts keep every op on the IEEE double path (bare decimal
    * literals/divisions diverge between dialects), and the round →
    * DECIMAL cast makes the per-doc sum exact and order-insensitive.
    */
  private val surprisalScoreSql =
    """cast(round(cast(tf as double) *
      |  ln(cast(cnt as double) / cast(total as double)), 6)
      |as decimal(14,6))""".stripMargin

  /** t18's per-bigram contribution: tf · ln p(w2|w1) with the MLE
    * conditional p = c(w1 w2) / c(w1 ·). Same dialect-shared /
    * round-to-decimal discipline as [[surprisalScoreSql]].
    */
  private val bigramScoreSql =
    """cast(round(cast(tf as double) *
      |  ln(cast(cnt2 as double) / cast(cnt1 as double)), 6)
      |as decimal(14,6))""".stripMargin

  /** t16's per-doc surprisal table (doc_id, len, surprisal), UNSORTED —
    * t16 adds presentation order, t21 buckets over it (the
    * exactTopKCore convention: no orderBy inside a composed core, it
    * would plan a useless range exchange in every consumer). Shapes at
    * 100 TB: one wordcount shuffle (doc_id, term) with map-side
    * partials; the corpus distribution is |vocab|-sized and broadcast;
    * corpus totals ride along as one broadcast row. Parity: the
    * per-term contribution is ONE shared expression string (explicit
    * double casts, see bm25ScoreSql's rationale) rounded then summed in
    * DECIMAL, so cross-term order cannot leak into the gate; the final
    * division is one double op pair.
    */
  private def unigramSurprisalCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the explicit isNotNull keeps every branch's scan subtree
    // canonically IDENTICAL: a consumer that later joins the core on
    // doc_id (t21) pushes an inferred isnotnull(doc_id) into the tf
    // branch only, and that asymmetry is exactly what stops AQE's
    // ReusedExchange from deduplicating the wordcount stage
    val tf = docs(s, dir).filter($"doc_id".isNotNull)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dist = tf.groupBy($"term").agg(sum($"tf").as("cnt"))
    val tot = dist.agg(sum($"cnt").as("total"))
    // len rides the SCORE aggregation (sum(tf) per doc — each tf row
    // appears exactly once after the broadcast term join), not a
    // separate lens branch: a lens join re-derives the whole wordcount
    // subtree (Spark re-executes shared lineage per consumer unless
    // AQE's stage reuse proves the subtrees canonically equal, and the
    // lens join's inferred isnotnull(doc_id) broke exactly that) — one
    // corpus scan, one shuffle and one join fewer, measured 4 → 2
    // documents scans in the executed adaptive plan.
    tf.join(broadcast(dist), "term")
      .crossJoin(broadcast(tot))
      .withColumn("sc", expr(surprisalScoreSql))
      .groupBy($"doc_id")
      .agg(sum($"sc").as("s"), sum($"tf").cast("long").as("len"))
      .select($"doc_id", $"len",
        expr("round(-(cast(s as double)) / cast(len as double), 6)")
          .as("surprisal"))
  }

  /** t20's scrub pattern — a configurable denylist of sensitive terms,
    * shared verbatim with the oracle SQL (single definition, the
    * letterHistExpr convention). In production the alternation hosts
    * the usual PII regexes (emails, phone numbers, SSNs, IPs); the
    * fixture alphabet is lowercase a–z + space (no digits or '@'), so
    * literal PII patterns would be dead code the gate can't exercise —
    * the denylist form drives the identical plan shape through real
    * matches. \b works identically in Java regex and RE2 for [a-z]
    * words. "account" never occurs: the zero-hit-term path stays
    * covered too.
    */
  private[graft] val RedactPattern = "\\b(customer|order|account)\\b"
  private val RedactTag = "[REDACTED]"

  /** The t25 repetition thresholds — flagged = dup_frac > 0.2 or
    * top_share > 0.05. One definition shared by t25, p15's data card
    * and both oracle strings, so a threshold tune can never leave the
    * card disagreeing with the query it cites.
    */
  private[graft] val RepDupFracCut = 0.2
  private[graft] val RepTopShareCut = 0.05

  /** The t25 repetition score per `keys` group (t25: doc_id; p15:
    * (source, doc_id) — extra key columns just ride the same
    * aggregation): raw/distinct shingle counts, the two ratios, and
    * the threshold flag. Scale: one wordcount-shaped shuffle of
    * (keys, shingle) then a per-key agg — the d05 shape, narrow all
    * the way.
    */
  private[graft] def repetitionScoreOf(
      d: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    d.withColumn("toks", split(col("text"), " "))
      .select(kc :+ explode(expr(Dedup.shingleExpr)).as("sh"): _*)
      .groupBy(kc :+ col("sh"): _*).agg(count(lit(1)).as("c"))
      .groupBy(kc: _*)
      .agg(sum(col("c")).as("n_shingles"),
        count(lit(1)).as("n_distinct"), max(col("c")).as("top_c"))
      .select(kc ++ Seq(col("n_shingles"), col("n_distinct"),
        round((col("n_shingles") - col("n_distinct")) /
          col("n_shingles").cast("double"), 6).as("dup_frac"),
        round(col("top_c") / col("n_shingles").cast("double"), 6)
          .as("top_share")): _*)
      .withColumn("repetitive",
        col("dup_frac") > RepDupFracCut ||
          col("top_share") > RepTopShareCut)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t25_repetition_score" -> { (s, dir) =>
      import s.implicits._
      // WITHIN-document repetition — the Gopher-family quality signal
      // the aggregate stats (t05 length/punct ratios) and the t24
      // corpus-novelty score both miss: a doc whose own 3-gram stream
      // repeats itself (boilerplate loops, listicles, template spam)
      // is a poor training document even when every shingle is
      // corpus-unique. Per doc: total RAW shingles (duplicates kept —
      // the same composed transform the hashed family dedups),
      // distinct shingles, the duplicate fraction, and the top
      // shingle's share (1 − dup_frac catches diffuse repetition;
      // top_share catches one phrase looping). Thresholds are ABSOLUTE
      // on RATIOS — scale-invariant, so the t24 cross-SF degeneracy
      // lesson doesn't apply (Gopher's published repetition filters
      // are ratio cuts for the same reason); the rule lives in
      // [[repetitionScoreOf]], shared with p15's data card.
      repetitionScoreOf(docs(s, dir), Seq("doc_id")).orderBy($"doc_id")
    },

    "t01_token_stats" -> { (s, dir) =>
      import s.implicits._
      // Whitespace tokenization; fixture text is single-space soup so
      // avg token length has the closed form (chars - spaces) / tokens.
      docs(s, dir)
        .withColumn("toks", split($"text", " "))
        .select(
          $"doc_id",
          size($"toks").as("n_tokens"),
          size(array_distinct($"toks")).as("n_unique"),
          round((length($"text") - size($"toks") + 1) /
            size($"toks").cast("double"), 4).as("avg_token_len"))
        .orderBy($"doc_id")
    },

    "t26_vocab_growth" -> { (s, dir) =>
      import s.implicits._
      // VOCABULARY GROWTH (Heaps' law) over the 3-GRAM space — the
      // curve an n-gram-LM / tokenizer planner reads before
      // extrapolating table sizes from a sample to 100 TB: distinct
      // 3-gram count V as a function of scanned 3-gram count N over
      // ten nested corpus prefixes, with the local Heaps exponent
      // β = Δln V / Δln N between consecutive prefixes. The UNIGRAM
      // form is degenerate on this fixture (the synthetic generator
      // draws from a ~31-word vocabulary, so V is constant and β ≡ 0
      // from the first decile — measured, and the reason this op
      // indexes the 3-gram space, which grows 17k → 27k across the
      // deciles at sf0.1 and visibly SATURATES toward the 31³ bound;
      // on natural text β sits near 0.5 and a β drifting UP flags
      // vocabulary explosion: OCR noise, boilerplate IDs). Prefixes
      // grow by the p07/p08 md5 coin (content-blind, deterministic,
      // partition-independent), so "the first k/10ths of the corpus"
      // is the same documents on every engine and every rerun. Scale
      // shapes: ONE positional 3-gram explode feeds both sides;
      // per-bucket occurrence counts are a 10-row agg; the
      // distinct-vocab prefix needs NO per-prefix distinct — each
      // gram contributes to its FIRST bucket only (min(b) per gram,
      // one |vocab|-keyed agg with map-side partials), and cumulative
      // sums run as triangular joins on 10-row frames, never a
      // partition-less window. Parity: integer counts everywhere; β
      // is two ln calls on double ratios (the p09 PSI precedent)
      // rounded at 6 dp; NULL for the first prefix on both engines.
      val d = docs(s, dir).select(
          expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), " +
            "16, 10) as bigint) % 10 + 1").as("b"),
          split($"text", " ").as("toks"))
        .filter(size($"toks") >= 3)
      val grams = d.select($"b", explode(transform(
          sequence(lit(0), size($"toks") - 3),
          i => concat_ws(" ", element_at($"toks", i + 1),
            element_at($"toks", i + 2), element_at($"toks", i + 3))))
          .as("gram"))
      val perB = grams.groupBy($"b").agg(count(lit(1)).as("nt"))
      val firstB = grams.groupBy($"gram").agg(min($"b").as("fb"))
        .groupBy($"fb").agg(count(lit(1)).as("nv"))
      val deciles = (1 to 10).toDF("decile")
      val cumT = deciles.join(broadcast(perB), $"b" <= $"decile")
        .groupBy($"decile").agg(sum($"nt").as("n_grams"))
      val cumV = deciles.join(broadcast(firstB), $"fb" <= $"decile")
        .groupBy($"decile").agg(sum($"nv").as("n_distinct"))
      val cur = cumT.join(cumV, "decile")
      val prev = cur.select($"decile".as("pd"), $"n_grams".as("pt"),
        $"n_distinct".as("pv"))
      cur.join(prev, $"pd" === $"decile" - 1, "left")
        .select($"decile", $"n_grams", $"n_distinct",
          round($"n_distinct" / $"n_grams".cast("double"), 6)
            .as("distinct_frac"),
          round(log($"n_distinct".cast("double") / $"pv".cast("double")) /
            log($"n_grams".cast("double") / $"pt".cast("double")), 6)
            .as("beta_local"))
        .orderBy($"decile")
    },

    "t27_lm_quality_buckets" -> { (s, dir) =>
      import s.implicits._
      // CCNet-STYLE LM QUALITY BUCKETS — the classic web-corpus
      // curation signal the ratio heuristics (t05/t25) approximate: a
      // bigram language model trained on the corpus scores every
      // document's per-token negative log-likelihood, and documents
      // split per language into head/middle/tail perplexity TERCILES
      // (CCNet keeps head+middle for LM pretraining; "tail" is the
      // gibberish/boilerplate band). Model: add-½ smoothed bigram
      // probabilities p(w2|w1) = (c(w1w2) + ½) / (c(w1·) + ½V) — the
      // ½ and the context count derived FROM the bigram table keep
      // every input integer-or-binary-exact, so ln() sees
      // bit-identical doubles on both engines (the bm25/t26 ln
      // precedent), and per-doc sums run in rounded DECIMAL (exact,
      // order-insensitive — the board's cross-term discipline).
      //
      // Scale shapes: ONE positional bigram explode collapses to
      // per-(doc, bigram) counts before anything joins (the shuffle is
      // |distinct per-doc bigrams|, not |token instances|); the model
      // tables derive from that same frame (c2 one agg, c1 an agg OF
      // c2, both map-side partial); scoring is an equi-join on the
      // bigram key — linear, never quadratic; V is a 1-row broadcast.
      // The tercile is a per-LANGUAGE window (bounded partitions, the
      // board's partitioned-window rule); at 100 TB the cutoffs would
      // come from a bounded md5-rank sample per language (the kmTrain
      // TrainN discipline) and buckets assign by broadcast comparison
      // — same semantics, no corpus-wide sort; documented trade.
      val dd = docs(s, dir)
        .select($"doc_id", $"lang", split($"text", " ").as("toks"))
        .filter(size($"toks") >= 2)
      val inst = dd.select($"doc_id", $"lang", explode(transform(
          sequence(lit(0), size($"toks") - 2),
          i => struct(element_at($"toks", i + 1).as("w1"),
            element_at($"toks", i + 2).as("w2")))).as("bg"))
        .select($"doc_id", $"lang", $"bg.w1", $"bg.w2")
        .groupBy($"doc_id", $"lang", $"w1", $"w2")
        .agg(count(lit(1)).as("n_inst"))
      val c2 = inst.groupBy($"w1", $"w2").agg(sum($"n_inst").as("c2"))
      val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
      val vocab = docs(s, dir)
        .select(explode(split($"text", " ")).as("w"))
        .agg(countDistinct($"w").as("v"))
      val scored = inst.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("lp", expr(
          """cast(round(ln((cast(c2 as double) + 0.5)
            |  / (cast(c1 as double) + 0.5 * cast(v as double))), 6)
            |as decimal(12,6))""".stripMargin) * $"n_inst")
        .groupBy($"doc_id", $"lang")
        .agg(sum($"lp").as("nll_sum"), sum($"n_inst").as("n_bigrams"))
        .withColumn("avg_nll",
          round((-$"nll_sum").cast("double") /
            $"n_bigrams".cast("double"), 6))
      // per-lang tercile WITHOUT the per-lang window (round 14): a
      // language partition is a corpus share at 100 TB, and ntile
      // needs the group's total order, so the old
      // ntile(3).over(partitionBy(lang)) sorted a language's whole
      // slice in one task — GlobalRank.groupedNtile decomposes it
      // into one distributed range sort + a broadcast group-offset
      // join (closed-form NTILE semantics, property-proven ==
      // Spark's window; this row re-gated hash-identical). No caller
      // pre-checkpoint: GlobalRank materializes its sorted frame
      // internally since r15 (the lineage runs once).
      graft.plans.GlobalRank.groupedNtile(scored,
          Seq("lang"), Seq($"avg_nll", $"doc_id"), 3, "ntl")
        .withColumn("bucket", when($"ntl" === 1, "head")
          .when($"ntl" === 2, "middle").otherwise("tail"))
        .select($"doc_id", $"lang", $"n_bigrams", $"avg_nll", $"bucket")
        .orderBy($"doc_id")
    },

    "t02_top_terms" -> { (s, dir) =>
      import s.implicits._
      // Global term frequencies: explode → hash agg (map-side partial
      // combine keeps the shuffle at |vocab| not |tokens|).
      docs(s, dir)
        .select(explode(split($"text", " ")).as("term"))
        .groupBy($"term")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"term")
        .limit(20)
    },

    "t03_tfidf_top_terms" -> { (s, dir) =>
      import s.implicits._
      // tf-idf with idf = ln(N / df); top-3 terms per doc, term-asc
      // tiebreak. df table is |vocab|-sized → broadcast to avoid
      // re-shuffling the tf side.
      val d = docs(s, dir)
      val n = d.count() // corpus size: one tiny job, not per-row state
      val tf = d.select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"doc_id", $"term")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tfidf".desc, $"term")
      tf.join(broadcast(df), "term")
        .withColumn("tfidf", round($"tf" * log(lit(n.toDouble) / $"df"), 6))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"doc_id", $"term", $"tfidf", $"rnk")
        .orderBy($"doc_id", $"rnk")
    },

    "t04_quality_scores" -> { (s, dir) =>
      import s.implicits._
      // Quality heuristics: stopword ratio, short-token ratio, length
      // saturation — a deterministic linear score.
      val stopArr = array(stopwords.map(lit): _*)
      docs(s, dir)
        .withColumn("toks", split($"text", " "))
        .withColumn("n_tokens", size($"toks"))
        .withColumn("n_stop",
          size(filter($"toks", t => array_contains(stopArr, t))))
        .withColumn("n_short", size(filter($"toks", t => length(t) <= 2)))
        .select(
          $"doc_id", $"lang", $"n_tokens",
          round($"n_stop" / $"n_tokens".cast("double"), 6).as("stopword_ratio"),
          round($"n_short" / $"n_tokens".cast("double"), 6).as("short_ratio"),
          round(
            least($"n_tokens" / lit(100.0), lit(1.0)) *
              (lit(1.0) - $"n_stop" / $"n_tokens".cast("double")) *
              (lit(1.0) - $"n_short" / $"n_tokens".cast("double")), 6)
            .as("quality_score"))
        .orderBy($"doc_id")
    },

    "t05_langid_bigram" -> { (s, dir) =>
      import s.implicits._
      // n-gram language-ID: per-lang char-bigram profiles (top 20 by
      // corpus frequency) scored against each doc's distinct bigrams;
      // prediction = argmax hits (lang-asc tiebreak). Profiles are
      // corpus-derived (labels as training data) and tiny → broadcast.
      val d = docs(s, dir).withColumn("head", substring($"text", 1, 200))
      // Positions explode FIRST, then a plain substring column: the
      // whole extraction stays in whole-stage codegen. The equivalent
      // transform(sequence, i -> substring(...)) runs its lambda
      // interpreted per element — the s03-plane lesson applied to the
      // other per-row HOF on the bench's hot list.
      val bigrams = d.select($"doc_id", $"lang", $"head",
          // greatest(..., 1): sequence(1, 0) would yield [1, 0]
          explode(expr("sequence(1, greatest(length(head) - 1, 1))"))
            .as("i"))
        .select($"doc_id", $"lang",
          expr("substring(head, i, 2)").as("bg"))
        // docs shorter than 2 chars contribute no (degenerate) bigrams
        .filter(length($"bg") === 2)
      // NOTE (r16): a one-pass restructure (pre-aggregate to
      // per-(doc, bg) counts feeding both profiles and the distinct
      // set, checkpointed) measured FLAT at sf0.1 (warm 2.11 -> 2.21 s)
      // — the duplicated explode below already unifies via exchange
      // reuse — so the simpler two-consumer form stays.
      val profiles = bigrams
        .groupBy($"lang".as("p_lang"), $"bg")
        .agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"p_lang").orderBy($"n".desc, $"bg")))
        .filter($"rnk" <= 20)
        .select($"p_lang", $"bg")
      val docBigrams = bigrams.select($"doc_id", $"bg").distinct()
      val scores = docBigrams.join(broadcast(profiles), "bg")
        .groupBy($"doc_id", $"p_lang")
        .agg(count(lit(1)).as("hits"))
      scores
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"hits".desc, $"p_lang")))
        .filter($"rnk" === 1)
        .select($"doc_id", $"p_lang".as("predicted_lang"), $"hits")
        .orderBy($"doc_id")
    },

    "t11_repetition_scores" -> { (s, dir) =>
      import s.implicits._
      // Gopher-style repetition heuristics per doc: the share of tokens
      // taken by the doc's single most frequent token, and the share of
      // duplicate 2-grams — the two classic boilerplate/low-quality
      // signals a training pipeline filters on. The top-token count is
      // the wordcount shape (explode → hash agg with map-side partials,
      // the one raw-data shuffle); the 2-gram share is a narrow per-row
      // HOF that never leaves its row; the rejoin is agg-output-sized
      // on the same key the agg just partitioned by. Signal definitions
      // live in repetitionSignals — shared verbatim with p02's gate.
      repetitionSignals(docs(s, dir))
        .select($"doc_id", $"n_tokens",
          round($"tts", 6).as("top_token_share"),
          round($"dup2", 6).as("dup_2gram_share"))
        .orderBy($"doc_id")
    },

    "t12_winnowing_fingerprints" -> { (s, dir) =>
      import s.implicits._
      // MOSS-style winnowing: hash every token 3-shingle, slide a
      // window of 4 consecutive hashes, keep each window's minimum —
      // the classic guarantee that any shared run of ≥ 6 tokens yields
      // at least one shared fingerprint, at a fingerprint density of
      // ~2/(w+1) instead of every shingle. The whole computation is
      // per-row HOFs over the shingle array (nothing leaves its row);
      // the output is the per-doc fingerprint summary a near-dup index
      // would be built from. Summary stats (count/min/sum of the
      // distinct minima) are order-independent, so engine-side array
      // ordering differences cannot leak into the gate.
      docs(s, dir)
        .withColumn("toks", split($"text", " "))
        .withColumn("hs", expr(winnowHsExpr))
        .withColumn("fps", array_distinct(expr(winnowFpsExpr)))
        .select($"doc_id",
          size($"hs").cast("long").as("n_shingles"),
          size($"fps").cast("long").as("n_fp"),
          coalesce(array_min($"fps"), lit(-1L)).as("fp_min"),
          expr("aggregate(fps, cast(0 as bigint), (a, x) -> a + x)")
            .as("fp_sum"))
        .orderBy($"doc_id")
    },

    "t13_bpe_pair_counts" -> { (s, dir) =>
      import s.implicits._
      // One BPE-training iteration's merge-candidate table: corpus-wide
      // adjacent-token-pair frequencies, top 20 (count desc, pair asc).
      // Tokenizer training at 100 TB is exactly this shape repeated:
      // explode pairs → two-level hash agg with map-side partials →
      // bounded top-k. Position explode + element_at (codegen) rather
      // than a per-row lambda, the t05 lesson.
      docs(s, dir)
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 2)
        .select($"toks", explode(expr("sequence(1, size(toks) - 1)"))
          .as("i"))
        .select(concat_ws(" ", expr("element_at(toks, i)"),
          expr("element_at(toks, i + 1)")).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair").limit(20)
    },

    "t23_bpe_apply" -> { (s, dir) =>
      import s.implicits._
      // APPLY t13's merge table (the operator that was missing between
      // "train the tokenizer" and "budget by tokenizer tokens"): per
      // source, whitespace vs post-merge token totals and the realized
      // merge rate. See bpeTokenCounts for the engine-exact double-pass
      // replace semantics; p11 feeds sequence packing from the same
      // core.
      bpeTokenCounts(s, dir)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_ws").as("ws_tokens"),
          sum($"n_bpe").as("bpe_tokens"),
          sum($"n_ws" - $"n_bpe").as("n_merged"),
          round(sum($"n_ws" - $"n_bpe").cast("double") /
            nullif(sum($"n_ws"), lit(0)).cast("double"), 4)
            .as("merge_rate"))
        .orderBy($"source")
    },

    "t29_lang_mixture_curve" -> { (s, dir) =>
      import s.implicits._
      // MULTILINGUAL REBALANCING CURVE — exponentiated-share language
      // sampling (the XLM-R alpha-sampling family) as a gated number:
      // raw token shares leave tail languages starved (en is ~44% of
      // this corpus), so the mix reweights each language by
      // share^alpha before normalizing; alpha=1 keeps natural
      // proportions, smaller alphas flatten toward uniform. The
      // exponent is computed in EXACT integer arithmetic — alpha=0.5
      // is the integer sqrt (floor of the IEEE sqrt, bit-identical in
      // both engines for counts far below 2^52), alpha=0.25 its
      // composition — so the curve hash-gates where a libm pow()
      // could drift in the last ulp. Per (alpha, lang): docs, tokens,
      // the normalized weight, the integer-division token allocation
      // against the corpus-total budget (alpha=1 reproduces the
      // corpus itself — the anchor the spec pins), and the
      // upsample factor (>1 = the language repeats epochs; the
      // number a data card reports as repetition risk). Scale: one
      // tokenize agg to a langs-sized frame; the 3-alpha fan-out,
      // totals, and join all happen on that tiny frame (broadcast).
      // eager checkpoint: the langs-sized frame feeds both the alpha
      // fan-out and the totals — materializing ~5 rows guarantees the
      // corpus is tokenized exactly once regardless of exchange reuse
      val per = docs(s, dir)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"text".isNull, lit(0L))
            .otherwise(size(split($"text", " ")).cast("long")))
            .as("lang_toks"))
        .localCheckpoint()
      val lv = per.select($"lang", $"n_docs", $"lang_toks",
          explode(array(
            struct(lit(1.0).as("alpha"), $"lang_toks".as("f")),
            struct(lit(0.5).as("alpha"),
              expr("cast(floor(sqrt(cast(lang_toks as double))) " +
                "as bigint)").as("f")),
            struct(lit(0.25).as("alpha"),
              expr("cast(floor(sqrt(floor(sqrt(cast(lang_toks " +
                "as double))))) as bigint)").as("f")))).as("a"))
        .select($"lang", $"n_docs", $"lang_toks",
          $"a.alpha".as("alpha"), $"a.f".as("f"))
      val tot = lv.groupBy($"alpha")
        .agg(sum($"f").as("sum_f"), sum($"lang_toks").as("budget"))
      lv.join(broadcast(tot), "alpha")
        .select($"alpha", $"lang", $"n_docs", $"lang_toks",
          round($"f" / $"sum_f".cast("double"), 6).as("weight"),
          expr("(budget * f) div sum_f").as("alloc_toks"))
        .withColumn("upsample",
          round($"alloc_toks" / $"lang_toks".cast("double"), 6))
        .orderBy($"alpha", $"lang")
    },

    "t28_bpe_merge_curve" -> { (s, dir) =>
      import s.implicits._
      // The TOKENIZER-SIZE operating curve — the measured-knob
      // discipline (d23/s25/s28/s44/s45) applied to the one BPE knob
      // the family trains but never swept: HOW MANY merges to keep.
      // For k ∈ {0, 5, 10, 20}, apply the top-k PREFIX of t13's
      // ranked merge table (computed once; each config is an array
      // slice, never a re-train) and measure the corpus totals — the
      // diminishing-returns table that sizes a vocabulary against a
      // token budget (every kept merge buys tokens at a falling
      // marginal rate, the Zipf tail of pair frequencies; p18's
      // token-budget arithmetic consumes exactly these totals).
      // Scale: the merge table is a 1-row broadcast, each config a
      // bounded per-row fold fused into ONE document scan (4 configs
      // = 4 folds per row, no shuffle before the k-keyed rollup).
      val ks = BpeCurveKs.toDF("k_merges")
      docs(s, dir).crossJoin(broadcast(bpeMergeList(s, dir)))
        .crossJoin(broadcast(ks))
        .withColumn("msk", expr("slice(ms, 1, 2 * k_merges)"))
        .withColumn("n_ws", when($"text".isNull, lit(0L))
          .otherwise(size(split($"text", " ")).cast("long")))
        .withColumn("n_bpe", when($"text".isNull, lit(0L))
          .otherwise(size(split(trim(expr(
            """aggregate(msk, concat(' ', text, ' '),
              |  (acc, m) -> replace(acc, concat(' ', m, ' '),
              |    concat(' ', replace(m, ' ', chr(31)), ' ')))"""
              .stripMargin)), " ")).cast("long")))
        .groupBy($"k_merges")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_ws").as("ws_tokens"),
          sum($"n_bpe").as("bpe_tokens"),
          sum($"n_ws" - $"n_bpe").as("n_merged"),
          round(sum($"n_ws" - $"n_bpe").cast("double") /
            nullif(sum($"n_ws"), lit(0)).cast("double"), 4)
            .as("merge_rate"))
        .orderBy($"k_merges")
    },

    "t24_shingle_novelty" -> { (s, dir) =>
      import s.implicits._
      // Per-document NOVELTY: the share of a doc's distinct 3-token
      // shingles that are corpus-COMMON — df at or above the corpus's
      // own doc-weighted NoveltyQuantile (see its doc for why the
      // threshold is relative). d20 ranks the boilerplate n-grams
      // themselves; this is the per-document consumption of the same
      // signal — the templatedness/memorization-risk score a curation
      // run uses to down-weight documents that are mostly recycled
      // text (low novelty = near-pure boilerplate even when no single
      // near-dup partner exists, the case pairwise dedup structurally
      // misses). Scale shape: wordcount-shaped df aggregation over the
      // distinct shingle stream (map-side partials), one equi-join
      // back on the shingle key, a one-row percentile broadcast, and a
      // per-doc count — bounded shuffles, never pairwise. Shingle
      // definition shared verbatim with the dedup family (Shingle3 /
      // Dedup.shingleSql), so "common" means exactly what d20 ranks.
      val sh = docs(s, dir).filter($"text".isNotNull)
        .withColumn("toks", split($"text", " "))
        .select($"doc_id",
          explode(graft.functions.Shingle3($"toks")).as("sh"))
      val dfs = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      val joined = sh.join(dfs, "sh")
      val thr = joined.agg(
        percentile($"df", lit(NoveltyQuantile)).as("thr"))
      joined.crossJoin(broadcast(thr))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count(when($"df" >= $"thr", 1)).as("n_common"))
        .withColumn("novelty", round(lit(1.0) -
          $"n_common" / $"n_shingles".cast("double"), 6))
        .orderBy($"doc_id")
    },

    "t14_unicode_normalize" -> { (s, dir) =>
      import s.implicits._
      // Unicode NFC normalization — text-cleaning step zero: the same
      // visible character arrives precomposed or decomposed depending
      // on source, and every downstream fingerprint/dedup hash needs
      // byte-identical text first. The fixture text is ASCII (the
      // fast-path majority, as at corpus scale), so a decomposed-sequence
      // suffix (e + COMBINING ACUTE, A + COMBINING RING) is appended to
      // every doc to drive the composition branch through the gate: the
      // md5 of the normalized text must match DuckDB's utf8proc
      // nfc_normalize byte for byte. Pure narrow map fused into the
      // scan — one pass at any corpus size.
      // decomposed on purpose ("e"+U+0301, "A"+U+030A; 9 chars, NFC -> 7)
      val suffix = lit(" cafe\u0301 A\u030A")
      docs(s, dir)
        .withColumn("norm", graft.functions.NfcNormalize(
          concat($"text", suffix)))
        .select($"doc_id", length($"text").as("len_raw"),
          length($"norm").as("len_norm"), md5($"norm").as("norm_md5"))
        .orderBy($"doc_id")
    },

    "t16_unigram_surprisal" -> { (s, dir) =>
      import s.implicits._
      // CCNet-style cheap language-model proxy: per-doc mean unigram
      // surprisal −Σ tf·ln(p(term))/len in nats against the CORPUS
      // unigram distribution. Repetitive/boilerplate docs score low,
      // vocabulary-dense docs score high — the standard first
      // perplexity-ish quality cut before paying for a real LM pass.
      // Body lives in [[unigramSurprisalCore]] (t21 buckets over the
      // same per-doc table); this entry adds only presentation order.
      unigramSurprisalCore(s, dir).orderBy($"doc_id")
    },

    "t21_surprisal_buckets" -> { (s, dir) =>
      import s.implicits._
      // The SECOND half of the CCNet recipe: t16 scores, t21 BUCKETS —
      // per-source surprisal deciles with per-bucket volume and length
      // stats, i.e. the table a curator reads to pick the keep/drop
      // cutoff per domain (CCNet filters per language bucket; sources
      // play that role here). Shapes at 100 TB: the ntile window runs
      // over the per-doc AGGREGATE (one row per doc), partitioned by
      // source — the corpus token stream never reaches a window. A
      // mega-source would serialize its one partition; the production
      // variant swaps ntile for fixed thresholds interpolated from a
      // sampled quantile pass (the e23/q25 sketch machinery), trading
      // exact decile edges for full parallelism — at fixture scale the
      // exact form is the stronger gate. Parity: ntile's frame is a
      // total order (surprisal is round(…,6) — gate-identical across
      // engines via t16 — with doc_id tiebreak), and per-bucket means
      // sum DECIMAL-cast contributions before ONE double division.
      val sup = unigramSurprisalCore(s, dir)
        .join(docs(s, dir).select($"doc_id", $"source"), "doc_id")
      // per-source decile through the distributed grouped ntile (the
      // t27 rationale — a source partition is a corpus share at
      // 100 TB); GlobalRank checkpoints its own sorted frame (r15),
      // so the join lineage runs once without a caller checkpoint
      graft.plans.GlobalRank.groupedNtile(sup,
          Seq("source"), Seq($"surprisal", $"doc_id"), 10, "bucket")
        .groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(sum($"len") / count(lit(1)).cast("double"), 4)
            .as("avg_len"),
          round(sum(expr("cast(surprisal as decimal(14,6))"))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("avg_surprisal"))
        .orderBy($"source", $"bucket")
    },

    "t22_quality_classifier" -> { (s, dir) =>
      import s.implicits._
      // Hashed-linear-classifier INFERENCE — the fastText-shaped
      // quality/toxicity scoring pass every LLM curation stack runs
      // between the heuristic cuts (t04) and the LM-based ones (t16):
      // token → feature-hash bucket → weight lookup → sum → keep/drop,
      // then per-source decision stats (the table a curator reads to
      // see what the classifier would do to each domain). The weights
      // are a deterministic synthetic model ([[graft.functions
      // .HashClfScore]] — the container has no trained artifact); the
      // OPERATOR is the plumbing, and its scale shape is the point: the
      // per-doc score is ONE fused kernel call inside a codegen'd
      // narrow projection — the token stream never becomes rows, never
      // shuffles, never leaves its input partition (the oracle has to
      // explode tokens because SQL has no such kernel; at 100 TB that
      // difference IS the operator). One |sources|-keyed agg after a
      // map-side partial is the only shuffle. Parity: scores are
      // INTEGER sums (exact in any order); the two presented ratios are
      // each ONE double division of exact longs, then round.
      val sc = docs(s, dir).filter($"text".isNotNull)
        .select($"source",
          graft.functions.HashClfScore($"text").as("sn"))
        .select($"source", $"sn".getItem(0).as("raw"),
          $"sn".getItem(1).as("n_toks"))
      sc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"raw" > 0, 1L).otherwise(0L)).as("n_keep"),
          sum($"raw").as("sum_raw"),
          sum($"n_toks").as("sum_toks"))
        .select($"source", $"n_docs", $"n_keep",
          round($"n_keep".cast("double") / $"n_docs", 4).as("keep_rate"),
          round($"sum_raw".cast("double") / $"sum_toks", 6)
            .as("mean_tok_score"))
        .orderBy($"source")
    },

    "t20_pii_redaction" -> { (s, dir) =>
      import s.implicits._
      // PII/denylist scrub — the compliance pass every training corpus
      // gets before release: match a configurable pattern set
      // ([[RedactPattern]] — see its note on why the fixture uses a
      // term denylist rather than literal email/phone regexes), replace
      // in place, and account for what was removed per source. The
      // per-source report is what an auditor signs off on: docs
      // touched, total redactions, net character delta, plus an md5
      // over a deterministic representative (min over redacted-text
      // hashes) pinning the REPLACEMENT bytes — a count-only gate
      // would pass even if the substitution itself were wrong. Shapes
      // at 100 TB: match + replace are narrow maps fused into the scan
      // (RegExpExtractAll/RegExpReplace are codegen'd native
      // expressions); the only shuffle carries one pre-aggregated row
      // per (task, source). Parity: counts and length deltas are exact
      // ints; Java regex and RE2 agree on \b/alternation over [a-z]
      // words; min() over lowercase-hex md5 strings is
      // collation-trivial.
      val red = docs(s, dir)
        .withColumn("n_hits",
          size(regexp_extract_all($"text", lit(RedactPattern), lit(0))))
        .withColumn("red",
          regexp_replace($"text", RedactPattern, RedactTag))
      red.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n_hits" > 0, 1L).otherwise(0L)).as("docs_hit"),
          sum($"n_hits").cast("long").as("total_hits"),
          sum(length($"red") - length($"text")).cast("long")
            .as("delta_chars"),
          min(md5($"red")).as("sample_md5"))
        .orderBy($"source")
    },

    "t18_bigram_surprisal" -> { (s, dir) =>
      import s.implicits._
      // Conditional-LM upgrade of t16: per-doc mean bigram surprisal
      // −Σ tf·ln p(w2|w1) / n_bigrams against the corpus MLE bigram
      // model. Catches what a unigram model can't — docs whose WORDS
      // are common but whose TRANSITIONS are unnatural (shuffled/
      // templated text scores high, fluent text low) — the standard
      // next step up the quality-filter ladder before paying for a
      // neural LM pass. Shapes at 100 TB: bigrams are built by a
      // NARROW positional transform (no self-join, no window — the
      // adjacent-pair join formulation shuffles the full token stream
      // twice for nothing); (doc, bigram) tf is one wordcount shuffle;
      // the model join on the bigram string is a shuffle equi-join —
      // bigram vocab is NOT assumed broadcastable (unigram-squared),
      // only the unigram prefix-count table broadcasts into the model
      // build. Parity: the shared dialect-identical score expression
      // rounds each contribution to DECIMAL before the sum (order
      // cannot leak into the gate); one double division at the end.
      val bg = docs(s, dir)
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
            "concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"))
          .as("bg"))
      val tf = bg.groupBy($"doc_id", $"bg").agg(count(lit(1)).as("tf"))
      val cnt2 = tf.groupBy($"bg").agg(sum($"tf").as("cnt2"))
      val cnt1 = cnt2
        .groupBy(substring_index($"bg", " ", 1).as("w1"))
        .agg(sum($"cnt2").as("cnt1"))
      val model = cnt2
        .withColumn("w1", substring_index($"bg", " ", 1))
        .join(broadcast(cnt1), "w1")
        .select($"bg", $"cnt2", $"cnt1")
      // n_bigrams rides the score aggregation (the t16 core's fused
      // form — a separate lens join re-derives the bigram wordcount
      // subtree per consumer)
      tf.join(model, "bg")
        .withColumn("sc", expr(bigramScoreSql))
        .groupBy($"doc_id")
        .agg(sum($"sc").as("s"), sum($"tf").cast("long").as("n_bigrams"))
        .select($"doc_id", $"n_bigrams",
          expr("round(-(cast(s as double)) / cast(n_bigrams as double), 6)")
            .as("surprisal"))
        .orderBy($"doc_id")
    },

    "t19_zipf_slope" -> { (s, dir) =>
      import s.implicits._
      // Corpus-health check: per-source ZIPF SLOPE — the least-squares
      // slope of ln(freq) over ln(rank) across the source's top-100
      // terms. Natural text sits near −1; templated/generated text
      // flattens (boilerplate floods the head) or steepens (tiny
      // effective vocabulary) — a cheap distribution-level quality
      // signal no per-document scorer sees, and the standard first
      // plot in any corpus audit. Shapes at 100 TB: the rank window
      // partitions by source over the WORDCOUNT OUTPUT (|sources|·
      // |vocab| rows, already tiny relative to the corpus), not the
      // token stream; everything after is a per-source fold. Parity:
      // regression from the closed-form normal equations over
      // ln-values rounded to DECIMAL(14,6) first (the t16 discipline)
      // — the sums are exact in both engines, so the one double
      // division at the end is engine-identical (regr_slope's internal
      // running sums would be summation-order-dependent; the spec
      // cross-checks against it within tolerance instead).
      val tf = docs(s, dir)
        .select($"source", explode(split($"text", " ")).as("term"))
        .groupBy($"source", $"term").agg(count(lit(1)).as("freq"))
      val w = Window.partitionBy($"source").orderBy($"freq".desc, $"term")
      val terms = tf.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 100)
        .select($"source",
          expr("cast(round(ln(cast(rank as double)), 6) as decimal(14,6))")
            .as("x"),
          expr("cast(round(ln(cast(freq as double)), 6) as decimal(14,6))")
            .as("y"))
      terms.groupBy($"source").agg(
          count(lit(1)).as("n_terms"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .select($"source", $"n_terms",
          expr("round((cast(n_terms as double) * cast(sxy as double) - " +
            "cast(sx as double) * cast(sy as double)) / " +
            "(cast(n_terms as double) * cast(sxx as double) - " +
            "cast(sx as double) * cast(sx as double)), 6)")
            .as("zipf_slope"))
        .orderBy($"source")
    },

    "t17_retrieval_chunks" -> { (s, dir) =>
      import s.implicits._
      // RAG-pipeline chunking + chunk-level dedup: documents split into
      // fixed ChunkW-token windows at ChunkStride (overlapping — the
      // standard retrieval-index shaping), each chunk fingerprinted,
      // and the most-repeated chunks reported (occurrences + distinct
      // docs + lowest example doc). Cross-doc repeated chunks are
      // boilerplate the index should embed ONCE — at corpus scale this
      // dedup runs before the embedding model and is where the GPU
      // budget is saved, not after. Shapes: position explode → slice +
      // concat_ws + md5 (all codegen, no lambda interpretation — the
      // d15 lesson); one wordcount-shaped shuffle on the fingerprint
      // with map-side partials.
      docs(s, dir)
        .select($"doc_id", split($"text", " ").as("toks"))
        .withColumn("n", size($"toks"))
        .filter($"n" >= 1)
        // starts stop at n - ChunkW + 1: every window is full-width
        // (short only when the whole doc is shorter than one chunk).
        // Unclamped strides would emit sub-stride suffix fragments as
        // extra "chunks" — measured on the fixture, 1-token tails then
        // dominate the repeated-chunk report and bury the real
        // boilerplate this exists to surface.
        .select($"doc_id", $"toks",
          explode(expr(
            s"sequence(1, greatest(n - ${ChunkW - 1}, 1), $ChunkStride)"))
            .as("start"))
        .select($"doc_id",
          md5(concat_ws(" ", expr(s"slice(toks, start, $ChunkW)")))
            .as("fp"))
        .groupBy($"fp")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct($"doc_id").as("n_docs"),
          min($"doc_id").as("example_doc"))
        .filter($"n_occurrences" >= 2)
        .orderBy($"n_occurrences".desc, $"fp")
        .limit(20)
    },

    "t15_approx_topk_merge" -> { (s, dir) =>
      import s.implicits._
      // Mergeable frequent-items (heavy hitters): per-source
      // approx_top_k sketch states combined into the corpus-wide top-k
      // WITHOUT re-touching raw tokens — the frequent-items analog of
      // e15's HLL union: keep per-partition states beside the data and
      // answer any slice's top terms by combining its states. The
      // fixture vocabulary (31 terms) sits far under the tracked
      // capacity, so the estimates here are provably exact and the gate
      // pins estimate == exact per term (sketch_ok); at a real 100 TB
      // vocabulary the same plan holds with sketch_ok becoming a
      // within-epsilon bound. Ranking/limit run on the exact counts so
      // row selection never depends on sketch-internal tie handling.
      val toks = docs(s, dir).select($"source",
        explode(split($"text", " ")).as("term"))
      val states = toks.groupBy($"source")
        .agg(expr("approx_top_k_accumulate(term, 10000)").as("st"))
      val est = states
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(st), 50)")
          .as("e"))
        .select(explode($"e").as("e"))
        .select($"e.item".as("term"), $"e.count".as("est_n"))
      val exact = toks.groupBy($"term").agg(count(lit(1)).as("n"))
      // LEFT join: an exact-top term the sketch missed must surface as
      // sketch_ok = false, not silently vanish from the gated row set
      exact.join(est, Seq("term"), "left")
        .select($"term", $"n",
          coalesce($"est_n" === $"n", lit(false)).as("sketch_ok"))
        .orderBy($"n".desc, $"term").limit(20)
    },

    "t07_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      // Deterministic stratified sampling: ~20% per lang via an
      // md5-derived hash threshold — reproducible across engines and
      // runs (unlike rand()-based sampling), and a pure narrow map, the
      // way a training-data pipeline downsamples at 100 TB.
      docs(s, dir)
        .withColumn("bucket",
          conv(substring(md5($"doc_id".cast("string")), 1, 7), 16, 10)
            .cast("long") % 100)
        .filter($"bucket" < 20)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"),
          round(avg($"n_chars"), 4).as("avg_chars"))
        .orderBy($"lang")
    },

    "t08_regex_token_counts" -> { (s, dir) =>
      import s.implicits._
      // BPE-ish regex tokenization (word runs vs non-space symbols) on
      // the JSON props payloads — counts both token classes per event
      // type. regexp_extract_all with the same RE2-safe pattern on both
      // engines.
      Tables.load(s, dir, "events")
        .select($"event_type",
          size(expr("regexp_extract_all(props, '[a-zA-Z0-9]+', 0)"))
            .as("word_toks"),
          size(expr("regexp_extract_all(props, '[^a-zA-Z0-9 ]', 0)"))
            .as("sym_toks"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"word_toks").as("total_word_toks"),
          sum($"sym_toks").as("total_sym_toks"))
        .orderBy($"event_type")
    },

    "t09_bottomk_sample" -> { (s, dir) =>
      import s.implicits._
      // Typed-Aggregator path: per language, the 3 docs with the
      // smallest md5(doc_id) — a deterministic reservoir sample through
      // the Dataset API (groupByKey + custom Aggregator with bounded
      // buffer and shuffle-safe merge).
      val hashed = docs(s, dir)
        .select($"lang",
          conv(substring(md5($"doc_id".cast("string")), 1, 7), 16, 10)
            .cast("long").as("h"),
          $"doc_id")
        .as[(String, Long, Long)]
      hashed
        .groupByKey(_._1)
        .agg(new graft.functions.BottomKAgg[(String, Long, Long)](
          3, r => (r._2, r._3)).toColumn.name("sample_ids"))
        .toDF("lang", "sample_ids")
        .orderBy($"lang")
    },

    "t10_levenshtein_pairs" -> { (s, dir) =>
      import s.implicits._
      // Edit-distance near-match: part names within the same brand with
      // Levenshtein ≤ 2; Spark and DuckDB implement the identical
      // classic DP distance, so the oracle stays the plain
      // `levenshtein <= 2` triangle.
      //
      // The plan is the scale-correct two-level shape, replacing the
      // within-brand triangle this query shipped with for 9 rounds
      // (brand cardinality is FIXED (~25), so per-block size grows
      // linearly with the corpus and a triangle enumerates Σ(block²)
      // pairs — 6.9M banded visits at sf0.1, ~69G at 100×):
      //
      //  1. COLLAPSE TO THE VOCABULARY. Pair distance depends only on
      //     the name STRINGS, so the corpus contributes exactly one
      //     wordcount-shaped groupBy — per-(brand, name) multiplicities
      //     — and every pairwise computation runs on DISTINCT names
      //     (the t26-measured Heaps vocabulary, sublinear in corpus
      //     size; 64 at sf0.1 vs 20k part rows). Pair counts come back
      //     by WEIGHT: a (u,v) name pair at distance d contributes
      //     c_u·c_v part pairs (u≠v), and each name with c ≥ 2 copies
      //     contributes C(c,2) distance-0 pairs.
      //  2. Candidate enumeration over the vocabulary is an EQUI-JOIN
      //     on PassJoin segment signatures (Li/Deng/Feng; the d05/d15
      //     blocking discipline), never a triangle: each name splits
      //     into k+1 = 3 contiguous segments; ≤ k edits leave ≥ 1
      //     segment untouched, shifted by at most the net indels (≤ k),
      //     so any pair at lev ≤ 2 meets on key (partner_len, slot,
      //     segment) with the probe side emitting its ±2-position
      //     substrings for each partner length in the ±2 band. The
      //     tiny-name regime the segment lemma can't cover (min-len
      //     ≤ 2 ⇒ partner ≤ 4, zero such names on any realistic
      //     corpus) goes through a degenerate broadcast cross of the
      //     ≤2-char vocab against the ≤4-char vocab.
      //  3. The two DP lower bounds run before any DP, unchanged
      //     (length band ≤ 2; bag distance: abs_diff_sum of letter
      //     histograms ≤ 4 — each edit changes ≤ 2 letter counts).
      //
      // Measured at sf0.1: 1,293 segment-join hits → 514 distinct
      // name-pair candidates on the 64-name vocabulary (was 6.9M
      // banded triangle visits — ~13,000× down), 24 true name pairs,
      // same 25-brand result. At 100× the corpus pays one more
      // groupBy pass; the pairwise stage grows only with vocabulary.
      val grp = Tables.load(s, dir, "part")
        .groupBy($"p_brand".as("brand"), $"p_name".as("nm"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // same-name leg + both cross sides
      val vocab = grp.select($"nm").distinct()
        .withColumn("ln", length($"nm"))
        .localCheckpoint() // seg side + probe side + tiny
      // index side: the 3 segments of each name (slot i gets length
      // ln div 3 + 1 for the first ln%3 slots; starts are cumulative)
      val segs = vocab.filter($"ln" >= 3)
        .withColumn("i", explode(expr("sequence(0, 2)")))
        .select($"nm".as("idx_nm"), $"ln".as("pl"), $"i",
          expr("substring(nm, 1 + i * (ln div 3) + least(i, ln % 3), " +
            "(ln div 3) + if(i < ln % 3, 1, 0))").as("sg"))
      // probe side: for each partner length in the ±2 band and slot,
      // the substrings of this name within ±2 of the slot's start
      val probes = vocab
        .withColumn("pl", explode(expr("sequence(greatest(ln - 2, 3), ln + 2)")))
        .withColumn("i", explode(expr("sequence(0, 2)")))
        .withColumn("sl", expr("(pl div 3) + if(i < pl % 3, 1, 0)"))
        .withColumn("st", expr("1 + i * (pl div 3) + least(i, pl % 3)"))
        .withColumn("p", explode(expr(
          "if(least(st + 2, ln - sl + 1) >= greatest(st - 2, 1), " +
            "sequence(greatest(st - 2, 1), least(st + 2, ln - sl + 1)), " +
            "array())")))
        .select($"nm".as("probe_nm"), $"pl", $"i",
          expr("substring(nm, p, sl)").as("sg"))
        .distinct()
      val segCand = segs.join(probes, Seq("pl", "i", "sg"))
        .filter($"idx_nm" =!= $"probe_nm")
        .select(least($"idx_nm", $"probe_nm").as("u"),
          greatest($"idx_nm", $"probe_nm").as("v"))
      val tiny = vocab.filter($"ln" <= 2).select($"nm".as("idx_nm"))
        .crossJoin(broadcast(
          vocab.filter($"ln" <= 4).select($"nm".as("probe_nm"))))
        .filter($"idx_nm" =!= $"probe_nm")
        .select(least($"idx_nm", $"probe_nm").as("u"),
          greatest($"idx_nm", $"probe_nm").as("v"))
      // verify: ONE conjunct chain ordered cheap → expensive (the
      // predicate-order regression pin) — pushed as a unit, it
      // short-circuits left-to-right so the DP touches only pairs
      // surviving both bounds. The DP is the threshold form: banded
      // O(len·k) with early exit; -1 above the bound, so values 0..2
      // are identical to the unbounded distance.
      val uh = expr(letterHistExpr.replace("p_name", "u")).as("hist_u")
      val vh = expr(letterHistExpr.replace("p_name", "v")).as("hist_v")
      val nearNames = segCand.union(tiny).distinct()
        .select($"u", $"v", uh, vh)
        .filter(abs(length($"u") - length($"v")) <= 2 &&
          graft.functions.AbsDiffSum($"hist_u", $"hist_v") <= 4 &&
          levenshtein($"u", $"v", 2) >= 0)
        .select($"u", $"v", levenshtein($"u", $"v", 2).as("dist"))
      // weight back to part pairs: cross leg c_u·c_v per brand holding
      // both names; same-name leg C(c,2) at distance 0
      val gu = grp.toDF("brand", "u", "cu")
      val gv = grp.toDF("brand", "v", "cv")
      val cross = nearNames.join(gu, "u").join(gv, Seq("brand", "v"))
        .select($"brand", $"dist", ($"cu" * $"cv").as("npairs"))
      val same = grp.filter($"c" >= 2)
        .select($"brand", lit(0).as("dist"),
          ($"c" * ($"c" - 1) / 2).cast("long").as("npairs"))
      cross.union(same)
        .groupBy($"brand")
        .agg(sum($"npairs").as("n_near_pairs"),
          sum(when($"dist" === 0, $"npairs").otherwise(0L)).as("n_exact"),
          min($"dist").as("min_dist"))
        .orderBy($"brand")
    },

    "t06_fingerprint_summary" -> { (s, dir) =>
      import s.implicits._
      // Content fingerprinting (md5 of normalized text) + per-source
      // dedup summary: how many distinct contents, how many dup docs.
      docs(s, dir)
        .withColumn("fp", md5(lower($"text")))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"fp").as("n_distinct"),
          (count(lit(1)) - countDistinct($"fp")).as("n_dup_docs"))
        .orderBy($"source")
    })

  def oracle: Map[String, String] = Map(
    "t25_repetition_score" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${Dedup.shingleSql}) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |        FROM documents)),
         |c AS (SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
         |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_shingles, n_distinct,
         |  round((n_shingles - n_distinct)
         |    / CAST(n_shingles AS DOUBLE), 6) AS dup_frac,
         |  round(top_c / CAST(n_shingles AS DOUBLE), 6) AS top_share,
         |  (round((n_shingles - n_distinct)
         |     / CAST(n_shingles AS DOUBLE), 6) > $RepDupFracCut
         |   OR round(top_c / CAST(n_shingles AS DOUBLE), 6)
         |     > $RepTopShareCut)
         |    AS repetitive
         |FROM d ORDER BY doc_id""".stripMargin,

    "t01_token_stats" ->
      """SELECT doc_id,
        |len(string_split(text, ' ')) AS n_tokens,
        |len(list_distinct(string_split(text, ' '))) AS n_unique,
        |round((length(text) - len(string_split(text, ' ')) + 1)
        |  / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t27_lm_quality_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |inst AS (
        |  SELECT doc_id, lang, toks[i] AS w1, toks[i+1] AS w2,
        |    count(*) AS n_inst
        |  FROM d, LATERAL (
        |    SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
        |  GROUP BY 1, 2, 3, 4),
        |c2 AS (SELECT w1, w2, CAST(sum(n_inst) AS BIGINT) AS c2
        |       FROM inst GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        |sc AS (
        |  SELECT doc_id, lang, n_inst,
        |    CAST(round(ln((CAST(c2 AS DOUBLE) + 0.5)
        |      / (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))), 6)
        |    AS DECIMAL(12,6)) * n_inst AS lp
        |  FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(n_inst) AS BIGINT) AS n_bigrams,
        |    round(CAST(-sum(lp) AS DOUBLE)
        |      / CAST(sum(n_inst) AS DOUBLE), 6) AS avg_nll
        |  FROM sc GROUP BY 1, 2)
        |SELECT doc_id, lang, n_bigrams, avg_nll,
        |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
        |  END AS bucket
        |FROM agg ORDER BY doc_id""".stripMargin,

    "t02_top_terms" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "t26_vocab_growth" ->
      """WITH d AS (
        |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 10 + 1 AS b, string_split(text, ' ') AS toks
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT b, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |    AS gram
        |  FROM d, LATERAL (
        |    SELECT unnest(generate_series(1, len(toks) - 2)) AS i)),
        |perb AS (SELECT b, count(*) AS nt FROM g GROUP BY b),
        |firstb AS (
        |  SELECT fb, count(*) AS nv FROM (
        |    SELECT gram, min(b) AS fb FROM g GROUP BY gram)
        |  GROUP BY fb),
        |dec AS (SELECT CAST(unnest(generate_series(1, 10)) AS INT)
        |          AS decile),
        |cumt AS (
        |  SELECT decile, CAST(sum(nt) AS BIGINT) AS n_grams
        |  FROM dec JOIN perb ON perb.b <= dec.decile GROUP BY decile),
        |cumv AS (
        |  SELECT decile, CAST(sum(nv) AS BIGINT) AS n_distinct
        |  FROM dec JOIN firstb ON firstb.fb <= dec.decile
        |  GROUP BY decile),
        |cur AS (SELECT t.decile, n_grams, n_distinct
        |        FROM cumt t JOIN cumv v ON v.decile = t.decile)
        |SELECT c.decile, c.n_grams, c.n_distinct,
        |  round(c.n_distinct / CAST(c.n_grams AS DOUBLE), 6)
        |    AS distinct_frac,
        |  round(ln(CAST(c.n_distinct AS DOUBLE)
        |           / CAST(p.n_distinct AS DOUBLE))
        |    / ln(CAST(c.n_grams AS DOUBLE)
        |         / CAST(p.n_grams AS DOUBLE)), 6) AS beta_local
        |FROM cur c LEFT JOIN cur p ON p.decile = c.decile - 1
        |ORDER BY c.decile""".stripMargin,

    "t03_tfidf_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents) GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * ln(n.n / CAST(df.df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rnk FROM ranked
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "t04_quality_scores" ->
      """WITH x AS (
        |  SELECT doc_id, lang,
        |    string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |y AS (
        |  SELECT doc_id, lang, n_tokens,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))
        |      AS n_stop,
        |    len(list_filter(toks, t -> length(t) <= 2)) AS n_short
        |  FROM x)
        |SELECT doc_id, lang, n_tokens,
        |  round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
        |  round(n_short / CAST(n_tokens AS DOUBLE), 6) AS short_ratio,
        |  round(least(n_tokens / 100.0, 1.0)
        |    * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
        |    * (1.0 - n_short / CAST(n_tokens AS DOUBLE)), 6) AS quality_score
        |FROM y ORDER BY doc_id""".stripMargin,

    "t05_langid_bigram" ->
      """WITH d AS (
        |  SELECT doc_id, lang, substr(text, 1, 200) AS head FROM documents),
        |bigrams AS (
        |  SELECT doc_id, lang, substr(head, CAST(i AS INT), 2) AS bg
        |  FROM d, unnest(range(1, greatest(length(head), 2))) AS t(i)
        |  WHERE length(substr(head, CAST(i AS INT), 2)) = 2),
        |profiles AS (
        |  SELECT p_lang, bg FROM (
        |    SELECT lang AS p_lang, bg, count(*) AS n, row_number() OVER (
        |      PARTITION BY lang ORDER BY count(*) DESC, bg) AS rnk
        |    FROM bigrams GROUP BY lang, bg) WHERE rnk <= 20),
        |doc_bg AS (SELECT DISTINCT doc_id, bg FROM bigrams),
        |scores AS (
        |  SELECT doc_id, p_lang, count(*) AS hits
        |  FROM doc_bg JOIN profiles USING (bg) GROUP BY doc_id, p_lang),
        |ranked AS (
        |  SELECT doc_id, p_lang, hits, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rnk
        |  FROM scores)
        |SELECT doc_id, p_lang AS predicted_lang, hits FROM ranked
        |WHERE rnk = 1 ORDER BY doc_id""".stripMargin,

    "t11_repetition_scores" ->
      s"""WITH $repetitionSignalsSql
         |SELECT doc_id, n_tokens,
         |  round(tts, 6) AS top_token_share,
         |  round(dup2, 6) AS dup_2gram_share
         |FROM g ORDER BY doc_id""".stripMargin,

    "t12_winnowing_fingerprints" ->
      s"""WITH $winnowSqlCtes
        |SELECT doc_id,
        |  CAST(len(hs) AS BIGINT) AS n_shingles,
        |  CAST(len(fps) AS BIGINT) AS n_fp,
        |  coalesce(list_min(fps), -1) AS fp_min,
        |  CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum
        |FROM m ORDER BY doc_id""".stripMargin,

    "t13_bpe_pair_counts" ->
      """WITH x AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |p AS (
        |  SELECT toks[CAST(i AS INT)] || ' ' ||
        |         toks[CAST(i AS INT) + 1] AS pair
        |  FROM x, unnest(range(1, len(toks))) AS t(i))
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "t23_bpe_apply" ->
      s"""WITH $bpeCountsSqlCtes
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
         |  CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(n_ws - n_bpe) AS BIGINT) AS n_merged,
         |  round(CAST(sum(n_ws - n_bpe) AS DOUBLE) /
         |        CAST(NULLIF(sum(n_ws), 0) AS DOUBLE), 4) AS merge_rate
         |FROM bpec GROUP BY source ORDER BY source""".stripMargin,

    // t28: the same double-pass replace fold per (doc, k) over the
    "t29_lang_mixture_curve" ->
      """WITH per AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN text IS NULL THEN 0
        |      ELSE len(string_split(text, ' ')) END) AS BIGINT)
        |      AS lang_toks
        |  FROM documents GROUP BY lang),
        |lv AS (
        |  SELECT lang, n_docs, lang_toks,
        |    CAST(a.alpha AS DOUBLE) AS alpha,
        |    CASE a.alpha
        |      WHEN 1.0 THEN lang_toks
        |      WHEN 0.5 THEN
        |        CAST(floor(sqrt(CAST(lang_toks AS DOUBLE))) AS BIGINT)
        |      ELSE CAST(floor(sqrt(floor(sqrt(
        |        CAST(lang_toks AS DOUBLE))))) AS BIGINT)
        |    END AS f
        |  FROM per, (VALUES (1.0), (0.5), (0.25)) a(alpha)),
        |tot AS (
        |  SELECT alpha, CAST(sum(f) AS BIGINT) AS sum_f,
        |    CAST(sum(lang_toks) AS BIGINT) AS budget
        |  FROM lv GROUP BY alpha)
        |SELECT alpha, lang, n_docs, lang_toks,
        |  round(f / CAST(sum_f AS DOUBLE), 6) AS weight,
        |  (budget * f) // sum_f AS alloc_toks,
        |  round(((budget * f) // sum_f) / CAST(lang_toks AS DOUBLE), 6)
        |    AS upsample
        |FROM lv JOIN tot USING (alpha)
        |ORDER BY alpha, lang""".stripMargin,

    // top-k slice of the shared ranked merge list
    "t28_bpe_merge_curve" -> {
      val cfg = BpeCurveKs.map(k => s"($k)").mkString(", ")
      s"""WITH $bpeCountsSqlCtes,
         |cfg(k_merges) AS (VALUES $cfg),
         |sliced AS (
         |  SELECT k_merges, list_slice(ms, 1, 2 * k_merges) AS msk
         |  FROM bml CROSS JOIN cfg),
         |curve AS (
         |  SELECT k_merges, doc_id,
         |    CAST(CASE WHEN text IS NULL THEN 0
         |         ELSE len(string_split(text, ' ')) END AS BIGINT)
         |      AS n_ws,
         |    CAST(CASE WHEN text IS NULL THEN 0
         |         ELSE len(string_split(trim(list_reduce(
         |           list_prepend(' ' || text || ' ', msk),
         |           (acc, m) -> replace(acc, ' ' || m || ' ',
         |             ' ' || replace(m, ' ', chr(31)) || ' '))), ' '))
         |    END AS BIGINT) AS n_bpe
         |  FROM documents CROSS JOIN sliced)
         |SELECT k_merges, count(*) AS n_docs,
         |  CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
         |  CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(n_ws - n_bpe) AS BIGINT) AS n_merged,
         |  round(CAST(sum(n_ws - n_bpe) AS DOUBLE) /
         |        CAST(NULLIF(sum(n_ws), 0) AS DOUBLE), 4) AS merge_rate
         |FROM curve GROUP BY k_merges ORDER BY k_merges""".stripMargin
    },

    "t24_shingle_novelty" ->
      s"""WITH toksed AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |shg AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${Dedup.shingleSql}) AS sh
         |    FROM toksed)),
         |dfs AS (SELECT sh, count(*) AS df FROM shg GROUP BY sh),
         |jn AS (SELECT doc_id, df FROM shg JOIN dfs USING (sh)),
         |thr AS (
         |  SELECT quantile_cont(df, $NoveltyQuantile) AS thr FROM jn)
         |SELECT doc_id, count(*) AS n_shingles,
         |  count(CASE WHEN df >= (SELECT thr FROM thr) THEN 1 END)
         |    AS n_common,
         |  round(1.0 -
         |    count(CASE WHEN df >= (SELECT thr FROM thr) THEN 1 END) /
         |    CAST(count(*) AS DOUBLE), 6) AS novelty
         |FROM jn GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // chr(769)=U+0301 COMBINING ACUTE, chr(778)=U+030A COMBINING RING —
    // the decomposed suffix the Spark side appends; nfc_normalize is
    // DuckDB's utf8proc NFC, and the md5 pins byte identity with the
    // engine's native nfc_normalize expression.
    "t14_unicode_normalize" ->
      """SELECT doc_id, length(text) AS len_raw,
        |  length(nfc_normalize(text || ' cafe' || chr(769) || ' A' ||
        |         chr(778))) AS len_norm,
        |  md5(nfc_normalize(text || ' cafe' || chr(769) || ' A' ||
        |      chr(778))) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t15_approx_topk_merge" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(*) AS n, TRUE AS sketch_ok
        |FROM t GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "t17_retrieval_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         len(string_split(text, ' ')) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |ch AS (
         |  SELECT doc_id,
         |    md5(array_to_string(
         |      toks[s.start : s.start + $ChunkW - 1], ' ')) AS fp
         |  FROM d, unnest(range(1, greatest(n - ${ChunkW - 1}, 1) + 1,
         |                       $ChunkStride)) AS s(start))
         |SELECT fp, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS example_doc
         |FROM ch GROUP BY fp HAVING count(*) >= 2
         |ORDER BY n_occurrences DESC, fp LIMIT 20""".stripMargin,

    "t19_zipf_slope" ->
      """WITH tf AS (
        |  SELECT source, term, count(*) AS freq FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY source, term),
        |ranked AS (
        |  SELECT source, freq,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY freq DESC, term) AS rank
        |  FROM tf QUALIFY rank <= 100),
        |terms AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(14,6)) AS x,
        |    CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(14,6)) AS y
        |  FROM ranked),
        |agg AS (
        |  SELECT source, count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM terms GROUP BY source)
        |SELECT source, n_terms,
        |  round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |        (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
        |FROM agg ORDER BY source""".stripMargin,

    "t18_bigram_surprisal" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |  FROM toks),
         |tf AS (
         |  SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY doc_id, bg),
         |cnt2 AS (
         |  SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt2 FROM tf GROUP BY bg),
         |cnt1 AS (
         |  SELECT split_part(bg, ' ', 1) AS w1,
         |    CAST(sum(cnt2) AS BIGINT) AS cnt1
         |  FROM cnt2 GROUP BY 1),
         |model AS (
         |  SELECT c2.bg, c2.cnt2, c1.cnt1 FROM cnt2 c2
         |  JOIN cnt1 c1 ON split_part(c2.bg, ' ', 1) = c1.w1),
         |lens AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams FROM tf
         |  GROUP BY doc_id),
         |sc AS (
         |  SELECT tf.doc_id, $bigramScoreSql AS sc
         |  FROM tf JOIN model USING (bg)),
         |agg AS (SELECT doc_id, sum(sc) AS s FROM sc GROUP BY doc_id)
         |SELECT a.doc_id, l.n_bigrams,
         |  round(-(cast(s as double)) / cast(n_bigrams as double), 6)
         |    AS surprisal
         |FROM agg a JOIN lens l USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    "t21_surprisal_buckets" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents)
         |  GROUP BY doc_id, term),
         |dist AS (
         |  SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf
         |  GROUP BY term),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM dist),
         |lens AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf
         |  GROUP BY doc_id),
         |sc AS (
         |  SELECT tf.doc_id, $surprisalScoreSql AS sc
         |  FROM tf JOIN dist USING (term) CROSS JOIN tot),
         |agg AS (SELECT doc_id, sum(sc) AS s FROM sc GROUP BY doc_id),
         |sup AS (
         |  SELECT a.doc_id, l.len,
         |    round(-(cast(s as double)) / cast(len as double), 6)
         |      AS surprisal
         |  FROM agg a JOIN lens l USING (doc_id)),
         |b AS (
         |  SELECT d.source, sup.len, sup.surprisal,
         |    ntile(10) OVER (PARTITION BY d.source
         |      ORDER BY sup.surprisal, sup.doc_id) AS bucket
         |  FROM sup JOIN documents d USING (doc_id))
         |SELECT source, bucket, count(*) AS n_docs,
         |  round(CAST(sum(len) AS DOUBLE) / count(*), 4) AS avg_len,
         |  round(CAST(sum(CAST(surprisal AS DECIMAL(14,6))) AS DOUBLE)
         |        / count(*), 6) AS avg_surprisal
         |FROM b GROUP BY source, bucket
         |ORDER BY source, bucket""".stripMargin,

    "t20_pii_redaction" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN len(regexp_extract_all(text,
         |      '$RedactPattern')) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_hit,
         |  CAST(sum(len(regexp_extract_all(text, '$RedactPattern')))
         |    AS BIGINT) AS total_hits,
         |  CAST(sum(length(regexp_replace(text, '$RedactPattern',
         |      '[REDACTED]', 'g')) - length(text)) AS BIGINT)
         |    AS delta_chars,
         |  min(md5(regexp_replace(text, '$RedactPattern',
         |      '[REDACTED]', 'g'))) AS sample_md5
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "t16_unigram_surprisal" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents)
         |  GROUP BY doc_id, term),
         |dist AS (
         |  SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf
         |  GROUP BY term),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM dist),
         |lens AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf
         |  GROUP BY doc_id),
         |sc AS (
         |  SELECT tf.doc_id, $surprisalScoreSql AS sc
         |  FROM tf JOIN dist USING (term) CROSS JOIN tot),
         |agg AS (SELECT doc_id, sum(sc) AS s FROM sc GROUP BY doc_id)
         |SELECT a.doc_id, l.len,
         |  round(-(cast(s as double)) / cast(len as double), 6) AS surprisal
         |FROM agg a JOIN lens l USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    "t07_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        |round(avg(n_chars), 4) AS avg_chars
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |      % 100 < 20
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t08_regex_token_counts" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(len(regexp_extract_all(props, '[a-zA-Z0-9]+'))) AS BIGINT)
        |  AS total_word_toks,
        |CAST(sum(len(regexp_extract_all(props, '[^a-zA-Z0-9 ]'))) AS BIGINT)
        |  AS total_sym_toks
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "t09_bottomk_sample" ->
      """SELECT lang, string_agg(doc_id, ',' ORDER BY h, doc_id) AS sample_ids
        |FROM (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
        |               doc_id) AS rn
        |  FROM documents) x
        |WHERE rn <= 3 GROUP BY lang ORDER BY lang""".stripMargin,

    "t10_levenshtein_pairs" ->
      """SELECT brand, count(*) AS n_near_pairs,
        |CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |min(dist) AS min_dist FROM (
        |  SELECT a.p_brand AS brand,
        |         levenshtein(a.p_name, b.p_name) AS dist
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |   AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2) x
        |GROUP BY brand ORDER BY brand""".stripMargin,

    "t06_fingerprint_summary" ->
      """SELECT source, count(*) AS n_docs,
        |count(DISTINCT md5(lower(text))) AS n_distinct,
        |count(*) - count(DISTINCT md5(lower(text))) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "t22_quality_classifier" ->
      """WITH sc AS (
        |  SELECT doc_id, any_value(source) AS source,
        |    CAST(sum((((('0x' || substr(md5(term), 1, 8))::BIGINT % 4096)
        |          * 2654435761) % 2001) - 1000) AS BIGINT) AS raw,
        |    CAST(count(*) AS BIGINT) AS n_toks
        |  FROM (SELECT doc_id, source,
        |          unnest(string_split(text, ' ')) AS term
        |        FROM documents WHERE text IS NOT NULL)
        |  GROUP BY doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN raw > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keep,
        |  round(CAST(sum(CASE WHEN raw > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS keep_rate,
        |  round(CAST(sum(raw) AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE), 6)
        |    AS mean_tok_score
        |FROM sc GROUP BY source ORDER BY source""".stripMargin)
}
