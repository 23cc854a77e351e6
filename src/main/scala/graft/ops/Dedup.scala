package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Deduplication operators — the training-data-pipeline core
  * (SURVEY.md §2.4): exact content dedup, MinHash+LSH near-dup over
  * 3-token shingles, SimHash, exact n-gram Jaccard, and embedding-cosine
  * near-dup. No counterpart in the reference (opaque byte payloads).
  *
  * Cross-engine determinism: every hash is derived from md5 hex — Spark
  * `conv(substr(md5(x),1,7),16,10)` ≡ DuckDB
  * `('0x' || substr(md5(x),1,7))::BIGINT` (7 hex digits keep a·h+b well
  * inside int64) — so DuckDB can replicate MinHash/SimHash signatures
  * bit-for-bit.
  *
  * Scale posture (100 TB):
  *  - exact dedup is one hash-shuffle on the fingerprint;
  *  - MinHash candidates come from LSH band buckets (equi-join on band
  *    hash), never an all-pairs comparison; the final verify runs only on
  *    bucket-mates. At 1000 executors each band join is an ordinary
  *    shuffle join on a well-distributed key;
  *  - SimHash reduces each doc to one int64; near-dup = hamming
  *    neighborhood, again joinable by rotating prefix buckets;
  *  - n-gram Jaccard is blocked by `source` here (the general blocked
  *    self-join shape) — the unblocked form is what LSH replaces;
  *  - embedding-cosine does a within-label blocked self-join; the
  *    unblocked brute-force and IVF variants live in Similarity.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** MinHash parameters: 6 permutations h_j(x) = (a_j·x + b_j) mod p,
    * banded 2-at-a-time into 3 LSH bands. Constants are part of the
    * operator contract (the oracle replicates them).
    *
    * The multipliers must be LARGE relative to p: with small a_j,
    * (a·h+b) mod p is close to order-preserving, every "permutation"
    * picks the same argmin shingle, and the 6 slots collapse into one
    * hash function (observed: thousands of false est_jaccard=1.0 pairs).
    * h < 2^28 (7 md5 hex digits) and a_j < p ≈ 2^30 keep a·h+b < 2^58,
    * inside int64 for both engines.
    */
  private val P = 1000000007L

  // d35 (DedupIndex compact go/no-go): pending-tombstone fraction
  // above which the per-probe anti-join + dead fingerprint/signature
  // rows (derived personal data when the document is — erasure wants
  // them physically gone) are worth the compaction rewrite; and the
  // band-bucket imbalance λ = V·Σn²/(Σn)² (s46's formula over band
  // values) above which a flooded band value makes probe candidate
  // cost quadratic-in-the-bucket. Fractions/ratios, never absolute
  // counts (the t24 scale-invariance lesson); fixture λ measures
  // ~1.05-1.06 at every SF (healthy), so the go/no-go fires on the
  // tombstone leg — both legs exposed like s46.
  private[ops] val DedupTombMax = 0.05
  private[ops] val DedupBandLambdaMax = 1.5
  private val As = Seq(968665049L, 725377913L, 858980533L,
    531441019L, 741103597L, 433024253L)
  private val Bs = Seq(372700613L, 154365481L, 811961371L,
    96132089L, 257310181L, 646617851L)

  /** 64-bit SimHash (was 16 in round 1): bit i's vote comes from bit i
    * of a 64-bit shingle hash assembled from two md5 halves (hex digits
    * 9–16 → bits 0–31, digits 1–8 → bits 32–63; each half < 2^32 so both
    * engines stay comfortably inside signed int64 — only the assembled
    * simhash itself uses bit 63). 16-bit chunk buckets then give 65,536
    * distinct values per chunk instead of round 1's 16, which is what
    * keeps the d07 candidate join selective as the corpus grows (see
    * SCALE.md).
    */
  private val SimhashBits = 64
  private val ChunkBits = 16
  private val NChunks = SimhashBits / ChunkBits

  /** d15's common-fingerprint suppression threshold (MOSS's rule): a
    * winnowing fingerprint present in more than this many documents is
    * boilerplate, not copying evidence, and is dropped before the
    * overlap join — which also bounds the join's pair count linearly
    * in corpus size instead of quadratically per hot bucket.
    */
  private val DfCap = 20L

  /** d26's minimum repeated-substring length, in tokens: a W-token
    * window occurring twice anywhere in the corpus marks its tokens as
    * repeated, so any verbatim repeat of length ≥ W is guaranteed
    * caught (all its W-windows repeat) — the same min-length knob a
    * suffix-array dedup tool exposes. 8 tokens is far above chance
    * collision on natural text while still catching quoted template
    * sentences; the public suffix-array tooling defaults to ~50 BPE
    * tokens on web-scale corpora, where boilerplate is longer.
    */
  private val RepW = 8

  /** d15's candidate-pair stream on an injectable fingerprint table
    * (doc_id, fp): the df-cap suppression then the fp equi-join. The
    * cap is what makes d15's never-quadratic claim true — the join's
    * output is bounded by Σ_fp df·cap rows, linear in corpus size —
    * and the skew spec plants a flooded fingerprint against THIS
    * definition, so the shipped cap is the tested cap (the s05
    * CohesionCap discipline).
    */
  private[graft] def winnowCandidates(s: SparkSession, f0: DataFrame,
      cap: Long): DataFrame = {
    import s.implicits._
    val rare = f0.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" <= cap).select($"fp")
    val f = f0.join(rare, "fp")
    f.toDF("fp", "a_id")
      .join(f.toDF("fp2", "b_id"),
        $"fp" === $"fp2" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id")
  }

  /** d16's SemDeDup similarity threshold — fixture-tuned (synthetic
    * vectors top out ~0.5 within a cell; real embedding spaces run
    * ~0.95+). The keep rule and join shape are threshold-agnostic.
    */
  private val SemDedupTau = 0.35

  /** d18's recursion depth bound — a SAFETY RAIL, not the scale
    * argument: the primary-attribution edges form a forest, so the
    * frontier is O(nodes) regardless of depth, and a chain can't be
    * longer than its cluster. Identical bound in both engines.
    */
  private val CascadeMaxDepth = 100
  // d19's bloom sizing: ~1M expected eval shingles at 8 bits/item (~1MB
  // filter, fpp ≈ 2%) — result-exactness does NOT depend on these (the
  // exact-verify join kills false positives); they only tune how many
  // non-matches survive to the verify shuffle. Both sit far under
  // Spark's runtime-bloom caps (4M items / 67M bits default).
  private val BloomItems = 1000000L
  private val BloomBits = 8000000L

  /** Verified near-dup pair core shared by d03 (presentation), d08/d09
    * components, d11 and d18 — UNSORTED: a join/recursion branch must
    * not inherit a presentation orderBy (useless range exchange + sort
    * in every consumer).
    */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the signature table fans out to FOUR consumers below (both sides
    // of the band self-join, both sides of the verify rejoin), and a
    // narrow subtree is re-executed per consumer — no exchange
    // boundary, so AQE stage reuse can't help. Materializing it is the
    // d18 trade made explicit: |docs| × 7 longs (tiny vs the corpus
    // text it derives from) buys back four shingle+md5+minhash passes;
    // an ingest service keeps exactly this index materialized anyway.
    val sigs = minhashCore(s, dir).localCheckpoint()
    val bands = bandsOf(s, sigs)
    val a = bands.as("a"); val b = bands.as("b")
    val cand = a.join(b, col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sa = sigs.toDF("a_id" +: (0 until 6).map(j => s"a$j"): _*)
    val sb = sigs.toDF("b_id" +: (0 until 6).map(j => s"b$j"): _*)
    val matches = (0 until 6).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("est_jaccard", round(matches / lit(6.0), 6))
      .filter($"est_jaccard" >= 0.5)
      .select($"a_id", $"b_id", $"est_jaccard")
  }

  /** Within-cell embedding pair stream shared by d06 (pair listing) and
    * d16 (SemDeDup accounting): (a_id, b_id, label, cos) for a < b in
    * the same label cell, cosine rounded to 4. The cell equi-join is
    * the scale bound — never all-pairs.
    */
  private def labelCosPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
    val a = e.toDF("a_id", "label", "va")
    val b = e.toDF("b_id", "label_b", "vb")
    a.join(b, $"label" === $"label_b" && $"a_id" < $"b_id")
      .withColumn("cos", round(graft.functions.CosineSim($"va", $"vb"), 4))
      .select($"a_id", $"b_id", $"label", $"cos")
  }

  /** Spark-side 3-token shingle array (1-based element_at). */
  private[graft] val shingleExpr =
    "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> " +
      "concat_ws(' ', element_at(toks, i), " +
      "element_at(toks, least(i + 1, size(toks))), " +
      "element_at(toks, least(i + 2, size(toks)))))"

  /** DuckDB-side equivalent shingle list. */
  private[graft] val shingleSql =
    "list_transform(range(1, greatest(len(toks) - 1, 2)), i -> " +
      "toks[i] || ' ' || toks[least(i + 1, len(toks))] || ' ' || " +
      "toks[least(i + 2, len(toks))])"

  /** doc_id + exploded distinct shingle hashes (Spark side) — for the
    * operators that genuinely need shingle-level rows (pair joins).
    */
  private def shingleHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Shingle3 dedups per doc, so the explode is already distinct per
    // (doc_id, sh) — the old explode-then-distinct shape shuffled the
    // full shingle stream through a dedup exchange for nothing
    docs(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        explode(graft.functions.Shingle3($"toks")).as("sh"))
      .withColumn("h", conv(substring(md5($"sh"), 1, 7), 16, 10).cast("long"))
  }

  /** docs → distinct 3-word shingle arrays (shared by both hash cores).
    * Shingle3 fuses sequence+transform+concat_ws+array_distinct into one
    * compiled kernel (fuzz-pinned to the composed form it replaces).
    */
  private def shingledDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", graft.functions.Shingle3($"toks").as("shs"))
  }

  /** Unsorted signature cores for composition: d03/d07/d08/d09 join on
    * these, and a join branch must NOT inherit the presentation
    * `orderBy` of the registered d02/d04 queries (it plans a useless
    * range-partition exchange + sort inside every branch).
    *
    * The `coalesce(..., 0)` around the fused simhash is load-bearing for
    * the PLAN, not just null-safety: it keeps the column non-nullable,
    * exactly like the old when/otherwise form, so join-constraint
    * inference (`isnotnull(hamming64(sim_a, sim_b))` etc.) cannot
    * materialize an `isnotnull(shingle_simhash64(<entire shingle
    * pipeline>))` filter pushed into the scan — measured at sf0.1 that
    * inlined, interpreted re-evaluation made d07 ~6× slower.
    */
  private def simhashCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fully fused: shingles → md5 → bit-vote in ONE compiled kernel
    // (ShingleSimHash64) — no ha/hb intermediate arrays at all
    shingledDocs(s, dir)
      .select($"doc_id",
        coalesce(graft.functions.ShingleSimHash64($"shs"), lit(0L))
          .as("simhash"))
  }

  private def minhashCore(s: SparkSession, dir: String): DataFrame =
    minhashCoreOf(s, docs(s, dir))

  /** [[minhashCore]] for ANY (doc_id, text) frame — the seam
    * [[DedupIndex]] builds and probes through, so an index built from
    * one corpus and a batch signed at ingest time use the SAME fused
    * kernels (identical As/Bs/P → identical signatures → identical
    * band values; collision semantics carry over by construction).
    */
  private[ops] def minhashCoreOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    // fused codegen'd slots (see MinHashSlot.scala) — value-identical
    // to array_min(transform(hs, h -> (h*a + b) % p)), spec-proven
    val sigCols = As.zip(Bs).zipWithIndex.map { case ((a, b), j) =>
      graft.functions.MinHashSlot($"hs", a, b, P).as(s"mh$j")
    }
    d.withColumn("toks", split($"text", " "))
      .select($"doc_id", graft.functions.Shingle3($"toks").as("shs"))
      .select($"doc_id", graft.functions.Md5Prefix28($"shs").as("hs"))
      .select($"doc_id" +: sigCols: _*)
  }

  /** DuckDB CTE producing (doc_id, h) distinct shingle hashes. */
  private val shingleHashSql =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest($shingleSql) AS sh
       |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |          FROM documents))),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h,
       |    ('0x' || substr(md5(sh), 1, 8))::BIGINT AS ha,
       |    ('0x' || substr(md5(sh), 9, 8))::BIGINT AS hb
       |  FROM sh)""".stripMargin

  /** d34/d36's shared oracle: directed containment over the same
    * shingle sets — counts are integer-exact, both scores and the gap
    * derive from the same IEEE divisions in both engines, flags
    * compare the 6dp-rounded values. The candidate generator is NOT
    * part of the contract (shingle/bands/prefix must all reproduce
    * this), which is exactly why two board rows share one text.
    */
  private lazy val containmentOracle: String =
    s"""WITH $shingleHashSql,
       |tagged AS (
       |  SELECT s.doc_id, s.sh, d.source FROM sh s
       |  JOIN documents d ON d.doc_id = s.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
       |  FROM tagged a JOIN tagged b
       |    ON a.source = b.source AND a.sh = b.sh
       |    AND a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |sc AS (
       |  SELECT a_id, b_id, n_inter,
       |    sa.n_sh AS n_a, sb.n_sh AS n_b,
       |    n_inter / CAST(sa.n_sh AS DOUBLE) AS c,
       |    n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
       |      AS jacr
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = a_id
       |  JOIN sizes sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, n_inter, n_a, n_b,
       |  round(c, 6) AS containment, round(jacr, 6) AS jaccard,
       |  round(c - jacr, 6) AS gap,
       |  round(c - jacr, 6) > 0.05 AS asym_inclusion
       |FROM sc WHERE round(c, 6) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** Distributed min-label propagation with pointer doubling: connected
    * components over an (a_id, b_id) edge set. Each iteration takes the
    * min over (own label, neighbors' labels, label-of-own-label) — the
    * shortcut join makes label paths halve each round, so convergence is
    * O(log diameter), not O(diameter): a 32-iteration cap covers any
    * chain the planet can store (2³² hops), where plain one-hop
    * propagation would fail outright on a 33-doc boilerplate-drift
    * chain. The driver only loops; each iteration is ONE job (the
    * changed-count rides the job that materializes the lazy
    * localCheckpoint). Fails loudly if somehow not converged — a silent
    * truncated answer would disagree with the oracle's exact transitive
    * closure.
    */
  private[graft] def components(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    val e = edges.cache()
    val und = e.union(e.select($"b_id".as("a_id"), $"a_id".as("b_id")))
    var labels = und.select($"a_id".as("id"))
      .union(und.select($"b_id".as("id")))
      .distinct().withColumn("lbl", $"id").localCheckpoint()
    var changed = 1L
    var iter = 0
    val maxIters = 32
    // neighbor-min through the salted-agg path (round 14): a star
    // hub's degree is the flooded cluster's size, so the per-node min
    // is the loop's one hot-key aggregation — decomposable, so the
    // salted plan can split it when the sizing says to (direct at
    // fixture scale; identical labels either way). Priced ONCE before
    // the loop: the join's per-a_id fan-in IS und's a_id degree
    // histogram on every hop (labels only relabel), and deciding per
    // iteration paid an optimizer pass per hop for the same answer
    // (+0.7 s on the gated rows, SCALE.md round 14).
    val hubSaltN = Events.saltPlanFor(s, und, Seq("a_id"))
    while (changed > 0 && iter < maxIters) {
      val nbr = Events.saltedAggWith(s,
        und.join(labels, und("b_id") === labels("id")),
        Seq("a_id"), Seq(Events.SaltMin($"lbl", "nlbl")), hubSaltN)
      val hop = labels.select($"id".as("h_id"), $"lbl".as("h_lbl"))
      val next = labels
        .join(nbr, labels("id") === nbr("a_id"), "left")
        .join(hop, labels("lbl") === hop("h_id"), "left") // shortcut
        .select(labels("id"),
          least(
            least(coalesce($"nlbl", labels("lbl")),
              coalesce($"h_lbl", labels("lbl"))),
            labels("lbl")).as("lbl"),
          (coalesce($"nlbl" < labels("lbl"), lit(false)) ||
            coalesce($"h_lbl" < labels("lbl"), lit(false))).as("chg"))
        .localCheckpoint(false)
      changed = next.where($"chg").count()
      labels = next.select($"id", $"lbl")
      iter += 1
    }
    e.unpersist()
    if (changed > 0) throw new IllegalStateException(
      s"label propagation did not converge in $maxIters iterations" +
        s" ($changed labels still changing)")
    labels
  }

  /** Star candidate edges from LSH band buckets: every bucket member
    * links to the bucket's minimum doc_id — O(k) edges per bucket
    * instead of all-pairs' O(k²). This is the skew guard SCALE.md calls
    * out: a giant near-dup cluster (the classic boilerplate-page case)
    * floods one band value, and the all-pairs expansion is quadratic in
    * its occupancy while the star stays linear. Connected components
    * over star edges equal components over all-pairs edges at the
    * candidate level (a bucket is one clique either way — via its hub);
    * the verify step then runs per-edge, so heterogeneous buckets can
    * split slightly differently than d08's pairwise-verified clusters —
    * the documented recall trade for boundedness (see the skew spec).
    */
  /** LSH bands: 3 bands of 2 MinHash slots, one row per (doc, band).
    * Bands explode from an array built in ONE pass over the signature
    * row — a per-band union would re-run the whole shingle+MinHash
    * subtree once per branch (measured: ~3× the signature compute).
    */
  private[graft] def bandsOf(s: SparkSession, sigs: DataFrame): DataFrame = {
    import s.implicits._
    val bandArr = array((0 until 3).map { b =>
      concat_ws(":", lit(b), col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))
    }: _*)
    sigs.select($"doc_id", explode(bandArr).as("band"))
  }

  private[graft] def starCandidates(s: SparkSession, bands: DataFrame): DataFrame = {
    import s.implicits._
    // CONTRACT: `band` must be non-null — the hub join back is a plain
    // equi-join, which DROPS null-key rows the former per-band window
    // would have kept (r14 ADVICE). Every caller derives band from
    // concat_ws over MinHash slots (non-null by construction); a new
    // caller with nullable bands must coalesce them first.
    // Hub = min(doc_id) per band, THROUGH the live salted-agg auto
    // path (round 14): the former per-band window sorted a flooded
    // band's whole bucket inside one task — exactly the skew this
    // operator exists to guard — while min is decomposable, so
    // saltedAggAuto can split a hot band across reducers when its
    // sizing says to (direct single-shuffle otherwise; results are
    // identical either way, and the join back on band is an equi-join
    // AQE skew-splits at runtime).
    val hubs = Events.saltedAggAuto(s, bands, Seq("band"),
      Seq(Events.SaltMin($"doc_id", "hub")))
    bands.join(hubs, "band")
      .filter($"doc_id" =!= $"hub")
      .select($"hub".as("a_id"), $"doc_id".as("b_id"))
      .distinct()
  }

  /** d34's core, with a PLAN-SWITCHED candidate generator (the
    * searchRefined discipline — two physical plans, one contract):
    *
    *  - `shingle` (small corpora): the exact source-blocked shingle
    *    equi-join — candidate pairs are every same-source pair sharing
    *    ≥1 shingle, so no containment pair can be missed. Cost is the
    *    wordcount shape (map-side partial counts on shared shingles),
    *    fine up to the point where hot shingles across a whole source
    *    make the pair stream quadratic.
    *  - `bands` (100 TB path): candidates from d03's LSH bands (3
    *    bands × 2 MinHash slots, same-source, equi-join per band —
    *    never all-pairs), then the exact intersection is computed ONLY
    *    for candidate pairs by joining candidates to the shingle
    *    stream on (b_id, sh): cost is Σ_pairs |sh(A)| — linear in the
    *    candidate count, immune to hot-shingle blowup. HONESTY NOTE:
    *    band agreement probability per band is ≈ Jaccard², so a
    *    deeply-contained A inside a much larger B (high containment,
    *    LOW Jaccard — exactly the asym_inclusion case) can be missed
    *    by bands in the general corpus; on this fixture the band set
    *    recalls every containment≥0.5 pair including the asym ones
    *    (measured in DuckDB at sf0.01/sf0.1: 0 missed of 2/14), and
    *    the DedupSpec switch test pins the paths row-identical.
    *  - `prefix` (the recall-PRESERVING scale path, gated as its own
    *    board row d36): AllPairs/PPJoin prefix filtering — any B with
    *    C(A→B) ≥ t shares one of A's ⌊(1−t)·|sh(A)|⌋+1 rarest
    *    shingles (df-ascending order), so candidates come from the
    *    A-prefix ⋈ B-full equi-join and the output is EXACTLY the
    *    shingle path's at any corpus, including the low-Jaccard
    *    asym_inclusion pairs bands can lose. The choice at 100 TB is
    *    bands (cheapest, recall trade) vs prefix (exact, rarity-
    *    ordered join): run prefix when the asymmetric-inclusion scan
    *    is the POINT of the job.
    *
    * Switch: conf `spark.graft.dedup.containment.candGen` ∈
    * {auto, shingle, bands}; `auto` (default) swaps to bands when the
    * documents scan's optimizer size estimate exceeds
    * `spark.graft.dedup.containment.bandBudgetBytes` (default 1 GiB) —
    * sizing reads plan statistics, zero Spark jobs. `forceGen`
    * overrides the conf entirely (the d36 row forces `prefix`).
    */
  /** The candidate-generator switch decision, separated so the spec
    * can pin it without plan forensics (the eager checkpoint inside
    * [[containmentPairs]] severs the generator from the final plan).
    * Sizing reads the optimizer's scan size estimate — zero jobs.
    */
  private[graft] def containmentUseBands(s: SparkSession, dir: String): Boolean =
    s.conf.get("spark.graft.dedup.containment.candGen", "auto") match {
      case "bands"   => true
      case "shingle" => false
      case _ =>
        val budget = s.conf
          .get("spark.graft.dedup.containment.bandBudgetBytes",
            (1L << 30).toString).toLong
        PlanSizing.scanBytes(docs(s, dir)) > BigInt(budget)
    }

  private[graft] def containmentPairs(s: SparkSession, dir: String,
      forceGen: Option[String] = None): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select($"doc_id", $"source")
    // consumers fork from the shingle stream (sizes + join sides) —
    // materialized once, the d05 rationale; EAGER (pending lazy
    // checkpoints race AQE sub-jobs on the RDDCheckpointData lock)
    val sh = shingleHashes(s, dir).join(d, "doc_id")
      .localCheckpoint()
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val gen = forceGen.getOrElse(
      if (containmentUseBands(s, dir)) "bands" else "shingle")
    // shared by the bands/prefix generators: exact intersection
    // counts computed ONLY for candidate pairs — cand ⋈ sh(A) on a_id
    // fans each pair out to A's shingles, and the (b_id, sh)
    // equi-join keeps exactly the shared ones; cost Σ_pairs |sh(A)|,
    // never |A|×|B| and never the unrestricted shingle blowup
    def exactCounts(cand: DataFrame): DataFrame =
      cand.join(sh.select($"doc_id".as("a_id"), $"sh"), "a_id")
        .join(sh.select($"doc_id".as("b_id"), $"sh"), Seq("b_id", "sh"))
        .groupBy($"a_id", $"b_id")
        .agg(count(lit(1)).as("n_inter"))
    // the intersection is symmetric, so the heavy stage runs on
    // UNORDERED pairs (a < b, half the rows) and the directed view is
    // a cheap row-level mirror
    val und = (if (gen == "prefix") {
      prefixCandidates(s, sh, sizes).transform(exactCounts)
    } else if (gen == "bands") {
      // LSH-band candidates (same-source, a < b), then exact
      // intersection counts ONLY for candidates: cand ⋈ sh(A) on a_id
      // fans each pair out to A's shingles, and the (b_id, sh)
      // equi-join keeps exactly the shared ones — never |A|×|B|.
      val bnd = bandsOf(s, minhashCore(s, dir)).join(d, "doc_id")
      bnd.toDF("a_id", "band", "source")
        .join(bnd.toDF("b_id", "band_b", "source_b"),
          $"band" === $"band_b" && $"source" === $"source_b" &&
            $"a_id" < $"b_id")
        .select($"a_id", $"b_id").distinct()
        .transform(exactCounts)
    } else {
      val a = sh.toDF("a_id", "sh_a", "h_a", "source")
      val b = sh.toDF("b_id", "sh_b", "h_b", "source_b")
      a.join(b,
          $"source" === $"source_b" && $"sh_a" === $"sh_b" &&
            $"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id")
        .agg(count(lit(1)).as("n_inter"))
    })
      // tiny (near-dup pairs only) with two consumers (both mirror
      // directions) — materialized so the heavy join runs once
      .localCheckpoint()
    val inter = und.unionByName(
      und.select($"b_id".as("a_id"), $"a_id".as("b_id"), $"n_inter"))
    val sa = sizes.toDF("a_id", "n_a")
    val sb = sizes.toDF("b_id", "n_b")
    val c = $"n_inter" / $"n_a".cast("double")
    val jac = $"n_inter" /
      ($"n_a" + $"n_b" - $"n_inter").cast("double")
    inter.join(sa, "a_id").join(sb, "b_id")
      .withColumn("containment", round(c, 6))
      .withColumn("jaccard", round(jac, 6))
      .withColumn("gap", round(c - jac, 6))
      .filter($"containment" >= lit(0.5))
      .withColumn("asym_inclusion", $"gap" > lit(0.05))
      .select($"a_id", $"b_id", $"n_inter", $"n_a", $"n_b",
        $"containment", $"jaccard", $"gap", $"asym_inclusion")
      .orderBy($"a_id", $"b_id")
  }

  /** The d36 prefix-filter candidate generator, separated so the spec
    * can price the positional cut directly. `sh` is the checkpointed
    * (doc_id, sh[, h], source) shingle stream, `sizes` its per-doc
    * counts; output is the unordered candidate pair set
    * (a_id < b_id). `positional = false` disables PPJoin's second cut
    * (measurement only — production always keeps it).
    *
    * PREFIX FILTERING (AllPairs/PPJoin adapted to containment) —
    * the RECALL-PRESERVING scale generator: for C(A→B) ≥ t, A and
    * B must share ≥ ⌈t·|A|⌉ shingles, so by pigeonhole they share
    * at least one of A's first ⌊(1−t)·|A|⌋+1 shingles under ANY
    * fixed global order. Order by GLOBAL RARITY (document
    * frequency asc, shingle tiebreak): the prefix then holds A's
    * rarest shingles, and the candidate join (A-prefix ⋈ B-full,
    * same-source) collides almost only on genuinely shared rare
    * content — the df-ordering is what kills the hot-shingle
    * blowup, the ⌊(1−t)|A|⌋+1 cut is what keeps it EXACT (unlike
    * bands, which at low Jaccard lose exactly the asym_inclusion
    * pairs this operator exists for). At t=0.5 the prefix is
    * ~half of A, so the rarity ordering carries the join cost and
    * POSITIONAL FILTERING (PPJoin's second cut, round 14) carries
    * the candidate count: at each pair's MINIMUM colliding token
    * w1 (global (df, sh) order), no shared token precedes w1, so
    * overlap ≤ min(|A|-pos_A(w1), |B|-pos_B(w1)) + 1 — pairs whose
    * bound can't reach ⌈t·min(|A|,|B|)⌉ die BEFORE the exact
    * intersection fan-out. Exactness: a qualifying pair's first
    * SHARED token provably sits in the smaller doc's prefix
    * (pigeonhole), so it collides, it IS the minimum colliding
    * token, and its bound ≥ the true overlap ≥ the requirement —
    * only non-qualifying pairs (which exactCounts would discard
    * anyway) can be cut. The bound is symmetric under the
    * direction swap, so duplicate two-direction collisions of the
    * same token tie harmlessly in the min_by.
    */
  private[graft] def prefixCandidates(s: SparkSession, sh: DataFrame,
      sizes: DataFrame, positional: Boolean = true): DataFrame = {
    import s.implicits._
    val dfreq = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    val wP = Window.partitionBy($"doc_id").orderBy($"df", $"sh")
    // rarity ranks feed BOTH join sides (the positional bound needs
    // each side's token position) — materialized once, the d05
    // rationale, eager like every checkpoint on this path
    val ranked = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(wP))
      .join(sizes, "doc_id")
      .localCheckpoint()
    val pref = ranked
      .filter($"rn" <=
        floor($"n_sh".cast("double") / 2.0d).cast("long") + 1L)
      .select($"doc_id".as("p_id"), $"sh", $"df",
        $"rn".as("rn_p"), $"n_sh".as("n_p"), $"source")
    val full = ranked
      .select($"doc_id".as("f_id"), $"sh".as("sh_f"),
        $"rn".as("rn_f"), $"n_sh".as("n_f"),
        $"source".as("source_f"))
    val joined = pref.join(full,
        $"source" === $"source_f" && $"sh" === $"sh_f" &&
          $"p_id" =!= $"f_id")
      // directed prefix hits cover BOTH directions; normalize to
      // the unordered key the exact stage runs on, keeping each
      // pair's minimum-order collision for the positional bound
      // (the group-agg replaces the former distinct — same shuffle)
      .groupBy(least($"p_id", $"f_id").as("a_id"),
        greatest($"p_id", $"f_id").as("b_id"))
      .agg(min_by(struct($"rn_p", $"rn_f", $"n_p", $"n_f"),
        struct($"df", $"sh")).as("w1"))
    (if (positional)
      joined.filter(
        least($"w1.n_p" - $"w1.rn_p", $"w1.n_f" - $"w1.rn_f") + 1L >=
          expr("(least(w1.n_p, w1.n_f) + 1) div 2"))
    else joined)
      .select($"a_id", $"b_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> { (s, dir) =>
      import s.implicits._
      // Global exact dedup: md5 fingerprint of normalized text, keep the
      // lowest doc_id of each group. One hash aggregation (with map-side
      // partial min/count) — no window sort; same single shuffle on the
      // fingerprint but cheaper per row.
      docs(s, dir)
        .withColumn("fp", md5(lower($"text")))
        .groupBy($"fp")
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select($"doc_id", $"fp", $"n_copies")
        .orderBy($"doc_id")
    },

    "d02_minhash_signatures" -> { (s, dir) =>
      import s.implicits._
      // 6-permutation MinHash signature per doc over 3-token shingles,
      // computed as a pure projection (array_min over the hash array) —
      // no explode, no shuffle; one narrow map over the corpus.
      minhashCore(s, dir).orderBy($"doc_id")
    },

    "d03_minhash_near_dups" -> { (s, dir) =>
      import s.implicits._
      // LSH: 3 bands of 2 signature slots; candidate pairs share ≥1
      // whole band (equi-join per band, NOT all-pairs); verified by
      // estimated Jaccard = matching slots / 6 ≥ 0.5. Core shared with
      // d08/d18 UNSORTED — only this presentation query pays the sort.
      verifiedPairs(s, dir).orderBy($"a_id", $"b_id")
    },

    "d08_dedup_components" -> { (s, dir) =>
      import s.implicits._
      // Connected components over the near-dup pairs (d03): transitive
      // closure assigns each doc in a near-dup cluster the cluster's
      // minimum doc_id as its canonical — the "which copy do we keep"
      // step of a dedup pipeline. The pair set and per-round labels are
      // tiny relative to the corpus, so caching + localCheckpoint
      // (lineage would otherwise grow exponentially with iterations) is
      // the right call here, unlike the single-reuse intermediates
      // SCALE.md measured as net losses.
      val edges = verifiedPairs(s, dir).select($"a_id", $"b_id")
      components(s, edges)
        .select($"id".as("doc_id"), $"lbl".as("canonical_id"))
        .orderBy($"doc_id")
    },

    "d09_salted_components" -> { (s, dir) =>
      import s.implicits._
      // Skew-guarded dedup components: candidates are STAR edges per
      // band bucket (member → bucket-min hub) instead of d03's
      // all-pairs-within-bucket, so a boilerplate cluster that floods
      // one band value costs O(k) candidate rows, not O(k²) — the
      // bucket-skew failure mode SCALE.md names. Each hub edge is then
      // verified (est_jaccard ≥ 0.5) and components run over the
      // verified edges. Same contract on both engines, so hash-gated.
      val sigs = minhashCore(s, dir)
      val cand = starCandidates(s, bandsOf(s, sigs))
      val sa = sigs.toDF("a_id" +: (0 until 6).map(j => s"a$j"): _*)
      val sb = sigs.toDF("b_id" +: (0 until 6).map(j => s"b$j"): _*)
      val matches = (0 until 6).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
      val edges = cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("est_jaccard", round(matches / lit(6.0), 6))
        .filter($"est_jaccard" >= 0.5)
        .select($"a_id", $"b_id")
      components(s, edges)
        .select($"id".as("doc_id"), $"lbl".as("canonical_id"))
        .orderBy($"doc_id")
    },

    "d34_containment_pairs" -> { (s, dir) =>
      // DIRECTED shingle containment — the asymmetric duplication
      // relation Jaccard blurs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| is
      // ~1 when A is INCLUDED in a longer B (a quoted post, a page
      // wrapping boilerplate, a chunk re-packed into a compilation)
      // even while Jaccard stays low because B dwarfs A — the case a
      // symmetric near-dup pass admits twice into a training set
      // (Broder's containment, the resemblance/containment pair). One
      // row per directed candidate pair with containment ≥ 0.5:
      // counts, both scores, the gap, and the asym_inclusion flag
      // (containment high AND gap > 0.05 — A is inside B, not a twin
      // of it). The fixture's duplicate clusters are near-identical
      // copies, so most rows flag symmetric (gap ≈ 0) and exactly the
      // long-doc inclusions flag true at sf0.1 — recorded honestly;
      // the operator's value is the flag's ability to SPLIT the two
      // cases. The candidate generator is PLAN-SWITCHED (the
      // searchRefined discipline) — see [[containmentPairs]].
      containmentPairs(s, dir)
    },

    "d36_containment_prefix_filtered" -> { (s, dir) =>
      // d34 through the PREFIX-FILTERED candidate generator
      // (AllPairs/PPJoin adapted to containment — see
      // [[containmentPairs]]): the recall-preserving 100 TB path,
      // driver-gated in its own right so the exact-at-scale claim is
      // hash-proven at every SF, not just spec-asserted. Same output
      // contract as d34 by construction (the prefix bound is a
      // pigeonhole theorem, not a heuristic), same oracle text.
      containmentPairs(s, dir, forceGen = Some("prefix"))
    },

    "d37_sql_dedup_check" -> { (s, dir) =>
      import s.implicits._
      // The SQL surface's ADMISSION member — graft_dedup_check through
      // spark.sql, completing the gated SQL trio of index kinds
      // (s47 lexical, s48 vector, d37 dedup): a single document's
      // would-it-be-admitted verdict as a one-line query, probing the
      // same pristine corpus-split index d30 serves from. Two probes
      // in one gated row: a verbatim corpus member (both rules must
      // reject it) and a held-out document (whatever the rules truly
      // say — the oracle recomputes both verdicts from the corpus
      // tables). The probe texts are the QUERY INPUT, read from the
      // fixture exactly like s48 reads its query vector.
      graft.functions.registerAll(s)
      val idx = ServingIndexes.dedup(s, dir)
      val texts = docs(s, dir)
        .filter($"doc_id".isin(0L, 4L))
        .select($"doc_id", $"text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      def esc(t: String) = t.replace("'", "''")
      s.sql(
        s"SELECT 'corpus_copy' AS probe, * " +
          s"FROM graft_dedup_check('$idx', '${esc(texts(0L))}') " +
          s"UNION ALL SELECT 'held_out' AS probe, * " +
          s"FROM graft_dedup_check('$idx', '${esc(texts(4L))}') " +
          "ORDER BY probe")
    },

    "d35_dedup_maintenance_decision" -> { (s, dir) =>
      // s46's ADMISSION-INDEX sibling (round-13 verdict item): the
      // DedupIndex compact go/no-go over the mid-lifecycle snapshot
      // ServingIndexes.dedupMaint built (corpus split + erasure
      // tombstones, NOT compacted) — see
      // [[DedupIndex.maintenanceDecision]] for the metric/decision
      // contract. Zero corpus bytes (PlanShapeSpec pins it); the
      // oracle replays split membership + the erasure rule + the
      // signature/band pipeline from the documents table.
      DedupIndex.maintenanceDecision(s, ServingIndexes.dedupMaint(s, dir))
    },

    "d04_simhash" -> { (s, dir) =>
      import s.implicits._
      // 64-bit SimHash over shingle hashes: per bit, majority vote; bits
      // 0-31 vote from the low md5 half (hb), 32-63 from the high half
      // (ha). Per-document → a pure narrow map, no shuffle. The fused
      // native expression walks each hash array once inside whole-stage
      // codegen — the composed form (64 aggregate() HOFs) dropped the
      // projection to interpreted mode AND re-inlined the md5 hashing
      // into every one of the 64 aggregates (see SimHash64.scala).
      simhashCore(s, dir).orderBy($"doc_id")
    },

    "d05_ngram_jaccard_top_pairs" -> { (s, dir) =>
      import s.implicits._
      // Exact 3-shingle Jaccard, blocked by source (the blocked
      // self-join shape; LSH replaces the unblocked form at scale).
      // Global top-10 most-similar pairs, deterministic tiebreaks.
      val d = docs(s, dir).select($"doc_id", $"source")
      // three consumers fork from the shingle stream below (sizes and
      // both join sides) — materialized once, the verifiedPairs
      // rationale
      val sh = shingleHashes(s, dir).join(d, "doc_id")
        .localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val a = sh.toDF("a_id", "sh_a", "h_a", "source")
      val b = sh.toDF("b_id", "sh_b", "h_b", "source_b")
      // Join on the shingle STRING, not the 28-bit hash: prefix
      // collisions between distinct shingles would otherwise count as
      // intersections in one engine and not the other.
      val inter = a.join(b,
          $"source" === $"source_b" && $"sh_a" === $"sh_b" &&
            $"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.toDF("a_id", "na"), "a_id")
        .join(sizes.toDF("b_id", "nb"), "b_id")
        .withColumn("jaccard",
          round($"n_inter" / ($"na" + $"nb" - $"n_inter").cast("double"), 6))
        .select($"a_id", $"b_id", $"jaccard")
        .orderBy($"jaccard".desc, $"a_id", $"b_id")
        .limit(10)
    },

    "d07_simhash_near_dups" -> { (s, dir) =>
      import s.implicits._
      // SimHash near-dup: candidates via pigeonhole buckets — split the
      // 64-bit hash into 4 16-bit chunks; any pair within Hamming
      // distance 3 must agree on ≥1 whole chunk, so candidates come from
      // 4 equi-joins on (chunk_id, chunk_value), never all-pairs. 65,536
      // values per chunk keep the join selective at corpus scale (the
      // r1 nibble scheme had 16 → O(n²/16) candidates). Arithmetic
      // shiftright of a sign-bit simhash is fine: the & 65535 mask
      // discards the sign-extension bits, both engines agree. The
      // verify step uses the native codegen'd hamming64 expression.
      val sim = simhashCore(s, dir)
      // chunks explode from one evaluation of the simhash (the r2 bench
      // caught the union form re-running the 64 bit-vote aggregates
      // once per chunk branch: 4× the map work, d07 4.7 s → 8.4 s).
      // The chunk key is numeric (chunk_id*2^16 + value, fits in 18
      // bits) — longs hash and shuffle cheaper than the r4 "c:value"
      // string key.
      val chunkArr = array((0 until NChunks).map { c =>
        lit(c.toLong * 65536L) +
          shiftright($"simhash", c * ChunkBits).bitwiseAND(65535L)
      }: _*)
      val chunks = sim.select($"doc_id", $"simhash",
        explode(chunkArr).as("chunk"))
      val a = chunks.toDF("a_id", "sim_a", "chunk")
      val b = chunks.toDF("b_id", "sim_b", "chunk_b")
      // Hamming-verify BEFORE deduplicating pair multiplicities: the
      // codegen'd hamming64 costs a few instructions per candidate
      // occurrence, so evaluating it up to NChunks times per pair is
      // far cheaper than the r4 shape, which shuffled the ENTIRE
      // candidate pair set through .distinct() first (the full-pair-set
      // exchange the round-4 verdict flagged as d07's 3.8→6.3 s
      // regression). Post-filter, distinct() shuffles only actual
      // near-dups — |output| rows, not |candidates|.
      a.join(b, $"chunk" === $"chunk_b" && $"a_id" < $"b_id")
        .withColumn("dist", graft.functions.Hamming64($"sim_a", $"sim_b"))
        .filter($"dist" <= 3)
        .select($"a_id", $"b_id", $"dist").distinct()
        .orderBy($"a_id", $"b_id")
    },

    "d11_canonical_corpus" -> { (s, dir) =>
      import s.implicits._
      // APPLY the dedup: the survivor corpus after near-dup clustering —
      // every doc outside a cluster keeps itself; inside a cluster only
      // the canonical (minimum doc_id) survives. This is the step that
      // actually shrinks the training set; d08 only labels it. One
      // left join of the corpus against the (tiny) component labels —
      // at 100 TB the label table is |clustered docs| rows, orders of
      // magnitude smaller than the corpus, and broadcasts.
      val comp = components(s,
        verifiedPairs(s, dir).select($"a_id", $"b_id"))
        .select($"id".as("doc_id"), $"lbl".as("canonical_id"))
      docs(s, dir).select($"doc_id", $"source")
        .join(broadcast(comp), Seq("doc_id"), "left")
        .withColumn("kept",
          $"canonical_id".isNull || $"canonical_id" === $"doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"source")
    },

    "d12_decontamination" -> { (s, dir) =>
      import s.implicits._
      // Benchmark DECONTAMINATION: which training docs overlap the eval
      // set? src0 plays the held-out benchmark; every other source is
      // training data. A training doc's contamination is the fraction
      // of its distinct 3-shingles that appear anywhere in the eval
      // set; exact/near copies of eval docs surface at ratio ≈ 1. The
      // eval shingle SET (not per-doc rows) drives the probe join — at
      // 100 TB the benchmark side is tiny and broadcasts, so the scan
      // of the training corpus stays shuffle-free up to the per-doc
      // count aggregation. Top 20 by ratio, deterministic tiebreaks.
      // Round-11 restructure after the block-pressure lesson: the
      // corpus-sized shingle stream is NEITHER materialized (its
      // checkpoint blocks evicted and rebuilt under full-board
      // pressure — the measured 0.8→3.4 s r10 regression) NOR derived
      // three times (the naive un-checkpointed form re-scanned the
      // corpus 6×, which the scan-multiplicity guard rightly bans at
      // 100 TB). Instead: TWO pruned scans total. The eval leg pushes
      // source = 'src0' into the parquet scan (the benchmark side is
      // tiny at any corpus scale — row groups skip); the train leg is
      // scanned ONCE because sizes and shared-counts merge into one
      // aggregation — a broadcast LEFT join against the eval set marks
      // hits, and a single per-doc groupBy counts (total, hits,
      // source) together. No md5 either: d12 joins on the raw shingle
      // string, so the hash column the generic helper derives would be
      // dead weight.
      def shingled(src: DataFrame): DataFrame = src
        .withColumn("toks", split($"text", " "))
        .select($"doc_id", $"source",
          explode(graft.functions.Shingle3($"toks")).as("sh"))
      val evalSet = shingled(docs(s, dir).filter($"source" === "src0"))
        .select($"sh").distinct()
      shingled(docs(s, dir).filter($"source" =!= "src0"))
        .join(broadcast(evalSet.withColumn("hit", lit(1L))),
          Seq("sh"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce($"hit", lit(0L))).as("n_shared"),
          min($"source").as("source"))
        .withColumn("ratio",
          round($"n_shared" / $"n_sh".cast("double"), 6))
        .select($"doc_id", $"source", $"n_sh", $"n_shared", $"ratio")
        .orderBy($"ratio".desc, $"doc_id")
        .limit(20)
    },

    "d22_contamination_spans" -> { (s, dir) =>
      import s.implicits._
      // Decontamination SPAN reporting — the EXCISION form of d12: d12
      // scores which training docs overlap the eval set, this op says
      // WHERE, as maximal runs of contaminated tokens, so a pipeline
      // can cut the spans and keep the doc instead of dropping it
      // (the standard n-gram-overlap treatment for long documents
      // whose contamination is a quoted benchmark item, not the text).
      // A token is contaminated when ANY eval-matching 3-gram covers
      // it; overlapping matches merge into islands (gaps-and-islands
      // on token index: tok − row_number). Scale shapes: the eval
      // 3-gram SET broadcasts (benchmarks are tiny at any corpus
      // scale); the positional shingle stream is a narrow map off the
      // scan — the first shuffle touches only MATCHED positions
      // (|hits|·3 tokens, not the corpus); the island window
      // partitions by doc over that hit-bounded set; the top-20 doc
      // cut is a tiny aggregate broadcast back onto its own spans.
      // Parity: all-integer arithmetic (token indices), so nothing
      // can drift; n_bad is CAST to BIGINT in the oracle (DuckDB
      // sum→HUGEINT would fail the dtype gate); tiebreak doc_id.
      val d = docs(s, dir)
        .select($"doc_id", $"source", split($"text", " ").as("toks"))
        .filter(size($"toks") >= 3) // sequence(0, n-3) descends if n<3
      // (doc_id, pos, sh): pos is the 1-based index of the 3-gram's
      // first token. Positional, so Shingle3 (which dedups per doc)
      // doesn't apply; the transform stays whole-stage codegen.
      def posShingles(df: DataFrame): DataFrame = df
        .select($"doc_id", posexplode(transform(
          sequence(lit(0), size($"toks") - 3),
          i => concat_ws(" ",
            element_at($"toks", i + 1),
            element_at($"toks", i + 2),
            element_at($"toks", i + 3)))))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("sh"))
      val evalSet = posShingles(d.filter($"source" === "src0"))
        .select($"sh").distinct()
      val hits = posShingles(d.filter($"source" =!= "src0"))
        .join(broadcast(evalSet), "sh")
      val badToks = hits
        .select($"doc_id", explode(sequence($"pos", $"pos" + 2)).as("tok"))
        .distinct()
      val wDoc = Window.partitionBy($"doc_id").orderBy($"tok")
      val spans = badToks
        .withColumn("island", $"tok" - row_number().over(wDoc))
        .groupBy($"doc_id", $"island")
        .agg(min($"tok").as("span_start"), max($"tok").as("span_end"))
      val top = spans.groupBy($"doc_id")
        .agg(sum($"span_end" - $"span_start" + 1).as("n_bad"))
        .orderBy($"n_bad".desc, $"doc_id").limit(20)
      spans.join(broadcast(top), "doc_id")
        .select($"doc_id", $"n_bad", $"span_start", $"span_end",
          ($"span_end" - $"span_start" + 1).as("span_tokens"))
        .orderBy($"doc_id", $"span_start")
    },

    "d15_winnowing_overlap" -> { (s, dir) =>
      import s.implicits._
      // MOSS-style overlap detection BETWEEN documents — the join form
      // of t12's per-doc fingerprints (one shared definition per
      // engine): docs sharing ≥3 winnowing fingerprints are overlap
      // candidates, scored by shared-fp count over the smaller doc's
      // fp set. Same scale shape as the d03 band join: an equi-join on
      // the fingerprint value, never all-pairs.
      //
      // The fingerprint stream is computed in EXPLODED codegen form
      // (position explode → per-shingle md5 → windowed min), NOT t12's
      // per-row nested-HOF arrays: this plan fans the fingerprint
      // subtree out to four consumers (both join sides, the df filter,
      // the size table), and under that reuse Catalyst's projection
      // collapse inlined toks→hs→fps into the interpreted lambdas —
      // re-splitting the text per element and re-hashing the shingle
      // array per window — turning a linear kernel O(n³)-ish per doc
      // (measured: a single scan task pinned for 5+ CPU-minutes at
      // sf0.1 on data whose true join size is ~800k pairs). The
      // exploded form is whole-stage-codegen end to end, linear by
      // construction, and its one extra exchange (doc_id-partitioned
      // window) is the same order of movement the fp join already pays.
      //
      // Skew guard, which is also MOSS's own rule: fingerprints
      // appearing in more than DfCap documents are suppressed before
      // the join. Window minima are biased toward globally SMALL
      // shingle hashes, so boilerplate floods single fp buckets at
      // corpus scale; the cap bounds the pair count at Σ df·DfCap —
      // linear, not quadratic, in corpus size — and a run shared only
      // through ubiquitous shingles is not evidence of copying.
      val base = docs(s, dir)
        .select($"doc_id", split($"text", " ").as("toks"))
        .withColumn("n", size($"toks"))
        .filter($"n" >= 6) // n_hs = n-2 >= 4 needed for any window
      val sh = base
        .select($"doc_id", $"toks", $"n",
          explode(expr("sequence(1, n - 2)")).as("i"))
        .select($"doc_id", $"n", $"i",
          expr(TextAnalysis.shingleHashSql).as("h"))
      val wnd = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"i")
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, 3)
      val f0 = sh.withColumn("fp", min($"h").over(wnd))
        .filter($"i" <= $"n" - 5) // complete 4-windows only
        .select($"doc_id", $"fp").distinct()
        // four consumers fork from the fingerprint table (rare, both
        // join sides, sizes) — materialized once, the verifiedPairs
        // rationale; |docs|·|fps per doc| rows, far below the
        // exploded shingle stream it derives from
        .localCheckpoint()
      val sizes = f0.groupBy($"doc_id").agg(count(lit(1)).as("n_fp"))
      val pairs = winnowCandidates(s, f0, DfCap)
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 3)
      pairs
        .join(sizes.toDF("a_id", "a_fp"), "a_id")
        .join(sizes.toDF("b_id", "b_fp"), "b_id")
        .select($"a_id", $"b_id", $"n_shared",
          round($"n_shared" /
            least($"a_fp", $"b_fp").cast("double"), 4).as("overlap"))
        .orderBy($"overlap".desc, $"a_id", $"b_id")
        .limit(25)
    },

    "d14_snapshot_upsert" -> { (s, dir) =>
      import s.implicits._
      // MERGE-style snapshot maintenance on plain parquet — the
      // slowly-changing-corpus operation every pipeline without a table
      // format runs: existing snapshot (version 1) unioned with an
      // update batch (docs with doc_id % 7 == 0 re-ingested with new
      // content, version 2), newest version per key wins, snapshot
      // rewritten. One shuffle on the key; the update side of the
      // union is batch-sized, so the cost is one snapshot shuffle —
      // the pattern a real table format (Delta/Iceberg) improves with
      // file-level skipping rather than a different algorithm. The
      // result hashes the winning content, so a wrong winner anywhere
      // goes red.
      val snap = docs(s, dir)
        .select($"doc_id", $"source", $"text", lit(1L).as("version"))
      val updates = docs(s, dir).filter($"doc_id" % 7 === 0)
        .select($"doc_id", $"source", upper($"text").as("text"),
          lit(2L).as("version"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"version".desc)
      snap.union(updates)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"source", $"version",
          md5($"text").as("content_md5"))
        .orderBy($"doc_id")
    },

    "d13_incremental_dedup" -> { (s, dir) =>
      import s.implicits._
      // Incremental-ingest dedup: the production mode — a NEW batch
      // arrives against an EXISTING corpus, and only fingerprints never
      // seen before are admitted (first copy within the batch wins; a
      // copy of anything already in the corpus is rejected outright).
      // doc_id % 5 = 4 plays the incoming batch, the rest the corpus.
      // Shapes: the corpus contributes ONE distinct-fingerprint pass
      // (at 100 TB that set is what an ingest service keeps materialized
      // — or a bloom filter of it pushed into the probe scan); the
      // probe join and the within-batch window both key on fp, so the
      // window reuses the join's hash partitioning — one shuffle of the
      // (small) batch side, no second exchange.
      val base = docs(s, dir)
        .withColumn("fp", md5(lower($"text")))
      val incoming = base.filter($"doc_id" % 5 === 4)
      val corpusFp = base.filter($"doc_id" % 5 =!= 4)
        .select($"fp").distinct().withColumn("in_corpus", lit(1))
      val w = Window.partitionBy($"fp").orderBy($"doc_id")
      incoming.join(corpusFp, Seq("fp"), "left")
        .withColumn("rn", row_number().over(w))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when($"in_corpus".isNull && $"rn" === 1, 1L).otherwise(0L))
            .as("n_admitted"),
          sum(when($"in_corpus".isNotNull, 1L).otherwise(0L))
            .as("n_rej_corpus"),
          sum(when($"in_corpus".isNull && $"rn" > 1, 1L).otherwise(0L))
            .as("n_rej_batch"))
        .orderBy($"source")
    },

    "d17_incremental_near_dedup" -> { (s, dir) =>
      import s.implicits._
      // Incremental NEAR-dup admission — d13's production ingest mode
      // upgraded from exact fingerprints to MinHash/LSH: an incoming
      // batch (doc_id % 5 = 4, d13's split) probes the corpus's
      // materialized band index; band collisions are candidates,
      // verified by estimated Jaccard ≥ 0.5 (d03's rule, shared slots
      // and bands). A verified corpus match rejects the newcomer
      // outright; otherwise a verified LOWER-id batch neighbor rejects
      // it (greedy first-wins within the batch, d16's rule); the rest
      // are admitted. Per-source funnel, every incoming doc in exactly
      // one bucket — corpus rejection takes precedence. Shapes at
      // 100 TB: the corpus contributes only its (band, id) index rows
      // to equi-joins (the index is what an ingest service keeps); the
      // batch side is small; signature rejoin for verification keys on
      // ids — never all-pairs.
      // materialized once (the verifiedPairs rationale): six narrow
      // consumers fork from sigs below
      val sigs = minhashCore(s, dir).localCheckpoint()
      val inc = sigs.filter($"doc_id" % 5 === 4)
      val corp = sigs.filter($"doc_id" % 5 =!= 4)
      val bInc = bandsOf(s, inc)
      val bCorp = bandsOf(s, corp).toDF("c_id", "band")
      val sa = sigs.toDF("a_id" +: (0 until 6).map(j => s"a$j"): _*)
      val sb = sigs.toDF("b_id" +: (0 until 6).map(j => s"b$j"): _*)
      val matches = (0 until 6).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
      def verified(cand: DataFrame): DataFrame = cand
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("est", round(matches / lit(6.0), 6))
        .filter($"est" >= 0.5)
      val rejCorpus = verified(
        bInc.join(bCorp, "band")
          .select($"c_id".as("a_id"), $"doc_id".as("b_id")).distinct())
        .select($"b_id".as("doc_id")).distinct()
        .withColumn("rej_corpus", lit(1))
      val a2 = bInc.toDF("a_id", "band")
      val b2 = bInc.toDF("b_id", "band2")
      val rejBatch = verified(
        a2.join(b2, $"band" === $"band2" && $"a_id" < $"b_id")
          .select($"a_id", $"b_id").distinct())
        .select($"b_id".as("doc_id")).distinct()
        .withColumn("rej_batch", lit(1))
      inc.select($"doc_id")
        .join(rejCorpus, Seq("doc_id"), "left")
        .join(rejBatch, Seq("doc_id"), "left")
        .join(docs(s, dir).select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when($"rej_corpus".isNotNull, 1L).otherwise(0L))
            .as("n_rej_corpus"),
          sum(when($"rej_corpus".isNull && $"rej_batch".isNotNull, 1L)
            .otherwise(0L)).as("n_rej_batch"),
          sum(when($"rej_corpus".isNull && $"rej_batch".isNull, 1L)
            .otherwise(0L)).as("n_admitted"))
        .orderBy($"source")
    },

    "d30_dedup_index_serving" -> { (s, dir) =>
      import s.implicits._
      // The SERVING-TIER admission path, driver-gated: the incoming
      // batch (doc_id % 5 = 4, d13/d17's split) probes the WRITTEN
      // DedupIndex — built once per (JVM, fixture) over the corpus
      // split by ServingIndexes, the e14 seeding discipline — and ONE
      // probe's verdict columns aggregate into BOTH rule families'
      // funnels: d13's exact-fingerprint funnel and d17's MinHash/LSH
      // near funnel, discriminated by a rule column and hash-matched
      // to the twins' own oracle SQL verbatim. DedupIndexSpec proves
      // the probe reads no corpus text and prunes both artifacts to
      // the batch's collision buckets; this row puts that production
      // path under the driver's gate. Scale: the probe costs the
      // batch's buckets, never the corpus; the funnel is a batch-side
      // groupBy.
      val idx = ServingIndexes.dedup(s, dir)
      val batch = docs(s, dir).select($"doc_id", $"text")
        .filter($"doc_id" % 5 === 4)
      // tiny (batch-sized, 5 narrow columns) and consumed by two
      // funnels with divergent column pruning — the localCheckpoint
      // exception case
      val decisions = DedupIndex.probe(s, idx, batch)
        .localCheckpoint()
      val withSource = decisions
        .join(docs(s, dir).select($"doc_id", $"source"), "doc_id")
      val exact = withSource.groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(!$"fp_in_corpus" && $"fp_batch_rn" === 1, 1L)
            .otherwise(0L)).as("n_admitted"),
          sum(when($"fp_in_corpus", 1L).otherwise(0L)).as("n_rej_corpus"),
          sum(when(!$"fp_in_corpus" && $"fp_batch_rn" > 1, 1L)
            .otherwise(0L)).as("n_rej_batch"))
        .select(lit("exact").as("rule"), $"source", $"n_incoming",
          $"n_admitted", $"n_rej_corpus", $"n_rej_batch")
      val near = withSource.groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(!$"near_rej_corpus" && !$"near_rej_batch", 1L)
            .otherwise(0L)).as("n_admitted"),
          sum(when($"near_rej_corpus", 1L).otherwise(0L))
            .as("n_rej_corpus"),
          sum(when(!$"near_rej_corpus" && $"near_rej_batch", 1L)
            .otherwise(0L)).as("n_rej_batch"))
        .select(lit("near").as("rule"), $"source", $"n_incoming",
          $"n_admitted", $"n_rej_corpus", $"n_rej_batch")
      exact.union(near).orderBy($"rule", $"source")
    },

    "d32_dedup_erasure_serving" -> { (s, dir) =>
      import s.implicits._
      // RIGHT-TO-ERASURE on the admission index, driver-gated: build
      // over the corpus split, delete doc_id%20==3 (tombstones),
      // COMPACT (fold into rewritten fps/bands via the crash-safe
      // swap), then probe the incoming batch. The oracle's membership
      // is the REDUCED corpus — an erased doc must STOP rejecting
      // newcomers on both rule families (its fingerprint and its
      // bands are gone), which is the erasure contract an ingest
      // service owes: a still-rejecting ghost flips the hash.
      val idx = ServingIndexes.dedupErase(s, dir)
      val batch = docs(s, dir).select($"doc_id", $"text")
        .filter($"doc_id" % 5 === 4)
      val decisions = DedupIndex.probe(s, idx, batch)
        .localCheckpoint() // tiny, two funnel consumers
      val withSource = decisions
        .join(docs(s, dir).select($"doc_id", $"source"), "doc_id")
      val exact = withSource.groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(!$"fp_in_corpus" && $"fp_batch_rn" === 1, 1L)
            .otherwise(0L)).as("n_admitted"),
          sum(when($"fp_in_corpus", 1L).otherwise(0L)).as("n_rej_corpus"),
          sum(when(!$"fp_in_corpus" && $"fp_batch_rn" > 1, 1L)
            .otherwise(0L)).as("n_rej_batch"))
        .select(lit("exact").as("rule"), $"source", $"n_incoming",
          $"n_admitted", $"n_rej_corpus", $"n_rej_batch")
      val near = withSource.groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(!$"near_rej_corpus" && !$"near_rej_batch", 1L)
            .otherwise(0L)).as("n_admitted"),
          sum(when($"near_rej_corpus", 1L).otherwise(0L))
            .as("n_rej_corpus"),
          sum(when(!$"near_rej_corpus" && $"near_rej_batch", 1L)
            .otherwise(0L)).as("n_rej_batch"))
        .select(lit("near").as("rule"), $"source", $"n_incoming",
          $"n_admitted", $"n_rej_corpus", $"n_rej_batch")
      exact.union(near).orderBy($"rule", $"source")
    },

    "d31_dedup_ingest_loop" -> { (s, dir) =>
      import s.implicits._
      // The admission loop CLOSED over time, driver-gated: batch 1
      // (doc_id % 10 = 4) probed the corpus index and its exact-rule
      // admits were APPENDED (ServingIndexes.dedupLoop seeds build →
      // probe → append once per JVM); this row probes batch 2
      // (doc_id % 10 = 9) against the post-append snapshot and gates
      // BOTH funnels — so a batch-2 copy of a batch-1 ADMIT must now
      // reject as a corpus hit (exact via its appended fingerprint,
      // near via its appended bands), and a batch-2 copy of a batch-1
      // REJECT must still admit. That time-dependence is exactly what
      // d30's single-probe gate cannot see, and what an ingest service
      // lives on. The oracle recomputes batch 1's admission and the
      // widened membership from the raw table. Scale: the probe costs
      // batch 2's collision buckets; the append was one anti-joined
      // delta write.
      //
      // Gate sensitivity (measured at sf0.1): 4 batch-2 docs
      // near-reject ONLY against batch-1 appended bands (36 vs 32
      // corpus-only rejections) — a silently failed append flips the
      // hash. The exact side is fixture-degenerate (no cross-split
      // exact dups at any SF; batch 1 admits ~everything), recorded
      // in SCALE.md.
      val idx = ServingIndexes.dedupLoop(s, dir)
      val batch2 = docs(s, dir).select($"doc_id", $"text")
        .filter($"doc_id" % 10 === 9)
      val decisions = DedupIndex.probe(s, idx, batch2)
        .localCheckpoint() // tiny, two funnel consumers
      val withSource = decisions
        .join(docs(s, dir).select($"doc_id", $"source"), "doc_id")
      val exact = withSource.groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(!$"fp_in_corpus" && $"fp_batch_rn" === 1, 1L)
            .otherwise(0L)).as("n_admitted"),
          sum(when($"fp_in_corpus", 1L).otherwise(0L)).as("n_rej_corpus"),
          sum(when(!$"fp_in_corpus" && $"fp_batch_rn" > 1, 1L)
            .otherwise(0L)).as("n_rej_batch"))
        .select(lit("exact").as("rule"), $"source", $"n_incoming",
          $"n_admitted", $"n_rej_corpus", $"n_rej_batch")
      val near = withSource.groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(!$"near_rej_corpus" && !$"near_rej_batch", 1L)
            .otherwise(0L)).as("n_admitted"),
          sum(when($"near_rej_corpus", 1L).otherwise(0L))
            .as("n_rej_corpus"),
          sum(when(!$"near_rej_corpus" && $"near_rej_batch", 1L)
            .otherwise(0L)).as("n_rej_batch"))
        .select(lit("near").as("rule"), $"source", $"n_incoming",
          $"n_admitted", $"n_rej_corpus", $"n_rej_batch")
      exact.union(near).orderBy($"rule", $"source")
    },

    "d25_admission_attribution" -> { (s, dir) =>
      import s.implicits._
      // WHY was my document dropped? The ATTRIBUTION table behind the
      // d13/d17 admission funnels: one row per REJECTED incoming doc
      // naming the rule that fired and the PARTNER document that
      // caused it (the minimum-id culprit — a deterministic choice),
      // in the funnel's own priority order exact_corpus > exact_batch
      // > near_corpus > near_batch, so the table is consistent with
      // the exact-then-near policy the funnels gate. This is the
      // ingest-ops debugging surface ("doc X rejected because it
      // duplicates corpus doc Y under rule R") — d18's
      // cascade-attribution discipline applied at the admission
      // boundary. Shapes: d13's fp join + window and d17's
      // band-collision joins with the existence flags upgraded to
      // min() aggregations — same shuffles, still never all-pairs.
      val base = docs(s, dir).withColumn("fp", md5(lower($"text")))
      val inc = base.filter($"doc_id" % 5 === 4)
        .select($"doc_id", $"source", $"fp")
      val exC = base.filter($"doc_id" % 5 =!= 4)
        .groupBy($"fp").agg(min($"doc_id").as("p_exact_corpus"))
      val incE = inc
        .withColumn("rn", row_number().over(
          Window.partitionBy($"fp").orderBy($"doc_id")))
        .withColumn("p_exact_batch",
          min($"doc_id").over(Window.partitionBy($"fp")))
      // six narrow consumers fork from sigs (the d17 rationale)
      val sigs = minhashCore(s, dir).localCheckpoint()
      val bInc = bandsOf(s, sigs.filter($"doc_id" % 5 === 4))
      val bCorp = bandsOf(s, sigs.filter($"doc_id" % 5 =!= 4))
        .toDF("c_id", "band")
      val sa = sigs.toDF("a_id" +: (0 until 6).map(j => s"a$j"): _*)
      val sb = sigs.toDF("b_id" +: (0 until 6).map(j => s"b$j"): _*)
      val matches = (0 until 6).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
      def verifiedMin(cand: DataFrame, out: String): DataFrame = cand
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("est", round(matches / lit(6.0), 6))
        .filter($"est" >= 0.5)
        .groupBy($"b_id").agg(min($"a_id").as(out))
        .withColumnRenamed("b_id", "doc_id")
      val pNearC = verifiedMin(
        bInc.join(bCorp, "band")
          .select($"c_id".as("a_id"), $"doc_id".as("b_id")).distinct(),
        "p_near_corpus")
      val a2 = bInc.toDF("a_id", "band")
      val b2 = bInc.toDF("b_id", "band2")
      val pNearB = verifiedMin(
        a2.join(b2, $"band" === $"band2" && $"a_id" < $"b_id")
          .select($"a_id", $"b_id").distinct(),
        "p_near_batch")
      incE.join(exC, Seq("fp"), "left")
        .join(pNearC, Seq("doc_id"), "left")
        .join(pNearB, Seq("doc_id"), "left")
        .withColumn("rule",
          when($"p_exact_corpus".isNotNull, "exact_corpus")
            .when($"rn" > 1, "exact_batch")
            .when($"p_near_corpus".isNotNull, "near_corpus")
            .when($"p_near_batch".isNotNull, "near_batch"))
        .filter($"rule".isNotNull)
        .withColumn("partner_id",
          when($"rule" === "exact_corpus", $"p_exact_corpus")
            .when($"rule" === "exact_batch", $"p_exact_batch")
            .when($"rule" === "near_corpus", $"p_near_corpus")
            .otherwise($"p_near_batch"))
        .select($"doc_id", $"source", $"rule", $"partner_id")
        .orderBy($"doc_id")
    },

    "d26_repeated_substrings" -> { (s, dir) =>
      import s.implicits._
      // Cross-document REPEATED-SUBSTRING mining — the exact-substring
      // dedup signal (the suffix-array treatment popularized for LLM
      // corpora), in distributed window form: any RepW-token window
      // whose text occurs ≥ 2 times ANYWHERE in the corpus (another
      // document or the same one — self-repetition is equally
      // removable redundancy) marks its tokens, and marked tokens
      // merge into maximal excisable spans — d22's gaps-and-islands
      // machinery pointed at corpus-internal repetition instead of an
      // eval set. A suffix array is the single-machine tool for this;
      // window hashing is the distributed one: discovery is a single
      // groupBy on the window hash (linear in corpus tokens, never
      // all-pairs), and a verbatim repeat of length L ≥ RepW is
      // guaranteed found because every one of its RepW-windows
      // repeats. Shapes at 100 TB: the window stream is a narrow
      // positional transform fused into the scan (md5 over a
      // slice-join — whole-stage codegen); the occurrence count is one
      // hash-keyed agg with map-side partials; only MATCHED positions
      // pay the islands window (partitioned by doc); the top-20 doc
      // cut is a tiny aggregate broadcast back onto its own spans.
      // Parity: all-integer span arithmetic; n_rep CAST BIGINT in the
      // oracle; tiebreaks on doc_id.
      val d = docs(s, dir)
        .select($"doc_id", split($"text", " ").as("toks"))
        .withColumn("n", size($"toks"))
        .filter($"n" >= RepW)
      val wins = d
        .select($"doc_id", $"toks",
          explode(sequence(lit(1), $"n" - (RepW - 1))).as("pos"))
        .select($"doc_id", $"pos",
          md5(concat_ws(" ", slice($"toks", $"pos", lit(RepW)))).as("wh"))
      val rep = wins.groupBy($"wh").agg(count(lit(1)).as("occ"))
        .filter($"occ" >= 2).select($"wh")
      val badToks = wins.join(rep, "wh")
        .select($"doc_id",
          explode(sequence($"pos", $"pos" + (RepW - 1))).as("tok"))
        .distinct()
      val wDoc = Window.partitionBy($"doc_id").orderBy($"tok")
      val spans = badToks
        .withColumn("island", $"tok" - row_number().over(wDoc))
        .groupBy($"doc_id", $"island")
        .agg(min($"tok").as("span_start"), max($"tok").as("span_end"))
      val top = spans.groupBy($"doc_id")
        .agg(sum($"span_end" - $"span_start" + 1).as("n_rep"))
        .orderBy($"n_rep".desc, $"doc_id").limit(20)
      spans.join(broadcast(top), "doc_id")
        .select($"doc_id", $"n_rep", $"span_start", $"span_end",
          ($"span_end" - $"span_start" + 1).as("span_tokens"))
        .orderBy($"doc_id", $"span_start")
    },

    "d27_split_leakage" -> { (s, dir) =>
      import s.implicits._
      // Does the train/val/test carve LEAK near-duplicates across the
      // boundary? p08 pins the split with a per-doc md5 coin — which
      // is deliberately content-blind, so two near-identical documents
      // can land on opposite sides, and the held-out loss then quietly
      // measures memorization (the contamination mode
      // dedup-BEFORE-split pipelines exist to prevent; this op is the
      // audit saying whether, and how much, the current corpus
      // violates that). One row per unordered split pair: d03's
      // verified near-dup pairs (operator unchanged) bucketed by the
      // splits of their two ends, is_leak marking cross-split mass.
      // Shapes at 100 TB: the split map is a narrow projection off the
      // scan joined on doc_id at each pair end (equi-joins, pair-set
      // sized); the terminal agg is at most 6 rows. DECIMAL sum before
      // the mean (order-insensitive), coin arithmetic identical to
      // p08's (16 divides the coin range — exactly uniform).
      val pairs = verifiedPairs(s, dir)
      val splits = docs(s, dir).select($"doc_id",
          expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), " +
            "16, 10) as bigint) % 16").as("b"))
        .select($"doc_id",
          when($"b" < 12, "train").when($"b" < 14, "val")
            .otherwise("test").as("split"))
      pairs
        .join(splits.toDF("a_id", "sa"), "a_id")
        .join(splits.toDF("b_id", "sb"), "b_id")
        .select(least($"sa", $"sb").as("split_lo"),
          greatest($"sa", $"sb").as("split_hi"), $"est_jaccard")
        .groupBy($"split_lo", $"split_hi")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum($"est_jaccard".cast("decimal(9,6)")).cast("double") /
            count(lit(1)), 6).as("avg_est_jaccard"))
        .withColumn("is_leak", $"split_lo" =!= $"split_hi")
        .orderBy($"split_lo", $"split_hi")
    },

    "d19_bloom_decontamination" -> { (s, dir) =>
      import s.implicits._
      // Decontamination for an eval set TOO BIG TO BROADCAST RAW — the
      // 100 TB form of d12. d12 broadcasts the eval shingle set itself,
      // which stops working when the held-out benchmark corpus is
      // terabytes; here the eval membership ships as a BLOOM FILTER
      // (Spark's own BloomFilterAggregate: one distributed pass,
      // partial filters OR-merged, a few MB for 10⁸ shingles), probed
      // scan-side as a scalar subquery. The bloom has no false
      // negatives, and the survivors — candidate matches only, not the
      // corpus — then EXACT-verify against the true eval set, so false
      // positives die in the join and the per-source accounting is
      // engine-exact: the oracle computes the same numbers with a plain
      // join and the hash gate proves the bloom changed nothing. At
      // scale the verify join shuffles |survivors| ≈ |true matches|
      // rows instead of every training shingle.
      val d = docs(s, dir).select($"doc_id", $"source")
      // the shingle stream feeds the bloom build, the probe side and
      // the verify join — materialized once, the verifiedPairs
      // rationale
      val sh = shingleHashes(s, dir).join(d, "doc_id")
        .localCheckpoint()
      val evalSet = sh.filter($"source" === "src0").select($"sh").distinct()
      val train = sh.filter($"source" =!= "src0")
      val bloom = evalSet
        .agg(graft.functions.BloomFilterFns.agg(
          xxhash64($"sh"), BloomItems, BloomBits).as("bf"))
        .scalar()
      val survivors = train.filter(
        graft.functions.BloomFilterFns.mightContain(bloom, xxhash64($"sh")))
      val shared = survivors.join(evalSet, "sh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      d.filter($"source" =!= "src0")
        .join(shared, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n_shared".isNotNull, 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(coalesce($"n_shared", lit(0L))).as("n_shared_total"))
        .orderBy($"source")
    },

    "d20_boilerplate_ngrams" -> { (s, dir) =>
      import s.implicits._
      // Cross-document BOILERPLATE detection (the CCNet/RefinedWeb
      // cleanup pass): a 3-gram that recurs across many DISTINCT
      // documents is template text — headers, footers, navigation,
      // license blurbs — and a doc's boilerplate FRACTION is the
      // curation signal (near-1 docs are pure chrome and get dropped;
      // the per-span removal pass reuses the same flag set). Differs
      // from winnowing (d15: sampled fingerprints, pairwise overlap)
      // and decontamination (d12/d19: membership against a FIXED eval
      // set) — here the "set" is corpus-global and data-derived.
      // The recurrence threshold is RELATIVE (0.2 % of corpus docs,
      // floor 2) in pure int64 arithmetic — a fixed absolute count
      // would mean a 100 TB corpus flags nearly every common phrase;
      // engines agree exactly because no floating literal is involved.
      // Shapes at 100 TB: Shingle3 emits per-doc-distinct shingles, so
      // doc-frequency is ONE wordcount shuffle with map-side partials;
      // the corpus doc count is a broadcast one-row aggregate; the
      // flag set joins back on the shingle string — an equi-join
      // shuffle sized by the shingle stream, the same bound every
      // other shingle operator on the board already pays. No window,
      // no all-pairs, no driver loop.
      val sh = docs(s, dir)
        .withColumn("toks", split($"text", " "))
        .select($"doc_id", explode(graft.functions.Shingle3($"toks")).as("sh"))
      val df = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      val tot = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val flags = df.crossJoin(broadcast(tot))
        .select($"sh",
          ($"df" >= expr("greatest(2, (n_docs + 499) div 500)")).as("boiler"))
      sh.join(flags, "sh")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"boiler", 1L).otherwise(0L)).as("n_boiler"))
        .select($"doc_id", $"n_shingles", $"n_boiler",
          round($"n_boiler" / $"n_shingles".cast("double"), 6)
            .as("boiler_frac"))
        .orderBy($"doc_id")
    },

    "d21_lsh_recall_audit" -> { (s, dir) =>
      import s.implicits._
      // QUALITY AUDIT of the MinHash/LSH dedup pipeline: on a
      // deterministic 30 % document sample (doc_id % 10 < 3), compare
      // the pipeline's verified pairs (band candidates → est Jaccard ≥
      // 0.5, exactly d03's operator) against ground truth — EXACT
      // shingle-set Jaccard ≥ 0.5 — and report recall and precision.
      // At 100 TB the truth set is uncomputable on the full corpus;
      // running the audit on a pinned sample IS the production form
      // (the sample fraction is the knob between audit cost and
      // confidence), and a deterministic id-hash frame means every
      // engine and every rerun audits the same pairs. The exact side
      // joins on shingle STRINGS (d05's collision rationale) and only
      // ever pairs docs sharing ≥ 1 shingle — candidate-bounded, never
      // all-pairs. One row out: the numbers a dedup-quality dashboard
      // plots per corpus snapshot.
      val sampleIds = docs(s, dir).filter($"doc_id" % 10 < 3)
        .select($"doc_id")
      val lsh = verifiedPairs(s, dir)
        .join(sampleIds.toDF("a_id"), "a_id")
        .join(sampleIds.toDF("b_id"), "b_id")
        .select($"a_id", $"b_id")
      // materialized AFTER the sample cut (30 % of shingle rows), with
      // three consumers below — the audit's truth side is the one
      // place the raw shingle stream is legitimately needed thrice
      val sh = shingleHashes(s, dir).join(sampleIds, "doc_id")
        .localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val a = sh.select($"doc_id".as("a_id"), $"sh")
      val b = sh.select($"doc_id".as("b_id"), $"sh")
      val truth = a.join(b, Seq("sh")).filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("n_inter"))
        .join(sizes.toDF("a_id", "na"), "a_id")
        .join(sizes.toDF("b_id", "nb"), "b_id")
        .filter(round($"n_inter" /
          ($"na" + $"nb" - $"n_inter").cast("double"), 6) >= 0.5)
        .select($"a_id", $"b_id")
      // one FULL OUTER pass over the union of pair sets produces all
      // three counts — the crossJoin-of-three-aggregates terminal it
      // replaces re-executed the truth lineage twice and the pipeline
      // lineage twice (the scan-audit finding: 8 documents reads)
      val cmp = truth.withColumn("t", lit(1))
        .join(lsh.withColumn("l", lit(1)), Seq("a_id", "b_id"),
          "full_outer")
      // empty denominators (sparse fixture: no truth pairs / no LSH
      // pairs in the sample) must be NULL explicitly — Spark's Divide
      // raises DIVIDE_BY_ZERO under ANSI (the Spark 4 default) and
      // returns NULL in legacy mode, while DuckDB has its own x/0
      // behavior; the guard sidesteps the ANSI error and pins both
      // engines to the same NULL on exactly the fixture where the
      // audit is least informative
      cmp.agg(count($"t").as("n_true"), count($"l").as("n_lsh"),
          count(when($"t" === 1 && $"l" === 1, 1)).as("n_hit"))
        .select($"n_true", $"n_lsh", $"n_hit",
          when($"n_true" > 0,
            round($"n_hit" / $"n_true".cast("double"), 6)).as("recall"),
          when($"n_lsh" > 0,
            round($"n_hit" / $"n_lsh".cast("double"), 6)).as("precision"))
    },

    "d23_lsh_operating_curve" -> { (s, dir) =>
      import s.implicits._
      // The TUNING TABLE behind d03's banding choice: every (bands ×
      // rows) factorization of the 6-slot signature — b6r1, b3r2
      // (shipped), b2r3, b1r6 — evaluated in ONE query on d21's
      // deterministic 30% audit sample: candidate volume (the cost
      // axis), verified pairs, and recall/precision against the exact
      // shingle-Jaccard truth (the quality axis). This is the
      // operating curve an operator actually reads before moving the
      // band knob on a 100 TB corpus — measured, not derived from the
      // idealized S-curve, so it reflects the corpus's real similarity
      // distribution. Scale shape: ONE pass over the sampled signature
      // frame explodes all configs' band keys (the cfg prefix keys the
      // join, so cross-config bands never meet), candidates stay
      // equi-join-bounded per config, verification reuses the shared
      // 6-slot estimate, and the truth side is d21's sample-bounded
      // exact join. A config whose sample yields zero candidates
      // reports no row (identically in the oracle).
      val sampleIds = docs(s, dir).filter($"doc_id" % 10 < 3)
        .select($"doc_id")
      val sigs = minhashCore(s, dir).join(sampleIds, "doc_id")
        .localCheckpoint()
      val cfgs = Seq((6, 1), (3, 2), (2, 3), (1, 6))
      val bandArr = array(cfgs.flatMap { case (nb, r) =>
        (0 until nb).map { bi =>
          concat_ws(":", lit(s"b${nb}r$r"), lit(bi),
            concat_ws("_", (0 until r).map(j => col(s"mh${bi * r + j}")): _*))
        }
      }: _*)
      val bands = sigs.select($"doc_id", explode(bandArr).as("band"))
      val aB = bands.as("a"); val bB = bands.as("b")
      val cand = aB.join(bB, col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(substring_index(col("a.band"), ":", 1).as("cfg"),
          col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val sa = sigs.toDF("a_id" +: (0 until 6).map(j => s"a$j"): _*)
      val sb = sigs.toDF("b_id" +: (0 until 6).map(j => s"b$j"): _*)
      val matches = (0 until 6).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
      val scored = cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("v",
          (round(matches / lit(6.0), 6) >= 0.5).cast("long"))
        .select($"cfg", $"a_id", $"b_id", $"v")
      val sh = shingleHashes(s, dir).join(sampleIds, "doc_id")
        .localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val ta = sh.select($"doc_id".as("a_id"), $"sh")
      val tb = sh.select($"doc_id".as("b_id"), $"sh")
      val truth = ta.join(tb, Seq("sh")).filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("n_inter"))
        .join(sizes.toDF("a_id", "na"), "a_id")
        .join(sizes.toDF("b_id", "nb"), "b_id")
        .filter(round($"n_inter" /
          ($"na" + $"nb" - $"n_inter").cast("double"), 6) >= 0.5)
        .select($"a_id", $"b_id")
        .localCheckpoint() // reused: per-cfg join + count
      val nTruth = truth.agg(count(lit(1)).as("n_true"))
      scored.join(truth.withColumn("t", lit(1)),
          Seq("a_id", "b_id"), "left")
        .groupBy($"cfg")
        .agg(count(lit(1)).as("n_candidates"),
          sum($"v").as("n_verified"),
          count(when($"v" === 1 && $"t" === 1, 1)).as("n_hit"))
        .crossJoin(broadcast(nTruth))
        .select($"cfg",
          substring($"cfg", 2, 1).cast("int").as("n_bands"),
          substring($"cfg", 4, 1).cast("int").as("rows_per_band"),
          $"n_candidates", $"n_verified", $"n_hit", $"n_true",
          when($"n_true" > 0,
            round($"n_hit" / $"n_true".cast("double"), 6)).as("recall"),
          when($"n_verified" > 0,
            round($"n_hit" / $"n_verified".cast("double"), 6))
            .as("precision"))
        .orderBy($"n_bands".desc)
    },

    "d28_simhash_radius_curve" -> { (s, dir) =>
      import s.implicits._
      // The OPERATING CURVE for d07's OTHER knob: the measured-knob
      // discipline (d23 LSH banding, s25 NProbe, p17 quality cuts)
      // applied to the SimHash verification radius. One query scores
      // every radius 0..6 on d21's deterministic 30% audit sample:
      // pair volume at hamming <= r (the cost axis) and
      // recall/precision against the exact shingle-Jaccard truth (the
      // quality axis) — the table an operator reads before moving
      // d07's `dist <= 3` cut on a 100 TB corpus. The honesty column
      // is `guaranteed_complete`: the shipped 4-chunk pigeonhole
      // generator only guarantees COMPLETE candidates for r <= 3, so
      // the r >= 4 rows measure the generator's recall ceiling, not
      // just the verifier's — widening the radius past the chunk
      // guarantee buys counted-but-uncertain extra pairs (visible as
      // recall flattening while the flag flips false). Scale shape:
      // ONE chunk equi-join produces candidates once with their exact
      // hamming distance (never all-pairs, never re-joined per
      // radius); the 7-radius fan-out is a broadcast theta-join
      // against a 7-row frame; truth is d23's sample-bounded exact
      // join, computed once.
      val sampleIds = docs(s, dir).filter($"doc_id" % 10 < 3)
        .select($"doc_id")
      val sim = simhashCore(s, dir).join(sampleIds, "doc_id")
        .localCheckpoint()
      val chunkArr = array((0 until NChunks).map { c =>
        lit(c.toLong * 65536L) +
          shiftright($"simhash", c * ChunkBits).bitwiseAND(65535L)
      }: _*)
      val chunks = sim.select($"doc_id", $"simhash",
        explode(chunkArr).as("chunk"))
      val a = chunks.toDF("a_id", "sim_a", "chunk")
      val b = chunks.toDF("b_id", "sim_b", "chunk_b")
      val cand = a.join(b, $"chunk" === $"chunk_b" && $"a_id" < $"b_id")
        .withColumn("dist", graft.functions.Hamming64($"sim_a", $"sim_b"))
        .filter($"dist" <= 6)
        .select($"a_id", $"b_id", $"dist").distinct()
      val sh = shingleHashes(s, dir).join(sampleIds, "doc_id")
        .localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val ta = sh.select($"doc_id".as("a_id"), $"sh")
      val tb = sh.select($"doc_id".as("b_id"), $"sh")
      val truth = ta.join(tb, Seq("sh")).filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("n_inter"))
        .join(sizes.toDF("a_id", "na"), "a_id")
        .join(sizes.toDF("b_id", "nb"), "b_id")
        .filter(round($"n_inter" /
          ($"na" + $"nb" - $"n_inter").cast("double"), 6) >= 0.5)
        .select($"a_id", $"b_id")
        .localCheckpoint() // reused: tag join + count
      val nTruth = truth.agg(count(lit(1)).as("n_true"))
      val tagged = cand.join(truth.withColumn("t", lit(1)),
        Seq("a_id", "b_id"), "left")
      val radii = (0L to 6L).toDF("radius")
      radii.join(tagged, $"dist" <= $"radius", "left")
        .groupBy($"radius")
        .agg(count($"dist").as("n_pairs"),
          count(when($"t" === 1, 1)).as("n_hit"))
        .crossJoin(broadcast(nTruth))
        .select($"radius", $"n_pairs", $"n_hit", $"n_true",
          when($"n_true" > 0,
            round($"n_hit" / $"n_true".cast("double"), 6)).as("recall"),
          when($"n_pairs" > 0,
            round($"n_hit" / $"n_pairs".cast("double"), 6))
            .as("precision"),
          ($"radius" <= 3).as("guaranteed_complete"))
        .orderBy($"radius")
    },

    "d29_cluster_size_histogram" -> { (s, dir) =>
      import s.implicits._
      // DUPLICATE-CLUSTER MASS DISTRIBUTION — the "how bad is it"
      // summary an operator reads before picking dedup aggressiveness:
      // for every cluster size (1 = unclustered, completing the
      // histogram), how many clusters, how many documents they hold,
      // the EXCESS copies dedup would remove ((size-1)·clusters), and
      // that excess as a corpus share. A corpus whose excess
      // concentrates in a few giant clusters needs the boilerplate
      // treatment (d20/d26); one whose excess spreads across many
      // pairs needs the pairwise pipeline — this table is how you
      // tell, and summed excess_share is the exact dedup savings
      // d11's survivor corpus realizes. Scale shapes: components over
      // the band-bounded verified pairs (d08's machinery, tiny
      // relative to the corpus), two label-keyed aggs, a 1-row corpus
      // total broadcast; the histogram is |distinct sizes| rows.
      val comp = components(s,
        verifiedPairs(s, dir).select($"a_id", $"b_id"))
      val sizes = comp.groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
      val hist = sizes.groupBy($"cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
      val total = docs(s, dir).agg(count(lit(1)).as("n_corpus"))
      val clustered = sizes
        .agg(coalesce(sum($"cluster_size"), lit(0L)).as("n_clustered"))
      val single = total.crossJoin(clustered)
        .select(lit(1L).as("cluster_size"),
          ($"n_corpus" - $"n_clustered").as("n_clusters"))
      hist.select($"cluster_size", $"n_clusters").union(single)
        .crossJoin(broadcast(total))
        .select($"cluster_size", $"n_clusters",
          ($"cluster_size" * $"n_clusters").as("n_docs"),
          (($"cluster_size" - 1) * $"n_clusters").as("n_excess"),
          round((($"cluster_size" - 1) * $"n_clusters") /
            $"n_corpus".cast("double"), 6).as("excess_share"))
        .orderBy($"cluster_size")
    },

    "d24_cross_source_dup_matrix" -> { (s, dir) =>
      import s.implicits._
      // WHERE the duplication lives: d03's verified near-dup pairs
      // attributed to SOURCE pairs — the curation signal that tells an
      // operator which feeds copy each other (a mirror scraped twice,
      // a crawl overlapping a curated dump) before they spend a dedup
      // pass on the wrong corpus half. Diagonal rows (lo = hi) are
      // within-source duplication; off-diagonal rows name the TWO
      // feeds to reconcile. Scale: the pair stream is d03's
      // band-bounded candidate set (never all-pairs); attribution is
      // two narrow id→source joins; the output is a |sources|² agg.
      // Parity: est_jaccard values sum as DECIMAL (exact, any order);
      // the mean is ONE double division of exact inputs at the end.
      val src = docs(s, dir).select($"doc_id", $"source")
      verifiedPairs(s, dir)
        .join(src.toDF("a_id", "src_a"), "a_id")
        .join(src.toDF("b_id", "src_b"), "b_id")
        .select(least($"src_a", $"src_b").as("source_lo"),
          greatest($"src_a", $"src_b").as("source_hi"),
          $"est_jaccard".cast("decimal(9,6)").as("est"))
        .groupBy($"source_lo", $"source_hi")
        .agg(count(lit(1)).as("n_pairs"), sum($"est").as("sum_e"))
        .select($"source_lo", $"source_hi", $"n_pairs",
          round($"sum_e".cast("double") / $"n_pairs", 6)
            .as("avg_est_jaccard"))
        .orderBy($"source_lo", $"source_hi")
    },

    "d18_dup_cascade" -> { (s, dir) =>
      // Duplication-cascade attribution via WITH RECURSIVE submitted
      // through spark.sql — Spark 4's recursive-CTE surface exercised
      // end to end on real operator output. Each duplicate is
      // attributed to ONE primary source — its minimum-id near-dup
      // predecessor — so the edges form a FOREST: the recursion's
      // frontier is O(nodes) at every depth (each node has exactly one
      // parent chain), never a path-count explosion, and a dense
      // boilerplate clique costs k rows, not C(k, depth) paths. Roots
      // are docs with no predecessor (true cascade origins, not
      // interior duplicates). Spark does not yet allow distinct UNION
      // in recursive CTEs, so the all-paths reachability form would
      // blow up combinatorially on exactly the flooded-cluster case a
      // dedup audit exists for — the tree form is both the bounded one
      // and the right audit semantics (every duplicate counted once).
      // Per root: how many docs ultimately trace their primary
      // duplication source to it, and the deepest chain.
      // MATERIALIZE the pair set before recursing: every recursion step
      // joins the edges view, and an unmaterialized view would re-run
      // the full shingle→MinHash→band derivation once per step
      // (measured: 8.2 s vs ~2 s at sf0.1). localCheckpoint truncates
      // the lineage — the same treatment d08 gives its iterated labels —
      // but NON-eagerly: the pair set materializes inside the query's
      // own first job, so merely CONSTRUCTING this DataFrame runs no
      // Spark job (the rest of the queries map is construction-lazy;
      // r4's eager checkpoint also skewed per-query bench attribution).
      // View name is dir-hashed (d10's pattern): a fixed name would
      // race across interleaved constructions on a shared session. The
      // view exists only for sql()'s ANALYSIS — resolution inlines the
      // plan into the returned DataFrame — and is dropped immediately,
      // leaving no catalog entry behind for the session's lifetime.
      val view = s"d18_pairs_${Integer.toHexString(dir.hashCode)}"
      verifiedPairs(s, dir)
        .select("a_id", "b_id").localCheckpoint()
        .createOrReplaceTempView(view)
      val out = s.sql(
        s"""WITH RECURSIVE edges AS (
           |  SELECT b_id AS child, min(a_id) AS parent FROM $view
           |  GROUP BY b_id),
           |roots AS (
           |  SELECT DISTINCT parent FROM edges
           |  WHERE parent NOT IN (SELECT child FROM edges)),
           |r(root, node, depth) AS (
           |  SELECT parent, parent, 0 FROM roots
           |  UNION ALL
           |  SELECT r.root, e.child, r.depth + 1
           |  FROM r JOIN edges e ON r.node = e.parent
           |  WHERE r.depth < $CascadeMaxDepth)
           |SELECT root AS doc_id,
           |  count(*) - 1 AS n_descendants,
           |  max(depth) AS max_depth
           |FROM r GROUP BY root
           |ORDER BY n_descendants DESC, doc_id LIMIT 20""".stripMargin)
      s.catalog.dropTempView(view)
      out
    },

    "d10_stream_dedup" -> { (s, dir) =>
      import s.implicits._
      // STREAMING dedup through the engine: the same exact-dedup
      // semantics as d01, computed by Structured Streaming's stateful
      // dropDuplicates — the shape an ingest pipeline uses to dedup a
      // firehose before it ever lands. Keyed on (source, fingerprint)
      // so the survivor's attribution is deterministic (cross-partition
      // arrival order is not; the fixture's 8 exact dups are
      // cross-source, FIXTURES.md). Downstream complete-mode aggregate
      // per source is then hash-gated against DuckDB's batch
      // count(DISTINCT). At scale the dedup state is one fingerprint
      // per distinct doc per state partition; a real firehose bounds it
      // with a watermark (the watermarked variant is spec-covered in
      // StreamingDedupSpec).
      graft.streaming.MemoryGate.complete(s,
        Tables.loadStream(s, dir, "documents")
          .withColumn("fp", md5(lower($"text")))
          .dropDuplicates("source", "fp")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_unique_docs")),
        "d10_out_" + Integer.toHexString(dir.hashCode))
        .orderBy($"source")
    },

    "d06_embedding_near_dups" -> { (s, dir) =>
      import s.implicits._
      // Embedding-cosine near-dup: within-label blocked self-join (the
      // fixture's clusters), cosine via double-precision zip_with dot.
      // Threshold 0.45 exercises the operator on this fixture (real
      // pipelines use ~0.95); unblocked + IVF variants in Similarity.
      labelCosPairs(s, dir)
        .filter($"cos" >= 0.45)
        .select($"a_id", $"b_id", $"label", $"cos")
        .orderBy($"a_id", $"b_id")
    },

    "d16_semantic_dedup" -> { (s, dir) =>
      import s.implicits._
      // SemDeDup (Abbas et al. 2023) — embedding-space dedup APPLIED,
      // not just listed (d06 lists pairs): within each cluster (the
      // fixture's label cells standing in for the paper's k-means
      // cells), a vector is dropped when any LOWER-id vector of the
      // same cell sits within the similarity threshold; survivors are
      // the cell's exemplars. The deterministic lowest-id-wins keep
      // rule restated join-wise: one equi-join on the cell key (never
      // all-pairs — the clustering exists precisely to bound the pair
      // set, d06's shared labelCosPairs), a distinct over dropped ids,
      // and per-cell accounting whose shuffles carry only (cell, id)
      // pairs. τ = 0.35 splits the synthetic fixture non-trivially
      // (real embedding spaces run ~0.95+); threshold-agnostic
      // machinery.
      val dropped = labelCosPairs(s, dir)
        .filter($"cos" >= SemDedupTau)
        .select($"label", $"b_id").distinct()
      val drops = dropped.groupBy($"label")
        .agg(count(lit(1)).as("n_dropped"))
      Tables.load(s, dir, "embeddings")
        .groupBy($"label").agg(count(lit(1)).as("n_vectors"))
        .join(drops, Seq("label"), "left")
        .select($"label", $"n_vectors",
          coalesce($"n_dropped", lit(0L)).as("n_dropped"),
          ($"n_vectors" - coalesce($"n_dropped", lit(0L))).as("n_kept"))
        .orderBy($"label")
    })

  def oracle: Map[String, String] = {
    val mhCols = As.zip(Bs).zipWithIndex.map { case ((a, b), j) =>
      s"min(($a * h + $b) % $P) AS mh$j"
    }.mkString(", ")
    val bandSelects = (0 until 3).map { bnd =>
      s"SELECT doc_id, $bnd || ':' || mh${2 * bnd} || ':' || mh${2 * bnd + 1} AS band FROM sigs"
    }.mkString(" UNION ALL ")
    val matchSum = (0 until 6).map(j =>
      s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END").mkString(" + ")
    val bitSumCols = (0 until SimhashBits).map { i =>
      val (arr, sh) = if (i < 32) ("hb", i) else ("ha", i - 32)
      s"sum((($arr >> $sh) & 1) * 2 - 1) AS s$i"
    }.mkString(", ")
    // CAST keeps the bit-63 term (int64 min, a HUGEINT literal in
    // DuckDB's lexer) a BIGINT so the assembled simhash column matches
    // Spark's LongType; terms are added low-bit-first, so every partial
    // sum stays inside int64.
    val simhashExpr = (0 until SimhashBits).map(i =>
      s"CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")

    // shared by the in-plan rows (d13/d17) and the artifact-serving
    // row (d30): the serving tier must hash-match the SAME funnels
    val d13Sql =
      """WITH base AS (
        |  SELECT doc_id, source, md5(lower(text)) AS fp FROM documents),
        |incoming AS (SELECT * FROM base WHERE doc_id % 5 = 4),
        |corpus AS (
        |  SELECT DISTINCT fp, 1 AS in_corpus FROM base
        |  WHERE doc_id % 5 <> 4),
        |marked AS (
        |  SELECT i.source, c.in_corpus,
        |    row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id) AS rn
        |  FROM incoming i LEFT JOIN corpus c ON c.fp = i.fp)
        |SELECT source, count(*) AS n_incoming,
        |  CAST(sum(CASE WHEN in_corpus IS NULL AND rn = 1
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        |  CAST(sum(CASE WHEN in_corpus IS NOT NULL
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_corpus,
        |  CAST(sum(CASE WHEN in_corpus IS NULL AND rn > 1
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_batch
        |FROM marked GROUP BY source ORDER BY source""".stripMargin
    val d17Sql =
      s"""WITH $shingleHashSql,
         |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
         |bands AS ($bandSelects),
         |binc AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
         |bcorp AS (SELECT * FROM bands WHERE doc_id % 5 <> 4),
         |rejc AS (
         |  SELECT DISTINCT cand.b_id AS doc_id FROM (
         |    SELECT DISTINCT c.doc_id AS a_id, i.doc_id AS b_id
         |    FROM binc i JOIN bcorp c ON i.band = c.band) cand
         |  JOIN sigs sa ON sa.doc_id = cand.a_id
         |  JOIN sigs sb ON sb.doc_id = cand.b_id
         |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
         |rejb AS (
         |  SELECT DISTINCT cand.b_id AS doc_id FROM (
         |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |    FROM binc a JOIN binc b
         |      ON a.band = b.band AND a.doc_id < b.doc_id) cand
         |  JOIN sigs sa ON sa.doc_id = cand.a_id
         |  JOIN sigs sb ON sb.doc_id = cand.b_id
         |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
         |inc AS (SELECT doc_id FROM sigs WHERE doc_id % 5 = 4)
         |SELECT d.source, count(*) AS n_incoming,
         |  CAST(sum(CASE WHEN rc.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_rej_corpus,
         |  CAST(sum(CASE WHEN rc.doc_id IS NULL AND rb.doc_id IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_batch,
         |  CAST(sum(CASE WHEN rc.doc_id IS NULL AND rb.doc_id IS NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
         |FROM inc
         |JOIN documents d ON d.doc_id = inc.doc_id
         |LEFT JOIN rejc rc ON rc.doc_id = inc.doc_id
         |LEFT JOIN rejb rb ON rb.doc_id = inc.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin

    Map(
      "d01_exact_dedup" ->
        """SELECT doc_id, fp, n_copies FROM (
          |  SELECT doc_id, md5(lower(text)) AS fp,
          |    row_number() OVER (PARTITION BY md5(lower(text))
          |      ORDER BY doc_id) AS rn,
          |    count(*) OVER (PARTITION BY md5(lower(text))) AS n_copies
          |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "d02_minhash_signatures" ->
        s"""WITH $shingleHashSql
           |SELECT doc_id, $mhCols
           |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "d03_minhash_near_dups" ->
        s"""WITH $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id)
           |SELECT a_id, b_id, round(($matchSum) / 6.0, 6) AS est_jaccard
           |FROM cand
           |JOIN sigs sa ON sa.doc_id = a_id
           |JOIN sigs sb ON sb.doc_id = b_id
           |WHERE round(($matchSum) / 6.0, 6) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,

      "d24_cross_source_dup_matrix" ->
        s"""WITH $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |pairs AS (
           |  SELECT a_id, b_id, round(($matchSum) / 6.0, 6) AS est
           |  FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5)
           |SELECT least(da.source, db.source) AS source_lo,
           |  greatest(da.source, db.source) AS source_hi,
           |  count(*) AS n_pairs,
           |  round(CAST(sum(CAST(est AS DECIMAL(9,6))) AS DOUBLE)
           |    / count(*), 6) AS avg_est_jaccard
           |FROM pairs
           |JOIN documents da ON da.doc_id = a_id
           |JOIN documents db ON db.doc_id = b_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "d21_lsh_recall_audit" ->
        s"""WITH $shingleHashSql,
           |sample AS (
           |  SELECT doc_id FROM documents WHERE doc_id % 10 < 3),
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |lsh AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  JOIN sample pa ON pa.doc_id = a_id
           |  JOIN sample pb ON pb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |ssh AS (
           |  SELECT s.doc_id, s.sh FROM sh s
           |  JOIN sample p ON p.doc_id = s.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ssh
           |          GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    count(*) AS n_inter
           |  FROM ssh a JOIN ssh b
           |    ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT a_id, b_id FROM inter
           |  JOIN sizes sa ON sa.doc_id = a_id
           |  JOIN sizes sb ON sb.doc_id = b_id
           |  WHERE round(n_inter /
           |    CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5),
           |hit AS (
           |  SELECT t.a_id FROM truth t
           |  JOIN lsh l ON l.a_id = t.a_id AND l.b_id = t.b_id)
           |SELECT (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM lsh) AS n_lsh,
           |  (SELECT count(*) FROM hit) AS n_hit,
           |  round((SELECT count(*) FROM hit) /
           |    CAST(NULLIF((SELECT count(*) FROM truth), 0) AS DOUBLE),
           |    6) AS recall,
           |  round((SELECT count(*) FROM hit) /
           |    CAST(NULLIF((SELECT count(*) FROM lsh), 0) AS DOUBLE),
           |    6) AS precision
           |""".stripMargin,

      "d23_lsh_operating_curve" -> {
        val sweepBands = Seq((6, 1), (3, 2), (2, 3), (1, 6)).flatMap {
          case (nb, r) =>
            (0 until nb).map { bi =>
              val slots = (0 until r).map(j => s"mh${bi * r + j}")
                .mkString(" || '_' || ")
              s"SELECT doc_id, 'b${nb}r$r' || ':' || $bi || ':' || " +
                s"$slots AS band FROM ssigs"
            }
        }.mkString(" UNION ALL ")
        s"""WITH $shingleHashSql,
           |sample AS (
           |  SELECT doc_id FROM documents WHERE doc_id % 10 < 3),
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |ssigs AS (SELECT sigs.* FROM sigs JOIN sample USING (doc_id)),
           |bands AS ($sweepBands),
           |cand AS (
           |  SELECT DISTINCT split_part(a.band, ':', 1) AS cfg,
           |    a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |scored AS (
           |  SELECT cfg, a_id, b_id,
           |    CASE WHEN round(($matchSum) / 6.0, 6) >= 0.5
           |         THEN 1 ELSE 0 END AS v
           |  FROM cand
           |  JOIN ssigs sa ON sa.doc_id = a_id
           |  JOIN ssigs sb ON sb.doc_id = b_id),
           |ssh AS (
           |  SELECT s.doc_id, s.sh FROM sh s
           |  JOIN sample p ON p.doc_id = s.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ssh
           |          GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    count(*) AS n_inter
           |  FROM ssh a JOIN ssh b
           |    ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT a_id, b_id FROM inter
           |  JOIN sizes sa ON sa.doc_id = a_id
           |  JOIN sizes sb ON sb.doc_id = b_id
           |  WHERE round(n_inter /
           |    CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5),
           |j AS (
           |  SELECT s.cfg, s.v,
           |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t
           |  FROM scored s LEFT JOIN truth t
           |    ON t.a_id = s.a_id AND t.b_id = s.b_id)
           |SELECT cfg,
           |  CAST(substr(cfg, 2, 1) AS INT) AS n_bands,
           |  CAST(substr(cfg, 4, 1) AS INT) AS rows_per_band,
           |  count(*) AS n_candidates,
           |  CAST(sum(v) AS BIGINT) AS n_verified,
           |  count(CASE WHEN v = 1 AND t = 1 THEN 1 END) AS n_hit,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  round(count(CASE WHEN v = 1 AND t = 1 THEN 1 END) /
           |    CAST(NULLIF((SELECT count(*) FROM truth), 0) AS DOUBLE),
           |    6) AS recall,
           |  round(count(CASE WHEN v = 1 AND t = 1 THEN 1 END) /
           |    CAST(NULLIF(CAST(sum(v) AS BIGINT), 0) AS DOUBLE),
           |    6) AS precision
           |FROM j GROUP BY cfg ORDER BY n_bands DESC""".stripMargin
      },

      "d28_simhash_radius_curve" -> {
        val chunkSelects = (0 until NChunks).map { c =>
          s"SELECT doc_id, simhash, " +
            s"'$c:' || ((simhash >> ${c * ChunkBits}) & 65535) " +
            "AS chunk FROM sim"
        }.mkString(" UNION ALL ")
        s"""WITH $shingleHashSql,
           |sample AS (
           |  SELECT doc_id FROM documents WHERE doc_id % 10 < 3),
           |bits AS (SELECT doc_id, $bitSumCols FROM hashed GROUP BY doc_id),
           |sim AS (
           |  SELECT b.doc_id, $simhashExpr AS simhash
           |  FROM bits b JOIN sample USING (doc_id)),
           |chunks AS ($chunkSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |    bit_count(xor(a.simhash, b.simhash)) AS dist
           |  FROM chunks a JOIN chunks b
           |    ON a.chunk = b.chunk AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
           |ssh AS (
           |  SELECT s.doc_id, s.sh FROM sh s
           |  JOIN sample p ON p.doc_id = s.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ssh
           |          GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    count(*) AS n_inter
           |  FROM ssh a JOIN ssh b
           |    ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT a_id, b_id FROM inter
           |  JOIN sizes sa ON sa.doc_id = a_id
           |  JOIN sizes sb ON sb.doc_id = b_id
           |  WHERE round(n_inter /
           |    CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5),
           |ct AS (
           |  SELECT c.dist,
           |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t
           |  FROM cand c LEFT JOIN truth t
           |    ON t.a_id = c.a_id AND t.b_id = c.b_id),
           |radii AS (
           |  SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT)
           |    AS radius)
           |SELECT radius,
           |  count(dist) AS n_pairs,
           |  count(CASE WHEN t = 1 THEN 1 END) AS n_hit,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  round(count(CASE WHEN t = 1 THEN 1 END) /
           |    CAST(NULLIF((SELECT count(*) FROM truth), 0) AS DOUBLE),
           |    6) AS recall,
           |  round(count(CASE WHEN t = 1 THEN 1 END) /
           |    CAST(NULLIF(count(dist), 0) AS DOUBLE), 6) AS precision,
           |  radius <= 3 AS guaranteed_complete
           |FROM radii LEFT JOIN ct ON ct.dist <= radii.radius
           |GROUP BY radius ORDER BY radius""".stripMargin
      },

      "d18_dup_cascade" ->
        s"""WITH RECURSIVE $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |edges AS (
           |  SELECT b_id AS child, min(a_id) AS parent FROM pairs
           |  GROUP BY b_id),
           |roots AS (
           |  SELECT DISTINCT parent FROM edges
           |  WHERE parent NOT IN (SELECT child FROM edges)),
           |r(root, node, depth) AS (
           |  SELECT parent, parent, 0 FROM roots
           |  UNION ALL
           |  SELECT r.root, e.child, r.depth + 1
           |  FROM r JOIN edges e ON r.node = e.parent
           |  WHERE r.depth < $CascadeMaxDepth)
           |SELECT root AS doc_id,
           |  CAST(count(*) - 1 AS BIGINT) AS n_descendants,
           |  max(depth) AS max_depth
           |FROM r GROUP BY root
           |ORDER BY n_descendants DESC, doc_id LIMIT 20""".stripMargin,

      "d25_admission_attribution" ->
        s"""WITH $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |base AS (
           |  SELECT doc_id, source, md5(lower(text)) AS fp
           |  FROM documents),
           |inc AS (
           |  SELECT doc_id, source, fp,
           |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
           |    min(doc_id) OVER (PARTITION BY fp) AS p_exact_batch
           |  FROM base WHERE doc_id % 5 = 4),
           |exc AS (
           |  SELECT fp, min(doc_id) AS p_exact_corpus
           |  FROM base WHERE doc_id % 5 <> 4 GROUP BY fp),
           |binc AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
           |bcorp AS (SELECT * FROM bands WHERE doc_id % 5 <> 4),
           |nearc AS (
           |  SELECT cand.b_id AS doc_id,
           |    CAST(min(cand.a_id) AS BIGINT) AS p_near_corpus FROM (
           |    SELECT DISTINCT c.doc_id AS a_id, i.doc_id AS b_id
           |    FROM binc i JOIN bcorp c ON i.band = c.band) cand
           |  JOIN sigs sa ON sa.doc_id = cand.a_id
           |  JOIN sigs sb ON sb.doc_id = cand.b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5
           |  GROUP BY cand.b_id),
           |nearb AS (
           |  SELECT cand.b_id AS doc_id,
           |    CAST(min(cand.a_id) AS BIGINT) AS p_near_batch FROM (
           |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |    FROM binc a JOIN binc b
           |      ON a.band = b.band AND a.doc_id < b.doc_id) cand
           |  JOIN sigs sa ON sa.doc_id = cand.a_id
           |  JOIN sigs sb ON sb.doc_id = cand.b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5
           |  GROUP BY cand.b_id)
           |SELECT i.doc_id, i.source,
           |  CASE WHEN e.p_exact_corpus IS NOT NULL THEN 'exact_corpus'
           |       WHEN i.rn > 1 THEN 'exact_batch'
           |       WHEN nc.p_near_corpus IS NOT NULL THEN 'near_corpus'
           |       WHEN nb.p_near_batch IS NOT NULL THEN 'near_batch'
           |  END AS rule,
           |  CASE WHEN e.p_exact_corpus IS NOT NULL THEN e.p_exact_corpus
           |       WHEN i.rn > 1 THEN i.p_exact_batch
           |       WHEN nc.p_near_corpus IS NOT NULL THEN nc.p_near_corpus
           |       ELSE nb.p_near_batch END AS partner_id
           |FROM inc i
           |LEFT JOIN exc e ON e.fp = i.fp
           |LEFT JOIN nearc nc ON nc.doc_id = i.doc_id
           |LEFT JOIN nearb nb ON nb.doc_id = i.doc_id
           |WHERE (e.p_exact_corpus IS NOT NULL OR i.rn > 1
           |  OR nc.p_near_corpus IS NOT NULL OR nb.p_near_batch IS NOT NULL)
           |ORDER BY i.doc_id""".stripMargin,

      "d26_repeated_substrings" ->
        s"""WITH tok AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) >= $RepW),
           |win AS (
           |  SELECT doc_id, i AS pos,
           |    md5(array_to_string(toks[i:i + ${RepW - 1}], ' ')) AS wh
           |  FROM tok, LATERAL (
           |    SELECT unnest(generate_series(1, len(toks) - ${RepW - 1}))
           |      AS i)),
           |rep AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
           |bad_tok AS (
           |  SELECT DISTINCT w.doc_id, t.tok
           |  FROM win w JOIN rep USING (wh), LATERAL (
           |    SELECT unnest(generate_series(w.pos, w.pos + ${RepW - 1}))
           |      AS tok) t),
           |isl AS (
           |  SELECT doc_id, tok,
           |    tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok)
           |      AS island
           |  FROM bad_tok),
           |spans AS (
           |  SELECT doc_id, island,
           |    min(tok) AS span_start, max(tok) AS span_end
           |  FROM isl GROUP BY doc_id, island),
           |top AS (
           |  SELECT doc_id,
           |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_rep
           |  FROM spans GROUP BY doc_id
           |  ORDER BY n_rep DESC, doc_id LIMIT 20)
           |SELECT s.doc_id, n_rep, span_start, span_end,
           |  span_end - span_start + 1 AS span_tokens
           |FROM spans s JOIN top USING (doc_id)
           |ORDER BY s.doc_id, span_start""".stripMargin,

      "d27_split_leakage" ->
        s"""WITH $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |pairs AS (
           |  SELECT a_id, b_id, round(($matchSum) / 6.0, 6) AS est
           |  FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |spl AS (
           |  SELECT doc_id,
           |    CASE WHEN b < 12 THEN 'train' WHEN b < 14 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           |      % 16 AS b FROM documents))
           |SELECT least(a.split, b.split) AS split_lo,
           |  greatest(a.split, b.split) AS split_hi,
           |  count(*) AS n_pairs,
           |  round(CAST(sum(CAST(est AS DECIMAL(9,6))) AS DOUBLE)
           |    / count(*), 6) AS avg_est_jaccard,
           |  least(a.split, b.split) <> greatest(a.split, b.split)
           |    AS is_leak
           |FROM pairs
           |JOIN spl a ON a.doc_id = a_id
           |JOIN spl b ON b.doc_id = b_id
           |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin,

      "d17_incremental_near_dedup" -> d17Sql,

      "d08_dedup_components" ->
        s"""WITH RECURSIVE $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |und AS (SELECT a_id AS a, b_id AS b FROM pairs
           |        UNION SELECT b_id, a_id FROM pairs),
           |nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
           |reach(a, b) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
           |SELECT a AS doc_id, min(b) AS canonical_id
           |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

      "d29_cluster_size_histogram" ->
        s"""WITH RECURSIVE $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |und AS (SELECT a_id AS a, b_id AS b FROM pairs
           |        UNION SELECT b_id, a_id FROM pairs),
           |nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
           |reach(a, b) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
           |comp AS (SELECT a AS doc_id, min(b) AS lbl
           |         FROM reach GROUP BY a),
           |sizes AS (SELECT lbl, count(*) AS cluster_size
           |          FROM comp GROUP BY lbl),
           |hist AS (SELECT cluster_size, count(*) AS n_clusters
           |         FROM sizes GROUP BY 1),
           |tot AS (SELECT count(*) AS n_corpus FROM documents),
           |clus AS (SELECT COALESCE(CAST(sum(cluster_size) AS BIGINT), 0)
           |           AS n_clustered FROM sizes),
           |fl AS (
           |  SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           |    CAST(n_clusters AS BIGINT) AS n_clusters FROM hist
           |  UNION ALL
           |  SELECT CAST(1 AS BIGINT), n_corpus - n_clustered
           |  FROM tot CROSS JOIN clus)
           |SELECT cluster_size, n_clusters,
           |  cluster_size * n_clusters AS n_docs,
           |  (cluster_size - 1) * n_clusters AS n_excess,
           |  round((cluster_size - 1) * n_clusters
           |    / CAST(n_corpus AS DOUBLE), 6) AS excess_share
           |FROM fl CROSS JOIN tot ORDER BY cluster_size""".stripMargin,

      "d09_salted_components" ->
        s"""WITH RECURSIVE $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a_id, b_id FROM (
           |    SELECT min(doc_id) OVER (PARTITION BY band) AS a_id,
           |           doc_id AS b_id
           |    FROM bands) x WHERE a_id <> b_id),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |und AS (SELECT a_id AS a, b_id AS b FROM pairs
           |        UNION SELECT b_id, a_id FROM pairs),
           |nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
           |reach(a, b) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
           |SELECT a AS doc_id, min(b) AS canonical_id
           |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

      "d04_simhash" ->
        s"""WITH $shingleHashSql,
           |bits AS (SELECT doc_id, $bitSumCols FROM hashed GROUP BY doc_id)
           |SELECT doc_id, $simhashExpr AS simhash
           |FROM bits ORDER BY doc_id""".stripMargin,

      "d05_ngram_jaccard_top_pairs" ->
        s"""WITH $shingleHashSql,
           |tagged AS (
           |  SELECT s.doc_id, s.sh, d.source FROM sh s
           |  JOIN documents d ON d.doc_id = s.doc_id),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
           |  FROM tagged a JOIN tagged b
           |    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id)
           |SELECT a_id, b_id,
           |  round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6)
           |    AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = a_id
           |JOIN sizes sb ON sb.doc_id = b_id
           |ORDER BY jaccard DESC, a_id, b_id LIMIT 10""".stripMargin,

      // d34: directed containment over the same shingle sets —
      // counts are integer-exact, both scores and the gap derive from
      // the same IEEE divisions in both engines, flags compare the
      // 6dp-rounded values
      "d34_containment_pairs" -> containmentOracle,

      // d36 runs the SAME contract through the prefix-filtered
      // candidate generator (exact by the pigeonhole bound), so its
      // oracle IS d34's — the shared-val pattern, never duplicated
      // text; the gate proves the generator swap changes nothing.
      "d36_containment_prefix_filtered" -> containmentOracle,

      // d37: the oracle recomputes BOTH admission verdicts from the
      // corpus tables — exact fingerprint membership and the verified
      // LSH band rule (shared band AND 6-slot estimated Jaccard ≥
      // 0.5) — for the same two probe texts the SQL row sends through
      // graft_dedup_check (read from documents by id, so the oracle
      // never embeds the text literal).
      "d37_sql_dedup_check" -> {
        val pMatch = (0 until 6).map(j =>
          s"CASE WHEN sp.mh$j = sc.mh$j THEN 1 ELSE 0 END")
          .mkString(" + ")
        val pBands = (0 until 3).map(b =>
          s"SELECT probe, '$b:' || mh${2 * b} || ':' || mh${2 * b + 1} " +
            "AS band FROM psigs").mkString(" UNION ALL ")
        val cBands = (0 until 3).map(b =>
          s"SELECT doc_id, '$b:' || mh${2 * b} || ':' || mh${2 * b + 1} " +
            "AS band FROM csigs").mkString(" UNION ALL ")
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
           |csh AS (
           |  SELECT DISTINCT doc_id, sh FROM (
           |    SELECT doc_id, unnest($shingleSql) AS sh
           |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
           |          FROM corpus))),
           |chashed AS (
           |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h
           |  FROM csh),
           |csigs AS (SELECT doc_id, $mhCols FROM chashed GROUP BY doc_id),
           |cbands AS ($cBands),
           |cfps AS (SELECT DISTINCT md5(lower(text)) AS fp FROM corpus),
           |probes AS (
           |  SELECT 'corpus_copy' AS probe, text FROM documents
           |  WHERE doc_id = 0
           |  UNION ALL
           |  SELECT 'held_out' AS probe, text FROM documents
           |  WHERE doc_id = 4),
           |psh AS (
           |  SELECT DISTINCT probe, sh FROM (
           |    SELECT probe, unnest($shingleSql) AS sh
           |    FROM (SELECT probe, string_split(text, ' ') AS toks
           |          FROM probes))),
           |phashed AS (
           |  SELECT probe, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h
           |  FROM psh),
           |psigs AS (SELECT probe, $mhCols FROM phashed GROUP BY probe),
           |pbands AS ($pBands),
           |near AS (
           |  SELECT DISTINCT p.probe FROM pbands p
           |  JOIN cbands c ON p.band = c.band
           |  JOIN psigs sp ON sp.probe = p.probe
           |  JOIN csigs sc ON sc.doc_id = c.doc_id
           |  WHERE round(($pMatch) / 6.0, 6) >= 0.5)
           |SELECT probe,
           |  md5(lower(text)) IN (SELECT fp FROM cfps) AS fp_in_corpus,
           |  probe IN (SELECT probe FROM near) AS near_rej_corpus
           |FROM probes ORDER BY probe""".stripMargin
      },

      // d35: the oracle replays the dedupMaint lifecycle — corpus
      // split membership, the erasure rule as tombstones, the same
      // fused signature/band pipeline (sh → md5-28bit → MinHash → 3×2
      // bands) — and the same decision arithmetic (unrounded
      // divisions in the booleans, like the Spark side).
      "d35_dedup_maintenance_decision" ->
        s"""WITH m AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
           |sh AS (
           |  SELECT DISTINCT doc_id, sh FROM (
           |    SELECT doc_id, unnest($shingleSql) AS sh
           |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
           |          FROM m))),
           |hashed AS (
           |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h
           |  FROM sh),
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |live AS (SELECT * FROM bands WHERE doc_id % 20 <> 3),
           |per AS (SELECT band, count(*) AS n FROM live GROUP BY band),
           |nd AS (SELECT count(*) AS n_docs FROM m),
           |nt AS (SELECT count(*) AS n_tomb FROM m WHERE doc_id % 20 = 3),
           |bm AS (SELECT count(*) AS n_band_values,
           |    CAST(sum(n) AS BIGINT) AS n_band_rows_live,
           |    max(n) AS max_bucket,
           |    CAST(sum(n * n) AS BIGINT) AS ss FROM per)
           |SELECT n_docs, n_tomb,
           |  round(CAST(n_tomb AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           |    AS tomb_frac,
           |  n_band_values, n_band_rows_live, max_bucket,
           |  round(CAST(n_band_values * ss AS DOUBLE)
           |    / CAST(n_band_rows_live * n_band_rows_live AS DOUBLE), 6)
           |    AS band_imbalance,
           |  CAST(n_tomb AS DOUBLE) / CAST(n_docs AS DOUBLE)
           |    >= CAST($DedupTombMax AS DOUBLE) AS tomb_exceeded,
           |  CAST(n_band_values * ss AS DOUBLE)
           |    / CAST(n_band_rows_live * n_band_rows_live AS DOUBLE)
           |    > CAST($DedupBandLambdaMax AS DOUBLE) AS band_exceeded,
           |  (CAST(n_tomb AS DOUBLE) / CAST(n_docs AS DOUBLE)
           |     >= CAST($DedupTombMax AS DOUBLE)
           |   OR CAST(n_band_values * ss AS DOUBLE)
           |     / CAST(n_band_rows_live * n_band_rows_live AS DOUBLE)
           |     > CAST($DedupBandLambdaMax AS DOUBLE)) AS compact
           |FROM nd CROSS JOIN nt CROSS JOIN bm""".stripMargin,

      "d07_simhash_near_dups" -> {
        val chunkSelects = (0 until NChunks).map { c =>
          s"SELECT doc_id, simhash, " +
            s"'$c:' || ((simhash >> ${c * ChunkBits}) & 65535) " +
            "AS chunk FROM sim"
        }.mkString(" UNION ALL ")
        s"""WITH $shingleHashSql,
           |bits AS (SELECT doc_id, $bitSumCols FROM hashed GROUP BY doc_id),
           |sim AS (SELECT doc_id, $simhashExpr AS simhash FROM bits),
           |chunks AS ($chunkSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |    a.simhash AS sim_a, b.simhash AS sim_b
           |  FROM chunks a JOIN chunks b
           |    ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
           |SELECT a_id, b_id, bit_count(xor(sim_a, sim_b)) AS dist
           |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
           |ORDER BY a_id, b_id""".stripMargin
      },

      "d10_stream_dedup" ->
        """SELECT source, count(DISTINCT md5(lower(text))) AS n_unique_docs
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,

      "d11_canonical_corpus" ->
        s"""WITH RECURSIVE $shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sigs sa ON sa.doc_id = a_id
           |  JOIN sigs sb ON sb.doc_id = b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |und AS (SELECT a_id AS a, b_id AS b FROM pairs
           |        UNION SELECT b_id, a_id FROM pairs),
           |nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
           |reach(a, b) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
           |comp AS (
           |  SELECT a AS doc_id, min(b) AS canonical_id
           |  FROM reach GROUP BY a)
           |SELECT d.source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN c.canonical_id IS NULL
           |                  OR c.canonical_id = d.doc_id
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin,

      "d19_bloom_decontamination" ->
        s"""WITH $shingleHashSql,
           |tagged AS (
           |  SELECT s.doc_id, s.sh, d.source FROM sh s
           |  JOIN documents d ON d.doc_id = s.doc_id),
           |evalset AS (
           |  SELECT DISTINCT sh FROM tagged WHERE source = 'src0'),
           |train AS (SELECT * FROM tagged WHERE source <> 'src0'),
           |shared AS (
           |  SELECT t.doc_id, count(*) AS n_shared FROM train t
           |  JOIN evalset e ON e.sh = t.sh GROUP BY t.doc_id)
           |SELECT d.source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN h.n_shared IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_contaminated,
           |  CAST(sum(coalesce(h.n_shared, 0)) AS BIGINT)
           |    AS n_shared_total
           |FROM documents d LEFT JOIN shared h ON h.doc_id = d.doc_id
           |WHERE d.source <> 'src0'
           |GROUP BY d.source ORDER BY d.source""".stripMargin,

      "d20_boilerplate_ngrams" ->
        s"""WITH $shingleHashSql,
           |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
           |tot AS (SELECT count(*) AS n_docs FROM documents),
           |flags AS (
           |  SELECT sh, df >= greatest(2, (n_docs + 499) // 500) AS boiler
           |  FROM df CROSS JOIN tot),
           |per AS (
           |  SELECT s.doc_id, count(*) AS n_shingles,
           |    CAST(sum(CASE WHEN f.boiler THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_boiler
           |  FROM sh s JOIN flags f ON s.sh = f.sh
           |  GROUP BY s.doc_id)
           |SELECT doc_id, n_shingles, n_boiler,
           |  round(n_boiler / CAST(n_shingles AS DOUBLE), 6) AS boiler_frac
           |FROM per ORDER BY doc_id""".stripMargin,

      "d12_decontamination" ->
        s"""WITH $shingleHashSql,
           |tagged AS (
           |  SELECT s.doc_id, s.sh, d.source FROM sh s
           |  JOIN documents d ON d.doc_id = s.doc_id),
           |evalset AS (
           |  SELECT DISTINCT sh FROM tagged WHERE source = 'src0'),
           |train AS (SELECT * FROM tagged WHERE source <> 'src0'),
           |sizes AS (
           |  SELECT doc_id, count(*) AS n_sh, min(source) AS source
           |  FROM train GROUP BY doc_id),
           |shared AS (
           |  SELECT t.doc_id, count(*) AS n_shared FROM train t
           |  JOIN evalset e ON e.sh = t.sh GROUP BY t.doc_id)
           |SELECT s.doc_id, s.source, s.n_sh,
           |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
           |  round(coalesce(h.n_shared, 0) / CAST(s.n_sh AS DOUBLE), 6)
           |    AS ratio
           |FROM sizes s LEFT JOIN shared h ON h.doc_id = s.doc_id
           |ORDER BY ratio DESC, s.doc_id LIMIT 20""".stripMargin,

      "d22_contamination_spans" ->
        """WITH tok AS (
          |  SELECT doc_id, source, string_split(text, ' ') AS toks
          |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
          |pos AS (
          |  SELECT doc_id, source, i AS pos,
          |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
          |  FROM tok, LATERAL (
          |    SELECT unnest(generate_series(1, len(toks) - 2)) AS i)),
          |ev AS (SELECT DISTINCT sh FROM pos WHERE source = 'src0'),
          |bad_tok AS (
          |  SELECT DISTINCT p.doc_id, t.tok
          |  FROM pos p JOIN ev USING (sh), LATERAL (
          |    SELECT unnest(generate_series(p.pos, p.pos + 2)) AS tok) t
          |  WHERE p.source <> 'src0'),
          |isl AS (
          |  SELECT doc_id, tok,
          |    tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok)
          |      AS island
          |  FROM bad_tok),
          |spans AS (
          |  SELECT doc_id, island,
          |    min(tok) AS span_start, max(tok) AS span_end
          |  FROM isl GROUP BY doc_id, island),
          |top AS (
          |  SELECT doc_id,
          |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_bad
          |  FROM spans GROUP BY doc_id
          |  ORDER BY n_bad DESC, doc_id LIMIT 20)
          |SELECT s.doc_id, n_bad, span_start, span_end,
          |  span_end - span_start + 1 AS span_tokens
          |FROM spans s JOIN top USING (doc_id)
          |ORDER BY s.doc_id, span_start""".stripMargin,

      "d15_winnowing_overlap" ->
        s"""WITH ${TextAnalysis.winnowSqlCtes},
           |f0 AS (SELECT doc_id, t.fp FROM m, unnest(fps) AS t(fp)),
           |rare AS (
           |  SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= $DfCap),
           |f AS (SELECT f0.doc_id, f0.fp FROM f0 JOIN rare USING (fp)),
           |sizes AS (SELECT doc_id, len(fps) AS n_fp FROM m),
           |pairs AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    count(*) AS n_shared
           |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2
           |  HAVING count(*) >= 3)
           |SELECT a_id, b_id, n_shared,
           |  round(n_shared /
           |    CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 4) AS overlap
           |FROM pairs
           |JOIN sizes sa ON sa.doc_id = a_id
           |JOIN sizes sb ON sb.doc_id = b_id
           |ORDER BY overlap DESC, a_id, b_id LIMIT 25""".stripMargin,

      "d14_snapshot_upsert" ->
        """WITH snap AS (
          |  SELECT doc_id, source, text, 1 AS version FROM documents),
          |upd AS (
          |  SELECT doc_id, source, upper(text) AS text, 2 AS version
          |  FROM documents WHERE doc_id % 7 = 0),
          |merged AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY doc_id ORDER BY version DESC) AS rn
          |  FROM (SELECT * FROM snap UNION ALL SELECT * FROM upd))
          |SELECT doc_id, source, CAST(version AS BIGINT) AS version,
          |  md5(text) AS content_md5
          |FROM merged WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "d13_incremental_dedup" -> d13Sql,

      // d32: the erasure oracle narrows the corpus membership on BOTH
      // rule families before scoring the batch — a deleted doc's
      // fingerprint and bands must stop rejecting
      "d32_dedup_erasure_serving" ->
        s"""WITH base AS (
           |  SELECT doc_id, source, md5(lower(text)) AS fp
           |  FROM documents),
           |corpfp AS (
           |  SELECT DISTINCT fp FROM base
           |  WHERE doc_id % 5 <> 4 AND doc_id % 20 <> 3),
           |b AS (SELECT doc_id, source, fp FROM base WHERE doc_id % 5 = 4),
           |exm AS (
           |  SELECT b.doc_id, b.source,
           |    CASE WHEN m.fp IS NOT NULL THEN 1 END AS in_corpus,
           |    row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id)
           |      AS rn
           |  FROM b LEFT JOIN corpfp m ON m.fp = b.fp),
           |exfun AS (
           |  SELECT source, count(*) AS n_incoming,
           |    CAST(sum(CASE WHEN in_corpus IS NULL AND rn = 1
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |    CAST(sum(CASE WHEN in_corpus IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_corpus,
           |    CAST(sum(CASE WHEN in_corpus IS NULL AND rn > 1
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_batch
           |  FROM exm GROUP BY source),
           |$shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |bcorp AS (
           |  SELECT * FROM bands
           |  WHERE doc_id % 5 <> 4 AND doc_id % 20 <> 3),
           |binc AS (SELECT * FROM bands WHERE doc_id % 5 = 4),
           |rejc AS (
           |  SELECT DISTINCT cand.b_id AS doc_id FROM (
           |    SELECT DISTINCT c.doc_id AS a_id, i.doc_id AS b_id
           |    FROM binc i JOIN bcorp c ON i.band = c.band) cand
           |  JOIN sigs sa ON sa.doc_id = cand.a_id
           |  JOIN sigs sb ON sb.doc_id = cand.b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |rejb AS (
           |  SELECT DISTINCT cand.b_id AS doc_id FROM (
           |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |    FROM binc a JOIN binc b
           |      ON a.band = b.band AND a.doc_id < b.doc_id) cand
           |  JOIN sigs sa ON sa.doc_id = cand.a_id
           |  JOIN sigs sb ON sb.doc_id = cand.b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |nearfun AS (
           |  SELECT b.source, count(*) AS n_incoming,
           |    CAST(sum(CASE WHEN rc.doc_id IS NULL AND rb.doc_id IS NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |    CAST(sum(CASE WHEN rc.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_rej_corpus,
           |    CAST(sum(CASE WHEN rc.doc_id IS NULL
           |             AND rb.doc_id IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_batch
           |  FROM b
           |  LEFT JOIN rejc rc ON rc.doc_id = b.doc_id
           |  LEFT JOIN rejb rb ON rb.doc_id = b.doc_id
           |  GROUP BY b.source)
           |SELECT 'exact' AS rule, source, n_incoming, n_admitted,
           |  n_rej_corpus, n_rej_batch FROM exfun
           |UNION ALL
           |SELECT 'near' AS rule, source, n_incoming, n_admitted,
           |  n_rej_corpus, n_rej_batch FROM nearfun
           |ORDER BY rule, source""".stripMargin,

      // d31: the loop oracle recomputes batch 1's exact-rule admission
      // and widens BOTH membership sets (fingerprints and bands) with
      // it before scoring batch 2 — the raw-table truth of what the
      // post-append index holds
      "d31_dedup_ingest_loop" ->
        s"""WITH base AS (
           |  SELECT doc_id, source, md5(lower(text)) AS fp
           |  FROM documents),
           |corpfp AS (SELECT DISTINCT fp FROM base WHERE doc_id % 5 <> 4),
           |b1 AS (
           |  SELECT doc_id, fp, row_number() OVER (
           |    PARTITION BY fp ORDER BY doc_id) AS rn
           |  FROM base WHERE doc_id % 10 = 4),
           |adm1 AS (
           |  SELECT b1.doc_id, b1.fp FROM b1
           |  LEFT JOIN corpfp c ON c.fp = b1.fp
           |  WHERE c.fp IS NULL AND b1.rn = 1),
           |memfp AS (SELECT fp FROM corpfp UNION SELECT fp FROM adm1),
           |b2 AS (SELECT doc_id, source, fp FROM base
           |       WHERE doc_id % 10 = 9),
           |exm AS (
           |  SELECT b2.doc_id, b2.source,
           |    CASE WHEN m.fp IS NOT NULL THEN 1 END AS in_corpus,
           |    row_number() OVER (PARTITION BY b2.fp ORDER BY b2.doc_id)
           |      AS rn
           |  FROM b2 LEFT JOIN memfp m ON m.fp = b2.fp),
           |exfun AS (
           |  SELECT source, count(*) AS n_incoming,
           |    CAST(sum(CASE WHEN in_corpus IS NULL AND rn = 1
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |    CAST(sum(CASE WHEN in_corpus IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_corpus,
           |    CAST(sum(CASE WHEN in_corpus IS NULL AND rn > 1
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_batch
           |  FROM exm GROUP BY source),
           |$shingleHashSql,
           |sigs AS (SELECT doc_id, $mhCols FROM hashed GROUP BY doc_id),
           |bands AS ($bandSelects),
           |bmem AS (
           |  SELECT b.* FROM bands b
           |  WHERE b.doc_id % 5 <> 4
           |     OR b.doc_id IN (SELECT doc_id FROM adm1)),
           |binc2 AS (SELECT * FROM bands WHERE doc_id % 10 = 9),
           |rejc2 AS (
           |  SELECT DISTINCT cand.b_id AS doc_id FROM (
           |    SELECT DISTINCT c.doc_id AS a_id, i.doc_id AS b_id
           |    FROM binc2 i JOIN bmem c ON i.band = c.band) cand
           |  JOIN sigs sa ON sa.doc_id = cand.a_id
           |  JOIN sigs sb ON sb.doc_id = cand.b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |rejb2 AS (
           |  SELECT DISTINCT cand.b_id AS doc_id FROM (
           |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |    FROM binc2 a JOIN binc2 b
           |      ON a.band = b.band AND a.doc_id < b.doc_id) cand
           |  JOIN sigs sa ON sa.doc_id = cand.a_id
           |  JOIN sigs sb ON sb.doc_id = cand.b_id
           |  WHERE round(($matchSum) / 6.0, 6) >= 0.5),
           |nearfun AS (
           |  SELECT b2.source, count(*) AS n_incoming,
           |    CAST(sum(CASE WHEN rc.doc_id IS NULL AND rb.doc_id IS NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |    CAST(sum(CASE WHEN rc.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_rej_corpus,
           |    CAST(sum(CASE WHEN rc.doc_id IS NULL
           |             AND rb.doc_id IS NOT NULL
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_batch
           |  FROM b2
           |  LEFT JOIN rejc2 rc ON rc.doc_id = b2.doc_id
           |  LEFT JOIN rejb2 rb ON rb.doc_id = b2.doc_id
           |  GROUP BY b2.source)
           |SELECT 'exact' AS rule, source, n_incoming, n_admitted,
           |  n_rej_corpus, n_rej_batch FROM exfun
           |UNION ALL
           |SELECT 'near' AS rule, source, n_incoming, n_admitted,
           |  n_rej_corpus, n_rej_batch FROM nearfun
           |ORDER BY rule, source""".stripMargin,

      // d30 serves d13's exact funnel AND d17's near funnel from the
      // written DedupIndex in one probe — the oracles are the twins'
      // own SQL verbatim, discriminated by a rule column
      "d30_dedup_index_serving" ->
        s"""SELECT 'exact' AS rule, source, n_incoming, n_admitted,
           |  n_rej_corpus, n_rej_batch
           |FROM ($d13Sql)
           |UNION ALL
           |SELECT 'near' AS rule, source, n_incoming, n_admitted,
           |  n_rej_corpus, n_rej_batch
           |FROM ($d17Sql)
           |ORDER BY rule, source""".stripMargin,

      "d06_embedding_near_dups" ->
        """WITH e AS (
          |  SELECT vec_id, label, embedding::DOUBLE[] AS v
          |  FROM embeddings),
          |n AS (SELECT vec_id, label, v,
          |        sqrt(list_dot_product(v, v)) AS nrm FROM e)
          |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
          |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
          |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.45
          |ORDER BY a_id, b_id""".stripMargin,

      "d16_semantic_dedup" ->
        s"""WITH e AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |n AS (SELECT vec_id, label, v,
           |        sqrt(list_dot_product(v, v)) AS nrm FROM e),
           |dropped AS (
           |  SELECT DISTINCT a.label, b.vec_id AS b_id
           |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
           |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
           |        >= $SemDedupTau),
           |drops AS (
           |  SELECT label, count(*) AS n_dropped FROM dropped
           |  GROUP BY label),
           |tot AS (SELECT label, count(*) AS n_vectors FROM e
           |        GROUP BY label)
           |SELECT t.label, t.n_vectors,
           |  CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           |  CAST(t.n_vectors - coalesce(d.n_dropped, 0) AS BIGINT)
           |    AS n_kept
           |FROM tot t LEFT JOIN drops d ON t.label = d.label
           |ORDER BY t.label""".stripMargin)
  }
}
