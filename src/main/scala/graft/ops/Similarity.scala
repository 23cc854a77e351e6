package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Similarity search over the `embeddings` fixture (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline, a
  * random-hyperplane LSH approximate variant, and an IVF-style
  * centroid-probe variant — the two standard scale paths for ANN on a
  * cluster (SURVEY.md §2.4).
  *
  * Everything is oracle-replicable: hyperplanes are derived from md5 (so
  * DuckDB computes the identical planes), dots are sequential
  * double-precision folds on both engines, and every emitted float is
  * rounded identically.
  *
  * Scale posture (100 TB):
  *  - brute force is O(|queries|·|corpus|): fine when the query side is
  *    small enough to broadcast (it is here, and usually is — the
  *    corpus side stays partitioned and is scanned once);
  *  - LSH turns that into an equi-join on an 8-bit bucket key
  *    (2^8 buckets → ~1/256 of the pairs), the right shape for a
  *    shuffle join at any corpus size;
  *  - IVF probes the nprobe nearest coarse cells only; the centroid
  *    table is tiny and broadcast, and the cell assignment is one pass.
  */
object Similarity {

  private val Dim = 64
  private val NPlanes = 8   // census bucket width (s02)
  private val NTables = 4   // LSH tables for ANN (s03)
  private val TBits = 6     // planes per table
  private[ops] val K = 5
  private[ops] val NProbe = 2
  private val NQueries = 10 // query set: vec_id < 10
  /** d33's semantic-admission threshold on the refined chain's top-1
    * exact squared L2: the fixture's batch→corpus min-d2 quantiles at
    * sf0.01 are 0.97 / 1.23 / 1.28 / 1.36 (p0/p25/p50/p90), so 1.2
    * splits the batch non-vacuously. The VERDICT is deterministic at
    * any threshold (both engines compare the identical 6-dp decimal);
    * the number itself is a fixture calibration, not a claim — a
    * deployment calibrates on its own distance distribution (the
    * AdmissionStackSpec discipline).
    */
  private val SemAdmitD2 = 1.2

  /** s35's widened query set for the residual-vs-raw A/B: the r10
    * verdict flagged s24-vs-s20 as noise-dominated at 10 queries ×
    * K=5 (50 Bernoulli trials — a 0.04 recall gap is ~½σ); 100
    * queries × 5 = 500 trials puts σ(recall) ≈ 0.022, enough to
    * resolve a real encoding gap ≥ ~5 pp. Still fixture-bound: 256
    * training points and near-random vectors cap what ANY sample can
    * say about the encodings — SCALE.md records the measured outcome.
    */
  private val ABQueries = 100
  private val RerankC = 50 // s11: stage-1 candidates per query

  /** s28's candidate-depth axis: brackets the shipped RerankC (= max)
    * from below, the d23/s25/p17 bracketing discipline. */
  private val RerankDepths = Seq(5, 10, 25, 50)

  /** The refined chain's OWN coarse probe depth and rerank depth
    * (s29/s30/s31; `AnnIndex.searchRefined` ships the same defaults).
    * Round 11 moved them from (NProbe=2, depth=50) — refined recall@5
    * 0.38 at sf0.1, with s30 pinning the loss to candidates the
    * coarse cut never proposes — to the measured elbow of the JOINT
    * (nprobe × depth) grid:
    *
    *   depth:     25    50    100   200
    *   np=2      0.28  0.38  0.46  0.52
    *   np=3      0.26  0.42  0.56  0.62
    *   np=5      0.24  0.36  0.58  0.70
    *   np=6      0.28  0.38  0.60  0.74
    *   np=8      0.28  0.38  0.56  0.78
    *
    * Depth dominates (the fixture's near-random vectors give ADC a
    * weak ordering, so true neighbors sit deep in the candidate list),
    * but depth saturates per probe level — np=2 caps at 0.54 (s25's
    * ceiling) no matter the depth. (5, 200) is the elbow: recall 0.70
    * at HALF the probed-list bytes of the degenerate all-cells np=8
    * (which pays 60% more ADC work for +0.08), and 200 ≈ 40·K refine
    * fetches per query — inside FAISS's published k_factor rerank
    * range. The non-refined searches keep NProbe=2: their gates
    * (s04/s19/s23) measure the PROBE trade itself, and s25 documents
    * that curve.
    */
  private[graft] val RefineNProbe = 5
  private[graft] val RefineDepth = 200

  /** s31's depth axis: brackets the shipped RefineDepth (= max) from
    * below, the d23/s25/p17 bracketing discipline. */
  private val RefineDepths = Seq(25, 50, 100, 200)

  private[ops] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** The IVF coarse index: per-label mean-vector centroids, computed in
    * one positional-explode pass. ONE definition shared by s04 (probe)
    * and s13 (refine) so the index the refiner maintains is exactly the
    * index the searcher probes. k rows — broadcasts at any scale.
    */
  private def ivfCentroids(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    e.select($"label", posexplode($"v").as(Seq("i", "x")))
      .groupBy($"label", $"i").agg(avg($"x").as("cx"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"i", $"cx"))).as("pairs"))
      .select($"label".as("c_label"),
        expr("transform(pairs, p -> p.cx)").as("cv"))
  }

  // ---- trained coarse quantizer (s14/s15) ----------------------------
  // s04/s13's coarse cells derive from the fixture's `label` column; an
  // unlabeled 100 TB corpus has no labels, so the production path is a
  // TRAINED quantizer: take a BOUNDED deterministic sample of the
  // corpus (the TrainN lowest vectors by md5 rank — an absolute count,
  // so training cost is CONSTANT in corpus size; the earlier md5-COIN
  // sampled a fraction, which at 100 TB pushed ~25 TB through every
  // Lloyd pass), seed centroids deterministically, run a bounded number
  // of Lloyd passes (each pass reuses s13's shuffle-free argmax), then
  // assign the FULL corpus to the trained cells. Everything is
  // deterministic-by-seed, so the whole build is DuckDB-replicable and
  // hash-gated: the md5 rank is a total order both engines share
  // (lowercase hex, binary string compare), seeds are the KmK lowest
  // sampled vec_ids, distances round at 6 dp before every argmin (ties
  // break to the lowest cell id), and centroid components round at 6 dp
  // after every mean so engine summation-order ulps cannot leak into
  // the next pass's assignments. Plan shape of the sample: Spark's
  // TakeOrderedAndProject — per-partition top-N map-side, a TrainN-row
  // merge on the driver, no full sort shuffle.

  private val KmK = 8      // coarse cells to train

  /** s53's serving shard budget in bytes — fixture-scaled (1 MiB) so
    * the card yields multi-shard answers on the test corpora; real
    * deployments swap in 10s of GB and the ceil-division is
    * budget-agnostic.
    */
  private val ServingShardBytes = 1L << 20
  private val KmIters = 2  // bounded Lloyd passes
  /** Bounded training-sample size, shared by the coarse quantizer and
    * the PQ codebooks (one sample frame → the CTE chains compose).
    * Public FAISS guidance is ~k·256 training points per quantizer
    * (max(KmK, PqK)·256 = 4096 at these ks); the repo pins 256 for the
    * same reason KmK is 8 and not 65536 — the smallest fixture corpus
    * is 500 vectors, and the bound must sit BELOW it so every gated SF
    * exercises the sample<corpus path a production build lives in.
    */
  private[ops] val TrainN = 256

  /** Squared L2 distance to a centroid, rounded to 6 dp — the argmin
    * key on both engines. Expanded dot form (v·v − 2 v·c + c·c): three
    * sequential-fold dots and two IEEE adds, the same operation tree in
    * both engines, on bit-identical inputs (parquet vectors; centroids
    * are 6 dp-rounded means).
    */
  private[graft] def kmDist2(v: Column, cv: Column): Column =
    round(dot(v, v) - lit(2.0) * dot(v, cv) + dot(cv, cv), 6)

  /** Nearest-cell assignment via s13's shuffle-free argmax: the n·k
    * candidate scores reduce map-side (groupBy + max(struct) partials),
    * so the exchange carries one best-row per vector, never the n·k
    * stream. Returns (vec_id, cell, d2).
    */
  private[ops] def kmAssign(s: SparkSession, points: DataFrame,
      cents: DataFrame): DataFrame = {
    import s.implicits._
    points.join(broadcast(cents), lit(true))
      .withColumn("d2", kmDist2($"v", $"cv"))
      .groupBy($"vec_id")
      .agg(max(struct((-$"d2").as("nd"), (-$"cell").as("nc"))).as("b"))
      .select($"vec_id", (-$"b.nc").as("cell"), (-$"b.nd").as("d2"))
  }

  /** The trained quantizer build: (sample frame, final centroids).
    * The sample is materialized once (3-column narrow frame) and reused
    * by every Lloyd pass; each pass is assignment (broadcast centroids,
    * argmax reduce) + per-cell mean (one positional-explode agg, the
    * ivfCentroids shape). Cells that lose all members simply drop out
    * (GROUP BY semantics — identical in the oracle).
    */
  /** The bounded deterministic training sample: the TrainN lowest
    * vectors by md5 rank (vec_id tiebreak is vestigial — md5 over
    * distinct ids cannot collide — but keeps the ORDER BY total on
    * both engines by construction). Plans as TakeOrderedAndProject:
    * map-side per-partition top-N, never a full sort shuffle.
    */
  private def trainSample(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"))
      .orderBy(expr("md5(cast(vec_id as string))"), col("vec_id"))
      .limit(TrainN)

  private[ops] def kmTrain(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val samp = trainSample(e)
      .localCheckpoint()
    val init = samp.orderBy($"vec_id").limit(KmK)
      .select($"vec_id".as("cell"), $"v".as("cv"))
    val fin = (1 to KmIters).foldLeft(init) { (cents, _) =>
      samp.join(kmAssign(s, samp, cents).select($"vec_id", $"cell"),
          "vec_id")
        .select($"cell", posexplode($"v").as(Seq("i", "x")))
        .groupBy($"cell", $"i").agg(round(avg($"x"), 6).as("cx"))
        .groupBy($"cell")
        .agg(array_sort(collect_list(struct($"i", $"cx"))).as("pairs"))
        .select($"cell", expr("transform(pairs, p -> p.cx)").as("cv"))
    }
    (samp, fin)
  }

  /** DuckDB twin of [[kmTrain]] + full-corpus assignment: CTE chain
    * ending in cf (trained centroids: cell, cv) and af (full-corpus
    * assignment: vec_id, cell, d2). Iterations are unrolled — KmIters
    * is a compile-time constant, so the oracle is plain ANSI SQL.
    */
  /** The default vector source for the trained-index oracle CTEs. */
  private val EmbBaseE =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  private def kmSqlCtes: String = kmSqlCtes(EmbBaseE)

  private def kmSqlCtes(baseE: String): String = {
    def d2Sql(v: String, cv: String) =
      s"round(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)" +
        s" + list_dot_product($cv, $cv), 6)"
    def assignSql(points: String, cents: String) =
      s"""SELECT vec_id, cell, d2 FROM (
         |    SELECT vec_id, cell, d2, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY d2, cell) AS rnk
         |    FROM (SELECT p.vec_id, c.cell, ${d2Sql("p.v", "c.cv")} AS d2
         |          FROM $points p CROSS JOIN $cents c))
         |  WHERE rnk = 1""".stripMargin
    val iters = (1 to KmIters).map { it =>
      val prev = if (it == 1) "c0" else s"c${it - 1}"
      s"""a$it AS (
         |  ${assignSql("samp", prev)}),
         |m$it AS (
         |  SELECT a.cell, r.i, round(avg(s.v[r.i]), 6) AS cx
         |  FROM a$it a JOIN samp s USING (vec_id)
         |  CROSS JOIN range(1, ${Dim + 1}) r(i)
         |  GROUP BY a.cell, r.i),
         |c$it AS (SELECT cell, list(cx ORDER BY i) AS cv FROM m$it
         |         GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""$baseE,
       |samp AS (
       |  SELECT vec_id, v FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $TrainN),
       |c0 AS (SELECT vec_id AS cell, v AS cv FROM samp
       |       ORDER BY vec_id LIMIT $KmK),
       |$iters,
       |cf AS (SELECT cell, cv FROM c$KmIters),
       |af AS (
       |  ${assignSql("e", "cf")})""".stripMargin
  }

  /** The complete raw-code IVF-PQ top-k oracle over ANY vector source:
    * `baseE` supplies the `e AS (vec_id, v DOUBLE[])` CTE (plus any
    * CTEs it needs before it) — embeddings by default, the multimodal
    * codec features for m11. Everything downstream (count-bounded
    * k-means, PQ codebooks, probes, ADC, top-k) is the s19 text
    * verbatim; this is the SQL twin of `AnnIndex.buildFrom` + `search`
    * being source-agnostic.
    */
  private[graft] def annTopkSqlFor(baseE: String, nq: Int,
      k: Int): String =
    s"""WITH ${kmSqlCtes(baseE)},
       |${pqSqlCtes(withBase = false)},
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      WHERE vec_id < $nq),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell, row_number() OVER (
       |      PARTITION BY q.q_id ORDER BY
       |        round(list_dot_product(q.qv, q.qv)
       |          - 2 * list_dot_product(q.qv, c.cv)
       |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
       |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
       |cand AS (
       |  SELECT p.q_id, af.vec_id AS n_id
       |  FROM af JOIN probes p ON af.cell = p.cell
       |  WHERE p.q_id <> af.vec_id),
       |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
       |       WHERE vec_id < $nq),
       |qtab AS (
       |  SELECT q.q_id, c.sub, c.cell,
       |    CAST(round(list_dot_product(q.qsv, q.qsv)
       |        - 2 * list_dot_product(q.qsv, c.cv)
       |        + list_dot_product(c.cv, c.cv), 6)
       |      AS DECIMAL(12,6)) AS qd2
       |  FROM qs q JOIN cfp c USING (sub)),
       |adc AS (
       |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
       |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
       |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
       |    AND t.cell = enc.cell
       |  GROUP BY cd.q_id, cd.n_id)
       |SELECT q_id, n_id, CAST(adc AS DOUBLE) AS adc, rnk FROM (
       |  SELECT q_id, n_id, adc, row_number() OVER (
       |    PARTITION BY q_id ORDER BY adc, n_id) AS rnk
       |  FROM adc) WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  // ---- product quantization (s16/s17) --------------------------------
  // The FAISS-style scale representation for ANN beyond IVF: split each
  // vector into PqM subvectors, train an independent PqK-codeword
  // codebook per subspace (the s14 k-means machinery with `sub` as an
  // extra key — same bounded sample, same seeds-by-lowest-id, same 6 dp
  // discipline), and encode the corpus as PqM small codes. A 64-dim
  // float vector (256 B) becomes 8 codes (8 B) — the 32× footprint cut
  // that lets a 100 TB corpus's index live in memory. Search is ADC
  // (asymmetric distance computation): per query, a PqM×PqK lookup
  // table of subspace distances; a candidate's distance is the sum of
  // its codes' table entries — codes never decode back to floats.
  // Per-entry distances round at 6 dp and sum in DECIMAL (the bm25
  // discipline), so the cross-subspace sum is exact and
  // order-insensitive in both engines.

  private[ops] val PqM = 8  // subspaces
  private[ops] val PqD = Dim / PqM
  private val PqK = 16 // codewords per subspace
  /** s45's sweep: three (M, K) points at the SAME total code budget —
    * M·log2(K) = 32 bits per vector — so the curve isolates the one
    * real design choice (few wide subspaces with rich codebooks vs
    * many narrow subspaces with coarse ones) from code size. Brackets
    * the shipped 8×16; 4×256 is the FAISS-manual-favored shape
    * (8 bits/subquantizer), 16×4 the other extreme.
    */
  private val PqBudgetConfigs = Seq((4, 256), (8, 16), (16, 4))

  /** s46's retrain thresholds — operational defaults, not fixture
    * fits: λ is FAISS's imbalance factor (expected probe cost ≈ λ ×
    * the even-list cost, so 1.5 = "probes pay 50% over a balanced
    * index" — the point where FAISS guidance calls clustering poor),
    * and the churn bound retrains once a fifth of the index was never
    * seen by the quantizer's training sample. Both sides of the OR
    * are gated columns, so the decision arithmetic is hash-checked
    * even when one side dominates.
    */
  private val MaintLambdaMax = 1.5
  private val MaintChurnMax = 0.2
  // s51 (TextIndex compact go/no-go): pending-tombstone fraction
  // above which the per-search anti-join + dead postings bytes are
  // worth a compaction rewrite, and the stats-batch count above which
  // append fragmentation (one stats row + one postings file set per
  // ingest batch) is. Fractions, not absolute counts — the t24
  // scale-invariance lesson.
  private[ops] val TextTombMax = 0.05
  private[ops] val TextFragMax = 4L

  /** (vec_id, sub, sv): the subvector expansion of (vec_id, v). */
  private[ops] def pqSubs(s: SparkSession, df: DataFrame): DataFrame =
    pqSubsM(s, df, PqM)

  /** [[pqSubs]] at an explicit subspace count (s45's budget sweep re-
    * trains the whole PQ half at several (M, K) points; everything
    * else ships the PqM/PqK defaults).
    */
  private[ops] def pqSubsM(s: SparkSession, df: DataFrame,
      m: Int): DataFrame = {
    import s.implicits._
    val d = Dim / m
    df.select($"vec_id", explode(array((0 until m).map(mm =>
        struct(lit(mm).as("sub"), slice($"v", mm * d + 1, d).as("sv"))
      ): _*)).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
  }

  /** Per-(vector, subspace) nearest-codeword assignment — s13's
    * shuffle-free argmax keyed (vec_id, sub); the exchange carries one
    * best-row per (vector, subspace), never the n·PqK candidate
    * stream. Returns (vec_id, sub, cell, d2).
    */
  private[ops] def pqAssign(s: SparkSession, points: DataFrame,
      codebook: DataFrame): DataFrame = {
    import s.implicits._
    points.join(broadcast(codebook), "sub")
      .withColumn("d2", kmDist2($"sv", $"cv"))
      .groupBy($"vec_id", $"sub")
      .agg(max(struct((-$"d2").as("nd"), (-$"cell").as("nc"))).as("b"))
      .select($"vec_id", $"sub", (-$"b.nc").as("cell"),
        (-$"b.nd").as("d2"))
  }

  /** Train all PqM codebooks jointly (one plan, `sub` as a key) and
    * return (sample-subvector frame, final codebook (sub, cell, cv)).
    */
  private[ops] def pqTrain(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) =
    pqTrainMK(s, e, PqM, PqK)

  /** [[pqTrain]] at an explicit (subspaces, codewords) point — s45
    * sweeps the code budget; the board's other PQ rows all train at
    * the shipped (PqM, PqK).
    */
  private[ops] def pqTrainMK(s: SparkSession, e: DataFrame,
      m: Int, k: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    // One shared evaluation of the TrainN-row sample (eager checkpoint,
    // kmTrain's discipline): `seeds` and `sampSubs` prune different
    // columns, so left un-materialized they'd build two differently-
    // pruned copies of the (expensive when e is the residual frame)
    // upstream subtree that AQE exchange reuse cannot unify. EAGER on
    // purpose: a checkpoint left pending (eager=false) races AQE's
    // broadcast-exchange sub-jobs on RDDCheckpointData's companion
    // lock vs the RDD monitor (ABBA deadlock, observed hanging a full
    // test run); materializing on the calling thread closes the
    // pending window before the frame can appear under any sub-job.
    val samp = trainSample(e).localCheckpoint()
    val sampSubs = pqSubsM(s, samp, m).localCheckpoint()
    val seeds = samp.orderBy($"vec_id").limit(k)
      .select($"vec_id".as("seed_id"))
    val c0 = sampSubs.join(broadcast(seeds), $"vec_id" === $"seed_id")
      .select($"sub", $"vec_id".as("cell"), $"sv".as("cv"))
    val fin = (1 to KmIters).foldLeft(c0) { (cb, _) =>
      sampSubs.join(pqAssign(s, sampSubs, cb)
          .select($"vec_id", $"sub", $"cell"), Seq("vec_id", "sub"))
        .select($"sub", $"cell", posexplode($"sv").as(Seq("i", "x")))
        .groupBy($"sub", $"cell", $"i").agg(round(avg($"x"), 6).as("cx"))
        .groupBy($"sub", $"cell")
        .agg(array_sort(collect_list(struct($"i", $"cx"))).as("pairs"))
        .select($"sub", $"cell",
          expr("transform(pairs, p -> p.cx)").as("cv"))
    }
    (sampSubs, fin)
  }

  /** ADC search over the PQ codes (UNSORTED core, shared by s17/s18):
    * per query, a PqM×PqK broadcast lookup table of 6 dp-rounded
    * subspace distances (DECIMAL, so the cross-subspace sum is exact in
    * any order); a candidate's distance is the sum of its codes' table
    * entries — the corpus side touches only (vec_id, sub, code)
    * triples, never the float vectors. The per-candidate sum
    * partial-aggregates in task (codes of one vector are co-located by
    * construction), the exchange carries one skinny row per (query,
    * vector), and the bounded-heap TopKPerKey cuts to K before any
    * sort. Returns (q_id, n_id, adc DECIMAL, rnk).
    */
  // ---- The TWO ADC forms and when each wins (r15 → r16) ---------------
  // JOIN+SUM form: join the (vec_id, sub, code) code stream to the
  // per-query distance table, hash-aggregate the per-(query, candidate)
  // sum over PqM joined rows. LOOKUP form (classic FAISS ADC): codes
  // pivot to ONE row per vector (sub is dense 0..m−1 by construction,
  // so the sorted struct array is positional), the query side carries
  // an array-of-maps LUT (sub → code → qd2; codeword ids are SPARSE
  // seed vec_ids, hence a map, scanned by codegen'd element_at over
  // ≤PqK entries), and the distance is m lookups summed in DECIMAL — a
  // pure projection. Both produce bit-identical values AND schema (the
  // lookup add chain is the same m exact scale-6 addends, decimal adds
  // never round, cast back to sum()'s decimal(22,6)) — consumers stay
  // hash-gated under either form.
  //
  // The r16 quiet-box A/B (clean, wx=0, min-of-2 at sf0.1) showed the
  // r15 board-wide lookup rewrite was a net LOSS for bounded-candidate
  // searches: the pivot aggregates the ENTIRE code stream (corpus×PqM
  // collect_list + array_sort) below the candidate join, so when
  // candidates ≪ corpus the join+sum form touches far fewer rows —
  // s23 3.0→4.4 s, s24 1.3→2.0 s, s29 2.2→3.1 s, s18 0.8→1.0 s under
  // lookup. The lookup form WINS when the candidate set is a corpus
  // fraction with many queries per vector (the pivot amortizes and the
  // join+sum aggregation is the measured CPU hot spot — d33: 3.2M
  // joined rows → 402k groups, avgHashProbe ≈ 240; A/B 4.43→3.81 s
  // under lookup). Policy: Similarity cores and AnnIndex's BOUNDED
  // probe branch use join+sum; AnnIndex's LARGE-batch branch (the d33
  // admission shape) uses lookup. encWide/qtabWide/adcCol stay for
  // that branch.

  /** (vec_id, codes array<struct<sub,code>> sorted by sub) from the long
    * (vec_id, sub, `codeCol`) code stream — one row per vector.
    */
  private[graft] def encWide(enc: DataFrame,
      codeCol: String = "code"): DataFrame =
    enc.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"),
        col(codeCol).cast("long").as("code")))).as("codes"))

  /** The per-(`keys`) ADC lookup table: luts[sub+1] is a map
    * code → qd2 for that subspace (subs dense 0..m−1).
    */
  private[graft] def qtabWide(qtab: DataFrame, keys: Seq[String],
      m: Int): DataFrame =
    qtab.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("sub"), col("code").cast("long")
        .as("code"), col("qd2"))).as("p"))
      .select(keys.map(col) :+ expr(
        s"transform(sequence(0, ${m - 1}), s -> map_from_entries(" +
          "transform(filter(p, x -> x.sub = s), " +
          "y -> struct(y.code, y.qd2))))").as("luts"): _*)

  /** The per-candidate ADC distance over (codes, luts): m codegen'd
    * lookups summed exactly; decimal(22,6) = sum(decimal(12,6))'s type.
    */
  private[graft] def adcCol(m: Int): Column =
    (0 until m).map { i =>
      element_at(element_at(col("luts"), i + 1),
        element_at(col("codes"), i + 1).getItem("code"))
    }.reduce(_ + _).cast("decimal(22,6)")

  private def pqAdcTopKCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val (_, cb) = pqTrain(s, e)
    val enc = pqAssign(s, pqSubs(s, e.select($"vec_id", $"v")), cb)
      .select($"vec_id", $"sub", $"cell")
    val q = pqSubs(s, e.filter($"vec_id" < NQueries)
        .select($"vec_id", $"v"))
      .select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
    val qtab = q.join(broadcast(cb), "sub")
      .withColumn("qd2", kmDist2($"qsv", $"cv").cast("decimal(12,6)"))
      .select($"q_id", $"sub", $"cell", $"qd2")
    // join+sum form (see the ADC-forms note above): flat all-pairs ADC
    // joins the code stream to the broadcast distance table and
    // partial-aggregates the per-(query, vector) sum in task
    val adc = enc.join(broadcast(qtab), Seq("sub", "cell"))
      .filter($"q_id" =!= $"vec_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"qd2").as("adc"))
      .select($"q_id", $"vec_id".as("n_id"), $"adc")
    val top = graft.plans.TopKPerKey(adc, Seq("q_id"),
      struct($"adc", $"n_id"), K)
    val w = Window.partitionBy($"q_id").orderBy($"adc", $"n_id")
    top.withColumn("rnk", row_number().over(w))
      .select($"q_id", $"n_id", $"adc", $"rnk")
  }

  /** Trained-IVF search (UNSORTED core, shared by s04/s15): probe the
    * NProbe nearest s14-trained cells (rounded d2, ties to the lowest
    * cell), search only their inverted lists, rank candidates by exact
    * cosine. ONE definition so the recall s15 reports is measured on
    * exactly the search path s04 ships. Returns (q_id, n_id, cos, rnk),
    * rnk ≤ K.
    */
  private def trainedIvfTopKCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val (_, cents) = kmTrain(s, e)
    val af = kmAssign(s, e.select($"vec_id", $"v"), cents)
    val q = e.filter($"vec_id" < NQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val wProbe = Window.partitionBy($"q_id").orderBy($"d2", $"cell")
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("d2", kmDist2($"qv", $"cv"))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter($"p_rnk" <= NProbe)
      .select($"q_id", $"qv", $"cell")
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    af.select($"vec_id".as("n_id"), $"cell")
      .join(broadcast(probes), "cell")
      .filter($"q_id" =!= $"n_id")
      .join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
      .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"q_id", $"n_id", $"cos", $"rnk")
  }

  /** IVF-PQ composed search (UNSORTED core, shared by s19/s20): the
    * FAISS IVFPQ shape built from the two already-gated halves — probe
    * the s14-trained coarse cells (NProbe nearest by the same rounded
    * d2, ties to the lowest cell), then run s17's ADC, restricted to
    * the probed cells' inverted lists. Codes are RAW-vector PQ codes
    * (FAISS's `by_residual=false` variant) — residual encoding would
    * tie each code's meaning to its cell and block sharing one corpus
    * encode between s17 (flat ADC) and here.
    *
    * Scale shape: both trained models stay broadcasts (KmK centroids;
    * the PqM×PqK per-query DECIMAL distance table); the inverted-list
    * cut happens BEFORE any per-code work — `af` (vec_id, cell) joins
    * broadcast probes, so the candidate stream is |corpus|·NProbe/KmK
    * pairs, never the full corpus per query; the candidate→codes join
    * is an equi-join on vec_id between two narrow int frames; and the
    * per-candidate ADC sum partial-aggregates in task (codes of one
    * vector are co-located by the join) so the final exchange carries
    * one skinny row per (query, candidate). Distances stay DECIMAL, so
    * the cross-subspace sum is exact and order-insensitive in both
    * engines — the ranking hash-gates.
    */
  private[ops] def ivfpqTopKCore(s: SparkSession, dir: String,
      topK: Int = K, nprobe: Int = NProbe,
      nq: Int = NQueries): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    // coarse half: trained cells + full-corpus inverted lists (s14)
    val (_, cents) = kmTrain(s, e)
    val af = kmAssign(s, e.select($"vec_id", $"v"), cents)
      .select($"vec_id", $"cell")
    // fine half: PQ codebooks + corpus codes (s16)
    val (_, cb) = pqTrain(s, e)
    val enc = pqAssign(s, pqSubs(s, e.select($"vec_id", $"v")), cb)
      .select($"vec_id", $"sub", $"cell".as("code"))
    // probe: NProbe nearest trained cells per query (s15's discipline)
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val wProbe = Window.partitionBy($"q_id").orderBy($"d2", $"cell")
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("d2", kmDist2($"qv", $"cv"))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter($"p_rnk" <= nprobe)
      .select($"q_id", $"cell")
    // candidates: the probed cells' inverted lists
    val cand = af.join(broadcast(probes), "cell")
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("n_id"))
    // ADC over candidates only
    val qtab = pqSubs(s, q.select($"q_id".as("vec_id"), $"qv".as("v")))
      .select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
      .join(broadcast(cb), "sub")
      .withColumn("qd2", kmDist2($"qsv", $"cv").cast("decimal(12,6)"))
      .select($"q_id", $"sub", $"cell".as("code"), $"qd2")
    // join+sum form: candidates ≪ corpus here (probed lists only), so
    // joining the code stream to the bounded candidate set beats
    // pivoting the whole corpus — see the ADC-forms note above
    val adc = enc.join(cand, enc("vec_id") === cand("n_id"))
      .join(broadcast(qtab), Seq("q_id", "sub", "code"))
      .groupBy($"q_id", $"n_id")
      .agg(sum($"qd2").as("adc"))
    val top = graft.plans.TopKPerKey(adc, Seq("q_id"),
      struct($"adc", $"n_id"), topK)
    val w = Window.partitionBy($"q_id").orderBy($"adc", $"n_id")
    top.withColumn("rnk", row_number().over(w))
      .select($"q_id", $"n_id", $"adc", $"rnk")
  }

  /** IVF-PQ + EXACT-RERANK core (s29/s30) — the full FAISS serving
    * chain (IndexIVFPQ + RefineFlat): the composed index proposes its
    * ADC top-RefineDepth per query, full-precision vectors re-score
    * exactly those candidates by exact cosine, and the final top-K is
    * ranked on the EXACT metric. This is the stage that repairs both
    * ADC losses at once — quantization error AND the L2-vs-cosine
    * metric gap — for the price of RefineDepth vector fetches per
    * query (the s28-measured knob; 50 is its shipped point). Scale
    * shape: the candidate set is bounded (NQueries x RefineDepth), the
    * query side broadcasts, the corpus contributes one narrow
    * id-equi-join for the candidate vectors (the standard rescore
    * shape), and the final cut is the bounded-heap TopKPerKey.
    */
  private def ivfpqRefinedCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = ivfpqTopKCore(s, dir, RefineDepth, RefineNProbe)
      .select($"q_id", $"n_id")
    val e = emb(s, dir)
    val qv = e.filter($"vec_id" < NQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val rescored = cand.join(broadcast(qv), "q_id")
      .join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
      .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
      .select($"q_id", $"n_id", $"cos")
    val top = graft.plans.TopKPerKey(rescored, Seq("q_id"),
      struct($"cos" * -1, $"n_id"), K)
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    top.withColumn("rnk", row_number().over(w))
      .select($"q_id", $"n_id", $"cos", $"rnk")
  }

  /** DuckDB twin of [[pqTrain]] + full-corpus encode: CTE chain ending
    * in cfp (codebooks: sub, cell, cv) and enc (corpus codes: vec_id,
    * sub, cell, d2). Same unrolled-iteration convention as kmSqlCtes.
    * Internal iteration CTEs are "p"-prefixed so the chain COMPOSES
    * with kmSqlCtes in one WITH clause (s19/s20's IVF-PQ oracle);
    * `withBase = false` omits the shared `e`/`samp` base CTEs that
    * kmSqlCtes already defines identically; `src` retargets the vector
    * frame the codebooks train on and the corpus encodes from (s23/s24
    * train on RESIDUALS — a CTE named `er` with the same (vec_id, v)
    * shape).
    */
  private def pqSqlCtes: String = pqSqlCtes(withBase = true)

  private def pqSqlCtes(withBase: Boolean, src: String = "e"): String =
    pqSqlCtesMK(PqM, PqK, withBase, src)

  /** [[pqSqlCtes]] at an explicit (subspaces, codewords) point — the
    * DuckDB twin of [[pqTrainMK]], for s45's code-budget sweep.
    */
  private def pqSqlCtesMK(m: Int, k: Int, withBase: Boolean,
      src: String = "e"): String = {
    val subD = Dim / m
    def d2Sql(v: String, cv: String) =
      s"round(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)" +
        s" + list_dot_product($cv, $cv), 6)"
    def assignSql(points: String, cents: String) =
      s"""SELECT vec_id, sub, cell, d2 FROM (
         |    SELECT vec_id, sub, cell, d2, row_number() OVER (
         |        PARTITION BY vec_id, sub ORDER BY d2, cell) AS rnk
         |    FROM (SELECT p.vec_id, p.sub, c.cell,
         |            ${d2Sql("p.sv", "c.cv")} AS d2
         |          FROM $points p JOIN $cents c USING (sub)))
         |  WHERE rnk = 1""".stripMargin
    val iters = (1 to KmIters).map { it =>
      val prev = if (it == 1) "pc0" else s"pc${it - 1}"
      s"""pa$it AS (
         |  ${assignSql("ssv", prev)}),
         |pm$it AS (
         |  SELECT a.sub, a.cell, r.i, round(avg(s.sv[r.i]), 6) AS cx
         |  FROM pa$it a JOIN ssv s USING (vec_id, sub)
         |  CROSS JOIN range(1, ${subD + 1}) r(i)
         |  GROUP BY a.sub, a.cell, r.i),
         |pc$it AS (SELECT sub, cell, list(cx ORDER BY i) AS cv FROM pm$it
         |         GROUP BY sub, cell)""".stripMargin
    }.mkString(",\n")
    val base =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |samp AS (
         |  SELECT vec_id, v FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $TrainN),
         |""".stripMargin
    s"""${if (withBase) base else ""}sv AS (
       |  SELECT vec_id, CAST(r.m AS INT) AS sub,
       |    list_slice(v, r.m*$subD+1, r.m*$subD+$subD) AS sv
       |  FROM $src CROSS JOIN range(0, $m) r(m)),
       |ssv AS (SELECT sv.* FROM sv JOIN samp USING (vec_id)),
       |seeds AS (SELECT vec_id FROM samp ORDER BY vec_id LIMIT $k),
       |pc0 AS (
       |  SELECT sub, vec_id AS cell, sv AS cv
       |  FROM ssv JOIN seeds USING (vec_id)),
       |$iters,
       |cfp AS (SELECT sub, cell, cv FROM pc$KmIters),
       |enc AS (
       |  ${assignSql("sv", "cfp")})""".stripMargin
  }

  /** Residual-encoded IVF-PQ (UNSORTED core, shared by s23/s24): the
    * FAISS DEFAULT (`by_residual=true`). Codes quantize r = v − c(v)
    * (the vector minus its coarse centroid) instead of v itself:
    * residuals concentrate near the origin, so the same PqM×PqK
    * codebook budget spends its codewords on a tighter distribution —
    * the accuracy-per-byte reason FAISS defaults to it. The cost is
    * that a code's meaning depends on its cell, so the per-query ADC
    * table becomes per-(query, PROBED CELL): NQueries×NProbe×PqM×PqK
    * rounded-DECIMAL entries — still a broadcast at any corpus size.
    *
    * Determinism: the residual is one IEEE subtraction per component
    * (zip_with here, list_zip in DuckDB) on bit-identical inputs
    * (parquet vectors; 6 dp-rounded centroid means), so both engines
    * train, encode, and rank on bit-identical residuals; everything
    * downstream reuses the s14/s16 rounding discipline and the sum
    * stays DECIMAL — the ranking hash-gates at all three SFs.
    *
    * Scale shape is s19's: candidates cut to the probed inverted lists
    * BEFORE any per-code work, narrow-int code join, in-task partial
    * ADC sum, bounded-heap top-k.
    */
  private def ivfpqResidualTopKCore(s: SparkSession, dir: String,
      nq: Int = NQueries): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val (_, cents) = kmTrain(s, e)
    val af = kmAssign(s, e.select($"vec_id", $"v"), cents)
      .select($"vec_id", $"cell")
    // residual frame: same (vec_id, v) shape, so the PQ machinery (and
    // its oracle twin via pqSqlCtes(src = "er")) retargets unchanged
    val er = e.select($"vec_id", $"v").join(af, "vec_id")
      .join(broadcast(cents), "cell")
      .select($"vec_id", expr("zip_with(v, cv, (x, c) -> x - c)").as("v"))
    val (_, cb) = pqTrain(s, er)
    val enc = pqAssign(s, pqSubs(s, er), cb)
      .select($"vec_id", $"sub", $"cell".as("code"))
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val wProbe = Window.partitionBy($"q_id").orderBy($"d2", $"cell")
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("d2", kmDist2($"qv", $"cv"))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter($"p_rnk" <= NProbe)
      .select($"q_id", $"qv", $"cell")
    val cand = af.join(broadcast(probes.select($"q_id", $"cell")), "cell")
      .filter($"q_id" =!= $"vec_id")
      .select($"q_id", $"vec_id".as("n_id"), $"cell")
    // query residual PER PROBED CELL, subvector-expanded
    val qrs = probes.join(broadcast(cents), "cell")
      .select($"q_id", $"cell",
        expr("zip_with(qv, cv, (x, c) -> x - c)").as("rv"))
      .select($"q_id", $"cell", explode(array((0 until PqM).map(m =>
        struct(lit(m).as("sub"), slice($"rv", m * PqD + 1, PqD).as("qsv"))
      ): _*)).as("x"))
      .select($"q_id", $"cell", $"x.sub".as("sub"), $"x.qsv".as("qsv"))
    val qtab = qrs.join(broadcast(cb.withColumnRenamed("cell", "code")), "sub")
      .withColumn("qd2", kmDist2($"qsv", $"cv").cast("decimal(12,6)"))
      .select($"q_id", $"cell", $"sub", $"code", $"qd2")
    // join+sum form over the probed candidates; residual tables are
    // per-(query, probed cell) — still broadcast-sized
    val adc = enc.join(cand, enc("vec_id") === cand("n_id"))
      .join(broadcast(qtab), Seq("q_id", "cell", "sub", "code"))
      .groupBy($"q_id", $"n_id")
      .agg(sum($"qd2").as("adc"))
    val top = graft.plans.TopKPerKey(adc, Seq("q_id"),
      struct($"adc", $"n_id"), K)
    val w = Window.partitionBy($"q_id").orderBy($"adc", $"n_id")
    top.withColumn("rnk", row_number().over(w))
      .select($"q_id", $"n_id", $"adc", $"rnk")
  }

  /** Deterministic pseudo-random hyperplane j: component i =
    * (int(md5("j_i")[0:7], 16) mod 1000) / 500 − 1  ∈ [−1, 1).
    *
    * Computed ONCE at plan-build time and injected as an array literal.
    * The equivalent `transform(sequence(...), i -> ...md5...)` SQL is
    * NOT constant-folded by Catalyst (higher-order lambdas stay
    * interpreted and re-run per row — 24 planes × 64 md5 calls per
    * vector made s03 the bench's worst query by far). Bit parity with
    * the SQL expression it replaces is exact: m/500 − 1 = (2m−1000)/1000
    * terminates at 3 decimal digits, so exact-decimal → nearest-double
    * here equals Spark's decimal-division path bit-for-bit (verified
    * over all 24×64 components). DuckDB's double-division path differs
    * in the last ulp on ~half the components — it always has; only the
    * SIGN of the plane·v dot feeds the bucket, which ulps don't flip.
    */
  private def planeVals(j: Int): Seq[Double] = (0 until Dim).map { i =>
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
    val hex7 = md.take(4).map(b => f"$b%02x").mkString.take(7)
    val m = java.lang.Long.parseLong(hex7, 16) % 1000
    new java.math.BigDecimal(2 * m - 1000).movePointLeft(3).doubleValue()
  }

  private def planeLit(j: Int): Column = typedLit(planeVals(j))

  private def planeSql(j: Int): String =
    s"list_transform(range(0, $Dim), i -> " +
      s"(('0x' || substr(md5('${j}_' || i::VARCHAR), 1, 7))::BIGINT % 1000) " +
      "/ 500.0 - 1.0)"

  /** Sequential double-precision dot product of two array columns —
    * fused codegen'd loop (see DotProduct.scala); bit-identical to the
    * composed aggregate(zip_with) fold it replaces.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  /** 8-bit LSH bucket: sign pattern of the plane dots. */
  private def bucketCol: Column =
    concat((0 until NPlanes).map { j =>
      when(dot(col("v"), planeLit(j)) > 0, "1").otherwise("0")
    }: _*)

  private val bucketSql: String =
    (0 until NPlanes).map { j =>
      s"CASE WHEN list_dot_product(v, ${planeSql(j)}) > 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** Multi-table LSH bucket for table t: TBits sign bits from planes
    * t·TBits … t·TBits+TBits−1, prefixed with the table id. One table
    * of b bits prunes hard but misses near neighbors that differ in any
    * bit; L independent tables recover recall (candidate iff bucket
    * matches in ≥1 table) while keeping the equi-join shape.
    */
  private def tableBucketCol(t: Int): Column =
    concat(lit(s"$t:") +: (0 until TBits).map { j =>
      when(dot(col("v"), planeLit(t * TBits + j)) > 0, "1")
        .otherwise("0")
    }: _*)

  private def tableBucketSql(t: Int): String =
    s"'$t:' || " + (0 until TBits).map { j =>
      s"CASE WHEN list_dot_product(v, ${planeSql(t * TBits + j)}) > 0 " +
        "THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** Exact top-k core, UNSORTED (s06 joins on this; a presentation
    * orderBy here would plan a useless range exchange in every consumer
    * — the round-2 lesson on composing registered queries).
    */
  private[ops] def exactTopKCore(s: SparkSession, dir: String,
      nq: Int = NQueries): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val scored = e.select($"vec_id".as("n_id"), $"v")
      .join(broadcast(q), $"q_id" =!= $"n_id")
      .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
      .select($"q_id", $"n_id", $"cos")
    // top-k via the custom bounded-heap operator (graft.plans) — no
    // per-query sort of the full candidate set; rank recomputed by a
    // window over just the k survivors.
    val top = graft.plans.TopKPerKey(scored, Seq("q_id"),
      struct($"cos" * -1, $"n_id"), K)
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    top.withColumn("rnk", row_number().over(w))
      .select($"q_id", $"n_id", $"cos", $"rnk")
  }

  /** Multi-table LSH approximate top-k core, UNSORTED (see s03). */
  private def lshTopKCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    // Candidate discovery carries ONLY (vec_id, bucket): the 64-dim
    // payloads stay out of the join and the distinct's dedup key (a
    // pair appearing in several tables dedups on two ids, not ~1 KB of
    // doubles — the r1 bench's 2nd-worst shuffle). All NTables buckets
    // come out of ONE corpus scan as an exploded array — the previous
    // per-table union re-scanned embeddings NTables times (the
    // scan-audit finding); the table id is baked into the bucket
    // string, so the row multiset is identical.
    val tabs = e.select($"vec_id", explode(array(
      (0 until NTables).map(t => tableBucketCol(t)): _*)).as("bucket"))
    val qb = tabs.filter($"vec_id" < NQueries)
      .select($"vec_id".as("q_id"), $"bucket".as("q_bucket"))
    val pairs = tabs.select($"vec_id".as("n_id"), $"bucket")
      .join(broadcast(qb),
        $"bucket" === $"q_bucket" && $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id").distinct()
    // Vectors rejoin after dedup: query side broadcast, corpus side
    // one id-equi-join (the standard ANN rescore shape at any scale).
    val qv = e.filter($"vec_id" < NQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    pairs
      .join(broadcast(qv), "q_id")
      .join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
      .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= K)
      .select($"q_id", $"n_id", $"cos", $"rnk")
  }

  /** s09/s10's keyword query. Terms chosen to have distinct document
    * frequencies in the fixture vocabulary; the scoring is term-agnostic.
    */
  private[graft] val BmTerms = Seq("spark", "window", "query")
  private val RrfK = 60
  private val RetrN = 100 // per-side retrieved-set bound for fusion (s10)
  private val HybN = 50   // per-side bound for the ARTIFACT fusion (s34)
  /** s44's grid — the hybrid tier's two serving knobs, measured with
    * the d23/s25/s28 operating-curve discipline: per-side retrieval
    * depth brackets the shipped HybN = 50 from both sides, and the RRF
    * constant brackets the shipped RrfK = 60 (Cormack et al.'s k,
    * which damps the head-rank dominance: small k over-weights each
    * side's rank 1; large k flattens toward vote counting). Both
    * sides' ranked lists are derived ONCE at HybCurveMaxN; every
    * config is then pure bounded arithmetic — never a re-probe.
    */
  private val HybCurveNs = Seq(10, 25, 50, 100)
  private val HybCurveKs = Seq(10, 60, 120)
  private val HybCurveMaxN = 100
  private val HybCurveNQ = 3 // query batch: BatchQueries × vectors 0..2
  /** s36's positional-index query: a bigram the fixture generator
    * emits at every SF (35 docs at sf0.001, 312 at sf0.1). */
  private val PhraseTerms = Seq("spark", "window")

  /** s36/s52's shared oracle: the sliding-window phrase truth —
    * overlapping starts count, 1-based positions, stop-exclusive
    * range so a doc shorter than the phrase contributes nothing.
    */
  private lazy val phraseOracle: String = {
    val m = PhraseTerms.length
    val cond = PhraseTerms.zipWithIndex
      .map { case (t, j) => s"t[i+$j] = '$t'" }.mkString(" AND ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE text IS NOT NULL),
       |cnt AS (
       |  SELECT doc_id, CAST(len(list_filter(
       |    range(1, len(t) - ${m - 2}), i -> $cond)) AS BIGINT)
       |    AS phrase_tf
       |  FROM toks)
       |SELECT doc_id, phrase_tf FROM cnt WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT 10""".stripMargin
  }
  /** s37's request batch: three queries with distinct term sets (all
    * fixture vocabulary), the shape a retrieval service amortizes one
    * pruned postings read across. */
  private val BatchQueries = Seq(
    0L -> Seq("spark", "window"),
    1L -> Seq("query", "join"),
    2L -> Seq("data", "merge", "table"))
  // s05's per-label member cap: cohesion is computed over the first
  // CohesionCap members per label (lowest vec_id — deterministic, and
  // mirrored in the oracle), so a flooded label costs O(cap²) pairs,
  // never O(k²). Fixture labels are far below the cap, so the capped
  // statistic is EXACT there; at flood scale it degrades to a
  // fixed-size deterministic sample — the d09 star-guard trade
  // (boundedness over completeness), applied to a pairwise AGGREGATE
  // where a star reduction can't preserve the semantics.
  private[graft] val CohesionCap = 512

  /** s05 core on an injectable (vec_id, label, v) frame — the skew spec
    * plants a flooded label and asserts the pair count stays bounded.
    */
  private[graft] def labelCohesion(s: SparkSession, e: DataFrame,
      cap: Int): DataFrame = {
    import s.implicits._
    val capped = e.select($"vec_id", $"label", $"v")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"label").orderBy($"vec_id")))
      .filter($"rnk" <= cap)
    val a = capped.select($"vec_id".as("a_id"), $"label", $"v".as("va"))
    val b = capped.select($"vec_id".as("b_id"),
      $"label".as("label_b"), $"v".as("vb"))
    a.join(b, $"label" === $"label_b" && $"a_id" < $"b_id")
      .withColumn("cos", graft.functions.CosineSim($"va", $"vb"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"cos"), 4).as("avg_cos"),
        round(max($"cos"), 4).as("max_cos"))
      .orderBy($"label")
  }

  /** The per-(doc, term) BM25 score — ONE expression string, valid in
    * BOTH Spark SQL and DuckDB, over columns (n_corpus, df, tf, len,
    * avgdl). Explicit double casts force every intermediate onto the
    * IEEE double path in both engines (bare `0.5`-style literals parse
    * as DECIMAL in both dialects, and decimal division semantics
    * differ); k1 = 1.25 and b = 0.75 are binary-exact so even the
    * literals' decimal→double conversions are exact. Rounded to 6 and
    * cast DECIMAL(12,6) so the cross-term sum is exact and
    * order-insensitive.
    */
  private[graft] val bm25ScoreSql =
    """cast(round(
      |  ln((cast(n_corpus as double) - df + 0.5)
      |     / (cast(df as double) + 0.5) + 1.0) *
      |  (cast(tf as double) * (1.25 + 1)) /
      |  (cast(tf as double)
      |   + 1.25 * (1 - 0.75 + 0.75 * cast(len as double) / avgdl)),
      |6) as decimal(12,6))""".stripMargin

  private def docsTbl(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** BM25-scored keyword retrieval core (UNSORTED): per matching doc,
    * the exact-decimal score sum `bm25d` and matched-term count.
    *
    * Engine parity is by construction: avgdl is written explicitly as
    * sum/count (ONE integer-exact division — engines' avg() kernels may
    * differ in summation order), every per-term float expression is the
    * same operation tree in both engines (IEEE ops on identical
    * inputs), and per-term scores are rounded then summed in DECIMAL so
    * the cross-term sum is exact and order-insensitive.
    *
    * Scale posture: tf touches only postings of the query terms (the
    * filter is before the wordcount shuffle); df and the corpus stats
    * are term-/single-row-sized and broadcast; nothing else shuffles.
    */
  private def bm25Core(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docsTbl(s, dir).select($"doc_id", $"text",
      when($"text".isNull, lit(0L))
        .otherwise(size(split($"text", " ")).cast("long")).as("len"))
    val tf = d.select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term".isin(BmTerms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val stats = d.agg(count(lit(1)).as("n_corpus"),
      (sum($"len").cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    tf.join(broadcast(df), "term")
      .join(d.select($"doc_id", $"len"), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("sc", expr(bm25ScoreSql))
      .groupBy($"doc_id")
      .agg(sum($"sc").as("bm25d"), count(lit(1)).as("n_terms"))
  }

  /** DuckDB twin of [[bm25Core]]: CTE chain ending in
    * bm(doc_id, bm25d, n_terms).
    */
  private val bm25SqlCtes: String = bm25SqlCtesFor(BmTerms)

  /** `where` narrows the corpus (s41's erasure oracle: BM25 over the
    * reduced corpus — df, n_corpus AND avgdl must all follow the
    * erasure, which is exactly what TextIndex.delete's stat
    * correction claims).
    */
  private def bm25SqlCtesFor(terms: Seq[String],
      where: String = ""): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""d AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN text IS NULL THEN 0
       |         ELSE len(string_split(text, ' ')) END AS BIGINT) AS len,
       |    text
       |  FROM documents $where),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d)
       |  WHERE term IN ($termList) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
       |       GROUP BY term),
       |stats AS (
       |  SELECT count(*) AS n_corpus,
       |    CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d),
       |sc AS (
       |  SELECT tf.doc_id, $bm25ScoreSql AS sc
       |  FROM tf JOIN df USING (term) JOIN d USING (doc_id)
       |  CROSS JOIN stats),
       |bm AS (
       |  SELECT doc_id, sum(sc) AS bm25d, count(*) AS n_terms
       |  FROM sc GROUP BY doc_id)""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s53_serving_memory_card" -> { (s, dir) =>
      import s.implicits._
      // SERVING-TIER MEMORY CARD — "does this index fit in RAM, and
      // across how many shards?" priced from the WRITTEN artifacts
      // (the s46/s51/d35 maintenance-decision shape applied to the
      // capacity dimension). Per component of the three serving
      // indexes: the artifact's actual row count (read from the index
      // directories — a drifted build changes this row, which is the
      // point) and its decoded in-memory footprint under the
      // SCHEMA-VALIDATED width model (ServingWidths, round 14: the
      // field policy is checked against each written parquet schema —
      // drift fails the card loudly — and every data-dependent width
      // is measured from the artifact rows; values unchanged from the
      // documented constants, the migration proof in SimilaritySpec:
      // ids/cells/tf/len 8 B slots, PQ code 1 B packed,
      // centroid/codebook doubles, md5 fp hex bytes, band 24 B
      // canonical slot + 8 B id, postings their true term bytes and
      // 8 B per stored position). Per kind: total bytes and the shard count at the
      // 1 MiB fixture-scaled shard budget (real deployments swap in
      // 10s of GB; ceil-division is budget-agnostic). The oracle
      // re-derives every count from the RAW tables — N vectors, N*PqM
      // code rows, distinct (doc, term) postings with their term/tf
      // sums, the corpus-split fp/band counts — so the gate proves
      // artifact-vs-corpus integrity, not just arithmetic. Scale:
      // each probe is one metadata-sized aggregate over one artifact
      // (count/sum); the card itself is 8 literal rows.
      val annDir = ServingIndexes.ann(s, dir)
      val textDir = ServingIndexes.text(s, dir)
      val dedupDir = ServingIndexes.dedup(s, dir)
      val rows = Seq(
        ("ann", "ann/invlists", s"$annDir/invlists"),
        ("ann", "ann/codes", s"$annDir/codes"),
        ("ann", "ann/centroids", s"$annDir/centroids"),
        ("ann", "ann/codebooks", s"$annDir/codebooks"),
        ("text", "text/postings", s"$textDir/postings"),
        ("text", "text/docs", s"$textDir/docs"),
        ("dedup", "dedup/fps", s"$dedupDir/fps"),
        ("dedup", "dedup/bands", s"$dedupDir/bands"))
        .map { case (kind, component, path) =>
          val (nRows, estBytes) = ServingWidths.measure(s, component, path)
          (kind, component, nRows, estBytes)
        }
      val comp = rows.toDF("kind", "component", "n_rows", "est_bytes")
      val tot = comp.groupBy($"kind")
        .agg(sum($"est_bytes").as("kind_bytes"))
      comp.join(broadcast(tot), "kind")
        .select($"kind", $"component", $"n_rows", $"est_bytes",
          $"kind_bytes",
          expr(s"(kind_bytes + ${ServingShardBytes - 1}) div " +
            s"$ServingShardBytes").as("shards"))
        .orderBy($"kind", $"component")
    },

    "s26_source_embedding_coverage" -> { (s, dir) =>
      import s.implicits._
      // Per-source EMBEDDING-SPACE COVERAGE over the trained coarse
      // cells — the distributional-diversity signal a mixture designer
      // reads next to p15's data card: a source whose vectors collapse
      // into one or two cells (high top_cell_share, low n_cells_used)
      // is semantically narrow however many tokens it contributes —
      // the SemDeDup observation lifted from pairs to sources. Reuses
      // the SHIPPED trained quantizer (kmTrain/kmAssign, s14's cells),
      // so "coverage" is measured in the same space the ANN index
      // serves. Shapes: one trained assignment over the corpus (the
      // s04 discipline), a narrow id join for the source label, then
      // two tiny aggs keyed (source, cell) and (source).
      val e = emb(s, dir)
      val (_, cents) = kmTrain(s, e)
      val sc = kmAssign(s, e, cents).select($"vec_id", $"cell")
        .join(Tables.load(s, dir, "documents")
          .select($"doc_id".as("vec_id"), $"source"), "vec_id")
        .groupBy($"source", $"cell").agg(count(lit(1)).as("n"))
      sc.groupBy($"source").agg(
          sum($"n").as("n_vecs"),
          count(lit(1)).as("n_cells_used"),
          max($"n").as("top_cell_n"))
        .withColumn("top_cell_share",
          round($"top_cell_n" / $"n_vecs".cast("double"), 6))
        .orderBy($"source")
    },

    "s01_cosine_topk" -> { (s, dir) =>
      import s.implicits._
      // Brute-force exact top-k: broadcast the small query side, scan
      // the corpus once, rank per query. The ANN variants are judged
      // against this baseline.
      exactTopKCore(s, dir).orderBy($"q_id", $"rnk")
    },

    "s02_lsh_buckets" -> { (s, dir) =>
      import s.implicits._
      // LSH bucket census: bucket id + occupancy + per-bucket label
      // spread. (The bucket key is what the ANN join equi-joins on.)
      emb(s, dir)
        .withColumn("bucket", bucketCol)
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct($"label").as("n_labels"))
        .orderBy($"bucket")
    },

    "s03_lsh_ann_topk" -> { (s, dir) =>
      import s.implicits._
      // Approximate top-k via multi-table LSH: a vector lands in
      // NTables buckets (one per table); candidates share a bucket in
      // at least one table — a union of equi-joins, never all-pairs.
      // Recall vs s01 is gate-measured by s06.
      lshTopKCore(s, dir).orderBy($"q_id", $"rnk")
    },

    "s06_ann_recall" -> { (s, dir) =>
      import s.implicits._
      // ANN quality evaluation as a first-class operator: recall@K of
      // the LSH index against the exact baseline, per query. A curation
      // pipeline that swaps brute force for ANN needs exactly this
      // measurement, run at corpus scale — and it is the standard way to
      // tune NTables/TBits. Both inputs are deterministic, so the recall
      // numbers themselves are oracle-gated (fixture embeddings are
      // near-random, so recall is LOW by design — the gate checks the
      // measurement, not the index).
      val exact = exactTopKCore(s, dir).select($"q_id", $"n_id")
      val approx = lshTopKCore(s, dir).select($"q_id", $"n_id")
        .withColumn("hit", lit(1))
      exact.join(approx, Seq("q_id", "n_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
        .withColumn("recall", round($"n_hits" / lit(K.toDouble), 4))
        .orderBy($"q_id")
    },

    "s04_ivf_ann_topk" -> { (s, dir) =>
      import s.implicits._
      // IVF search on the TRAINED quantizer (trainedIvfTopKCore): probe
      // NProbe nearest s14-trained cells, search their inverted lists,
      // rank by exact cosine — the path that works on an UNLABELED
      // corpus, which is what a 100 TB deployment has. The label-cell
      // formulation this replaced (cells = fixture label clusters)
      // survives as the diagnostic s21; s15 measures THIS path's recall.
      trainedIvfTopKCore(s, dir).orderBy($"q_id", $"rnk")
    },

    "s21_label_ivf_diag" -> { (s, dir) =>
      import s.implicits._
      // FIXTURE DIAGNOSTIC (not the shipped search path): IVF probe
      // over label-derived cells — coarse cells = the fixture's label
      // clusters with mean-vector centroids. Useful as an upper-bound
      // reference when labels exist (how good could the coarse
      // quantizer be if it matched the generator's clusters); the
      // production search is s04 on s14's trained cells.
      val e = emb(s, dir)
      val cents = ivfCentroids(s, e) // shared with s22's refine pass
      val q = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      // nearest NProbe cells by (negative) dot with centroid
      val wProbe = Window.partitionBy($"q_id")
        .orderBy($"cdot".desc, $"c_label")
      val probes = q.join(broadcast(cents), lit(true))
        .withColumn("cdot", round(dot($"qv", $"cv"), 6))
        .withColumn("p_rnk", row_number().over(wProbe))
        .filter($"p_rnk" <= NProbe)
        .select($"q_id", $"qv", $"c_label")
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      e.select($"vec_id".as("n_id"), $"label", $"v")
        .join(broadcast(probes),
          $"label" === $"c_label" && $"q_id" =!= $"n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= K)
        .select($"q_id", $"n_id", $"cos", $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s05_label_cohesion" -> { (s, dir) =>
      // Cluster-quality analytics: mean intra-label cosine per label —
      // blocked self-join over a CohesionCap-bounded member set per
      // label (see the cap's doc above; spec plants a flooded label).
      labelCohesion(s, emb(s, dir), CohesionCap)
    },

    "s09_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      // BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene
      // idf variant): top-10 docs for a 3-term query. The lexical
      // retrieval half of a hybrid search stack — s10 fuses it with the
      // vector half. Ranked on the exact-decimal score (ties broken by
      // doc_id), presented as double.
      bm25Core(s, dir)
        .orderBy($"bm25d".desc, $"doc_id").limit(10)
        .select($"doc_id", $"n_terms", $"bm25d".cast("double").as("bm25"))
    },

    "s10_hybrid_rrf" -> { (s, dir) =>
      import s.implicits._
      // HYBRID retrieval: reciprocal-rank fusion (Cormack et al.) of
      // the BM25 keyword ranking (s09's core) and the cosine vector
      // ranking against doc 0's embedding (doc_id and vec_id share the
      // fixture id space). RRF works on RANKS — integers, so the fusion
      // is engine-exact regardless of how either engine's floats got
      // there — and needs no score normalization, which is why it's the
      // standard first fusion in production hybrid search.
      //
      // Each side is cut to its top-RetrN RETRIEVED set FIRST via
      // orderBy().limit() — a distributed TakeOrderedAndProject
      // (per-partition bounded heaps, then a single merge of RetrN-row
      // partial results), never a global sort. Only the bounded
      // 2·RetrN-row union of both sides is then ranked, by ONE window
      // PARTITIONED ON THE RETRIEVAL SIDE — a real (non-foldable)
      // key, because Catalyst constant-folds a literal partition key
      // away and the plan degrades back to WindowExec's unpartitioned
      // class (the round-4 scale bug was the unbounded form of exactly
      // that: the cosine side ranking EVERY embedding through one
      // task; a foldable lit(0) partition key only HID the warning at
      // plan time and re-surfaced it at runtime). RRF over top-N
      // retrieved lists is the operator's textbook definition, so the
      // bound is semantics, not approximation; the oracle mirrors the
      // same RetrN cut.
      val bmTop = bm25Core(s, dir).filter($"doc_id" =!= 0)
        .orderBy($"bm25d".desc, $"doc_id").limit(RetrN)
        .select(lit("bm").as("side"), $"doc_id", $"bm25d".as("score"))
      val e = emb(s, dir)
      val qv = e.filter($"vec_id" === 0).select($"v".as("qv"))
      val cosTop = e.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 6))
        .select($"vec_id".as("doc_id"), $"cos")
        .orderBy($"cos".desc, $"doc_id").limit(RetrN)
        .select(lit("cos").as("side"), $"doc_id", $"cos".as("score"))
      val ranked = bmTop.union(cosTop)
        .withColumn("r", row_number().over(
          Window.partitionBy($"side").orderBy($"score".desc, $"doc_id")))
      val bmRanked = ranked.filter($"side" === "bm")
        .select($"doc_id", $"r".as("r_bm"))
      val cosRanked = ranked.filter($"side" === "cos")
        .select($"doc_id", $"score".as("cos"), $"r".as("r_cos"))
      // FULL outer: the fused universe is the UNION of both retrieved
      // sets. A one-sided join silently drops docs the other modality
      // retrieved — here, a top BM25 hit with no embedding row (the
      // sf0.1 fixture has 5k docs but 2k embeddings) would never fuse,
      // and the parity gate can't see it because the oracle would
      // replicate the same wrong direction.
      cosRanked.join(bmRanked, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(RrfK) + $"r_bm"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + $"r_cos"), lit(0.0)), 6))
        .orderBy($"rrf".desc, $"doc_id").limit(10)
        .select($"doc_id", $"r_cos", $"r_bm", $"rrf")
    },

    "s08_filtered_search" -> { (s, dir) =>
      import s.implicits._
      // FILTERED vector search — the production retrieval shape: a
      // metadata predicate (here label ∈ {0,1,2}) restricts the corpus
      // BEFORE any distance is computed. Pre-filtering beats
      // post-filtering an ANN result (which silently returns < k rows
      // when the filter is selective), and because the predicate is a
      // plain scan filter it pushes into the parquet reader — at
      // corpus scale the footer stats skip whole files of
      // non-qualifying labels (PlanShapeSpec pins the pushdown). The
      // scoring/top-k machinery is s01's: broadcast queries, one
      // corpus scan, bounded-heap top-k.
      val e = emb(s, dir)
      val q = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      val scored = e.filter($"label".isin(0, 1, 2))
        .select($"vec_id".as("n_id"), $"v")
        .join(broadcast(q), $"q_id" =!= $"n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .select($"q_id", $"n_id", $"cos")
      val top = graft.plans.TopKPerKey(scored, Seq("q_id"),
        struct($"cos" * -1, $"n_id"), K)
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      top.withColumn("rnk", row_number().over(w))
        .select($"q_id", $"n_id", $"cos", $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s11_quantized_rerank" -> { (s, dir) =>
      import s.implicits._
      // TWO-STAGE retrieval — the production shape once the float index
      // outgrows memory: a cheap first pass over int8-quantized vectors
      // (s07's absmax scheme) cuts the corpus to RerankC candidates per
      // query, then only the survivors pay the full-precision cosine
      // and the final top-K rank. Stage 1's score is INTEGER-exact by
      // construction — quantized components are round()ed integer
      // values in [−127, 127], so every product (≤ 16129) and the
      // 64-term sum (≤ ~10⁶) is an exactly-representable double in ANY
      // summation order, in both engines: zero float-parity risk where
      // the candidate CUT happens (ranks beyond the cut never matter).
      // Stage-1 candidates shuffle as bare (q_id, n_id, iscore) triples
      // through the bounded-heap TopKPerKey — vectors REJOIN after the
      // cut (s03's payload lesson), so at 100 TB the heavy rows number
      // |q|·RerankC, never |q|·|corpus|.
      val eq = emb(s, dir)
        .withColumn("amax", array_max(expr("transform(v, x -> abs(x))")))
        .withColumn("qa", expr("transform(v, x -> round(x * 127.0 / amax))"))
        .select($"vec_id", $"qa")
      val qq = eq.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"qa".as("qqa"))
      val scored = eq.select($"vec_id".as("n_id"), $"qa")
        .join(broadcast(qq), $"q_id" =!= $"n_id")
        .withColumn("iscore", graft.functions.DotProduct($"qqa", $"qa"))
        .select($"q_id", $"n_id", $"iscore")
      val cand = graft.plans.TopKPerKey(scored, Seq("q_id"),
        struct($"iscore" * -1, $"n_id"), RerankC)
        .select($"q_id", $"n_id")
      val e = emb(s, dir)
      val qv = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      cand
        .join(broadcast(qv), "q_id")
        .join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= K)
        .select($"q_id", $"n_id", $"cos", $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s12_diverse_topk" -> { (s, dir) =>
      import s.implicits._
      // DIVERSITY-QUOTA retrieval (MMR-lite): the best candidate PER
      // CELL (label cluster), then the global top-K over those per-cell
      // champions — at most one neighbor per cluster, the degenerate-
      // but-distributable point of the MMR family. True MMR re-scores
      // candidates against the growing selected set — a sequential
      // driver loop by construction; the cell-quota form keeps the
      // diversity guarantee a training-data curator actually wants
      // (no near-duplicate neighbors from one dense cluster) while
      // staying a two-window declarative plan. Shapes at 100 TB:
      // scoring is s01's broadcast-query corpus scan; the per-cell cut
      // runs through the bounded-heap TopKPerKey keyed (q_id, label) —
      // heap size 1, no per-cell sort — and the global rank's window
      // input is ≤ |queries|·|cells| champion rows. Both windows are
      // partitioned (PlanShapeSpec sweeps this).
      val e = emb(s, dir)
      val q = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      val scored = e.select($"vec_id".as("n_id"), $"label", $"v")
        .join(broadcast(q), $"q_id" =!= $"n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .select($"q_id", $"label", $"n_id", $"cos")
      val champs = graft.plans.TopKPerKey(scored, Seq("q_id", "label"),
        struct($"cos" * -1, $"n_id"), 1)
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      champs.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= K)
        .select($"q_id", $"n_id", $"label", $"cos", $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s13_ivf_refine" -> { (s, dir) =>
      import s.implicits._
      // Index MAINTENANCE on the TRAINED quantizer (the index s04 now
      // searches): one FULL-CORPUS Lloyd refinement pass — recompute
      // each trained cell's mean from its current members, reassign
      // the corpus, and report per-cell occupancy and churn. These are
      // the numbers an index-rebuild job reads to decide whether the
      // sampled training still fits the full data (high churn = the
      // sample under-represented the corpus; rebuild). The label-cell
      // variant this replaced survives as the diagnostic s22. Scale
      // shape unchanged: centroids stay k-row broadcasts; both
      // assignments are the shuffle-free argmax (map-side partial_max,
      // one best-row per vector on the exchange); the mean recompute
      // is the one positional-explode agg; every reported number is an
      // integer, and means round at 6 dp before the reassignment so
      // engine summation order cannot leak into the argmin.
      val e = emb(s, dir)
      val (_, cents) = kmTrain(s, e)
      val af0 = kmAssign(s, e.select($"vec_id", $"v"), cents)
        .select($"vec_id", $"cell")
      val cents1 = af0.join(e.select($"vec_id", $"v"), "vec_id")
        .select($"cell", posexplode($"v").as(Seq("i", "x")))
        .groupBy($"cell", $"i").agg(round(avg($"x"), 6).as("cx"))
        .groupBy($"cell")
        .agg(array_sort(collect_list(struct($"i", $"cx"))).as("pairs"))
        .select($"cell", expr("transform(pairs, p -> p.cx)").as("cv"))
      val af1 = kmAssign(s, e.select($"vec_id", $"v"), cents1)
        .select($"vec_id", $"cell")
      af1.join(af0.select($"vec_id", $"cell".as("old_cell")), "vec_id")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_members"),
          count(when($"old_cell" === $"cell", 1)).as("n_stayed"),
          count(when($"old_cell" =!= $"cell", 1)).as("n_moved_in"))
        .orderBy($"cell")
    },

    "s22_label_refine_diag" -> { (s, dir) =>
      import s.implicits._
      // FIXTURE DIAGNOSTIC (see s21): one Lloyd reassignment pass over
      // the label-derived coarse index — occupancy and churn vs the
      // generator's labels. The production refinement is s13 on the
      // trained quantizer. Shapes as before: broadcast centroids, and
      // the n·k candidate scores never shuffle (groupBy(vec_id)
      // max(struct) partial-aggregates map-side; the NEGATED label in
      // the struct makes ties land on the LOWEST cell exactly like the
      // oracle's `ORDER BY cdot DESC, c_label`).
      val e = emb(s, dir)
      val cents = ivfCentroids(s, e)
      val best = e.select($"vec_id", $"label", $"v")
        .join(broadcast(cents), lit(true))
        .withColumn("cdot", round(dot($"v", $"cv"), 6))
        .groupBy($"vec_id")
        .agg(max(struct($"cdot", (-$"c_label").as("neg"),
          $"c_label".as("cell"), $"label".as("old"))).as("b"))
        .select($"vec_id", $"b.cell".as("cell"), $"b.old".as("old_label"))
      best.groupBy($"cell")
        .agg(count(lit(1)).as("n_members"),
          count(when($"old_label" === $"cell", 1)).as("n_stayed"),
          count(when($"old_label" =!= $"cell", 1)).as("n_moved_in"))
        .orderBy($"cell")
    },

    "s14_kmeans_train" -> { (s, dir) =>
      import s.implicits._
      // TRAINED coarse quantizer (the s04/s13 design gap closed): an
      // unlabeled corpus has no label-derived cells, so the index build
      // is sampled k-means — bounded md5-rank sample, lowest-vec_id seeds,
      // KmIters Lloyd passes — then a full-corpus assignment. Output is
      // the per-cell index summary an index-build job reports: member
      // counts (full + sample) and mean squared distance (the inertia
      // the next rebuild compares against). Scale: the sample is the
      // only frame the training loop touches (materialized once, ~1/4
      // of corpus here, a fixed budget in production); centroids stay
      // k-row broadcasts; every assignment is the s13 argmax — the
      // exchange carries one row per vector at every step.
      val e = emb(s, dir)
      val (samp, cents) = kmTrain(s, e)
      kmAssign(s, e.select($"vec_id", $"v"), cents)
        .join(samp.select($"vec_id", lit(1L).as("in_sample")),
          Seq("vec_id"), "left")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_members"),
          sum(coalesce($"in_sample", lit(0L))).as("n_sample"),
          round(avg($"d2"), 4).as("avg_d2"))
        .orderBy($"cell")
    },

    "s15_trained_recall" -> { (s, dir) =>
      import s.implicits._
      // Recall@K of the trained-IVF search against the exact baseline
      // — the measurement that decides whether the trained quantizer
      // is good enough to ship, run the same way at corpus scale. The
      // approx side IS s04's search path (trainedIvfTopKCore, one
      // definition), so this recall gates the shipped index, not a
      // lookalike. Candidates come from the full-corpus assignment
      // (the inverted lists), so the searched fraction is
      // |probed cells| / |corpus|; vectors rejoin after the cell cut
      // (s03's payload lesson).
      val approx = trainedIvfTopKCore(s, dir).select($"q_id", $"n_id")
      exactTopKCore(s, dir).select($"q_id", $"n_id")
        .join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
        .withColumn("recall", round($"n_hits" / lit(K.toDouble), 4))
        .orderBy($"q_id")
    },

    "s16_pq_train" -> { (s, dir) =>
      import s.implicits._
      // PRODUCT-QUANTIZATION codebook training + corpus encode (the
      // 32× index-footprint cut; see the PQ section comment). All PqM
      // subspaces train in ONE plan with `sub` as a key; output is the
      // per-(subspace, codeword) occupancy and mean quantization
      // distortion — the fidelity numbers that decide PqM/PqK before a
      // corpus-scale re-encode.
      val e = emb(s, dir)
      val (_, cb) = pqTrain(s, e)
      pqAssign(s, pqSubs(s, e.select($"vec_id", $"v")), cb)
        .groupBy($"sub", $"cell")
        .agg(count(lit(1)).as("n_members"),
          round(avg($"d2"), 4).as("avg_d2"))
        .orderBy($"sub", $"cell")
    },

    "s17_pq_adc_topk" -> { (s, dir) =>
      import s.implicits._
      pqAdcTopKCore(s, dir)
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s18_pq_recall" -> { (s, dir) =>
      import s.implicits._
      // Recall@K of the ADC ranking vs the exact cosine baseline —
      // completing the per-index audit family (s06 LSH, s15 trained
      // IVF, s18 PQ): the number that decides PqM/PqK before a
      // corpus-scale re-encode, measured exactly as it would be at
      // scale. (ADC ranks by quantized L2, the baseline by cosine, so
      // fixture recall also absorbs the metric gap — both are the
      // deployed pairing's halves.)
      val approx = pqAdcTopKCore(s, dir).select($"q_id", $"n_id")
      exactTopKCore(s, dir).select($"q_id", $"n_id")
        .join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
        .withColumn("recall", round($"n_hits" / lit(K.toDouble), 4))
        .orderBy($"q_id")
    },

    "s19_ivfpq_topk" -> { (s, dir) =>
      import s.implicits._
      // The composed production index: IVF coarse probe over s14's
      // trained cells + s17's PQ/ADC fine ranking, restricted to the
      // probed inverted lists (see ivfpqTopKCore). This is the search
      // path a 100 TB deployment actually runs: the corpus is touched
      // as (vec_id, cell) + 8 B of codes, floats only at train time.
      ivfpqTopKCore(s, dir)
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s20_ivfpq_recall" -> { (s, dir) =>
      import s.implicits._
      // Recall@K of the composed IVF-PQ search vs the exact cosine
      // baseline — the fourth row of the index-audit family (s06 LSH,
      // s15 trained IVF, s18 flat PQ, s20 IVF-PQ). Comparing s20 to
      // s18 isolates the recall cost of the IVF cut alone (same codes,
      // same metric gap) — exactly the number that tunes NProbe.
      val approx = ivfpqTopKCore(s, dir).select($"q_id", $"n_id")
      exactTopKCore(s, dir).select($"q_id", $"n_id")
        .join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
        .withColumn("recall", round($"n_hits" / lit(K.toDouble), 4))
        .orderBy($"q_id")
    },

    "s31_refine_depth_curve" -> { (s, dir) =>
      import s.implicits._
      // The refine knob's OWN operating curve — closing the measured-
      // knob gap s29 shipped with: this measures the IVF-PQ +
      // exact-rerank chain itself at every depth in RefineDepths
      // (25/50/100/200, bracketing the shipped 200 from below) at the
      // chain's shipped probe depth, in ONE query (candidate volume =
      // cost axis, recall@K vs the exact baseline = quality axis);
      // the RefineNProbe doc carries the full (nprobe × depth) grid
      // this axis is one row of. Scale shapes:
      // the ADC candidate stream computes ONCE at the deepest depth
      // (each row carries its ADC rank, so "in at depth d" is a
      // per-row predicate); exact cosine computes once per candidate
      // and is reused by every depth; the 4-depth axis is a broadcast
      // fan-out; per-(query, depth) ranking is a partitioned window.
      val cand = ivfpqTopKCore(s, dir, RefineDepth, RefineNProbe)
        .select($"q_id", $"n_id", $"rnk".as("arnk"))
      val e = emb(s, dir)
      val qv = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      val scored = cand.join(broadcast(qv), "q_id")
        .join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .select($"q_id", $"n_id", $"arnk", $"cos")
        .localCheckpoint() // one rerank feeds all depths
      val depths = RefineDepths.toDF("depth")
      val perDepth = scored.join(broadcast(depths), $"arnk" <= $"depth")
      val w = Window.partitionBy($"q_id", $"depth")
        .orderBy($"cos".desc, $"n_id")
      val top = perDepth.withColumn("rr", row_number().over(w))
        .filter($"rr" <= K).select($"depth", $"q_id", $"n_id")
      val exact = exactTopKCore(s, dir).select($"q_id", $"n_id")
      val hits = top
        .join(exact.withColumn("h", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy($"depth")
        .agg(sum(coalesce($"h", lit(0))).as("n_hits"))
      val vol = perDepth.groupBy($"depth")
        .agg(count(lit(1)).as("n_candidates"))
      hits.join(vol, "depth")
        .select($"depth", $"n_candidates", $"n_hits",
          round($"n_hits" / lit(K.toDouble * NQueries), 4).as("recall"))
        .orderBy($"depth")
    },

    "s29_ivfpq_refined_topk" -> { (s, dir) =>
      import s.implicits._
      // The composed index WITH its refine stage (see
      // ivfpqRefinedCore) — the chain a deployment actually serves:
      // ADC proposes, exact vectors dispose. Beside s19 (ADC-final),
      // the pair shows what RefineDepth vector fetches per query buy;
      // s30 puts the number on it.
      ivfpqRefinedCore(s, dir)
        .select($"q_id", $"n_id", $"cos", $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s30_ivfpq_refined_recall" -> { (s, dir) =>
      import s.implicits._
      // Recall@K of the refined chain vs the exact baseline — the
      // sixth row of the index-audit family (s06 LSH, s15 IVF, s18
      // flat PQ, s20 IVF-PQ, s24 residual, s30 refined IVF-PQ). s30
      // vs s20 isolates what the refine stage buys at the same probe
      // settings: every exact top-K neighbor that survives in ADC's
      // top-RefineDepth is recovered, so the only remaining loss is
      // candidates the coarse+code stages never proposed.
      val approx = ivfpqRefinedCore(s, dir).select($"q_id", $"n_id")
      exactTopKCore(s, dir).select($"q_id", $"n_id")
        .join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
        .withColumn("recall", round($"n_hits" / lit(K.toDouble), 4))
        .orderBy($"q_id")
    },

    "s23_ivfpq_residual_topk" -> { (s, dir) =>
      import s.implicits._
      // Residual-encoded IVF-PQ — FAISS's by_residual=true DEFAULT
      // (see ivfpqResidualTopKCore): codes quantize v − centroid, the
      // accuracy-per-byte winner; ADC tables become per-(query, probed
      // cell) but stay broadcast-sized. Beside s19 (raw codes), the
      // pair lets a deployment A/B the two encodings with s24 vs s20.
      ivfpqResidualTopKCore(s, dir)
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s24_ivfpq_residual_recall" -> { (s, dir) =>
      import s.implicits._
      // Recall@K of the residual-encoded search vs the exact baseline
      // — s24 vs s20 isolates what residual encoding buys at the same
      // code budget (the FAISS-default A/B), completing the audit
      // family: s06 LSH, s15 IVF, s18 flat PQ, s20 IVF-PQ, s24
      // residual IVF-PQ.
      val approx = ivfpqResidualTopKCore(s, dir).select($"q_id", $"n_id")
      exactTopKCore(s, dir).select($"q_id", $"n_id")
        .join(approx.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
        .withColumn("recall", round($"n_hits" / lit(K.toDouble), 4))
        .orderBy($"q_id")
    },

    "s25_nprobe_curve" -> { (s, dir) =>
      import s.implicits._
      // The IVF tuning table — d23's twin for the OTHER index knob:
      // recall@K and candidate volume at EVERY probe depth 1..KmK, in
      // one query. This is the curve an operator reads before moving
      // NProbe on a 100 TB index (more probes = more inverted-list
      // bytes scanned per query, linearly; recall saturates), measured
      // on the corpus's real cell geometry rather than derived from an
      // idealized distribution — the justification NProbe=2 previously
      // didn't have as a number. Scale shape: probe ranks come from
      // one broadcast-centroid pass (every candidate carries its
      // cell's rank, so "include at depth ≥ r" is a per-row predicate,
      // not a re-probe per config); the config axis is a KmK-row
      // broadcast fan-out of the ALREADY-scored candidate stream
      // (cosine computed once, reused by all depths); per-(query,
      // depth) ranking is a partitioned window; the truth side is the
      // exact baseline shared with every recall gate.
      val e = emb(s, dir)
      val (_, cents) = kmTrain(s, e)
      val af = kmAssign(s, e.select($"vec_id", $"v"), cents)
        .select($"vec_id", $"cell")
      val q = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      val wProbe = Window.partitionBy($"q_id").orderBy($"d2", $"cell")
      val probes = q.join(broadcast(cents), lit(true))
        .withColumn("d2", kmDist2($"qv", $"cv"))
        .withColumn("p_rnk", row_number().over(wProbe))
        .select($"q_id", $"qv", $"cell", $"p_rnk")
      val cand = af.select($"vec_id".as("n_id"), $"cell")
        .join(broadcast(probes), "cell")
        .filter($"q_id" =!= $"n_id")
      // scored once, consumed by the volume agg AND the rank pass —
      // the d23 materialization trade (narrow frame vs recompute)
      val scored = cand.join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .select($"q_id", $"n_id", $"p_rnk", $"cos")
        .localCheckpoint()
      val cfgs = (1 to KmK).toDF("nprobe")
      val perCfg = scored.join(broadcast(cfgs), $"p_rnk" <= $"nprobe")
      val wR = Window.partitionBy($"q_id", $"nprobe")
        .orderBy($"cos".desc, $"n_id")
      val top = perCfg.withColumn("rnk", row_number().over(wR))
        .filter($"rnk" <= K)
      val exact = exactTopKCore(s, dir).select($"q_id", $"n_id")
        .withColumn("t", lit(1)).localCheckpoint()
      val nTrue = exact.agg(count(lit(1)).as("n_true"))
      val hits = top.join(exact, Seq("q_id", "n_id"), "left")
        .groupBy($"nprobe").agg(sum(coalesce($"t", lit(0))).as("n_hits"))
      perCfg.groupBy($"nprobe").agg(count(lit(1)).as("n_candidates"))
        .join(hits, Seq("nprobe"), "left")
        .crossJoin(broadcast(nTrue))
        .select($"nprobe", $"n_candidates",
          coalesce($"n_hits", lit(0L)).as("n_hits"), $"n_true",
          round(coalesce($"n_hits", lit(0L)) /
            $"n_true".cast("double"), 4).as("recall"))
        .orderBy($"nprobe")
    },

    "s27_ivf_cell_stats" -> { (s, dir) =>
      import s.implicits._
      // INDEX HEALTH for the trained IVF — the diagnostics FAISS
      // prints after a build and an operator reads before trusting an
      // index: per-cell occupancy and share, mean quantization error
      // (the d2 the assignment already computed — rising error means
      // the sampled training no longer represents the corpus), and
      // the global IMBALANCE FACTOR λ = k_used · Σ n_c² / (Σ n_c)²,
      // FAISS's own list-balance metric: 1.0 when the inverted lists
      // are even; expected probe cost per query scales ≈ λ, so a
      // drifting λ is the retrain trigger for a 100 TB index (the
      // number s13's churn report pairs with). Shapes: one trained
      // assignment (broadcast centroids, shuffle-free argmax), one
      // per-cell agg with map-side partials, one KmK-row broadcast
      // total. Parity: the mean d2 sums in DECIMAL before dividing
      // (order-insensitive); λ is integer arithmetic up to a single
      // double division.
      val e = emb(s, dir)
      val (_, cents) = kmTrain(s, e)
      val af = kmAssign(s, e.select($"vec_id", $"v"), cents)
      val per = af.groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum($"d2".cast("decimal(18,6)")).as("sd2"))
      val tot = per.agg(count(lit(1)).as("n_cells"),
        sum($"n_vecs").as("n_total"),
        sum($"n_vecs" * $"n_vecs").as("ss"))
      per.crossJoin(broadcast(tot))
        .select($"cell", $"n_vecs",
          round($"n_vecs" / $"n_total".cast("double"), 6).as("cell_share"),
          round($"sd2".cast("double") / $"n_vecs".cast("double"), 6)
            .as("mean_d2"),
          round(($"n_cells" * $"ss").cast("double") /
            ($"n_total" * $"n_total").cast("double"), 6).as("imbalance"))
        .orderBy($"cell")
    },

    "s28_rerank_depth_curve" -> { (s, dir) =>
      import s.implicits._
      // The TUNING TABLE behind s11's two-stage retrieval — the third
      // index knob measured (d23: LSH banding; s25: NProbe; here: the
      // stage-1 candidate depth): recall@K and candidate volume at
      // every depth in RerankDepths, in ONE query. Depth is the
      // rerank path's cost dial — each candidate pays a
      // full-precision vector fetch + cosine, so at 100 TB the depth
      // IS the per-query I/O budget — and this curve says what that
      // budget buys, measured on the corpus's real quantized-score
      // geometry. Scale shape: stage-1 scores stream through ONE
      // bounded-heap TopKPerKey at the DEEPEST depth (shallower
      // depths are a per-row predicate on the stage-1 rank, not a
      // re-scan); the exact cosine is computed once per candidate and
      // reused by every depth; per-(query, depth) ranking windows
      // over ≤ |q|·depth·|cfg| rows; the truth side is the shared
      // exact baseline. Stage-1 ranks are INTEGER-exact (s11's
      // argument), so the cut position can't drift between engines.
      val e = emb(s, dir)
      val eq = e
        .withColumn("amax", array_max(expr("transform(v, x -> abs(x))")))
        .withColumn("qa", expr("transform(v, x -> round(x * 127.0 / amax))"))
        .select($"vec_id", $"qa")
      val qq = eq.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"qa".as("qqa"))
      val scored1 = eq.select($"vec_id".as("n_id"), $"qa")
        .join(broadcast(qq), $"q_id" =!= $"n_id")
        .withColumn("iscore", graft.functions.DotProduct($"qqa", $"qa"))
        .select($"q_id", $"n_id", $"iscore")
      val cand = graft.plans.TopKPerKey(scored1, Seq("q_id"),
        struct($"iscore" * -1, $"n_id"), RerankDepths.max)
      val wS1 = Window.partitionBy($"q_id").orderBy($"iscore".desc, $"n_id")
      val qv = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      // scored once, consumed by the volume agg AND the rank pass —
      // the s25 materialization trade (narrow frame vs recompute)
      val rer = cand.withColumn("r1", row_number().over(wS1))
        .join(broadcast(qv), "q_id")
        .join(e.select($"vec_id".as("n_id"), $"v"), "n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .select($"q_id", $"n_id", $"r1", $"cos")
        .localCheckpoint()
      val cfgs = RerankDepths.toDF("depth")
      val perCfg = rer.join(broadcast(cfgs), $"r1" <= $"depth")
      val wR = Window.partitionBy($"q_id", $"depth")
        .orderBy($"cos".desc, $"n_id")
      val top = perCfg.withColumn("rnk", row_number().over(wR))
        .filter($"rnk" <= K)
      val exact = exactTopKCore(s, dir).select($"q_id", $"n_id")
        .withColumn("t", lit(1)).localCheckpoint()
      val nTrue = exact.agg(count(lit(1)).as("n_true"))
      val hits = top.join(exact, Seq("q_id", "n_id"), "left")
        .groupBy($"depth").agg(sum(coalesce($"t", lit(0))).as("n_hits"))
      perCfg.groupBy($"depth").agg(count(lit(1)).as("n_candidates"))
        .join(hits, Seq("depth"), "left")
        .crossJoin(broadcast(nTrue))
        .select($"depth", $"n_candidates",
          coalesce($"n_hits", lit(0L)).as("n_hits"), $"n_true",
          round(coalesce($"n_hits", lit(0L)) /
            $"n_true".cast("double"), 4).as("recall"))
        .orderBy($"depth")
    },

    "s32_bm25_index_serving" -> { (s, dir) =>
      import s.implicits._
      // The SERVING-TIER form of s09, driver-gated: the same BM25
      // ranking answered from the WRITTEN postings index — built once
      // per (JVM, fixture) by ServingIndexes, the e14 seeding
      // discipline — instead of re-deriving tf/df/stats from corpus
      // text in-plan. TextIndexSpec proves artifact search == the
      // one-plan s09 bit-for-bit and that the plan scans zero corpus
      // bytes with the terms' buckets partition-pruned; this row puts
      // the path a production retrieval service actually runs under
      // the driver's DuckDB hash gate (same oracle SQL as s09).
      // Scale: the recurring cost is |terms| postings buckets, never
      // the corpus; the build amortizes like any index build.
      TextIndex.search(s, ServingIndexes.text(s, dir), BmTerms, 10)
        .select($"doc_id", $"n_terms", $"bm25d".cast("double").as("bm25"))
    },

    "s33_ann_index_serving" -> { (s, dir) =>
      import s.implicits._
      // The SERVING-TIER refined ANN chain, driver-gated: IVF-PQ
      // coarse probe + ADC + exact rerank answered ENTIRELY from the
      // written AnnIndex artifacts (centroids/codebooks/invlists/
      // codes + the stored-vectors refine store) at the shipped
      // (RefineNProbe, RefineDepth) elbow. The query frame
      // materializes to literals (NQueries bounded rows — the
      // AnnIndexSpec discipline), so every byte the gated plan reads
      // comes from index artifacts, both of them pruned (invlists by
      // probed cell, the refine store by the candidate IN-literal).
      // The oracle replays the identical count-bounded training (the
      // s19/s29 CTEs describe the artifact contents exactly) and
      // reranks by exact squared L2 — searchRefined's metric (FAISS
      // IndexRefineFlat), under which an exact copy scores 0.0
      // regardless of its quantization.
      val qRows = emb(s, dir).filter($"vec_id" < NQueries)
        .select($"vec_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val queries = qRows.toSeq.toDF("q_id", "qv")
      AnnIndex.searchRefined(s, ServingIndexes.ann(s, dir), queries, K)
        .select($"q_id", $"n_id", $"d2".cast("double").as("d2"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s34_hybrid_index_serving" -> { (s, dir) =>
      import s.implicits._
      // The SERVING-TIER hybrid stack, driver-gated: RRF fusion of
      // the postings-index lexical ranking and the IVF-PQ ADC vector
      // ranking, BOTH answered from written artifacts (HybridIndex —
      // the production form of s10, whose two retrievers re-derive
      // their models from the corpus every run). One query: BmTerms
      // on the lexical side, vec 0's embedding (a bounded literal) on
      // the vector side, top-HybN retrieved per side, RRF top-10.
      // Ranks are integers so the fusion is engine-exact; the oracle
      // replays the BM25 CTEs, the trained-index CTEs, and the same
      // (rank-side, id) tiebreaks.
      val qv = emb(s, dir).filter($"vec_id" === 0)
        .select($"v").head().getSeq[Double](0).toSeq
      HybridIndex.search(s, ServingIndexes.text(s, dir),
        ServingIndexes.ann(s, dir), BmTerms, qv, HybN, 10)
    },

    "s36_phrase_index_serving" -> { (s, dir) =>
      // POSITIONAL phrase search from the written postings index,
      // driver-gated: top-10 docs by occurrence count of the exact
      // consecutive bigram (overlapping starts count, ties to the
      // lowest doc_id) — the classic positional-index query BM25's
      // bag-of-words scoring cannot express ("spark window" as a
      // phrase is NOT spark AND window). The plan reads the phrase
      // terms' postings buckets only (TextIndexSpec pins the pruning
      // and the sliding-window truth); the oracle recomputes the
      // sliding-window count from raw text. Scale: |phrase| postings
      // buckets, a doc_id-keyed conjunctive join, per-row adjacency
      // arithmetic — never an explode past the first slot.
      TextIndex.searchPhrase(s, ServingIndexes.text(s, dir),
        PhraseTerms, 10)
    },

    "s52_sql_phrase_serving" -> { (s, dir) =>
      // s36 through the SQL surface: graft_phrase over the written
      // positional postings index — the phrase query a SQL-only
      // client could not express before (BM25's bag-of-words TVF
      // treats "spark window" as spark AND window). Completes the
      // lexical side of the gated TVF set (bm25 s47, phrase s52);
      // same deferred ServingScan leaf, so EXPLAIN stays free.
      graft.functions.registerAll(s)
      val idx = ServingIndexes.text(s, dir)
      s.sql(s"SELECT * FROM graft_phrase('$idx', " +
        s"'${PhraseTerms.mkString(" ")}', 10)")
    },

    "s37_batch_index_serving" -> { (s, dir) =>
      import s.implicits._
      // BATCH-query retrieval from the written postings index,
      // driver-gated: the request-batch form a serving tier actually
      // runs — three queries' top-10, scored in ONE pass over the
      // UNION of the batch's terms (the pruned postings read
      // amortizes across queries sharing buckets), per-query cut by
      // the bounded-heap TopKPerKey, ranked by a window partitioned
      // on the real q_id key. The oracle scores each query's term set
      // independently (BM25 df/avgdl are corpus-global, so the arms
      // share nothing but the corpus stats).
      val queries = BatchQueries.toDF("q_id", "terms")
      TextIndex.searchMany(s, ServingIndexes.text(s, dir), queries, 10)
        .select($"q_id", $"doc_id", $"n_terms",
          $"bm25d".cast("double").as("bm25"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s38_filtered_index_serving" -> { (s, dir) =>
      import s.implicits._
      // FILTERED ANN from the written IVF-PQ index, driver-gated: the
      // allowlist (labels 0-2, s08's metadata predicate) excises
      // candidates BEFORE the ADC ranking and the top-k cut — the
      // pre-filter semantics s08 pins for the exact path, now gated
      // on the artifact path (post-filtering a top-k silently
      // under-returns when the filter is selective). The allowlist is
      // an INPUT (like d30's batch): one narrow id column, semi-joined
      // against the probed candidates; the index side still reads
      // pruned artifacts only.
      val qRows = emb(s, dir).filter($"vec_id" < NQueries)
        .select($"vec_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val queries = qRows.toSeq.toDF("q_id", "qv")
      val allow = emb(s, dir).filter($"label".isin(0, 1, 2))
        .select($"vec_id")
      AnnIndex.search(s, ServingIndexes.ann(s, dir), queries, K,
          Some(allow))
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s39_stream_ingest_serving" -> { (s, dir) =>
      import s.implicits._
      // STREAMED ingest under the driver's gate: the index starts from
      // the doc_id%5!=0 split; the rest arrives through a Structured
      // Streaming file source and appends per micro-batch via
      // foreachBatch (ServingIndexes.textStream seeds the stream run
      // once per JVM). The search must hash-match s09's oracle over
      // the FULL corpus — i.e. an index fed by the streaming ingest
      // loop serves bit-identically to a batch-built one (TextIndexSpec
      // additionally proves at-least-once redelivery is absorbed by
      // the same append path). Scale: ingest is per-batch delta
      // appends (anti-joined membership, register-last crash safety);
      // the recurring search still reads |terms| postings buckets.
      TextIndex.search(s, ServingIndexes.textStream(s, dir), BmTerms, 10)
        .select($"doc_id", $"n_terms", $"bm25d".cast("double").as("bm25"))
    },

    "s40_ann_erasure_serving" -> { (s, dir) =>
      import s.implicits._
      // RIGHT-TO-ERASURE on the vector index, driver-gated: build,
      // delete vec_id%10==7 (tombstones), COMPACT (fold tombstones
      // into rewritten invlists/codes via the crash-safe swap), then
      // search. The oracle ranks over the surviving corpus only — an
      // erased vector surfacing anywhere in the top-k flips the hash.
      // The trained model (centroids/codebooks) deliberately stays:
      // erasure removes DATA, not the quantizer it helped train — the
      // FAISS remove_ids semantics, and why the oracle's training CTEs
      // still read the full corpus while its candidates are filtered.
      val qRows = emb(s, dir).filter($"vec_id" < NQueries)
        .select($"vec_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val queries = qRows.toSeq.toDF("q_id", "qv")
      AnnIndex.search(s, ServingIndexes.annErase(s, dir), queries, K)
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s41_text_erasure_serving" -> { (s, dir) =>
      import s.implicits._
      // RIGHT-TO-ERASURE on the lexical index, driver-gated: build
      // over the full corpus, delete doc_id%20==3, compact, search.
      // The oracle is BM25 over the REDUCED corpus — df, n_corpus and
      // avgdl all follow the erasure (the TextIndexSpec stat-correction
      // equivalence, now under the driver's hash gate): a deleted doc
      // leaking into any survivor's SCORE, not just the result list,
      // flips the hash.
      TextIndex.search(s, ServingIndexes.textErase(s, dir), BmTerms, 10)
        .select($"doc_id", $"n_terms", $"bm25d".cast("double").as("bm25"))
    },

    "s42_ann_residual_serving" -> { (s, dir) =>
      import s.implicits._
      // The RESIDUAL-encoded serving path (FAISS's by_residual=true
      // default — the encoding a deployment should actually serve),
      // driver-gated from the written artifacts: per-(query, probed
      // cell) ADC tables against residual codes, answered entirely
      // from the byResidual index ServingIndexes seeds once per JVM.
      // Same oracle as s23 (AnnIndexSpec pins artifact == one-plan
      // equality for the residual model); query side materialized to
      // literals, the s33 discipline.
      val qRows = emb(s, dir).filter($"vec_id" < NQueries)
        .select($"vec_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val queries = qRows.toSeq.toDF("q_id", "qv")
      AnnIndex.search(s, ServingIndexes.annResidual(s, dir), queries, K)
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "d33_semantic_admission_serving" -> { (s, dir) =>
      import s.implicits._
      // SEMANTIC admission served from artifacts, driver-gated — the
      // third rule family beside d30's exact and near legs, and the
      // AdmissionStackSpec capstone's production form: every incoming
      // vector (vec_id % 5 == 4, the d13/d17 split) retrieves its
      // top-1 corpus neighbor through `AnnIndex.searchRefined`
      // (allowlist = the corpus split, so batch vectors never admit
      // against each other here) and rejects when the EXACT re-scored
      // distance clears the threshold — the refine stage is what
      // makes a distance threshold trustworthy at all (raw ADC
      // conflates distance with quantization distortion, the spec's
      // measured OOD caveat). Funnel per source; the oracle replays
      // training, the refined chain, and the same decimal compare.
      val annIdx = ServingIndexes.ann(s, dir)
      val batch = emb(s, dir).filter($"vec_id" % 5 === 4)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
      val allow = emb(s, dir).filter($"vec_id" % 5 =!= 4)
        .select($"vec_id")
      AnnIndex.searchRefined(s, annIdx, batch, 1, allow = Some(allow))
        .join(docsTbl(s, dir).select($"doc_id".as("q_id"), $"source"),
          "q_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(when($"d2" <= SemAdmitD2, 1L).otherwise(0L))
            .as("n_rej_semantic"),
          sum(when($"d2" > SemAdmitD2, 1L).otherwise(0L))
            .as("n_admitted"))
        .orderBy($"source")
    },

    "s43_hybrid_refined_serving" -> { (s, dir) =>
      import s.implicits._
      // The QUALITY hybrid configuration under the driver's gate:
      // RRF of the postings-index lexical ranking and the REFINED
      // vector ranking (IVF-PQ proposes at the shipped elbow, exact
      // full-precision vectors from the refine artifact dispose) —
      // s34's fusion with the ann leg upgraded from raw ADC ordering
      // to the refined chain's measured 0.70 recall. Both sides read
      // written artifacts only; the oracle replays training, the
      // (RefineNProbe, RefineDepth) candidate chain, the exact-L2
      // rerank, and the same integer-rank fusion.
      val qv = emb(s, dir).filter($"vec_id" === 0)
        .select($"v").head().getSeq[Double](0).toSeq
      HybridIndex.searchRefined(s, ServingIndexes.text(s, dir),
        ServingIndexes.ann(s, dir), BmTerms, qv, HybN, 10)
    },

    "s44_hybrid_operating_curve" -> { (s, dir) =>
      import s.implicits._
      // The hybrid tier's OPERATING CURVE — the d23/s25/s28 measurement
      // discipline applied to the last unmeasured serving knobs
      // (HybridIndex's per-side depth and the RRF constant): a 3-query
      // batch (BatchQueries' term sets paired with query vectors
      // 0..2) retrieves each side's ranked list ONCE from the written
      // indexes at the deepest swept depth (refined ANN top-100, BM25
      // top-100), then EVERY (hyb_n, rrf_k) config derives its fused
      // top-10 by bounded arithmetic over those ≤600 rows — filter to
      // rnk_side <= hyb_n, regroup, re-cut — never a re-probe per
      // config. Each config's quality is its overlap with the two
      // exact references: the exact-cosine top-10 (the s06/s30 audit
      // family's truth — what a perfect vector index would serve) and
      // the exact BM25 top-10 (what the lexical side alone serves).
      // The curve shows where fusion stops buying vector recall
      // (hyb_n saturation) and how rrf_k trades head-rank dominance
      // against vote counting, bracketing the shipped (50, 60).
      // Scale: side lists are |batch|×maxN-bounded, the config sweep
      // is a broadcast non-equi join over them, references are one
      // corpus pass each (a measurement row, like s25/s28 — the
      // served rows s34/s43 stay zero-corpus).
      val qRows = emb(s, dir).filter($"vec_id" < HybCurveNQ)
        .select($"vec_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val queries = qRows.toSeq.toDF("q_id", "qv")
      val annSide = AnnIndex.searchRefined(s, ServingIndexes.ann(s, dir),
          queries, HybCurveMaxN)
        .select($"q_id", $"n_id".as("doc_id"), $"rnk".as("rnk_side"))
      val bmSide = TextIndex.searchMany(s, ServingIndexes.text(s, dir),
          BatchQueries.toDF("q_id", "terms"), HybCurveMaxN)
        .select($"q_id", $"doc_id", $"rnk".as("rnk_side"))
        // tiny (≤300 rows), consumed twice with different cuts: the
        // fusion input and the lexical top-10 reference
        .localCheckpoint()
      val sides = annSide.unionByName(bmSide)
      val cfgs = (for (n <- HybCurveNs; k0 <- HybCurveKs) yield (n, k0))
        .toDF("hyb_n", "rrf_k")
      val fscore = sides.join(broadcast(cfgs), $"rnk_side" <= $"hyb_n")
        .groupBy($"hyb_n", $"rrf_k", $"q_id", $"doc_id")
        // ≤2 addends per (q, doc): the double sum is order-exact
        .agg(round(sum(lit(1.0) / ($"rrf_k" + $"rnk_side")), 6).as("rrf"))
      val fused = graft.plans.TopKPerKey(fscore,
          Seq("hyb_n", "rrf_k", "q_id"),
          struct((-$"rrf").as("nr"), $"doc_id"), 10)
        .select($"hyb_n", $"rrf_k", $"q_id", $"doc_id")
      val en = emb(s, dir).select($"vec_id".as("n_id"), $"v")
      val xscored = en.join(broadcast(queries), $"q_id" =!= $"n_id")
        .withColumn("cos", round(graft.functions.CosineSim($"qv", $"v"), 4))
        .select($"q_id", $"n_id", $"cos")
      val xtop = graft.plans.TopKPerKey(xscored, Seq("q_id"),
          struct(($"cos" * -1).as("nc"), $"n_id"), 10)
        .select($"q_id", $"n_id".as("doc_id"))
      val denom = lit((HybCurveNQ * 10).toDouble)
      fused
        .join(xtop.withColumn("hx", lit(1)), Seq("q_id", "doc_id"), "left")
        .join(bmSide.filter($"rnk_side" <= 10).select($"q_id", $"doc_id")
          .withColumn("hb", lit(1)), Seq("q_id", "doc_id"), "left")
        .groupBy($"hyb_n", $"rrf_k")
        .agg(count(lit(1)).as("n_fused"),
          sum(coalesce($"hx", lit(0))).cast("long").as("ov_cos"),
          sum(coalesce($"hb", lit(0))).cast("long").as("ov_bm"))
        .withColumn("recall_cos", round($"ov_cos" / denom, 4))
        .withColumn("recall_bm", round($"ov_bm" / denom, 4))
        .orderBy($"hyb_n", $"rrf_k")
    },

    "s45_pq_budget_curve" -> { (s, dir) =>
      import s.implicits._
      // The PQ CODE-BUDGET curve — the last unmeasured index knob
      // (d23 banding / s25 NProbe / s28-s31 depth all have curves;
      // the shipped PqM×PqK = 8×16 was design guidance until now):
      // three (M, K) points at the SAME 32-bit code budget, each
      // fully re-trained (pqTrainMK) and corpus-encoded, measured on
      // BOTH axes that matter — reconstruction distortion (the mean
      // per-vector sum of subspace quantization errors, what the
      // codes lose) and flat-ADC recall@K vs the exact-cosine truth
      // (what the ranking keeps; flat ADC so no coarse-probe loss
      // muddies the comparison — the s17/s18 isolation argument).
      // Scale: training is TrainN-bounded per config, encode is one
      // corpus pass per config (M narrow rows/vector), the distortion
      // agg partial-sums in task, recall reuses the bounded exact
      // reference; 3 configs = 3 bounded passes, a measurement row.
      val e0 = emb(s, dir)
      // tiny (NQueries×K rows), consumed by all three arms
      val exact = exactTopKCore(s, dir).select($"q_id", $"n_id")
        .localCheckpoint()
      val arms = PqBudgetConfigs.map { case (m, k0) =>
        val bits = m * (31 - Integer.numberOfLeadingZeros(k0))
        val (_, cb) = pqTrainMK(s, e0, m, k0)
        // the corpus encode feeds TWO consumers (distortion + ADC) and
        // stays UN-materialized on purpose: the argmax groupBy's
        // exchange is schema-identical under both, so AQE stage reuse
        // unifies them — a localCheckpoint here measured 2→4.6 s at
        // sf0.1 (the round-10 composed-ANN lesson, re-confirmed live)
        val enc = pqAssign(s, pqSubsM(s, e0.select($"vec_id", $"v"), m), cb)
        // per-vector reconstruction error: 6dp-rounded subspace d2s
        // sum in DECIMAL (order-exact); the corpus mean divides the
        // exact sum once, then rounds
        val dist = enc
          .groupBy($"vec_id")
          .agg(sum($"d2".cast("decimal(12,6)")).as("vd2"))
          .agg(round(sum($"vd2").cast("double") / count(lit(1)), 6)
            .as("distortion"))
        val qsubs = pqSubsM(s,
            e0.filter($"vec_id" < NQueries).select($"vec_id", $"v"), m)
          .select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
        val qtab = qsubs.join(broadcast(cb), "sub")
          .withColumn("qd2", kmDist2($"qsv", $"cv").cast("decimal(12,6)"))
          .select($"q_id", $"sub", $"cell", $"qd2")
        val adc = enc.select($"vec_id", $"sub", $"cell")
          .join(broadcast(qtab), Seq("sub", "cell"))
          .filter($"q_id" =!= $"vec_id")
          .groupBy($"q_id", $"vec_id")
          .agg(sum($"qd2").as("adc"))
          .select($"q_id", $"vec_id".as("n_id"), $"adc")
        val top = graft.plans.TopKPerKey(adc, Seq("q_id"),
            struct($"adc", $"n_id"), K)
          .select($"q_id", $"n_id")
        val hits = exact
          .join(top.withColumn("h", lit(1)), Seq("q_id", "n_id"), "left")
          .agg(sum(coalesce($"h", lit(0))).cast("long").as("n_hits"))
        dist.crossJoin(broadcast(hits))
          .select(lit(m).as("pq_m"), lit(k0).as("pq_k"),
            lit(bits).as("code_bits"), $"distortion", $"n_hits",
            round($"n_hits" / lit((K * NQueries).toDouble), 4)
              .as("recall"))
      }
      arms.reduce(_ unionByName _).orderBy($"pq_m")
    },

    "s49_ann_stream_ingest_serving" -> { (s, dir) =>
      import s.implicits._
      // STREAMED vector ingest under the driver's gate — the ANN
      // member of the ingest-loop trio (s39 text, d31 dedup): the
      // index starts from the vec_id%10!=7 split; the rest arrives
      // through a Structured Streaming file source and UPSERTS per
      // micro-batch (ServingIndexes.annStream seeds the run once per
      // JVM). Upserts encode against the FROZEN split-trained model
      // (no retrain — the production cadence s46's decision loop
      // governs), so the oracle replays split-training, then assigns
      // and PQ-encodes the delta against those frozen models, and
      // ranks with s19's ADC discipline over the union — any
      // dropped/duplicated/retrained-by-accident delta row flips the
      // hash. Scale: ingest is per-batch bounded work (two broadcast
      // argmax passes over the delta + membership anti-joins); the
      // recurring search still reads pruned artifacts only.
      val qRows = emb(s, dir).filter($"vec_id" < NQueries)
        .select($"vec_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val queries = qRows.toSeq.toDF("q_id", "qv")
      AnnIndex.search(s, ServingIndexes.annStream(s, dir), queries, K)
        .select($"q_id", $"n_id", $"adc".cast("double").as("adc"), $"rnk")
        .orderBy($"q_id", $"rnk")
    },

    "s47_sql_bm25_serving" -> { (s, dir) =>
      // The SQL-ONLY client path under the driver's hash gate: this
      // row's entire query is the text a Thrift/Connect/BI user would
      // type — spark.sql over the graft_bm25 table-valued function
      // against the written postings index. registerAll is the
      // per-session attach seam (idempotent; config-installed sessions
      // get the same shared builder table via GraftExtensions). Must
      // hash-match s09's oracle exactly like s32, the Scala form — the
      // TVF returns the very plan TextIndex.search builds, and now
      // BOTH surfaces are gated, so neither can drift.
      graft.functions.registerAll(s)
      val idx = ServingIndexes.text(s, dir)
      s.sql(s"SELECT doc_id, n_terms, CAST(bm25d AS DOUBLE) AS bm25 " +
        s"FROM graft_bm25('$idx', '${BmTerms.mkString(" ")}', 10)")
    },

    "s48_sql_ann_serving" -> { (s, dir) =>
      import s.implicits._
      // s47's vector twin: the REFINED ANN search through spark.sql —
      // graft_ann over the written IVF-PQ + refine artifacts, query
      // vector passed as the CSV literal a SQL-only client can type
      // (Double.toString round-trips bit-exactly through the TVF's
      // parse). Internal q_id is -1 (outside the corpus id space), so
      // no self-exclusion fires and the oracle is the s43 refined
      // chain ranked to top-K — vector 0 itself surfaces at rank 1
      // with d2 = 0.0, the refine stage's exact-copy property showing
      // through the SQL surface.
      graft.functions.registerAll(s)
      val idx = ServingIndexes.ann(s, dir)
      val qv = emb(s, dir).filter($"vec_id" === 0)
        .select($"v").head().getSeq[Double](0)
      s.sql(s"SELECT n_id, CAST(d2 AS DOUBLE) AS d2, rnk " +
        s"FROM graft_ann('$idx', '${qv.mkString(",")}', $K) " +
        s"ORDER BY rnk")
    },

    "s50_sql_hybrid_serving" -> { (s, dir) =>
      import s.implicits._
      // The SQL surface's hybrid member — graft_hybrid through
      // spark.sql, fusing the postings and refined-vector rankings
      // from the written indexes with the serving knobs (per-side
      // depth, k) explicit in the query text. Oracle = s43's verbatim
      // (the Scala twin's), completing the gated SQL trio
      // (s47 lexical, s48 vector, s50 hybrid).
      graft.functions.registerAll(s)
      val textIdx = ServingIndexes.text(s, dir)
      val annIdx = ServingIndexes.ann(s, dir)
      val qv = emb(s, dir).filter($"vec_id" === 0)
        .select($"v").head().getSeq[Double](0)
      s.sql(s"SELECT * FROM graft_hybrid('$textIdx', '$annIdx', " +
        s"'${BmTerms.mkString(" ")}', '${qv.mkString(",")}', $HybN, 10)")
    },

    "s46_maintenance_decision" -> { (s, dir) =>
      import s.implicits._
      // The INDEX-MAINTENANCE DECISION LOOP, driver-gated — the
      // operational leg s27's λ exists for: ServingIndexes.annMaint
      // built the index on the vec_id%10!=7 split and UPSERTED the
      // %10==7 delta against the frozen quantizer (the production
      // cadence); this row reads the post-upsert inverted lists FROM
      // THE ARTIFACTS (zero corpus bytes — the delta membership is the
      // id rule applied to the artifact's own column) and emits the
      // decision table an operator acts on: per-cell occupancy and
      // churn (delta share — rising churn in a cell means the frozen
      // centroid is absorbing vectors it was never trained on), the
      // global imbalance factor λ = k·Σn²/( Σn)² over the lists as
      // they are NOW, and the retrain go/no-go (λ > MaintLambdaMax OR
      // churn ≥ MaintChurnMax, both sides exposed). The oracle replays
      // split-training + delta assignment and the same arithmetic.
      // Scale: one pruned artifact scan of two narrow columns, KmK-row
      // aggregates — the decision costs nothing next to what it saves.
      val lists = s.read
        .parquet(s"${ServingIndexes.annMaint(s, dir)}/invlists")
        .select($"vec_id", $"cell".cast("long").as("cell"))
      val per = lists.groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when($"vec_id" % 10 === 7, 1L).otherwise(0L)).as("n_new"))
      val tot = per.agg(count(lit(1)).as("n_cells"),
        sum($"n_vecs").as("n_total"),
        sum($"n_vecs" * $"n_vecs").as("ss"),
        sum($"n_new").as("nn"))
      val imb = ($"n_cells" * $"ss").cast("double") /
        ($"n_total" * $"n_total").cast("double")
      val churn = $"nn".cast("double") / $"n_total".cast("double")
      per.crossJoin(broadcast(tot))
        .select($"cell", $"n_vecs", $"n_new",
          round($"n_new".cast("double") / $"n_vecs".cast("double"), 6)
            .as("cell_churn"),
          round(imb, 6).as("imbalance"),
          round(churn, 6).as("churn_total"),
          (imb > lit(MaintLambdaMax)).as("imbalance_exceeded"),
          (churn >= lit(MaintChurnMax)).as("churn_exceeded"),
          (imb > lit(MaintLambdaMax) || churn >= lit(MaintChurnMax))
            .as("retrain"))
        .orderBy($"cell")
    },

    "s51_text_maintenance_decision" -> { (s, dir) =>
      // s46's POSTINGS sibling (round-13 verdict item): the TextIndex
      // compact go/no-go over the mid-lifecycle snapshot
      // ServingIndexes.textMaint built (corpus split + appended
      // ingest batch + erasure tombstones, NOT compacted) — see
      // [[TextIndex.maintenanceDecision]] for the metric/decision
      // contract. Zero corpus bytes (PlanShapeSpec pins it); the
      // oracle replays split-membership + append admission + the
      // erasure rule from the documents table.
      TextIndex.maintenanceDecision(s, ServingIndexes.textMaint(s, dir))
    },

    "s35_residual_ab_recall" -> { (s, dir) =>
      import s.implicits._
      // The residual-vs-raw encoding A/B at a query set WIDE enough to
      // resolve it (ABQueries = 100 vs the audit family's 10 — see the
      // constant's doc for the power arithmetic): BOTH encodings'
      // overall recall@K against the exact baseline in ONE gated row,
      // same trained coarse quantizer, same probe depth, same code
      // budget — the controlled FAISS by_residual A/B. Scale shapes
      // are the s19/s23 cores' own (training count-bounded, candidates
      // cut to probed inverted lists before per-code work, bounded-heap
      // top-k); the exact side is |queries|×corpus with the query side
      // broadcast, computed once and reused by both arms (tiny result:
      // nq·K id pairs).
      val nq = ABQueries
      val exact = exactTopKCore(s, dir, nq).select($"q_id", $"n_id")
        .localCheckpoint() // nq*K rows, two consumers
      def arm(encoding: String, approx: DataFrame): DataFrame =
        exact.join(approx.select($"q_id", $"n_id")
            .withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
          .select(lit(encoding).as("encoding"),
            lit(nq).as("n_queries"), $"n_hits",
            round($"n_hits" / lit((K * nq).toDouble), 4).as("recall"))
      arm("raw", ivfpqTopKCore(s, dir, K, NProbe, nq))
        .union(arm("residual", ivfpqResidualTopKCore(s, dir, nq)))
        .orderBy($"encoding")
    },

    "s07_int8_quant" -> { (s, dir) =>
      import s.implicits._
      // Int8 symmetric quantization of the embedding column — the
      // standard 4–8× footprint cut before ANN at corpus scale.
      // Per-vector absmax scale, round into [−127, 127], dequantize,
      // and gate fidelity as the cosine between the original and the
      // dequantized vector (the number that decides whether the
      // quantized index's distances are trustworthy). Entirely narrow
      // per-row compute fused into the scan stage: nothing shuffles, so
      // the op costs one pass at any corpus size. The absmax component
      // quantizes to exactly ±127, so amax also round-trips exactly.
      emb(s, dir)
        .withColumn("amax", array_max(expr("transform(v, x -> abs(x))")))
        .withColumn("dq", expr(
          "transform(v, x -> round(x * 127.0 / amax) * amax / 127.0)"))
        .select($"vec_id", $"label", round($"amax", 6).as("amax"),
          round(graft.functions.CosineSim($"v", $"dq"), 6).as("q_cos"))
        .orderBy($"vec_id")
    })

  /** s23's oracle (shared verbatim by s42's artifact-serving twin):
    * residual-encoded IVF-PQ top-k, training replayed in SQL.
    */
  private def residualTopkSql: String =
    s"""WITH $kmSqlCtes,
         |er AS (
         |  SELECT e.vec_id,
         |    list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2]) AS v
         |  FROM e JOIN af ON e.vec_id = af.vec_id
         |  JOIN cf c ON af.cell = c.cell),
         |${pqSqlCtes(withBase = false, src = "er")},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |qres AS (
         |  SELECT p.q_id, p.cell,
         |    list_transform(list_zip(q.qv, c.cv), x -> x[1] - x[2]) AS rv
         |  FROM probes p JOIN q ON p.q_id = q.q_id
         |  JOIN cf c ON p.cell = c.cell),
         |qrs AS (
         |  SELECT q_id, cell, CAST(r.m AS INT) AS sub,
         |    list_slice(rv, r.m*$PqD+1, r.m*$PqD+$PqD) AS qsv
         |  FROM qres CROSS JOIN range(0, $PqM) r(m)),
         |qtab AS (
         |  SELECT s.q_id, s.cell, c.sub, c.cell AS code,
         |    CAST(round(list_dot_product(s.qsv, s.qsv)
         |        - 2 * list_dot_product(s.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qrs s JOIN cfp c USING (sub)),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id, af.cell
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.cell = cd.cell
         |    AND t.sub = enc.sub AND t.code = enc.cell
         |  GROUP BY cd.q_id, cd.n_id)
         |SELECT q_id, n_id, CAST(adc AS DOUBLE) AS adc, rnk FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc) WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  def oracle: Map[String, String] = Map(
    // s53: every artifact count re-derived from the RAW tables —
    // N vectors (invlists), N*PqM per-subspace code rows, the
    // KmK/PqM*PqK constant frames, distinct (doc, term) postings
    // with true term-byte and stored-position sums, corpus-split
    // fp/band counts — then the same width model and shard division
    "s53_serving_memory_card" ->
      s"""WITH p AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents)
         |  GROUP BY doc_id, term),
         |ps AS (
         |  SELECT count(*) AS n_post,
         |    CAST(sum(strlen(term)) AS BIGINT) AS tb,
         |    CAST(sum(tf) AS BIGINT) AS tt
         |  FROM p),
         |ne AS (SELECT count(*) AS n FROM embeddings),
         |nd AS (SELECT count(*) AS n FROM documents),
         |sp AS (SELECT count(*) AS n FROM documents
         |       WHERE doc_id % 5 <> 4),
         |comp AS (
         |  SELECT 'ann' AS kind, 'ann/invlists' AS component,
         |    n AS n_rows, n * 16 AS est_bytes FROM ne
         |  UNION ALL SELECT 'ann', 'ann/codes', n * 8, n * 8 * 17 FROM ne
         |  UNION ALL SELECT 'ann', 'ann/centroids', 8, 8 * 520
         |  UNION ALL SELECT 'ann', 'ann/codebooks', 128, 128 * 80
         |  UNION ALL SELECT 'text', 'text/postings', n_post,
         |    n_post * 24 + tb + 8 * tt FROM ps
         |  UNION ALL SELECT 'text', 'text/docs', n, n * 16 FROM nd
         |  UNION ALL SELECT 'dedup', 'dedup/fps', n, n * 40 FROM sp
         |  UNION ALL SELECT 'dedup', 'dedup/bands', n * 3, n * 3 * 32
         |    FROM sp),
         |tot AS (
         |  SELECT kind, CAST(sum(est_bytes) AS BIGINT) AS kind_bytes
         |  FROM comp GROUP BY kind)
         |SELECT kind, component, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(est_bytes AS BIGINT) AS est_bytes, kind_bytes,
         |  CAST((kind_bytes + ${ServingShardBytes - 1})
         |    // $ServingShardBytes AS BIGINT) AS shards
         |FROM comp JOIN tot USING (kind)
         |ORDER BY kind, component""".stripMargin,

    "s26_source_embedding_coverage" ->
      s"""WITH $kmSqlCtes,
         |sc AS (
         |  SELECT d.source, af.cell, count(*) AS n
         |  FROM af JOIN documents d ON d.doc_id = af.vec_id
         |  GROUP BY 1, 2)
         |SELECT source, CAST(sum(n) AS BIGINT) AS n_vecs,
         |  count(*) AS n_cells_used,
         |  CAST(max(n) AS BIGINT) AS top_cell_n,
         |  round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_cell_share
         |FROM sc GROUP BY source ORDER BY source""".stripMargin,

    "s01_cosine_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |      WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos
         |  FROM q JOIN e ON q.q_id <> e.vec_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, cos, rnk FROM ranked WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "s02_lsh_buckets" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |bucketed AS (SELECT vec_id, label, $bucketSql AS bucket FROM e)
         |SELECT bucket, count(*) AS n_vectors,
         |       count(DISTINCT label) AS n_labels
         |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin,

    "s03_lsh_ann_topk" -> {
      val tabSelects = (0 until NTables).map { t =>
        s"SELECT vec_id, v, nrm, ${tableBucketSql(t)} AS bucket FROM e"
      }.mkString(" UNION ALL ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |tabs AS ($tabSelects),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS q_bucket
         |      FROM tabs WHERE vec_id < $NQueries),
         |cand AS (
         |  SELECT DISTINCT q.q_id, e.vec_id AS n_id, q.qv, q.qn, e.v, e.nrm
         |  FROM q JOIN tabs e
         |    ON e.bucket = q.q_bucket AND q.q_id <> e.vec_id),
         |scored AS (
         |  SELECT q_id, n_id,
         |    round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
         |  FROM cand),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, cos, rnk FROM ranked WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin
    },

    "s04_ivf_ann_topk" ->
      s"""WITH $kmSqlCtes,
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |ascored AS (
         |  SELECT c.q_id, c.n_id,
         |    round(list_dot_product(q.qv, en.v) / (q.qn * en.nrm), 4) AS cos
         |  FROM cand c JOIN q ON c.q_id = q.q_id
         |  JOIN en ON c.n_id = en.vec_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM ascored) WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "s21_label_ivf_diag" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |comps AS (
         |  SELECT label, CAST(i AS INT) AS i, avg(v[CAST(i AS INT)]) AS cx
         |  FROM e, unnest(range(1, ${Dim + 1})) AS t(i)
         |  GROUP BY label, CAST(i AS INT)),
         |cents AS (
         |  SELECT label AS c_label, list(cx ORDER BY i) AS cv
         |  FROM comps GROUP BY label),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, qv, qn, c_label FROM (
         |    SELECT q.q_id, q.qv, q.qn, c.c_label,
         |      round(list_dot_product(q.qv, c.cv), 6) AS cdot,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY round(list_dot_product(q.qv, c.cv), 6) DESC,
         |                 c.c_label) AS p_rnk
         |    FROM q CROSS JOIN cents c) WHERE p_rnk <= $NProbe),
         |scored AS (
         |  SELECT p.q_id, e.vec_id AS n_id,
         |    round(list_dot_product(p.qv, e.v) / (p.qn * e.nrm), 4) AS cos
         |  FROM probes p JOIN e
         |    ON e.label = p.c_label AND p.q_id <> e.vec_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, cos, rnk FROM ranked WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "s13_ivf_refine" ->
      s"""WITH $kmSqlCtes,
         |mf AS (
         |  SELECT a.cell, r.i, round(avg(s.v[r.i]), 6) AS cx
         |  FROM af a JOIN e s USING (vec_id)
         |  CROSS JOIN range(1, ${Dim + 1}) r(i)
         |  GROUP BY a.cell, r.i),
         |cf1 AS (SELECT cell, list(cx ORDER BY i) AS cv FROM mf
         |        GROUP BY cell),
         |af1 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, d2, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY d2, cell) AS rnk
         |    FROM (SELECT p.vec_id, c.cell,
         |            round(list_dot_product(p.v, p.v)
         |              - 2 * list_dot_product(p.v, c.cv)
         |              + list_dot_product(c.cv, c.cv), 6) AS d2
         |          FROM e p CROSS JOIN cf1 c))
         |  WHERE rnk = 1)
         |SELECT a1.cell, count(*) AS n_members,
         |  count(CASE WHEN a0.cell = a1.cell THEN 1 END) AS n_stayed,
         |  count(CASE WHEN a0.cell <> a1.cell THEN 1 END) AS n_moved_in
         |FROM af1 a1 JOIN af a0 USING (vec_id)
         |GROUP BY a1.cell ORDER BY a1.cell""".stripMargin,

    "s22_label_refine_diag" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |comps AS (
         |  SELECT label, CAST(i AS INT) AS i, avg(v[CAST(i AS INT)]) AS cx
         |  FROM e, unnest(range(1, ${Dim + 1})) AS t(i)
         |  GROUP BY label, CAST(i AS INT)),
         |cents AS (
         |  SELECT label AS c_label, list(cx ORDER BY i) AS cv
         |  FROM comps GROUP BY label),
         |scored AS (
         |  SELECT e.vec_id, e.label, c.c_label,
         |    round(list_dot_product(e.v, c.cv), 6) AS cdot
         |  FROM e CROSS JOIN cents c),
         |best AS (
         |  SELECT vec_id, label, c_label FROM (
         |    SELECT vec_id, label, c_label, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cdot DESC, c_label) AS rnk
         |    FROM scored) WHERE rnk = 1)
         |SELECT c_label AS cell, count(*) AS n_members,
         |  count(CASE WHEN label = c_label THEN 1 END) AS n_stayed,
         |  count(CASE WHEN label <> c_label THEN 1 END) AS n_moved_in
         |FROM best GROUP BY c_label ORDER BY cell""".stripMargin,

    "s14_kmeans_train" ->
      s"""WITH $kmSqlCtes
         |SELECT af.cell, count(*) AS n_members,
         |  CAST(sum(CASE WHEN samp.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_sample,
         |  round(avg(af.d2), 4) AS avg_d2
         |FROM af LEFT JOIN samp ON af.vec_id = samp.vec_id
         |GROUP BY af.cell ORDER BY af.cell""".stripMargin,

    "s15_trained_recall" ->
      s"""WITH $kmSqlCtes,
         |en AS (
         |  SELECT vec_id, v,
         |    sqrt(list_dot_product(v, v)) AS nrm
         |  FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |      WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT q.q_id, en.vec_id AS n_id,
         |    round(list_dot_product(q.qv, en.v) / (q.qn * en.nrm), 4) AS cos
         |  FROM q JOIN en ON q.q_id <> en.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |ascored AS (
         |  SELECT c.q_id, c.n_id,
         |    round(list_dot_product(q.qv, en.v) / (q.qn * en.nrm), 4) AS cos
         |  FROM cand c JOIN q ON c.q_id = q.q_id
         |  JOIN en ON c.n_id = en.vec_id),
         |atop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM ascored) WHERE rnk <= $K)
         |SELECT x.q_id,
         |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) / $K.0, 4) AS recall
         |FROM xtop x LEFT JOIN atop a
         |  ON a.q_id = x.q_id AND a.n_id = x.n_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

    "s19_ivfpq_topk" -> annTopkSqlFor(EmbBaseE, NQueries, K),

    "s20_ivfpq_recall" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |atop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |    FROM adc) WHERE rnk <= $K),
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |       WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT xq.q_id, en.vec_id AS n_id,
         |    round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm), 4)
         |      AS cos
         |  FROM xq JOIN en ON xq.q_id <> en.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K)
         |SELECT x.q_id,
         |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) / $K.0, 4) AS recall
         |FROM xtop x LEFT JOIN atop a
         |  ON a.q_id = x.q_id AND a.n_id = x.n_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

    "s31_refine_depth_curve" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |deep AS (
         |  SELECT q_id, n_id, arnk FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS arnk
         |    FROM adc) WHERE arnk <= $RefineDepth),
         |re AS (
         |  SELECT d.q_id, d.n_id, d.arnk,
         |    round(list_dot_product(q.qv, e2.v)
         |      / (sqrt(list_dot_product(q.qv, q.qv))
         |         * sqrt(list_dot_product(e2.v, e2.v))), 4) AS cos
         |  FROM deep d JOIN q ON q.q_id = d.q_id
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |depths AS (SELECT CAST(unnest([${RefineDepths.mkString(", ")}]) AS INT)
         |             AS depth),
         |pd AS (SELECT depth, q_id, n_id, cos FROM re
         |       CROSS JOIN depths WHERE arnk <= depth),
         |rt AS (
         |  SELECT depth, q_id, n_id, row_number() OVER (
         |    PARTITION BY q_id, depth ORDER BY cos DESC, n_id) AS rr
         |  FROM pd),
         |rtop AS (SELECT depth, q_id, n_id FROM rt WHERE rr <= $K),
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |       WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT xq.q_id, en.vec_id AS n_id,
         |    round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm), 4)
         |      AS cos
         |  FROM xq JOIN en ON xq.q_id <> en.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K),
         |vol AS (SELECT depth, count(*) AS n_candidates FROM pd
         |        GROUP BY 1),
         |h AS (
         |  SELECT t.depth,
         |    CAST(sum(CASE WHEN x.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits
         |  FROM rtop t LEFT JOIN xtop x
         |    ON x.q_id = t.q_id AND x.n_id = t.n_id
         |  GROUP BY 1)
         |SELECT depth, n_candidates, n_hits,
         |  round(n_hits / ($K.0 * $NQueries), 4) AS recall
         |FROM h JOIN vol USING (depth) ORDER BY depth""".stripMargin,

    // s35: both encodings' aggregated recall in one row set — each arm
    // is a complete parenthesized sub-query (own WITH: the raw and
    // residual PQ CTE blocks share names, so they cannot share one
    // WITH clause), exact baseline recomputed per arm
    "s35_residual_ab_recall" -> {
      def arm(encoding: String, ctes: String, adcJoin: String): String =
        s"""SELECT '$encoding' AS encoding,
           |  CAST($ABQueries AS INT) AS n_queries, n_hits,
           |  round(CAST(n_hits AS DOUBLE)
           |    / CAST(${K * ABQueries} AS DOUBLE), 4) AS recall
           |FROM (
           |  WITH $ctes,
           |  atop AS (
           |    SELECT q_id, n_id FROM (
           |      SELECT q_id, n_id, row_number() OVER (
           |        PARTITION BY q_id ORDER BY adc, n_id) AS rnk
           |      FROM ($adcJoin) adcx) WHERE rnk <= $K),
           |  en AS (
           |    SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
           |    FROM e),
           |  xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
           |         WHERE vec_id < $ABQueries),
           |  xscored AS (
           |    SELECT xq.q_id, en.vec_id AS n_id,
           |      round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm), 4)
           |        AS cos
           |    FROM xq JOIN en ON xq.q_id <> en.vec_id),
           |  xtop AS (
           |    SELECT q_id, n_id FROM (
           |      SELECT q_id, n_id, row_number() OVER (
           |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           |      FROM xscored) WHERE rnk <= $K)
           |  SELECT CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_hits
           |  FROM xtop x LEFT JOIN atop a
           |    ON a.q_id = x.q_id AND a.n_id = x.n_id)""".stripMargin
      val rawCtes =
        s"""$kmSqlCtes,
           |${pqSqlCtes(withBase = false)},
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e
           |      WHERE vec_id < $ABQueries),
           |probes AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell, row_number() OVER (
           |      PARTITION BY q.q_id ORDER BY
           |        round(list_dot_product(q.qv, q.qv)
           |          - 2 * list_dot_product(q.qv, c.cv)
           |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
           |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
           |cand AS (
           |  SELECT p.q_id, af.vec_id AS n_id
           |  FROM af JOIN probes p ON af.cell = p.cell
           |  WHERE p.q_id <> af.vec_id),
           |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
           |       WHERE vec_id < $ABQueries),
           |qtab AS (
           |  SELECT q.q_id, c.sub, c.cell,
           |    CAST(round(list_dot_product(q.qsv, q.qsv)
           |        - 2 * list_dot_product(q.qsv, c.cv)
           |        + list_dot_product(c.cv, c.cv), 6)
           |      AS DECIMAL(12,6)) AS qd2
           |  FROM qs q JOIN cfp c USING (sub))""".stripMargin
      val rawAdc =
        s"""SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
           |    FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
           |    JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
           |      AND t.cell = enc.cell
           |    GROUP BY cd.q_id, cd.n_id""".stripMargin
      val residCtes =
        s"""$kmSqlCtes,
           |er AS (
           |  SELECT e.vec_id,
           |    list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2]) AS v
           |  FROM e JOIN af ON e.vec_id = af.vec_id
           |  JOIN cf c ON af.cell = c.cell),
           |${pqSqlCtes(withBase = false, src = "er")},
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e
           |      WHERE vec_id < $ABQueries),
           |probes AS (
           |  SELECT q_id, cell FROM (
           |    SELECT q.q_id, c.cell, row_number() OVER (
           |      PARTITION BY q.q_id ORDER BY
           |        round(list_dot_product(q.qv, q.qv)
           |          - 2 * list_dot_product(q.qv, c.cv)
           |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
           |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
           |qres AS (
           |  SELECT p.q_id, p.cell,
           |    list_transform(list_zip(q.qv, c.cv), x -> x[1] - x[2]) AS rv
           |  FROM probes p JOIN q ON p.q_id = q.q_id
           |  JOIN cf c ON p.cell = c.cell),
           |qrs AS (
           |  SELECT q_id, cell, CAST(r.m AS INT) AS sub,
           |    list_slice(rv, r.m*$PqD+1, r.m*$PqD+$PqD) AS qsv
           |  FROM qres CROSS JOIN range(0, $PqM) r(m)),
           |qtab AS (
           |  SELECT s.q_id, s.cell, c.sub, c.cell AS code,
           |    CAST(round(list_dot_product(s.qsv, s.qsv)
           |        - 2 * list_dot_product(s.qsv, c.cv)
           |        + list_dot_product(c.cv, c.cv), 6)
           |      AS DECIMAL(12,6)) AS qd2
           |  FROM qrs s JOIN cfp c USING (sub)),
           |cand AS (
           |  SELECT p.q_id, af.vec_id AS n_id, af.cell
           |  FROM af JOIN probes p ON af.cell = p.cell
           |  WHERE p.q_id <> af.vec_id)""".stripMargin
      val residAdc =
        s"""SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
           |    FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
           |    JOIN qtab t ON t.q_id = cd.q_id AND t.cell = cd.cell
           |      AND t.sub = enc.sub AND t.code = enc.cell
           |    GROUP BY cd.q_id, cd.n_id""".stripMargin
      s"""${arm("raw", rawCtes, rawAdc)}
         |UNION ALL
         |${arm("residual", residCtes, residAdc)}
         |ORDER BY encoding""".stripMargin
    },

    // s36: the sliding-window truth recomputed from raw text —
    // overlapping starts count, 1-based positions, stop-exclusive
    // range so a doc shorter than the phrase contributes nothing.
    // s52 runs the same contract through the graft_phrase TVF, so its
    // oracle IS this one (the shared-val pattern).
    "s36_phrase_index_serving" -> phraseOracle,
    "s52_sql_phrase_serving" -> phraseOracle,

    // s37: each batch query's arm is an independent s09-shaped block
    // (own WITH — the BM25 CTE names are shared), the corpus stats
    // identical across arms by construction
    "s37_batch_index_serving" -> {
      val arms = BatchQueries.map { case (qid, terms) =>
        s"""SELECT CAST($qid AS BIGINT) AS q_id, doc_id, n_terms,
           |  CAST(bm25d AS DOUBLE) AS bm25, rnk FROM (
           |  WITH ${bm25SqlCtesFor(terms)}
           |  SELECT doc_id, n_terms, bm25d, row_number() OVER (
           |    ORDER BY bm25d DESC, doc_id) AS rnk
           |  FROM bm) armq WHERE rnk <= 10""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$arms\nORDER BY q_id, rnk"
    },

    // s38 = s19's oracle with the allowlist pre-cut: disallowed
    // candidates never reach the ADC ranking (the s08 semantics on
    // the artifact path)
    "s38_filtered_index_serving" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  JOIN embeddings em ON em.vec_id = af.vec_id
         |    AND em.label IN (0, 1, 2)
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id)
         |SELECT q_id, n_id, CAST(adc AS DOUBLE) AS adc, rnk FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc) WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    // s39: the streamed index must serve the FULL-corpus truth —
    // s09's oracle verbatim
    "s39_stream_ingest_serving" ->
      s"""WITH $bm25SqlCtes
         |SELECT doc_id, n_terms, CAST(bm25d AS DOUBLE) AS bm25
         |FROM bm ORDER BY bm25d DESC, doc_id LIMIT 10""".stripMargin,

    // s40: training CTEs over the FULL corpus (the quantizer predates
    // the erasure), candidates filtered to survivors
    "s40_ann_erasure_serving" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id AND af.vec_id % 10 <> 7),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id)
         |SELECT q_id, n_id, CAST(adc AS DOUBLE) AS adc, rnk FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc) WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    // s41: the whole scoring model follows the erasure — the corpus
    // narrows BEFORE df/n_corpus/avgdl derive
    "s41_text_erasure_serving" ->
      s"""WITH ${bm25SqlCtesFor(BmTerms, "WHERE doc_id % 20 <> 3")}
         |SELECT doc_id, n_terms, CAST(bm25d AS DOUBLE) AS bm25
         |FROM bm ORDER BY bm25d DESC, doc_id LIMIT 10""".stripMargin,

    // d33: the refined chain replayed for the batch query set with
    // the corpus allowlist, top-1 per query, decimal threshold
    // compare, per-source funnel
    "d33_semantic_admission_serving" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id % 5 = 4),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id AND af.vec_id % 5 <> 4),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id % 5 = 4),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |deep AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS arnk
         |    FROM adc) WHERE arnk <= $RefineDepth),
         |re AS (
         |  SELECT d.q_id, d.n_id,
         |    CAST(round(list_dot_product(q.qv, q.qv)
         |      - 2 * list_dot_product(q.qv, e2.v)
         |      + list_dot_product(e2.v, e2.v), 6) AS DECIMAL(14,6))
         |      AS d2
         |  FROM deep d JOIN q ON q.q_id = d.q_id
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |top1 AS (
         |  SELECT q_id, d2 FROM (
         |    SELECT q_id, d2, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2, n_id) AS rnk
         |    FROM re) WHERE rnk = 1)
         |SELECT d.source, count(*) AS n_incoming,
         |  CAST(sum(CASE WHEN t.d2 <= $SemAdmitD2 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_rej_semantic,
         |  CAST(sum(CASE WHEN t.d2 > $SemAdmitD2 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_admitted
         |FROM top1 t JOIN documents d ON d.doc_id = t.q_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // s43 = s34's fusion with the ann leg replaced by the refined
    // chain: probes at RefineNProbe, ADC top-RefineDepth, exact-L2
    // rerank to top-HybN, integer-rank RRF (no self-exclusion: the
    // serving query id -1 is outside the corpus id space)
    "s43_hybrid_refined_serving" -> hybridRefinedSql,

    // s50: the graft_hybrid SQL TVF must serve the same fused truth
    // as the Scala twin — s43's oracle verbatim
    "s50_sql_hybrid_serving" -> hybridRefinedSql) ++ oracleSqlRest

  /** s43/s50's shared oracle: the refined hybrid chain. */
  private lazy val hybridRefinedSql: String =
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |$bm25SqlCtes,
         |bmtop AS (
         |  SELECT doc_id, CAST(bm25d AS DOUBLE) AS dscore FROM bm
         |  ORDER BY bm25d DESC, doc_id LIMIT $HybN),
         |bmr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY dscore DESC, doc_id) AS rnk_side
         |  FROM bmtop),
         |hq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |hprobes AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, row_number() OVER (ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM hq q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |hcand AS (
         |  SELECT af.vec_id AS n_id FROM af
         |  JOIN hprobes p ON af.cell = p.cell),
         |hqs AS (SELECT sub, sv AS qsv FROM sv WHERE vec_id = 0),
         |hqtab AS (
         |  SELECT c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM hqs q JOIN cfp c USING (sub)),
         |hadc AS (
         |  SELECT cd.n_id, sum(t.qd2) AS adc
         |  FROM hcand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN hqtab t ON t.sub = enc.sub AND t.cell = enc.cell
         |  GROUP BY cd.n_id),
         |hdeep AS (
         |  SELECT n_id FROM (
         |    SELECT n_id, row_number() OVER (ORDER BY adc, n_id)
         |      AS arnk FROM hadc) WHERE arnk <= $RefineDepth),
         |hre AS (
         |  SELECT d.n_id,
         |    CAST(round(list_dot_product(q.qv, q.qv)
         |      - 2 * list_dot_product(q.qv, e2.v)
         |      + list_dot_product(e2.v, e2.v), 6) AS DECIMAL(14,6))
         |      AS d2
         |  FROM hdeep d CROSS JOIN hq q
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |anntop AS (
         |  SELECT n_id AS doc_id, CAST(d2 AS DOUBLE) AS dscore FROM (
         |    SELECT n_id, d2, row_number() OVER (
         |      ORDER BY d2, n_id) AS rnk
         |    FROM hre) WHERE rnk <= $HybN),
         |annr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY dscore, doc_id) AS rnk_side
         |  FROM anntop),
         |sides AS (
         |  SELECT doc_id, rnk_side FROM bmr
         |  UNION ALL
         |  SELECT doc_id, rnk_side FROM annr)
         |SELECT doc_id, count(*) AS n_sides,
         |  round(sum(CAST(1 AS DOUBLE) / ($RrfK + rnk_side)), 6) AS rrf
         |FROM sides GROUP BY doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** Continuation of the oracle map (split so [[hybridRefinedSql]] can
    * be shared by its two entries without duplicating 60 lines).
    */
  private lazy val oracleSqlRest: Map[String, String] = Map(
    // s44: both sides' ranked lists at the deepest swept depth (the
    // refined chain = s33's CTEs with the 3-vector batch; each BM25
    // arm an independent s37-style WITH block), then the whole
    // (hyb_n, rrf_k) grid as data — fuse, cut to 10, count overlaps
    // with the exact-cosine and BM25 top-10 references
    "s44_hybrid_operating_curve" -> {
      val cfgVals = (for (n <- HybCurveNs; k0 <- HybCurveKs)
        yield s"($n, $k0)").mkString(", ")
      val bmArms = BatchQueries.map { case (qid, terms) =>
        s"""SELECT CAST($qid AS BIGINT) AS q_id, doc_id, rnk_side FROM (
           |  WITH ${bm25SqlCtesFor(terms)}
           |  SELECT doc_id, row_number() OVER (
           |    ORDER BY bm25d DESC, doc_id) AS rnk_side
           |  FROM bm) armq WHERE rnk_side <= $HybCurveMaxN""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $HybCurveNQ),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $HybCurveNQ),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |deep AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS arnk
         |    FROM adc) WHERE arnk <= $RefineDepth),
         |re AS (
         |  SELECT d.q_id, d.n_id,
         |    CAST(round(list_dot_product(q.qv, q.qv)
         |      - 2 * list_dot_product(q.qv, e2.v)
         |      + list_dot_product(e2.v, e2.v), 6) AS DECIMAL(14,6)) AS d2
         |  FROM deep d JOIN q ON q.q_id = d.q_id
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |annr AS (
         |  SELECT q_id, n_id AS doc_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY d2, n_id) AS rnk_side
         |  FROM re),
         |bmr AS (
         |$bmArms),
         |sides AS (
         |  SELECT q_id, doc_id, rnk_side FROM annr
         |  WHERE rnk_side <= $HybCurveMaxN
         |  UNION ALL
         |  SELECT q_id, doc_id, rnk_side FROM bmr),
         |cfg AS (SELECT * FROM (VALUES $cfgVals) AS t(hyb_n, rrf_k)),
         |fscore AS (
         |  SELECT g.hyb_n, g.rrf_k, s.q_id, s.doc_id,
         |    round(sum(CAST(1 AS DOUBLE) / (g.rrf_k + s.rnk_side)), 6)
         |      AS rrf
         |  FROM sides s CROSS JOIN cfg g
         |  WHERE s.rnk_side <= g.hyb_n
         |  GROUP BY g.hyb_n, g.rrf_k, s.q_id, s.doc_id),
         |fused AS (
         |  SELECT hyb_n, rrf_k, q_id, doc_id FROM (
         |    SELECT hyb_n, rrf_k, q_id, doc_id, row_number() OVER (
         |      PARTITION BY hyb_n, rrf_k, q_id
         |      ORDER BY rrf DESC, doc_id) AS frnk
         |    FROM fscore) WHERE frnk <= 10),
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |       WHERE vec_id < $HybCurveNQ),
         |xtop AS (
         |  SELECT q_id, n_id AS doc_id FROM (
         |    SELECT xq.q_id, en.vec_id AS n_id, row_number() OVER (
         |      PARTITION BY xq.q_id ORDER BY
         |        round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm),
         |          4) DESC, en.vec_id) AS rnk
         |    FROM xq JOIN en ON xq.q_id <> en.vec_id) WHERE rnk <= 10),
         |bmtopr AS (SELECT q_id, doc_id FROM bmr WHERE rnk_side <= 10)
         |SELECT f.hyb_n, f.rrf_k,
         |  CAST(count(*) AS BIGINT) AS n_fused,
         |  CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ov_cos,
         |  CAST(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ov_bm,
         |  round(CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS DOUBLE) / ${HybCurveNQ * 10}, 4) AS recall_cos,
         |  round(CAST(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0
         |    END) AS DOUBLE) / ${HybCurveNQ * 10}, 4) AS recall_bm
         |FROM fused f
         |LEFT JOIN xtop x ON x.q_id = f.q_id AND x.doc_id = f.doc_id
         |LEFT JOIN bmtopr b ON b.q_id = f.q_id AND b.doc_id = f.doc_id
         |GROUP BY f.hyb_n, f.rrf_k
         |ORDER BY f.hyb_n, f.rrf_k""".stripMargin
    },

    // s45: each (M, K) arm is an independent s16/s17-shaped block —
    // parameterized training CTEs (pqSqlCtesMK), corpus encode,
    // exact-DECIMAL distortion mean, flat-ADC top-K vs the exact-
    // cosine truth — at the shared 32-bit code budget
    "s45_pq_budget_curve" -> {
      val arms = PqBudgetConfigs.map { case (m, k0) =>
        val bits = m * (31 - Integer.numberOfLeadingZeros(k0))
        s"""SELECT CAST($m AS INT) AS pq_m, CAST($k0 AS INT) AS pq_k,
           |  CAST($bits AS INT) AS code_bits, distortion, n_hits,
           |  round(CAST(n_hits AS DOUBLE) / ${K * NQueries}, 4) AS recall
           |FROM (
           |  WITH ${pqSqlCtesMK(m, k0, withBase = true)},
           |  vdist AS (
           |    SELECT vec_id, sum(CAST(d2 AS DECIMAL(12,6))) AS vd2
           |    FROM enc GROUP BY vec_id),
           |  dist AS (
           |    SELECT round(CAST(sum(vd2) AS DOUBLE) / count(*), 6)
           |      AS distortion
           |    FROM vdist),
           |  qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
           |         WHERE vec_id < $NQueries),
           |  qtab AS (
           |    SELECT q.q_id, c.sub, c.cell,
           |      CAST(round(list_dot_product(q.qsv, q.qsv)
           |          - 2 * list_dot_product(q.qsv, c.cv)
           |          + list_dot_product(c.cv, c.cv), 6)
           |        AS DECIMAL(12,6)) AS qd2
           |    FROM qs q JOIN cfp c USING (sub)),
           |  adc AS (
           |    SELECT t.q_id, enc.vec_id AS n_id, sum(t.qd2) AS adc
           |    FROM enc JOIN qtab t ON t.sub = enc.sub
           |      AND t.cell = enc.cell
           |    WHERE t.q_id <> enc.vec_id
           |    GROUP BY t.q_id, enc.vec_id),
           |  atop AS (
           |    SELECT q_id, n_id FROM (
           |      SELECT q_id, n_id, row_number() OVER (
           |        PARTITION BY q_id ORDER BY adc, n_id) AS rnk FROM adc)
           |    WHERE rnk <= $K),
           |  en AS (
           |    SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
           |    FROM e),
           |  xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
           |         WHERE vec_id < $NQueries),
           |  xtop AS (
           |    SELECT q_id, n_id FROM (
           |      SELECT xq.q_id, en.vec_id AS n_id, row_number() OVER (
           |        PARTITION BY xq.q_id ORDER BY
           |          round(list_dot_product(xq.qv, en.v)
           |            / (xq.qn * en.nrm), 4) DESC, en.vec_id) AS rnk
           |      FROM xq JOIN en ON xq.q_id <> en.vec_id)
           |    WHERE rnk <= $K),
           |  hits AS (
           |    SELECT CAST(sum(CASE WHEN a.n_id IS NOT NULL
           |        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |    FROM xtop x LEFT JOIN atop a
           |      ON a.q_id = x.q_id AND a.n_id = x.n_id)
           |  SELECT d.distortion, h.n_hits
           |  FROM dist d CROSS JOIN hits h) arm""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$arms\nORDER BY pq_m"
    },

    // s46: replay the maintenance scenario — train on the %10!=7
    // split (kmSqlCtes over the narrowed base), assign the %10==7
    // delta to the FROZEN centroids (the upsert's no-retrain
    // semantics), union the lists, then the same λ/churn/decision
    // arithmetic (unrounded doubles compared, rounded doubles shown)
    // s51: the oracle replays the textMaint lifecycle from the
    // documents table — membership = corpus split ∪ appended batch
    // (all fresh by arithmetic), stats batches = build + the
    // non-empty append, tombstones = the erasure rule filtered to the
    // register — and the same decision arithmetic (unrounded
    // divisions in the booleans, exactly like the Spark side).
    "s51_text_maintenance_decision" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN text IS NULL THEN 0
         |         ELSE len(string_split(text, ' ')) END AS BIGINT)
         |      AS len
         |  FROM documents WHERE doc_id % 5 <> 4 OR doc_id % 10 = 4),
         |st AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(len) AS BIGINT) AS sum_len FROM m),
         |nb AS (
         |  SELECT CAST(1 + CASE WHEN count(*) > 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS n_batches
         |  FROM documents WHERE doc_id % 10 = 4),
         |tb AS (
         |  SELECT count(*) AS n_tomb,
         |    CAST(coalesce(sum(len), 0) AS BIGINT) AS tomb_len
         |  FROM m WHERE doc_id % 20 = 3)
         |SELECT n_batches, n_docs, n_tomb,
         |  round(CAST(n_tomb AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS tomb_frac,
         |  round(CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS avgdl_indexed,
         |  round(CAST(sum_len - tomb_len AS DOUBLE)
         |    / CAST(n_docs - n_tomb AS DOUBLE), 6) AS avgdl_live,
         |  round(abs(
         |    round(CAST(sum_len - tomb_len AS DOUBLE)
         |      / CAST(n_docs - n_tomb AS DOUBLE), 6)
         |    / round(CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    - 1.0), 6) AS avgdl_drift,
         |  CAST(n_tomb AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    >= CAST($TextTombMax AS DOUBLE) AS tomb_exceeded,
         |  n_batches >= $TextFragMax AS frag_exceeded,
         |  (CAST(n_tomb AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |     >= CAST($TextTombMax AS DOUBLE)
         |   OR n_batches >= $TextFragMax) AS compact
         |FROM st CROSS JOIN tb CROSS JOIN nb""".stripMargin,

    "s46_maintenance_decision" ->
      s"""WITH ${kmSqlCtes("e AS (SELECT vec_id, " +
            "embedding::DOUBLE[] AS v FROM embeddings " +
            "WHERE vec_id % 10 <> 7)")},
         |delta AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE vec_id % 10 = 7),
         |afd AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY d2, cell) AS rnk
         |    FROM (SELECT p.vec_id, c.cell,
         |        round(list_dot_product(p.v, p.v)
         |          - 2 * list_dot_product(p.v, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6) AS d2
         |      FROM delta p CROSS JOIN cf c)) WHERE rnk = 1),
         |lists AS (
         |  SELECT vec_id, cell FROM af
         |  UNION ALL
         |  SELECT vec_id, cell FROM afd),
         |per AS (
         |  SELECT cell, count(*) AS n_vecs,
         |    CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM lists GROUP BY cell),
         |tot AS (
         |  SELECT count(*) AS n_cells,
         |    CAST(sum(n_vecs) AS BIGINT) AS n_total,
         |    CAST(sum(n_vecs * n_vecs) AS BIGINT) AS ss,
         |    CAST(sum(n_new) AS BIGINT) AS nn
         |  FROM per)
         |SELECT cell, n_vecs, n_new,
         |  round(CAST(n_new AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6)
         |    AS cell_churn,
         |  round(CAST(n_cells * ss AS DOUBLE)
         |    / CAST(n_total * n_total AS DOUBLE), 6) AS imbalance,
         |  round(CAST(nn AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         |    AS churn_total,
         |  CAST(n_cells * ss AS DOUBLE)
         |    / CAST(n_total * n_total AS DOUBLE)
         |    > CAST($MaintLambdaMax AS DOUBLE) AS imbalance_exceeded,
         |  CAST(nn AS DOUBLE) / CAST(n_total AS DOUBLE)
         |    >= CAST($MaintChurnMax AS DOUBLE) AS churn_exceeded,
         |  (CAST(n_cells * ss AS DOUBLE)
         |     / CAST(n_total * n_total AS DOUBLE)
         |     > CAST($MaintLambdaMax AS DOUBLE)
         |   OR CAST(nn AS DOUBLE) / CAST(n_total AS DOUBLE)
         |     >= CAST($MaintChurnMax AS DOUBLE)) AS retrain
         |FROM per CROSS JOIN tot ORDER BY cell""".stripMargin,

    // s32 serves s09's ranking from the written postings index —
    // identical semantics, identical oracle (the serving tier must
    // hash-match the same SQL the in-plan form does)
    "s32_bm25_index_serving" ->
      s"""WITH $bm25SqlCtes
         |SELECT doc_id, n_terms, CAST(bm25d AS DOUBLE) AS bm25
         |FROM bm ORDER BY bm25d DESC, doc_id LIMIT 10""".stripMargin,

    // s49: split-trained models (kmSqlCtes/pqSqlCtes over the
    // narrowed base), delta assigned + PQ-encoded against the FROZEN
    // cf/cfp, lists and codes unioned, s19's ADC ranking over the
    // whole — the streamed upsert loop's exact truth. Query side
    // derives from the FULL corpus (query 7 is itself a delta member)
    "s49_ann_stream_ingest_serving" ->
      s"""WITH ${kmSqlCtes("e AS (SELECT vec_id, " +
            "embedding::DOUBLE[] AS v FROM embeddings " +
            "WHERE vec_id % 10 <> 7)")},
         |${pqSqlCtes(withBase = false)},
         |delta AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE vec_id % 10 = 7),
         |afd AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY d2, cell) AS rnk
         |    FROM (SELECT p.vec_id, c.cell,
         |        round(list_dot_product(p.v, p.v)
         |          - 2 * list_dot_product(p.v, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6) AS d2
         |      FROM delta p CROSS JOIN cf c)) WHERE rnk = 1),
         |svd AS (
         |  SELECT vec_id, CAST(r.m AS INT) AS sub,
         |    list_slice(v, r.m*$PqD+1, r.m*$PqD+$PqD) AS sv
         |  FROM delta CROSS JOIN range(0, $PqM) r(m)),
         |encd AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT vec_id, sub, cell, row_number() OVER (
         |        PARTITION BY vec_id, sub ORDER BY d2, cell) AS rnk
         |    FROM (SELECT p.vec_id, p.sub, c.cell,
         |        round(list_dot_product(p.sv, p.sv)
         |          - 2 * list_dot_product(p.sv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6) AS d2
         |      FROM svd p JOIN cfp c USING (sub))) WHERE rnk = 1),
         |afall AS (SELECT vec_id, cell FROM af
         |  UNION ALL SELECT vec_id, cell FROM afd),
         |encall AS (SELECT vec_id, sub, cell FROM enc
         |  UNION ALL SELECT vec_id, sub, cell FROM encd),
         |qe AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
         |       FROM embeddings WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM qe q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, a.vec_id AS n_id
         |  FROM afall a JOIN probes p ON a.cell = p.cell
         |  WHERE p.q_id <> a.vec_id),
         |qs AS (
         |  SELECT q_id, CAST(r.m AS INT) AS sub,
         |    list_slice(qv, r.m*$PqD+1, r.m*$PqD+$PqD) AS qsv
         |  FROM qe CROSS JOIN range(0, $PqM) r(m)),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN encall enc2 ON enc2.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc2.sub
         |    AND t.cell = enc2.cell
         |  GROUP BY cd.q_id, cd.n_id)
         |SELECT q_id, n_id, CAST(adc AS DOUBLE) AS adc, rnk FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc) WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    // s47: the SQL TVF surface must serve s09's truth too — s32's
    // oracle verbatim (one code path behind both gated surfaces)
    "s47_sql_bm25_serving" ->
      s"""WITH $bm25SqlCtes
         |SELECT doc_id, n_terms, CAST(bm25d AS DOUBLE) AS bm25
         |FROM bm ORDER BY bm25d DESC, doc_id LIMIT 10""".stripMargin,

    // s48: the refined chain for vector 0 with NO self-exclusion
    // (graft_ann's internal query id -1 is outside the corpus id
    // space) — s43's ann leg, ranked to top-K; the exact copy scores
    // 0.0 at rank 1 through the SQL surface
    "s48_sql_ann_serving" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |hq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |hprobes AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, row_number() OVER (ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM hq q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |hcand AS (
         |  SELECT af.vec_id AS n_id FROM af
         |  JOIN hprobes p ON af.cell = p.cell),
         |hqs AS (SELECT sub, sv AS qsv FROM sv WHERE vec_id = 0),
         |hqtab AS (
         |  SELECT c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM hqs q JOIN cfp c USING (sub)),
         |hadc AS (
         |  SELECT cd.n_id, sum(t.qd2) AS adc
         |  FROM hcand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN hqtab t ON t.sub = enc.sub AND t.cell = enc.cell
         |  GROUP BY cd.n_id),
         |hdeep AS (
         |  SELECT n_id FROM (
         |    SELECT n_id, row_number() OVER (ORDER BY adc, n_id)
         |      AS arnk FROM hadc) WHERE arnk <= $RefineDepth),
         |hre AS (
         |  SELECT d.n_id,
         |    CAST(round(list_dot_product(q.qv, q.qv)
         |      - 2 * list_dot_product(q.qv, e2.v)
         |      + list_dot_product(e2.v, e2.v), 6) AS DECIMAL(14,6))
         |      AS d2
         |  FROM hdeep d CROSS JOIN hq q
         |  JOIN e e2 ON e2.vec_id = d.n_id)
         |SELECT n_id, CAST(d2 AS DOUBLE) AS d2, rnk FROM (
         |  SELECT n_id, d2, row_number() OVER (
         |    ORDER BY d2, n_id) AS rnk FROM hre)
         |WHERE rnk <= $K ORDER BY rnk""".stripMargin,

    // s33 = the s29 chain's ARTIFACT form: same trained model (the
    // CTEs replay the identical count-bounded training the index
    // build runs), same (RefineNProbe, RefineDepth) candidate set,
    // but reranked by exact squared L2 — AnnIndex.searchRefined's
    // metric (FAISS IndexRefineFlat; an exact copy scores 0.0)
    "s33_ann_index_serving" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |deep AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS arnk
         |    FROM adc) WHERE arnk <= $RefineDepth),
         |re AS (
         |  SELECT d.q_id, d.n_id,
         |    CAST(round(list_dot_product(q.qv, q.qv)
         |      - 2 * list_dot_product(q.qv, e2.v)
         |      + list_dot_product(e2.v, e2.v), 6) AS DECIMAL(14,6)) AS d2
         |  FROM deep d JOIN q ON q.q_id = d.q_id
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |rtop AS (
         |  SELECT q_id, n_id, d2, row_number() OVER (
         |    PARTITION BY q_id ORDER BY d2, n_id) AS rnk
         |  FROM re)
         |SELECT q_id, n_id, CAST(d2 AS DOUBLE) AS d2, rnk FROM rtop
         |WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    // s34 = the artifact hybrid: BM25 CTEs for the lexical side (the
    // postings index's exact contents), trained-index CTEs for the
    // ADC side (the IVF-PQ index's exact contents), HybN per side,
    // one-query probe at the index's default NProbe, RRF on integer
    // ranks with (score, doc_id) tiebreaks mirroring
    // HybridIndex.search verbatim. No self-exclusion on the vector
    // side: the serving query id (-1) is outside the corpus id space.
    "s34_hybrid_index_serving" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |$bm25SqlCtes,
         |bmtop AS (
         |  SELECT doc_id, CAST(bm25d AS DOUBLE) AS dscore FROM bm
         |  ORDER BY bm25d DESC, doc_id LIMIT $HybN),
         |bmr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY dscore DESC, doc_id) AS rnk_side
         |  FROM bmtop),
         |hq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |hprobes AS (
         |  SELECT cell FROM (
         |    SELECT c.cell, row_number() OVER (ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM hq q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |hcand AS (
         |  SELECT af.vec_id AS n_id FROM af
         |  JOIN hprobes p ON af.cell = p.cell),
         |hqs AS (SELECT sub, sv AS qsv FROM sv WHERE vec_id = 0),
         |hqtab AS (
         |  SELECT c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM hqs q JOIN cfp c USING (sub)),
         |hadc AS (
         |  SELECT cd.n_id, sum(t.qd2) AS adc
         |  FROM hcand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN hqtab t ON t.sub = enc.sub AND t.cell = enc.cell
         |  GROUP BY cd.n_id),
         |anntop AS (
         |  SELECT n_id AS doc_id, CAST(adc AS DOUBLE) AS dscore FROM (
         |    SELECT n_id, adc, row_number() OVER (
         |      ORDER BY adc, n_id) AS rnk
         |    FROM hadc) WHERE rnk <= $HybN),
         |annr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY dscore, doc_id) AS rnk_side
         |  FROM anntop),
         |sides AS (
         |  SELECT doc_id, rnk_side FROM bmr
         |  UNION ALL
         |  SELECT doc_id, rnk_side FROM annr)
         |SELECT doc_id, count(*) AS n_sides,
         |  round(sum(CAST(1 AS DOUBLE) / ($RrfK + rnk_side)), 6) AS rrf
         |FROM sides GROUP BY doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "s29_ivfpq_refined_topk" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |deep AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS arnk
         |    FROM adc) WHERE arnk <= $RefineDepth),
         |re AS (
         |  SELECT d.q_id, d.n_id,
         |    round(list_dot_product(q.qv, e2.v)
         |      / (sqrt(list_dot_product(q.qv, q.qv))
         |         * sqrt(list_dot_product(e2.v, e2.v))), 4) AS cos
         |  FROM deep d JOIN q ON q.q_id = d.q_id
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |rtop AS (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM re)
         |SELECT q_id, n_id, cos, rnk FROM rtop
         |WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    "s30_ivfpq_refined_recall" ->
      s"""WITH $kmSqlCtes,
         |${pqSqlCtes(withBase = false)},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $RefineNProbe),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |qs AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |       WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qs q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.sub = enc.sub
         |    AND t.cell = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |deep AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS arnk
         |    FROM adc) WHERE arnk <= $RefineDepth),
         |re AS (
         |  SELECT d.q_id, d.n_id,
         |    round(list_dot_product(q.qv, e2.v)
         |      / (sqrt(list_dot_product(q.qv, q.qv))
         |         * sqrt(list_dot_product(e2.v, e2.v))), 4) AS cos
         |  FROM deep d JOIN q ON q.q_id = d.q_id
         |  JOIN e e2 ON e2.vec_id = d.n_id),
         |rtop AS (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM re),
         |atop AS (SELECT q_id, n_id FROM rtop WHERE rnk <= $K),
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |       WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT xq.q_id, en.vec_id AS n_id,
         |    round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm), 4)
         |      AS cos
         |  FROM xq JOIN en ON xq.q_id <> en.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K)
         |SELECT x.q_id,
         |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) / $K.0, 4) AS recall
         |FROM xtop x LEFT JOIN atop a
         |  ON a.q_id = x.q_id AND a.n_id = x.n_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

    "s23_ivfpq_residual_topk" -> residualTopkSql,

    // s42 serves the SAME residual-encoded ranking from the written
    // byResidual=true AnnIndex artifacts (AnnIndexSpec pins artifact
    // == one-plan equality; this puts the FAISS-default serving path
    // under the driver's hash gate) — s23's oracle verbatim
    "s42_ann_residual_serving" -> residualTopkSql,


    "s25_nprobe_curve" ->
      s"""WITH $kmSqlCtes,
         |qq AS (SELECT vec_id AS q_id, v AS qv FROM e
         |       WHERE vec_id < $NQueries),
         |pr AS (
         |  SELECT q_id, qv, cell, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2, cell) AS p_rnk
         |  FROM (SELECT q.q_id, q.qv, c.cell,
         |          round(list_dot_product(q.qv, q.qv)
         |            - 2 * list_dot_product(q.qv, c.cv)
         |            + list_dot_product(c.cv, c.cv), 6) AS d2
         |        FROM qq q CROSS JOIN cf c)),
         |sc AS (
         |  SELECT p.q_id, a.vec_id AS n_id, p.p_rnk,
         |    round(list_dot_product(p.qv, e2.v) /
         |      (sqrt(list_dot_product(p.qv, p.qv)) *
         |       sqrt(list_dot_product(e2.v, e2.v))), 4) AS cos
         |  FROM pr p
         |  JOIN af a ON a.cell = p.cell AND a.vec_id <> p.q_id
         |  JOIN e e2 ON e2.vec_id = a.vec_id),
         |cfg AS (SELECT CAST(p AS INT) AS nprobe
         |        FROM range(1, ${KmK + 1}) r(p)),
         |pc AS (SELECT sc.*, cfg.nprobe FROM sc
         |       JOIN cfg ON sc.p_rnk <= cfg.nprobe),
         |top AS (
         |  SELECT q_id, nprobe, n_id FROM (
         |    SELECT q_id, nprobe, n_id, row_number() OVER (
         |      PARTITION BY q_id, nprobe ORDER BY cos DESC, n_id) AS rnk
         |    FROM pc) WHERE rnk <= $K),
         |xscored AS (
         |  SELECT q.q_id, e2.vec_id AS n_id,
         |    round(list_dot_product(q.qv, e2.v) /
         |      (sqrt(list_dot_product(q.qv, q.qv)) *
         |       sqrt(list_dot_product(e2.v, e2.v))), 4) AS cos
         |  FROM qq q JOIN e e2 ON q.q_id <> e2.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K),
         |nt AS (SELECT count(*) AS n_true FROM xtop),
         |h AS (
         |  SELECT t.nprobe, count(*) AS n_hits FROM top t
         |  JOIN xtop x ON x.q_id = t.q_id AND x.n_id = t.n_id
         |  GROUP BY 1),
         |nc AS (SELECT nprobe, count(*) AS n_candidates FROM pc
         |       GROUP BY 1)
         |SELECT nc.nprobe, nc.n_candidates,
         |  coalesce(h.n_hits, 0) AS n_hits, nt.n_true,
         |  round(coalesce(h.n_hits, 0) / CAST(nt.n_true AS DOUBLE), 4)
         |    AS recall
         |FROM nc LEFT JOIN h ON h.nprobe = nc.nprobe CROSS JOIN nt
         |ORDER BY nc.nprobe""".stripMargin,

    "s27_ivf_cell_stats" ->
      s"""WITH $kmSqlCtes,
         |per AS (
         |  SELECT cell, count(*) AS n_vecs,
         |    CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS sd2
         |  FROM af GROUP BY cell),
         |tot AS (
         |  SELECT count(*) AS n_cells,
         |    CAST(sum(n_vecs) AS BIGINT) AS n_total,
         |    CAST(sum(n_vecs * n_vecs) AS BIGINT) AS ss
         |  FROM per)
         |SELECT cell, n_vecs,
         |  round(n_vecs / CAST(n_total AS DOUBLE), 6) AS cell_share,
         |  round(sd2 / CAST(n_vecs AS DOUBLE), 6) AS mean_d2,
         |  round(CAST(n_cells * ss AS DOUBLE)
         |    / CAST(n_total * n_total AS DOUBLE), 6) AS imbalance
         |FROM per CROSS JOIN tot ORDER BY cell""".stripMargin,

    "s28_rerank_depth_curve" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qz AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> round(x * 127.0 / amax)) AS qa
         |  FROM (SELECT vec_id, v,
         |          list_max(list_transform(v, x -> abs(x))) AS amax
         |        FROM e)),
         |cand AS (
         |  SELECT q_id, n_id, r1 FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.qa, c.qa) DESC, c.vec_id)
         |        AS r1
         |    FROM qz q JOIN qz c
         |      ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id)
         |  WHERE r1 <= ${RerankDepths.max}),
         |nrm AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
         |rer AS (
         |  SELECT cand.q_id, cand.n_id, cand.r1,
         |    round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 4) AS cos
         |  FROM cand JOIN nrm a ON a.vec_id = cand.q_id
         |            JOIN nrm b ON b.vec_id = cand.n_id),
         |cfg AS (SELECT unnest([${RerankDepths.mkString(", ")}])
         |          AS depth),
         |pc AS (SELECT rer.*, cfg.depth FROM rer
         |       JOIN cfg ON rer.r1 <= cfg.depth),
         |top AS (
         |  SELECT q_id, depth, n_id FROM (
         |    SELECT q_id, depth, n_id, row_number() OVER (
         |      PARTITION BY q_id, depth ORDER BY cos DESC, n_id) AS rnk
         |    FROM pc) WHERE rnk <= $K),
         |xscored AS (
         |  SELECT q.vec_id AS q_id, e2.vec_id AS n_id,
         |    round(list_dot_product(q.v, e2.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) *
         |       sqrt(list_dot_product(e2.v, e2.v))), 4) AS cos
         |  FROM e q JOIN e e2
         |    ON q.vec_id < $NQueries AND q.vec_id <> e2.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K),
         |nt AS (SELECT count(*) AS n_true FROM xtop),
         |h AS (
         |  SELECT t.depth, count(*) AS n_hits FROM top t
         |  JOIN xtop x ON x.q_id = t.q_id AND x.n_id = t.n_id
         |  GROUP BY 1),
         |nc AS (SELECT depth, count(*) AS n_candidates FROM pc
         |       GROUP BY 1)
         |SELECT nc.depth, nc.n_candidates,
         |  coalesce(h.n_hits, 0) AS n_hits, nt.n_true,
         |  round(coalesce(h.n_hits, 0) / CAST(nt.n_true AS DOUBLE), 4)
         |    AS recall
         |FROM nc LEFT JOIN h ON h.depth = nc.depth CROSS JOIN nt
         |ORDER BY nc.depth""".stripMargin,

    "s24_ivfpq_residual_recall" ->
      s"""WITH $kmSqlCtes,
         |er AS (
         |  SELECT e.vec_id,
         |    list_transform(list_zip(e.v, c.cv), x -> x[1] - x[2]) AS v
         |  FROM e JOIN af ON e.vec_id = af.vec_id
         |  JOIN cf c ON af.cell = c.cell),
         |${pqSqlCtes(withBase = false, src = "er")},
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell, row_number() OVER (
         |      PARTITION BY q.q_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6), c.cell) AS p_rnk
         |    FROM q CROSS JOIN cf c) WHERE p_rnk <= $NProbe),
         |qres AS (
         |  SELECT p.q_id, p.cell,
         |    list_transform(list_zip(q.qv, c.cv), x -> x[1] - x[2]) AS rv
         |  FROM probes p JOIN q ON p.q_id = q.q_id
         |  JOIN cf c ON p.cell = c.cell),
         |qrs AS (
         |  SELECT q_id, cell, CAST(r.m AS INT) AS sub,
         |    list_slice(rv, r.m*$PqD+1, r.m*$PqD+$PqD) AS qsv
         |  FROM qres CROSS JOIN range(0, $PqM) r(m)),
         |qtab AS (
         |  SELECT s.q_id, s.cell, c.sub, c.cell AS code,
         |    CAST(round(list_dot_product(s.qsv, s.qsv)
         |        - 2 * list_dot_product(s.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM qrs s JOIN cfp c USING (sub)),
         |cand AS (
         |  SELECT p.q_id, af.vec_id AS n_id, af.cell
         |  FROM af JOIN probes p ON af.cell = p.cell
         |  WHERE p.q_id <> af.vec_id),
         |adc AS (
         |  SELECT cd.q_id, cd.n_id, sum(t.qd2) AS adc
         |  FROM cand cd JOIN enc ON enc.vec_id = cd.n_id
         |  JOIN qtab t ON t.q_id = cd.q_id AND t.cell = cd.cell
         |    AND t.sub = enc.sub AND t.code = enc.cell
         |  GROUP BY cd.q_id, cd.n_id),
         |atop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |    FROM adc) WHERE rnk <= $K),
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |       WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT xq.q_id, en.vec_id AS n_id,
         |    round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm), 4)
         |      AS cos
         |  FROM xq JOIN en ON xq.q_id <> en.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K)
         |SELECT x.q_id,
         |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) / $K.0, 4) AS recall
         |FROM xtop x LEFT JOIN atop a
         |  ON a.q_id = x.q_id AND a.n_id = x.n_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

    "s16_pq_train" ->
      s"""WITH $pqSqlCtes
         |SELECT sub, cell, count(*) AS n_members,
         |  round(avg(d2), 4) AS avg_d2
         |FROM enc GROUP BY sub, cell ORDER BY sub, cell""".stripMargin,

    "s17_pq_adc_topk" ->
      s"""WITH $pqSqlCtes,
         |q AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |      WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT t.q_id, enc.vec_id AS n_id, sum(t.qd2) AS adc
         |  FROM enc JOIN qtab t ON enc.sub = t.sub AND enc.cell = t.cell
         |  WHERE t.q_id <> enc.vec_id
         |  GROUP BY t.q_id, enc.vec_id)
         |SELECT q_id, n_id, CAST(adc AS DOUBLE) AS adc, rnk FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc) WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    "s18_pq_recall" ->
      s"""WITH $pqSqlCtes,
         |q AS (SELECT vec_id AS q_id, sub, sv AS qsv FROM sv
         |      WHERE vec_id < $NQueries),
         |qtab AS (
         |  SELECT q.q_id, c.sub, c.cell,
         |    CAST(round(list_dot_product(q.qsv, q.qsv)
         |        - 2 * list_dot_product(q.qsv, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6)
         |      AS DECIMAL(12,6)) AS qd2
         |  FROM q JOIN cfp c USING (sub)),
         |adc AS (
         |  SELECT t.q_id, enc.vec_id AS n_id, sum(t.qd2) AS adc
         |  FROM enc JOIN qtab t ON enc.sub = t.sub AND enc.cell = t.cell
         |  WHERE t.q_id <> enc.vec_id
         |  GROUP BY t.q_id, enc.vec_id),
         |atop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |    FROM adc) WHERE rnk <= $K),
         |en AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |xq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en
         |       WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT xq.q_id, en.vec_id AS n_id,
         |    round(list_dot_product(xq.qv, en.v) / (xq.qn * en.nrm), 4)
         |      AS cos
         |  FROM xq JOIN en ON xq.q_id <> en.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K)
         |SELECT x.q_id,
         |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) / $K.0, 4) AS recall
         |FROM xtop x LEFT JOIN atop a
         |  ON a.q_id = x.q_id AND a.n_id = x.n_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

    "s06_ann_recall" -> {
      val tabSelects = (0 until NTables).map { t =>
        s"SELECT vec_id, v, nrm, ${tableBucketSql(t)} AS bucket FROM e"
      }.mkString(" UNION ALL ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |      WHERE vec_id < $NQueries),
         |xscored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos
         |  FROM q JOIN e ON q.q_id <> e.vec_id),
         |xtop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM xscored) WHERE rnk <= $K),
         |tabs AS ($tabSelects),
         |lshq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn,
         |                bucket AS q_bucket
         |         FROM tabs WHERE vec_id < $NQueries),
         |lcand AS (
         |  SELECT DISTINCT lshq.q_id, te.vec_id AS n_id, lshq.qv, lshq.qn,
         |    te.v, te.nrm
         |  FROM lshq JOIN tabs te
         |    ON te.bucket = lshq.q_bucket AND lshq.q_id <> te.vec_id),
         |lscored AS (
         |  SELECT q_id, n_id,
         |    round(list_dot_product(qv, v) / (qn * nrm), 4) AS cos
         |  FROM lcand),
         |ltop AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |    FROM lscored) WHERE rnk <= $K)
         |SELECT x.q_id,
         |  CAST(sum(CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN l.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) / $K.0, 4) AS recall
         |FROM xtop x LEFT JOIN ltop l
         |  ON l.q_id = x.q_id AND l.n_id = x.n_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin
    },

    "s05_label_cohesion" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[],
        |                               embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id)
        |    <= $CohesionCap)
        |SELECT a.label, count(*) AS n_pairs,
        |  round(avg(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)), 4)
        |    AS avg_cos,
        |  round(max(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)), 4)
        |    AS max_cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |GROUP BY a.label ORDER BY a.label""".stripMargin,

    "s09_bm25_topk" ->
      s"""WITH $bm25SqlCtes
         |SELECT doc_id, n_terms, CAST(bm25d AS DOUBLE) AS bm25
         |FROM bm ORDER BY bm25d DESC, doc_id LIMIT 10""".stripMargin,

    "s10_hybrid_rrf" ->
      s"""WITH $bm25SqlCtes,
         |bmtop AS (
         |  SELECT doc_id, bm25d FROM bm WHERE doc_id <> 0
         |  ORDER BY bm25d DESC, doc_id LIMIT $RetrN),
         |bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25d DESC, doc_id)
         |    AS r_bm
         |  FROM bmtop),
         |e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0),
         |crtop AS (
         |  SELECT vec_id AS doc_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 6) AS cos
         |  FROM e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY cos DESC, doc_id LIMIT $RetrN),
         |cr AS (
         |  SELECT doc_id, cos,
         |    row_number() OVER (ORDER BY cos DESC, doc_id) AS r_cos
         |  FROM crtop)
         |SELECT coalesce(cr.doc_id, b.doc_id) AS doc_id, cr.r_cos, b.r_bm,
         |  round(coalesce(CAST(1 AS DOUBLE) / ($RrfK + b.r_bm),
         |          CAST(0 AS DOUBLE))
         |        + coalesce(CAST(1 AS DOUBLE) / ($RrfK + cr.r_cos),
         |          CAST(0 AS DOUBLE)), 6) AS rrf
         |FROM cr FULL OUTER JOIN bmr b ON b.doc_id = cr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "s08_filtered_search" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |      WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos
         |  FROM q JOIN e ON q.q_id <> e.vec_id
         |  WHERE e.label IN (0, 1, 2)),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, cos, rnk FROM ranked WHERE rnk <= $K
         |ORDER BY q_id, rnk""".stripMargin,

    "s11_quantized_rerank" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qz AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> round(x * 127.0 / amax)) AS qa
         |  FROM (SELECT vec_id, v,
         |          list_max(list_transform(v, x -> abs(x))) AS amax
         |        FROM e)),
         |cand AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM qz q JOIN qz c
         |    ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_dot_product(q.qa, c.qa) DESC, c.vec_id)
         |      <= $RerankC),
         |nrm AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
         |rer AS (
         |  SELECT cand.q_id, cand.n_id,
         |    round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 4) AS cos
         |  FROM cand JOIN nrm a ON a.vec_id = cand.q_id
         |            JOIN nrm b ON b.vec_id = cand.n_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM rer)
         |WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    "s12_diverse_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[],
         |                               embedding::DOUBLE[])) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |      WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q.q_id, e.label, e.vec_id AS n_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos
         |  FROM q JOIN e ON q.q_id <> e.vec_id),
         |champ AS (
         |  SELECT q_id, label, n_id, cos
         |  FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY q_id, label
         |    ORDER BY cos DESC, n_id) = 1),
         |ranked AS (
         |  SELECT q_id, n_id, label, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM champ)
         |SELECT q_id, n_id, label, cos, rnk FROM ranked
         |WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    "s07_int8_quant" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (
        |  SELECT vec_id, label, v,
        |    list_max(list_transform(v, x -> abs(x))) AS amax
        |  FROM e),
        |d AS (
        |  SELECT vec_id, label, amax, v,
        |    list_transform(v, x -> round(x * 127.0 / amax) * amax / 127.0)
        |      AS dq
        |  FROM q)
        |SELECT vec_id, label, round(amax, 6) AS amax,
        |  round(list_dot_product(v, dq)
        |        / (sqrt(list_dot_product(v, v))
        |           * sqrt(list_dot_product(dq, dq))), 6) AS q_cos
        |FROM d ORDER BY vec_id""".stripMargin)
}
