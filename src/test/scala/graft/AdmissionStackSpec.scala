package graft

import graft.ops.{AnnIndex, DedupIndex}

/** The full production ADMISSION STACK, composed from the written
  * indexes — the three-legged funnel a 100 TB ingest service actually
  * runs, end to end from artifacts with zero corpus scans:
  *
  *   1. exact leg    — DedupIndex fingerprints (d13's rule);
  *   2. near leg     — DedupIndex MinHash bands (d17's rule);
  *   3. semantic leg — AnnIndex nearest-neighbor distance under a
  *      threshold (d16's SemDeDup rule, served from the IVF-PQ
  *      artifacts instead of an in-plan corpus pass).
  *
  * The spec plants one doc per rejection leg plus one genuinely new
  * doc, asserts exactly the new doc admits, closes the loop (append
  * text, upsert vector), and proves the re-ingest rejects. The
  * semantic threshold is SELF-CALIBRATING: the midpoint between the
  * planted twin's top-1 distance (quantization distortion — near
  * zero) and the fresh vector's top-1 distance (far), so the spec
  * never hardcodes a distortion magnitude.
  */
class AdmissionStackSpec extends SparkTestBase {

  test("three-legged admission from written artifacts: exact, near " +
      "and semantic rejections each fire; only the new doc admits; " +
      "the closed loop rejects its re-ingest") {
    import spark.implicits._
    val base = tmpDir("admission-stack")
    val dedupDir = base + "/dedup"
    val annDir = base + "/ann"
    val docs = Tables.load(spark, sfVerify, "documents")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val emb = Tables.load(spark, sfVerify, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    DedupIndex.build(spark, corpus, dedupDir)
    AnnIndex.buildFrom(spark,
      emb.join(corpus.select($"doc_id".as("vec_id")), "vec_id"),
      annDir, byResidual = false, storeVectors = true)

    // plants: X anchors the exact+near legs, Z the semantic leg
    val xText = corpus.filter($"text".isNotNull).orderBy($"doc_id")
      .head().getString(1)
    val zVec = emb.filter($"vec_id" === 6).head().getSeq[Double](1)
    val farVec = zVec.map(_ + 5.0) // far from every indexed vector
    val batch = Seq(
      (900001L, xText),                          // exact dup of X
      (900002L, xText + " extratoken"),          // near dup of X
      (900003L, "totally unrelated replacement"), // semantic twin of Z
      (900004L, "another genuinely fresh text")   // the admit
    ).toDF("doc_id", "text")
    val batchVecs = Seq(
      (900001L, zVec), (900002L, zVec), // text legs fire first anyway
      (900003L, zVec),                  // the twin vector
      (900004L, farVec)
    ).toDF("q_id", "qv")

    // ---- the funnel, all three legs from artifacts --------------------
    val text = DedupIndex.probe(spark, dedupDir, batch)
    val nn = AnnIndex.search(spark, annDir, batchVecs, 1)
      .select($"q_id".as("doc_id"), $"adc".cast("double").as("nn_adc"))
    val twinAdc = nn.filter($"doc_id" === 900003L).head().getDouble(1)
    val freshAdc = nn.filter($"doc_id" === 900004L).head().getDouble(1)
    assert(twinAdc < freshAdc,
      s"the planted twin must sit closer than the fresh vector " +
        s"($twinAdc vs $freshAdc) — the separation the threshold needs")
    val thr = (twinAdc + freshAdc) / 2
    val verdicts = text.join(nn, "doc_id")
      .withColumn("admit", !$"fp_in_corpus" && $"fp_batch_rn" === 1 &&
        !$"near_rej_corpus" && !$"near_rej_batch" && $"nn_adc" > thr)
    val byId = verdicts.collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(900001L).getAs[Boolean]("fp_in_corpus"),
      "the exact leg must reject the verbatim copy")
    assert(!byId(900002L).getAs[Boolean]("fp_in_corpus") &&
      byId(900002L).getAs[Boolean]("near_rej_corpus"),
      "the near leg must reject the one-token edit the exact leg missed")
    assert(!byId(900003L).getAs[Boolean]("fp_in_corpus") &&
      !byId(900003L).getAs[Boolean]("near_rej_corpus") &&
      byId(900003L).getAs[Double]("nn_adc") <= thr,
      "the semantic leg must reject the embedding twin both text legs " +
        "missed — the SemDeDup case")
    val admitted = verdicts.filter($"admit").select($"doc_id")
      .as[Long].collect().toSet
    assert(admitted == Set(900004L),
      s"exactly the genuinely new doc must admit: $admitted")

    // ---- close the loop ----------------------------------------------
    DedupIndex.append(spark, dedupDir,
      batch.join(verdicts.filter($"admit").select($"doc_id"), "doc_id"))
    AnnIndex.upsert(spark, annDir,
      Seq((900004L, farVec)).toDF("vec_id", "v"))
    val re = DedupIndex.probe(spark, dedupDir,
      Seq((900005L, "another genuinely fresh text")).toDF("doc_id", "text"))
    assert(re.head().getAs[Boolean]("fp_in_corpus"),
      "after the loop closes, the admitted doc's copy must exact-reject")
    // a FRESH probe id carrying the admitted vector now finds its
    // indexed copy as top-1, at a distance that DROPPED to the
    // vector's own quantization distortion. Measured caveat, pinned
    // deliberately: for an OUT-OF-DISTRIBUTION vector the PQ
    // distortion alone (here ~1.6k) can exceed a threshold calibrated
    // on in-distribution twins (~0.8k) — ADC conflates true distance
    // with codebook distortion, so a raw-ADC semantic-admission
    // threshold needs an exact-vector rerank stage (s11's two-stage
    // shape) before it can catch copies of outliers; the identity is
    // still caught (top-1 IS the copy) and the distance strictly
    // drops from the pre-admission nearest, which is the invariant a
    // rerank stage builds on.
    val reNn = AnnIndex.search(spark, annDir,
        Seq((900006L, farVec)).toDF("q_id", "qv"), 1)
      .select($"n_id", $"adc".cast("double")).head()
    assert(reNn.getLong(0) == 900004L && reNn.getDouble(1) < freshAdc,
      s"the re-ingested vector must find its indexed copy, strictly " +
        s"closer than its pre-admission nearest: ${reNn.getLong(0)} " +
        s"at ${reNn.getDouble(1)} vs pre-admission $freshAdc")
    // ... and the REFINE stage (AnnIndex.searchRefined — exact
    // re-scoring of the ADC candidates from the vectors artifact) is
    // the cure: the exact copy scores 0.0 no matter how badly its
    // codes quantize, so the semantic leg run at refine level catches
    // the out-of-distribution copy the raw-ADC leg just missed.
    val reRef = AnnIndex.searchRefined(spark, annDir,
        Seq((900006L, farVec)).toDF("q_id", "qv"), 1, 20)
      .select($"n_id", $"d2".cast("double")).head()
    assert(reRef.getLong(0) == 900004L && reRef.getDouble(1) == 0.0 &&
      reRef.getDouble(1) <= thr,
      s"the refined semantic leg must catch the copy at exact 0.0, " +
        s"under any calibrated threshold: $reRef")
  }
}
