package graft

import org.apache.spark.sql.functions._

/** The composed curation pipeline (quality → normalize → dedup →
  * report): gate parity is the driver's job; these are the structural
  * invariants a pipeline must keep regardless of fixture content.
  */
class PipelineSpec extends SparkTestBase {

  test("every pipeline query runs non-empty at sf0.001 and has an oracle") {
    ops.Pipeline.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfSmoke).count() > 0, s"$name empty")
    }
    assert(ops.Pipeline.queries.keySet == ops.Pipeline.oracle.keySet)
  }

  test("p01 accounting closes: kept + removed = passed, per source and " +
      "in total against the corpus") {
    val rows = ops.Pipeline.queries("p01_curation_pipeline")(spark, sfVerify)
      .collect()
    rows.foreach { r =>
      val (pass, kept, removed) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept + removed == pass && kept >= 0 && removed >= 0,
        s"${r.getString(0)}: $kept + $removed != $pass")
    }
    val totalPass = rows.map(_.getLong(1)).sum
    val corpus = Tables.load(spark, sfVerify, "documents").count()
    assert(totalPass <= corpus, "quality gate cannot pass more than exists")
  }

  test("p01 normalization dedups case/punctuation variants that the raw " +
      "fingerprint (d01) keeps apart") {
    // The fixture has no planted case-variants at sf0.001, so probe the
    // operator's normalization contract directly through its SQL parts:
    // two texts differing only in case + punctuation must collapse.
    val df = spark.createDataFrame(Seq(
      (1L, "Hello, World!  This is FINE."),
      (2L, "hello world this is fine"),
      (3L, "a genuinely different document"))).toDF("doc_id", "text")
    val fp = md5(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
    val n = df.select(fp.as("fp")).distinct().count()
    assert(n == 2, s"normalization should collapse 1 and 2, got $n groups")
  }

  test("p02 funnel closes per source: kept + len_fail + rep_fail = docs, " +
      "and the gate actually splits the corpus") {
    val rows = ops.Pipeline.queries("p02_quality_filter")(spark, sfVerify)
      .collect()
    rows.foreach { r =>
      val (docs, kept, lenF, repF) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(kept + lenF + repF == docs,
        s"${r.getString(0)}: $kept + $lenF + $repF != $docs")
    }
    val corpus = Tables.load(spark, sfVerify, "documents").count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "every doc must be accounted for in exactly one source row")
    // a gate that keeps everything (or nothing) tests nothing
    val kept = rows.map(_.getLong(2)).sum
    assert(kept > 0 && kept < corpus,
      s"thresholds must split the fixture non-trivially (kept=$kept)")
  }

  test("curationWithAudit: observe() metrics match the gated result " +
      "with no extra job, and the result itself is unchanged") {
    val gate = org.apache.spark.sql.Observation("gate")
    val report = org.apache.spark.sql.Observation("report")
    val audited = ops.Pipeline
      .curationWithAudit(spark, sfVerify, gate, report).collect()
    val plain = ops.Pipeline.queries("p01_curation_pipeline")(spark, sfVerify)
      .collect()
    assert(audited.toSeq == plain.toSeq,
      "audit instrumentation must not change the result")
    // the audit numbers are computed on the SAME pass: they must equal
    // the result's own totals exactly
    val g = gate.get
    val r = report.get
    assert(g("n_pass_total") == plain.map(_.getLong(1)).sum)
    assert(r("n_sources") == plain.length.toLong)
    assert(r("n_kept_total") == plain.map(_.getLong(2)).sum)
    assert(g("tokens_pass_total").asInstanceOf[Long] >=
      plain.map(_.getLong(4)).sum,
      "tokens past the gate can only shrink at dedup")
  }

  test("p09: PSI is non-negative, snapshots partition the corpus, and " +
      "identical snapshots report exactly zero drift") {
    val p09 = ops.Pipeline.queries("p09_snapshot_drift")(spark, sfVerify)
      .cache()
    // every PSI term (p_new − p_old)·ln(p_new/p_old) has matching signs,
    // so the sum is non-negative for ANY pair of distributions
    assert(p09.filter(col("psi_sources") < 0).count() == 0)
    val total = p09.agg(sum(col("n_old") + col("n_new"))).collect()(0)
      .getLong(0)
    assert(total == Tables.load(spark, sfVerify, "documents").count(),
      "even/odd snapshots must partition the corpus")
    // planted null case: duplicate every doc into BOTH parity classes —
    // the two snapshots are then distribution-identical, so PSI and the
    // length drift must be EXACTLY zero (smoothing included)
    val dir = tmpDir("p09")
    val docs = Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.selectExpr("doc_id * 2 AS doc_id", "text", "lang", "source",
        "n_chars")
      .union(docs.selectExpr("doc_id * 2 + 1 AS doc_id", "text", "lang",
        "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val z = ops.Pipeline.queries("p09_snapshot_drift")(spark, dir)
    assert(z.filter(col("psi_sources") =!= 0.0 ||
      col("chars_drift") =!= 0.0).count() == 0,
      "identical snapshots must show zero drift")
    assert(z.filter(col("n_old") =!= col("n_new")).count() == 0)
    p09.unpersist()
  }

  test("p08: splits exactly partition the corpus, are deterministic, " +
      "and land near the 12/2/2 carve") {
    val p08 = ops.Pipeline.queries("p08_train_val_test")(spark, sfVerify)
      .cache()
    val docs = Tables.load(spark, sfVerify, "documents")
    // partition: per-source totals across splits equal corpus totals
    val bySrc = p08.groupBy("source")
      .agg(sum("n_docs").as("n"), sum("total_chars").as("chars"))
    val ref = docs.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
    assert(bySrc.exceptAll(ref).count() == 0 &&
      ref.exceptAll(bySrc).count() == 0,
      "split totals do not partition the corpus")
    // determinism: a second evaluation is bit-identical
    val again = ops.Pipeline.queries("p08_train_val_test")(spark, sfVerify)
    assert(p08.exceptAll(again).count() == 0)
    // share: each split's doc share within ±6 % of its 12/2/2 target —
    // the fixture has 500 docs, so binomial sigma is ~1.5-2 % and the
    // deterministic md5 draw happens to sit ~1.8 sigma low on train
    // (0.716); the assertion pins "near the carve", not exact uniformity
    val total = docs.count().toDouble
    val shares = p08.groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1) / total).toMap
    assert(shares.keySet == Set("train", "val", "test"))
    assert(math.abs(shares("train") - 0.75) < 0.06, shares.toString)
    assert(math.abs(shares("val") - 0.125) < 0.06, shares.toString)
    assert(math.abs(shares("test") - 0.125) < 0.06, shares.toString)
    p08.unpersist()
  }

  test("p10: weights normalize, the budget is conserved to rounding, " +
      "epochs recompute, and α=1/2 tempers toward uniform") {
    val p10 = ops.Pipeline.queries("p10_domain_mixture")(spark, sfSmoke)
      .collect()
    val nSrc = p10.length
    assert(nSrc > 1)
    val wSum = p10.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) <= nSrc * 5e-7 + 1e-9, s"Σw = $wSum")
    val allocSum = p10.map(_.getAs[Long]("alloc_tokens")).sum
    assert(math.abs(allocSum - 1000000L) <= nSrc.toLong,
      s"allocated $allocSum of 1000000")
    p10.foreach { r =>
      val eps = BigDecimal(r.getAs[Long]("alloc_tokens").toDouble /
        r.getAs[Long]("n_tokens"))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("epochs") - eps) <= 1e-9,
        s"epochs mismatch for ${r.getAs[String]("source")}")
    }
    // α-tempering: the largest source is under-sampled relative to its
    // proportional share, the smallest over-sampled — the point of α<1
    val total = p10.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val biggest = p10.maxBy(_.getAs[Long]("n_tokens"))
    val smallest = p10.minBy(_.getAs[Long]("n_tokens"))
    assert(biggest.getAs[Long]("n_tokens") !=
      smallest.getAs[Long]("n_tokens"), "fixture sources degenerate")
    assert(biggest.getAs[Double]("weight") <
      biggest.getAs[Long]("n_tokens") / total)
    assert(smallest.getAs[Double]("weight") >
      smallest.getAs[Long]("n_tokens") / total)
  }

  test("p12 manifest agrees with p06's totals: boundary-straddlers and " +
      "chunk spans reconcile per source") {
    import spark.implicits._
    val p06 = ops.Pipeline.queries("p06_sequence_pack")(spark, sfVerify)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Long]("n_split_docs")).toMap
    val p12 = ops.Pipeline.queries("p12_pack_manifest")(spark, sfVerify)
    val straddlers = p12.filter($"spans_boundary")
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    p06.foreach { case (src, nSplit) =>
      assert(straddlers.getOrElse(src, 0L) == nSplit,
        s"$src: manifest says ${straddlers.getOrElse(src, 0L)} " +
          s"straddlers, p06 counted $nSplit")
    }
    // every doc's span is sane: first ≤ last, offset inside the chunk
    assert(p12.filter($"chunk_first" > $"chunk_last" ||
      $"offset_in_chunk" < 0 || $"offset_in_chunk" >= 512).count() == 0)
  }

  test("p12 determinism: identical manifest under a different shuffle " +
      "partitioning (the resumable-job claim)") {
    val base = ops.Pipeline.queries("p12_pack_manifest")(spark, sfSmoke)
      .collect().toSeq
    withConfs("spark.sql.shuffle.partitions" -> "3") {
      val alt = ops.Pipeline.queries("p12_pack_manifest")(spark, sfSmoke)
        .collect().toSeq
      assert(alt == base, "manifest changed with partition count")
    }
  }

  test("p14 epoch shuffle: each epoch is a permutation of the chunk " +
      "set, epochs genuinely reshuffle, and the manifest is " +
      "deterministic under repartitioning") {
    val rows = ops.Pipeline.queries("p14_epoch_shuffle")(spark, sfSmoke)
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        (r.getString(2), r.getLong(3), r.getLong(4))))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0, 1))
    // permutation: both epochs cover exactly the same chunk identities
    val c0 = byEpoch(0).map(_._3).toSet
    val c1 = byEpoch(1).map(_._3).toSet
    assert(c0 == c1 && c0.size == byEpoch(0).length,
      "each epoch must cover every chunk exactly once")
    // reshuffle: the two epochs' key-orders must not agree (an
    // epoch-independent key would make every epoch identical — the
    // exact bug this op exists to prevent)
    val order0 = byEpoch(0).sortBy(_._2).map(_._3).toSeq
    val order1 = byEpoch(1).sortBy(_._2).map(_._3).toSeq
    assert(order0 != order1, "epochs must consume in different orders")
    // determinism under a different partitioning (the p12 claim)
    val base = rows.toSeq
    withConfs("spark.sql.shuffle.partitions" -> "3") {
      val alt = ops.Pipeline.queries("p14_epoch_shuffle")(spark, sfSmoke)
        .collect()
        .map(r => (r.getInt(0), r.getString(1),
          (r.getString(2), r.getLong(3), r.getLong(4)))).toSeq
      assert(alt == base, "shuffle manifest changed with partition count")
    }
  }

  test("p24: file curve is monotone in the trigger, the compaction " +
      "endpoint is trigger-invariant, and amplification is consistent") {
    val rows = ops.Pipeline.queries("p24_ingest_file_curve")(spark, sfVerify)
      .orderBy(col("trigger_s")).collect()
    assert(rows.length == 3)
    val files = rows.map(_.getAs[Long]("n_files"))
    assert(files.zip(files.tail).forall { case (a, b) => a >= b },
      "a wider trigger cannot write more files")
    // compaction bin-packs per day partition: its endpoint depends
    // only on the data's day histogram, never on how ingest sliced it
    assert(rows.map(_.getAs[Long]("packed_files")).distinct.length == 1,
      "packed file count must be trigger-invariant")
    rows.foreach { r =>
      assert(r.getAs[Long]("total_rows") == rows.head.getAs[Long]("total_rows"))
      assert(r.getAs[Long]("n_files") >= r.getAs[Long]("packed_files"),
        "compaction cannot increase the file count")
      val amp = r.getAs[Double]("amplification")
      val expect = r.getAs[Long]("n_files").toDouble /
        r.getAs[Long]("packed_files").toDouble
      assert(math.abs(amp - expect) < 1e-6)
      val share = r.getAs[Double]("small_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }
}
