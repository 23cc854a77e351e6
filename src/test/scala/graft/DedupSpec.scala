package graft

import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  test("every dedup query runs at sf0.001 and has an oracle") {
    ops.Dedup.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfSmoke)
      assert(df.columns.nonEmpty, s"$name has no schema")
      df.count() // must execute without error (near-dup sets may be empty)
    }
    assert(ops.Dedup.queries.keySet == ops.Dedup.oracle.keySet)
  }

  test("exact dedup keeps every distinct content exactly once") {
    val d = ops.Dedup.queries("d01_exact_dedup")(spark, sfSmoke)
    val docs = Tables.load(spark, sfSmoke, "documents")
      .select(md5(lower(col("text"))).as("fp")).distinct().count()
    assert(d.count() == docs)
    assert(d.select("fp").distinct().count() == d.count())
  }

  test("minhash near-dup estimates are bounded and symmetric-free (a<b)") {
    val d = ops.Dedup.queries("d03_minhash_near_dups")(spark, sfSmoke)
    assert(d.filter(col("est_jaccard") < 0.5 || col("est_jaccard") > 1).count() == 0)
    assert(d.filter(col("a_id") >= col("b_id")).count() == 0)
  }

  test("identical docs get identical minhash signatures and simhash") {
    // Duplicate a doc by unioning the table with itself under new ids:
    // same text ⇒ same shingle set ⇒ identical signatures.
    val sigs = ops.Dedup.queries("d02_minhash_signatures")(spark, sfSmoke)
    val sim = ops.Dedup.queries("d04_simhash")(spark, sfSmoke)
    // invariant proxy on real data: signature columns are deterministic
    // across two evaluations of the same plan
    val again = ops.Dedup.queries("d02_minhash_signatures")(spark, sfSmoke)
    assert(sigs.exceptAll(again).count() == 0)
    // 64-bit simhash uses the full int64 range (bit 63 = sign bit);
    // assert determinism and that the high half actually carries
    // entropy (the r1 16-bit hash left bits 16-63 permanently zero).
    val simAgain = ops.Dedup.queries("d04_simhash")(spark, sfSmoke)
    assert(sim.exceptAll(simAgain).count() == 0)
    val highHalves = sim
      .select(shiftrightunsigned(col("simhash"), 32).as("hi"))
      .distinct().count()
    assert(highHalves > 1, "high 32 simhash bits carry no entropy")
  }

  test("d11: canonical corpus accounting agrees with the component " +
      "labels (survivors = corpus - non-canonical members)") {
    import org.apache.spark.sql.functions._
    val d11 = ops.Dedup.queries("d11_canonical_corpus")(spark, sfVerify)
    val kept = d11.agg(sum("n_kept")).collect()(0).getLong(0)
    val total = d11.agg(sum("n_docs")).collect()(0).getLong(0)
    val comp = ops.Dedup.queries("d08_dedup_components")(spark, sfVerify)
    val members = comp.count()
    val clusters = comp.select("canonical_id").distinct().count()
    assert(total == Tables.load(spark, sfVerify, "documents").count())
    assert(kept == total - (members - clusters),
      s"kept=$kept total=$total members=$members clusters=$clusters")
  }

  test("d12: contamination ratios are bounded and exact eval copies " +
      "surface at ratio 1") {
    val d12 = ops.Dedup.queries("d12_decontamination")(spark, sfVerify)
      .collect()
    assert(d12.length == 20)
    d12.foreach { r =>
      val (nSh, nShared, ratio) =
        (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nShared <= nSh && ratio >= 0.0 && ratio <= 1.0, r.toString)
      assert(r.getString(1) != "src0", "eval docs must not be flagged")
    }
    // the fixture plants cross-source near-dups; the top of the ranking
    // must show substantial overlap, not noise
    assert(d12.head.getDouble(4) >= 0.5,
      s"top contamination ${d12.head} looks like noise")
  }

  test("d19: bloom-prefiltered decontamination equals the exact " +
      "computation (no false negatives; false positives die in the " +
      "verify join)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = ops.Dedup.queries("d19_bloom_decontamination")(spark, sfVerify)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent exact computation, no bloom anywhere
    val docs = Tables.load(spark, sfVerify, "documents")
      .select($"doc_id", $"source", $"text")
    val sh = docs.withColumn("toks", split($"text", " "))
      .select($"doc_id", $"source",
        explode(expr(s"array_distinct(${ops.Dedup.shingleExpr})")).as("sh"))
    val evalSet = sh.filter($"source" === "src0").select($"sh").distinct()
    val shared = sh.filter($"source" =!= "src0")
      .join(evalSet, "sh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    val expect = docs.filter($"source" =!= "src0")
      .join(shared, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_shared".isNotNull, 1L).otherwise(0L)).as("n_cont"),
        sum(coalesce($"n_shared", lit(0L))).as("n_tot"))
      .orderBy($"source")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expect.toSeq,
      "bloom path must be value-identical to the exact path")
    assert(got.exists(_._3 > 0), "fixture plants cross-source overlap")
  }

  test("d10: streaming dropDuplicates dedup equals the batch per-source " +
      "distinct counts") {
    import org.apache.spark.sql.functions._
    val streamed = ops.Dedup.queries("d10_stream_dedup")(spark, sfSmoke)
    val batch = Tables.load(spark, sfSmoke, "documents")
      .groupBy(col("source"))
      .agg(countDistinct(md5(lower(col("text")))).as("n_unique_docs"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streaming dedup counts diverged from batch")
  }

  test("d20: boilerplate accounting matches an independent window-based " +
      "recomputation and stays bounded") {
    import org.apache.spark.sql.expressions.Window
    val d20 = ops.Dedup.queries("d20_boilerplate_ngrams")(spark, sfSmoke)
    // Independent formulation: doc-frequency via a count window over the
    // shingle partition instead of the agg + join-back the operator uses.
    val docs = Tables.load(spark, sfSmoke, "documents")
    val nDocs = docs.count()
    val thr = math.max(2L, (nDocs + 499) / 500)
    val sh = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(graft.functions.Shingle3(col("toks"))).as("sh"))
    val alt = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= thr, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        round(col("n_boiler") / col("n_shingles").cast("double"), 6)
          .as("boiler_frac"))
    assert(d20.exceptAll(alt).count() == 0 && alt.exceptAll(d20).count() == 0,
      "join-back and window formulations diverged")
    // bounds + the fixture's planted near-dups must surface SOME
    // boilerplate without the relative threshold flagging everything
    assert(d20.count() == nDocs)
    assert(d20.filter(col("n_boiler") > col("n_shingles")).count() == 0)
    assert(d20.filter(col("boiler_frac") < 0 || col("boiler_frac") > 1)
      .count() == 0)
    assert(d20.agg(sum("n_boiler")).collect()(0).getLong(0) > 0,
      "no boilerplate found — threshold too strict for the fixture")
    assert(d20.filter(col("n_boiler") === col("n_shingles")).count() < nDocs,
      "every shingle flagged — threshold degenerate")
  }

  test("d21: audit counts are consistent (hit <= both sides, ratios " +
      "bounded) and the fixture's planted dups are all recovered") {
    val r = ops.Dedup.queries("d21_lsh_recall_audit")(spark, sfVerify)
      .collect()
    assert(r.length == 1)
    val (nTrue, nLsh, nHit) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    val (recall, precision) = (r(0).getDouble(3), r(0).getDouble(4))
    assert(nHit <= math.min(nTrue, nLsh))
    assert(recall >= 0 && recall <= 1 && precision >= 0 && precision <= 1)
    assert(nTrue > 0, "sample frame found no true near-dup pairs — the " +
      "audit is vacuous on this fixture")
    // the fixture's planted near-dups sit far from the 0.5 boundary, so
    // the 6-slot estimate must not miss any of them (a recall drop here
    // means the signature pipeline broke, not that the corpus changed)
    assert(recall == 1.0, s"LSH missed planted near-dups: $nHit/$nTrue")
  }

  test("d09 skew guard: star candidates stay linear in bucket occupancy " +
      "(all-pairs would be quadratic)") {
    // Deliberately skewed fixture: one band value holding 500 docs (a
    // boilerplate near-dup cluster flooding its LSH bucket) plus a
    // handful of healthy buckets.
    val k = 500
    val skewed = spark.range(k)
      .select(col("id").as("doc_id"), lit("0:boiler").as("band"))
    val healthy = spark.range(k, k + 40)
      .select(col("id").as("doc_id"),
        concat(lit("1:"), (col("id") % 10).cast("string")).as("band"))
    val cand = ops.Dedup.starCandidates(spark, skewed.union(healthy))
    val fromSkew = cand.filter(col("a_id") < k).count()
    // star: k-1 edges from the flooded bucket; all-pairs: k(k-1)/2
    assert(fromSkew == k - 1,
      s"flooded bucket emitted $fromSkew candidates, want ${k - 1} " +
        s"(all-pairs would be ${k.toLong * (k - 1) / 2})")
    val perBucket = cand.join(
        skewed.union(healthy).withColumnRenamed("doc_id", "b_id"), "b_id")
      .groupBy("band").count().agg(max("count")).collect()(0).getLong(0)
    assert(perBucket < k.toLong, "per-bucket candidates must stay sub-k²")
    // components over star edges: the flooded bucket is one cluster
    // with the bucket minimum as canonical
    val comp = ops.Dedup.components(spark,
      cand.filter(col("a_id") < k))
    assert(comp.select(countDistinct(col("lbl"))).collect()(0).getLong(0) == 1)
    assert(comp.agg(min("lbl")).collect()(0).getLong(0) == 0L)
  }

  test("d09 equals d08 components on the real fixture (tight planted " +
      "clusters verify through their hubs)") {
    val d08 = ops.Dedup.queries("d08_dedup_components")(spark, sfSmoke)
    val d09 = ops.Dedup.queries("d09_salted_components")(spark, sfSmoke)
    // The star guard trades recall only on heterogeneous buckets; on
    // the fixture's tight near-dup clusters the partitions coincide.
    assert(d09.exceptAll(d08).count() == 0 && d08.exceptAll(d09).count() == 0,
      "star-guarded components diverged from exact components on a " +
        "fixture with only tight clusters")
  }

  test("d07 chunk buckets are selective: no chunk value floods a bucket") {
    // The scale guarantee of the 16-bit-chunk pigeonhole: bucket
    // occupancy stays a small fraction of the corpus (16 distinct
    // values per chunk in r1 meant n/16 per bucket — the O(n²/16)
    // candidate blowup the widening removed).
    val sim = ops.Dedup.queries("d04_simhash")(spark, sfSmoke)
    val n = sim.count()
    val worst = (0 until 4).map { c =>
      sim.select(shiftright(col("simhash"), c * 16)
          .bitwiseAND(65535).as("chunk"))
        .groupBy("chunk").count()
        .agg(max("count")).collect()(0).getLong(0)
    }.max
    // exact duplicates share all chunks, so allow a small cluster, but
    // a 1/16-of-corpus bucket would mean the chunk carries ~4 bits
    assert(worst <= math.max(4L, n / 16),
      s"worst chunk bucket $worst of $n docs")
  }

  test("d13 incremental admission closes: admitted + rejected = incoming " +
      "per source, and totals match the batch split") {
    import spark.implicits._
    val rows = ops.Dedup.queries("d13_incremental_dedup")(spark, sfVerify)
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1),
        s"${r.getString(0)}: funnel does not close")
    }
    val incoming = Tables.load(spark, sfVerify, "documents")
      .filter($"doc_id" % 5 === 4).count()
    assert(rows.map(_.getLong(1)).sum == incoming,
      "every incoming doc must be accounted for exactly once")
    // independent cross-check by a DIFFERENT formulation: admitted =
    // distinct incoming fingerprints anti-joined against the corpus
    // set (the operator itself uses left-join + window ranks)
    val base = Tables.load(spark, sfVerify, "documents")
      .withColumn("fp", md5(lower($"text")))
    val corpusFp = base.filter($"doc_id" % 5 =!= 4).select($"fp").distinct()
    val expectAdmitted = base.filter($"doc_id" % 5 === 4)
      .select($"fp").distinct()
      .join(corpusFp, Seq("fp"), "left_anti").count()
    assert(rows.map(_.getLong(2)).sum == expectAdmitted,
      s"admitted total disagrees with the anti-join formulation")
  }

  test("d15 skew guard: a flooded fingerprint is suppressed and the " +
      "candidate-pair count stays within the df-cap bound") {
    import spark.implicits._
    // One boilerplate fingerprint in 500 docs (df far over the cap)
    // plus healthy fingerprints shared by 4 docs each. Without the cap
    // the flooded fp alone contributes 500·499/2 ≈ 125k pairs.
    val cap = 20L
    val flooded = spark.range(500)
      .select(col("id").as("doc_id"), lit(999999L).as("fp"))
    val healthy = (0L until 8L)
      .flatMap(fp => (0L until 4L).map(d => (1000L + fp * 10 + d, fp)))
      .toDF("doc_id", "fp")
    val f0 = flooded.unionByName(healthy)
    val cand = ops.Dedup.winnowCandidates(spark, f0, cap)
    val n = cand.count()
    // flooded fp: zero pairs; each healthy fp: 4·3/2 = 6 pairs
    assert(n == 8 * 6,
      s"candidate count $n; flooded fingerprint must contribute 0 " +
        s"(all-pairs would add ${500L * 499 / 2})")
    // the structural bound the 100 TB claim rests on: Σ_fp df·cap over
    // surviving (df ≤ cap) fingerprints
    assert(n <= 8 * 4 * cap, s"pair count $n exceeds the df·cap bound")
  }

  test("d34 containment: the plan-switched candidate generators " +
      "(exact shingle join vs LSH-band candidates) are row-identical, " +
      "and the auto switch flips on the size budget") {
    // the switch decision itself (the eager checkpoint inside
    // containmentPairs severs the generator from the final plan, so
    // the spec pins the decision function, not plan shape)
    assert(!ops.Dedup.containmentUseBands(spark, sfVerify),
      "fixture-sized corpus under the default 1 GiB budget must take " +
        "the exact shingle path")
    withConfs("spark.graft.dedup.containment.bandBudgetBytes" -> "1") {
      assert(ops.Dedup.containmentUseBands(spark, sfVerify),
        "a corpus above the byte budget must swap to band candidates")
    }
    withConfs("spark.graft.dedup.containment.candGen" -> "bands") {
      assert(ops.Dedup.containmentUseBands(spark, sfVerify))
    }
    withConfs("spark.graft.dedup.containment.candGen" -> "shingle",
        "spark.graft.dedup.containment.bandBudgetBytes" -> "1") {
      assert(!ops.Dedup.containmentUseBands(spark, sfVerify),
        "explicit candGen overrides the byte budget")
    }

    // both physical paths, one contract: row-identical output on the
    // fixture (band recall of every containment≥0.5 pair, incl. the
    // asym_inclusion ones, was also measured externally in DuckDB)
    def rows(gen: String): Seq[String] =
      withConfsValue("spark.graft.dedup.containment.candGen" -> gen) {
        ops.Dedup.containmentPairs(spark, sfVerify)
          .collect().map(_.toString).toSeq
      }
    val exact = rows("shingle")
    val banded = rows("bands")
    assert(exact.nonEmpty, "fixture must produce containment pairs")
    assert(banded == exact,
      s"band-candidate path must reproduce the exact path: " +
        s"${banded.take(2)} vs ${exact.take(2)}")
    // the third generator (d36's): prefix filtering is exact by the
    // pigeonhole bound, so equality here is a theorem check, not a
    // fixture coincidence
    val prefixed = ops.Dedup
      .containmentPairs(spark, sfVerify, forceGen = Some("prefix"))
      .collect().map(_.toString).toSeq
    assert(prefixed == exact,
      s"prefix-filtered path must reproduce the exact path: " +
        s"${prefixed.take(2)} vs ${exact.take(2)}")
  }

  test("d36 positional filter (PPJoin's second cut, round 14): strictly " +
      "fewer candidates, every gated containment pair retained") {
    import spark.implicits._
    Seq(sfSmoke, sfVerify).foreach { sf =>
      val d = Tables.load(spark, sf, "documents")
      val sh = d.withColumn("toks", split($"text", " "))
        .select($"doc_id",
          explode(graft.functions.Shingle3($"toks")).as("sh"))
        .join(d.select($"doc_id", $"source"), "doc_id")
        .localCheckpoint()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      def pairs(positional: Boolean): Set[(Long, Long)] =
        ops.Dedup.prefixCandidates(spark, sh, sizes, positional)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cut = pairs(positional = true)
      val all = pairs(positional = false)
      assert(cut.subsetOf(all), s"$sf: the cut invented a candidate")
      assert(cut.size < all.size,
        s"$sf: positional bound cut nothing (${all.size} candidates)")
      // exactness on the real fixture: every gated containment pair
      // survives the cut (the ARBITRARY-corpora property test proves
      // the theorem; this prices it: counts recorded in SCALE.md)
      val gated = ops.Dedup.queries("d36_containment_prefix_filtered")(
        spark, sf).select("a_id", "b_id")
        .collect() // directed view: normalize to the unordered key
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      assert(gated.subsetOf(cut), s"$sf: the cut dropped a true pair: " +
        s"missing=${(gated -- cut).toSeq.sorted}")
      info(s"$sf: candidates ${all.size} -> ${cut.size} " +
        s"(${gated.size} qualifying)")
    }
  }

  test("containment generators on ARBITRARY corpora: prefix == shingle " +
      "always (the pigeonhole theorem, not a fixture coincidence); " +
      "bands ⊆ shingle (its documented recall trade)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu",
      "xi", "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    def words(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (round <- 1 to 5) {
      val base = (0 until 25).map { i =>
        (i.toLong, s"src${rnd.nextInt(2)}", words(5 + rnd.nextInt(30)))
      }
      // planted inclusions: donor text wrapped in noise — the
      // asym_inclusion case (high containment, low Jaccard) bands
      // can miss and prefix filtering must not
      val wrapped = (0 until 6).map { k =>
        val donor = base(rnd.nextInt(base.size))
        (100L + k, donor._2, s"${donor._3} ${words(3 + rnd.nextInt(20))}")
      }
      val dir = tmpDir(s"containment-prop-$round")
      (base ++ wrapped).toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run(gen: String): Seq[String] =
        ops.Dedup.containmentPairs(spark, dir, forceGen = Some(gen))
          .collect().map(_.toString).toSeq
      val exact = run("shingle")
      val prefix = run("prefix")
      val bands = run("bands")
      assert(prefix == exact,
        s"round $round: prefix filtering must be exact on any corpus " +
          s"(${prefix.size} vs ${exact.size} rows)")
      assert(bands.toSet.subsetOf(exact.toSet),
        s"round $round: band output must be a subset of the exact " +
          s"output (verification is exact, only candidates can be lost)")
    }
  }

  /** [[withConfs]] that returns the body's value. */
  private def withConfsValue[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
