package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkTestBase {

  test("every multimodal query runs non-empty at sf0.001 and has an oracle") {
    Multimodal.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfSmoke).count() > 0, s"$name empty")
    }
    assert(Multimodal.queries.keySet == Multimodal.oracle.keySet)
  }

  test("media table has the full typed schema and covers all docs") {
    val m = Multimodal.mediaTable(spark, sfSmoke)
    assert(m.schema.fieldNames.toSeq ==
      Seq("media_id", "content", "format", "width", "height"))
    assert(m.count() == Tables.load(spark, sfSmoke, "documents").count())
    assert(m.select("format").distinct().count() == 4)
  }

  test("m12/m13: packing identity holds, packing never costs more " +
      "windows than per-item ceils, and the patch lever is quadratic " +
      "on vision but flat on audio") {
    val m12 = Multimodal.queries("m12_interleaved_pack")(spark, sfVerify)
      .collect().map(r => r.getAs[String]("format") -> r).toMap
    val m10 = Multimodal.queries("m10_context_budget")(spark, sfVerify)
      .collect().map(r => r.getAs[String]("format") -> r).toMap
    m12.foreach { case (fmt, r) =>
      val toks = r.getAs[Long]("text_tokens") + r.getAs[Long]("media_tokens")
      // exact accounting identity: every window is 2048 tokens of
      // content plus tail padding, nothing lost or double-counted
      assert(r.getAs[Long]("n_windows") * 2048L ==
        toks + r.getAs[Long]("tail_pad"), s"window identity broke on $fmt")
      assert(r.getAs[Long]("n_split_samples") <= r.getAs[Long]("n_samples"))
      // concat-packing can only beat m10's one-ceil-per-item bound
      assert(r.getAs[Long]("n_windows") <= m10(fmt).getAs[Long]("ctx_windows"),
        s"packing must not cost extra windows on $fmt")
      // the two rows must agree on the token model itself
      assert(r.getAs[Long]("text_tokens") ==
        m10(fmt).getAs[Long]("text_tokens"))
      assert(r.getAs[Long]("media_tokens") ==
        m10(fmt).getAs[Long]("media_tokens"))
    }
    val m13 = Multimodal.queries("m13_patch_budget_curve")(spark, sfVerify)
      .collect()
      .map(r => (r.getAs[Int]("patch_px"), r.getAs[String]("format")) -> r)
      .toMap
    Seq("jpeg", "png", "mp4").foreach { fmt =>
      val Seq(t8, t16, t32) = Seq(8, 16, 32)
        .map(p => m13((p, fmt)).getAs[Long]("media_tokens").toDouble)
      // halving the patch ~quadruples the grid (ceil slack keeps it
      // off exactly 4x); the curve must be steeply monotone
      assert(t8 / t16 > 3.5 && t8 / t16 < 4.5, s"$fmt 8->16 ratio")
      assert(t16 / t32 > 3.5 && t16 / t32 < 4.5, s"$fmt 16->32 ratio")
    }
    val wav = Seq(8, 16, 32).map(p => m13((p, "wav")).getAs[Long]("media_tokens"))
    assert(wav.distinct.size == 1, "codec-frame audio must ignore the patch lever")
  }

  test("feature extraction is deterministic and bounded [0,1)") {
    val f1 = Multimodal.queries("m02_feature_extract")(spark, sfSmoke)
    val f2 = Multimodal.queries("m02_feature_extract")(spark, sfSmoke)
    assert(f1.exceptAll(f2).count() == 0, "codec must be deterministic")
    (0 until Multimodal.FakeCodec.NFeatures).foreach { j =>
      assert(f1.filter(col(s"f$j") < 0 || col(s"f$j") >= 1).count() == 0)
    }
  }

  test("modality-partitioned storage layout: a format predicate prunes " +
      "partitions at plan time (the 100 TB media-lake read path)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("media-part").toString
    Multimodal.mediaTable(spark, sfSmoke)
      .write.partitionBy("format").mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("format") === "png")
    // the predicate must land in PartitionFilters (directory pruning),
    // not as a per-row data filter
    val scan = back.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no file scan in plan"))
    assert(scan.partitionFilters.nonEmpty,
      "format predicate did not become a partition filter")
    assert(!scan.dataFilters.exists(_.references.exists(_.name == "format")),
      s"format leaked into data filters: ${scan.dataFilters}")
    // and the pruned read is the filtered full read
    val full = Multimodal.mediaTable(spark, sfSmoke)
      .filter(col("format") === "png").count()
    assert(back.count() == full)
  }

  test("frame sampling keeps every 4th 32-byte frame") {
    val frames = Multimodal.queries("m03_frame_sample")(spark, sfSmoke)
    // frame numbers per media are contiguous 0..k
    val bad = frames.groupBy("media_id")
      .agg(max("frame_no").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n") - 1).count()
    assert(bad == 0)
  }

  test("m05 dedup accounting: distinct ≤ total, pHash buckets bounded " +
      "by 2^8 and by media count, occupancy covers the corpus") {
    val rows = multimodal.Multimodal
      .queries("m05_media_dedup")(spark, sfVerify).collect()
    rows.foreach { r =>
      val (n, d, dups, bk, mx) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(d <= n && dups == n - d, s"${r.getString(0)}: counts")
      assert(bk <= 256 && bk <= n, s"${r.getString(0)}: bucket count")
      // the biggest bucket can't be smaller than the mean occupancy
      assert(mx * bk >= n, s"${r.getString(0)}: occupancy")
    }
    assert(rows.map(_.getLong(1)).sum ==
      Tables.load(spark, sfVerify, "documents").count())
  }

  test("m05 skew guard: near-dup candidates stay linear in a flooded " +
      "pHash bucket (d09's star reduction, all-pairs would be quadratic)") {
    // Planted flood: one (png, ph=00000000) bucket holding 300 DISTINCT
    // contents (the perceptual-near-dup burst case — same pHash,
    // different bytes), plus healthy sparse buckets and exact-dup
    // multiplicity on one fingerprint.
    val k = 300
    val flooded = spark.range(k).select(lit("png").as("format"),
      concat(lit("fp"), col("id")).as("fp"), lit("00000000").as("ph"))
    val healthy = spark.range(40).select(lit("jpeg").as("format"),
      concat(lit("hfp"), col("id")).as("fp"),
      lpad((col("id") % 20).cast("string"), 8, "0").as("ph"))
    val exactDups = spark.range(5).select(lit("png").as("format"),
      lit("fpdup").as("fp"), lit("11111111").as("ph"))
    val stats = multimodal.Multimodal.dedupStatsFromBase(spark,
      flooded.union(healthy).union(exactDups)).collect()
      .map(r => r.getString(0) -> r).toMap
    val png = stats("png")
    // flooded bucket: k distinct members -> k-1 star edges (hub = min
    // fp); the 5-copy exact dup is ONE member alone in its bucket -> 0
    assert(png.getLong(6) == k - 1,
      s"flooded bucket emitted ${png.getLong(6)} candidates, want " +
        s"${k - 1} (all-pairs would be ${k.toLong * (k - 1) / 2})")
    assert(png.getLong(3) == 4, "5 copies of one content = 4 exact dups")
    val jpeg = stats("jpeg")
    // 40 members over 20 buckets: 2 per bucket -> 1 edge each
    assert(jpeg.getLong(6) == 20, s"jpeg cands = ${jpeg.getLong(6)}")
  }

  test("m07 shard-plan invariants: contiguous shards, conserved bytes, " +
      "disjoint ascending id ranges, prefix-sum binning semantics") {
    val Budget = 4096L // mirror of Multimodal.MediaShardBytes
    val plan = SparkEntry.queries("m07_media_shard_plan")(spark, sfVerify)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(plan.nonEmpty)
    plan.groupBy(_._1).foreach { case (fmt, rows) =>
      val byShard = rows.sortBy(_._2)
      // shards are 0..max with no gaps ON THIS FIXTURE (no blob spans
      // a whole bin — prefix-sum binning would skip ids if one did)
      assert(byShard.map(_._2).toSeq == (0L until byShard.size.toLong),
        s"$fmt: shard ids must be contiguous from 0")
      // id ranges are disjoint and ascending (greedy order assignment)
      byShard.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._6 < b._5,
            s"$fmt: shard ${a._2} id range must precede shard ${b._2}")
        case _ =>
      }
      // binning: every NON-final shard's cumulative end crosses its
      // budget boundary (else the next blob would have stayed in it);
      // a shard overflows by less than one blob. NOTE this is
      // prefix-sum binning, not true greedy close-on-crossing: an
      // overflow carry reduces the next bin's capacity (documented in
      // the operator)
      val cums = byShard.map(_._4).scanLeft(0L)(_ + _).drop(1)
      byShard.init.zip(cums.init).foreach { case (sh, cumEnd) =>
        assert(cumEnd >= (sh._2 + 1) * Budget,
          s"$fmt: shard ${sh._2} closed early (cum $cumEnd)")
      }
    }
  }
}
