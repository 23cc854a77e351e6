package graft

import org.apache.spark.sql.functions._

import graft.ops.Layout

/** Proves the storage-layout contracts from the written files alone
  * (the SortedExportSpec discipline): compaction's file-count/content
  * contract, and z-order clustering's both-dimensions-pruned property
  * measured against the single-column-sort baseline.
  */
class LayoutSpec extends SparkTestBase {

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  test("compact rewrites a many-small-files directory into " +
      "ceil(total/target) files with the same row multiset") {
    import spark.implicits._
    val smallDir = tmpDir("small") + "/docs"
    val outDir = tmpDir("compacted") + "/docs"

    // simulate streaming-ingest debris: 40 tiny files
    val src = Tables.load(spark, sfVerify, "documents")
      .select($"doc_id", $"source", $"n_chars")
    src.repartition(40).write.mode("overwrite").parquet(smallDir)
    val before = parquetFiles(smallDir)
    assert(before.length == 40)

    val totalBytes = before.map(_.length).sum
    val target = totalBytes / 4 + 1 // aim for ~4 files
    val n = Layout.compact(spark, smallDir, outDir, target)

    val after = parquetFiles(outDir)
    val expected = ((totalBytes + target - 1) / target).toInt
    assert(n == expected && after.length == n,
      s"expected $expected files, compact returned $n, " +
        s"wrote ${after.length}")
    assert(after.length < before.length / 5)
    assert(after.forall(_.length > 0))

    // multiset equality via anti-joins both ways + count
    val a = spark.read.parquet(smallDir)
    val b = spark.read.parquet(outDir)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("compact refuses in-place rewrites under any path spelling and " +
      "compacts partitioned (subdirectory) layouts") {
    import spark.implicits._
    val src = Tables.load(spark, sfVerify, "documents")
      .select($"doc_id", $"source", $"n_chars")

    // same physical dir, different spelling: must still be rejected
    val flat = tmpDir("inplace") + "/docs"
    src.limit(50).write.mode("overwrite").parquet(flat)
    intercept[IllegalArgumentException] {
      Layout.compact(spark, flat, "file:" + flat, 1000)
    }
    assert(spark.read.parquet(flat).count() == 50) // input untouched

    // hive-partitioned input: data files sit in source=* subdirs; the
    // size listing must see them (a top-level-only listing sees 0
    // bytes and would funnel everything into one file)
    val pd = tmpDir("partsrc") + "/docs"
    val out = tmpDir("partout") + "/docs"
    src.write.partitionBy("source").mode("overwrite").parquet(pd)
    val bytes = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(pd))
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    val n = Layout.compact(spark, pd, out, bytes / 3 + 1)
    assert(n >= 2, s"partitioned bytes must be seen: n=$n")
    val a = spark.read.parquet(pd).select($"doc_id", $"source", $"n_chars")
    val b = spark.read.parquet(out).select($"doc_id", $"source", $"n_chars")
    assert(b.count() == src.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("zorder64 matches the composed bit-ops form and known values") {
    // known: a-bits go to even positions, b-bits to odd
    val known = Seq((0L, 0L, 0L), (3L, 1L, 7L), (1L, 0L, 1L), (0L, 1L, 2L),
      (0xFFFFFFFFL, 0L, 0x5555555555555555L),
      (0L, 0xFFFFFFFFL, 0xAAAAAAAAAAAAAAAAL))
    known.foreach { case (a, b, want) =>
      assert(graft.functions.ZOrder64.interleave(a, b) == want, s"($a,$b)")
    }
    // randomized parity vs the composed built-in expression tree
    val composed = (0 until 32).map { i =>
      shiftleft(col("a").bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(col("b").bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_ bitwiseOR _)
    val bad = spark.range(0, 2000)
      .select((rand(11) * 0xFFFFFFFFL).cast("long").as("a"),
        (rand(17) * 0xFFFFFFFFL).cast("long").as("b"))
      .withColumn("z", graft.functions.ZOrder64(col("a"), col("b")))
      .withColumn("ref", composed)
      .filter(!(col("z") <=> col("ref"))).count()
    assert(bad == 0)
    // out-of-range rejected, not truncated
    intercept[Exception] {
      spark.range(1).select(graft.functions.ZOrder64(
        lit(1L << 32), lit(0L))).collect()
    }
  }

  test("z-order layout bounds per-file span on BOTH dimensions; " +
      "single-column sort leaves the second dimension unclustered") {
    import spark.implicits._
    val zDir = tmpDir("zorder") + "/li"
    val sDir = tmpDir("singlesort") + "/li"

    val li = Tables.load(spark, sfVerify, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    val Array(aLo, aHi, bLo, bHi) = li.agg(
      min($"l_orderkey"), max($"l_orderkey"),
      min($"l_partkey"), max($"l_partkey"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray

    Layout.zorderWrite(li, zDir, 16,
      $"l_orderkey", aLo, aHi, $"l_partkey", bLo, bHi)
    li.repartitionByRange(16, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(sDir)

    // per-file normalized span of each dimension, from the files alone
    def spans(dir: String): Seq[(Double, Double)] =
      parquetFiles(dir).toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath).agg(
          min($"l_orderkey"), max($"l_orderkey"),
          min($"l_partkey"), max($"l_partkey")).collect()(0)
        ((r.getLong(1) - r.getLong(0)).toDouble / (aHi - aLo),
          (r.getLong(3) - r.getLong(2)).toDouble / (bHi - bLo))
      }

    val z = spans(zDir)
    val s = spans(sDir)
    def avg(xs: Seq[Double]): Double = xs.sum / xs.size

    // z-order: BOTH dimensions clustered (16 files ~ 4x4 quadrants ->
    // ideal span 0.25; boundary-crossing shards allowed for by 0.5)
    assert(avg(z.map(_._1)) < 0.5, s"zorder orderkey span ${avg(z.map(_._1))}")
    assert(avg(z.map(_._2)) < 0.5, s"zorder partkey span ${avg(z.map(_._2))}")
    // single-column sort: first dimension tight, second ~full range in
    // every file (this is exactly the pruning z-order buys back)
    assert(avg(s.map(_._1)) < 0.15, s"sorted orderkey span ${avg(s.map(_._1))}")
    assert(avg(s.map(_._2)) > 0.8, s"sorted partkey span ${avg(s.map(_._2))}")

    // nothing lost in the rewrite
    assert(spark.read.parquet(zDir).count() == li.count())
  }

  test("p23: the scan-fraction curve says what the layouts must say — " +
      "each single sort prunes its own axis only, z-order prunes both") {
    val rows = SparkEntry.queries("p23_layout_scan_fraction")(
        spark, sfVerify)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(4))).toMap
    assert(rows.size == 6, s"3 layouts x 2 axes: ${rows.keySet}")
    def frac(layout: String, axis: String): Double = rows((layout, axis))._2
    // a single-column sort prunes hard on its own axis...
    assert(frac("ts_sort", "time") < 0.3, s"${frac("ts_sort", "time")}")
    assert(frac("user_sort", "user") < 0.3, s"${frac("user_sort", "user")}")
    // ...and reads nearly every file on the other
    assert(frac("ts_sort", "user") > 0.8, s"${frac("ts_sort", "user")}")
    assert(frac("user_sort", "time") > 0.8, s"${frac("user_sort", "time")}")
    // z-order pays a modest factor on each axis to prune on BOTH — the
    // whole argument for the interleave, as a gated inequality
    Seq("time", "user").foreach { ax =>
      assert(frac("zorder", ax) < 0.5, s"$ax ${frac("zorder", ax)}")
      assert(frac("zorder", ax) > 0.0, s"$ax ${frac("zorder", ax)}")
    }
    // file counts: 64 equal-width carves, minus empties on sparse axes
    assert(rows.values.forall { case (n, _) => n >= 2 && n <= 64 })
    // the curve's corpus cost is two narrow event scans (bounds + the
    // bucketed fan-out) — the probe stage must NOT rescan the corpus
    val plan = SparkEntry.queries("p23_layout_scan_fraction")(
      spark, sfVerify).queryExecution.executedPlan
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size <= 2, s"expected <=2 event scans, got ${scans.size}")
  }
}
