package graft

/** The range-partitioned sorted-shard export pattern — how a curated
  * corpus actually leaves the engine at 100 TB: `repartitionByRange` on
  * the sort key + `sortWithinPartitions` + parquet write gives globally
  * range-disjoint files, each internally sorted, so a downstream reader
  * (or a training-data loader) gets a global order by concatenating
  * files in range order — no single-reducer global sort anywhere.
  *
  * The spec drives the real write path and then PROVES the contract
  * from the files alone: per-file sortedness, cross-file range
  * disjointness, and no row lost or duplicated. (A `.orderBy.write`
  * would also range-partition, but makes the intent implicit; the
  * explicit form is the one that composes with bucketing options.)
  */
class SortedExportSpec extends SparkTestBase {

  test("repartitionByRange + sortWithinPartitions writes range-disjoint, " +
      "internally sorted parquet shards covering every row exactly once") {
    import spark.implicits._
    val dir = tmpDir("sorted-export") + "/docs"

    val src = Tables.load(spark, sfVerify, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val total = src.count()

    src.repartitionByRange(4, $"doc_id")
      .sortWithinPartitions($"doc_id")
      .write.mode("overwrite").parquet(dir)

    // Read each data file independently: the contract must hold at the
    // file level, because that is what a concatenating reader sees.
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    assert(files.length > 1, "range partitioning must produce >1 shard")

    val perFile = files.map { f =>
      val rows = spark.read.parquet(f).select($"doc_id")
        .as[Long].collect()
      assert(rows.sameElements(rows.sorted),
        s"shard not internally sorted: $f")
      (rows.min, rows.max, rows.length.toLong)
    }

    // files sorted by name ≠ sorted by range; order shards by min key
    val byRange = perFile.sortBy(_._1)
    byRange.sliding(2).foreach {
      case Array((_, prevMax, _), (curMin, _, _)) =>
        assert(prevMax < curMin,
          s"shard ranges overlap: max $prevMax >= next min $curMin")
      case _ =>
    }
    assert(byRange.map(_._3).sum == total,
      "concatenated shards must cover every row exactly once")
  }
}
