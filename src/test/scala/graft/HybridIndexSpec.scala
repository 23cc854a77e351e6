package graft

import graft.ops.{AnnIndex, HybridIndex, Similarity, TextIndex}

/** Hybrid retrieval from artifacts only (HybridIndex.search): the
  * serving-tier form of s10 — RRF over the written postings index and
  * the written IVF-PQ index — proven to (a) fuse exactly (the RRF
  * arithmetic recomputed in-spec from each side's own artifact
  * ranking), and (b) touch zero corpus bytes (no documents / no
  * embeddings scans in the executed plan).
  */
class HybridIndexSpec extends SparkTestBase {

  test("artifact-only hybrid RRF: fusion matches the component " +
      "rankings exactly; the plan scans neither corpus") {
    import spark.implicits._
    val base = tmpDir("hybrid-index")
    val textDir = base + "/text"
    val annDir = base + "/ann"
    TextIndex.build(spark,
      Tables.load(spark, sfVerify, "documents").select($"doc_id", $"text"),
      textDir)
    AnnIndex.build(spark, sfVerify, annDir)
    val qv = Tables.load(spark, sfVerify, "embeddings")
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>"))
      .head().getSeq[Double](0)

    val n = 50
    val got = HybridIndex.search(spark, textDir, annDir,
        Similarity.BmTerms, qv, n, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // expected fusion, recomputed from each side's own artifact search
    def fuse(bmDf: org.apache.spark.sql.DataFrame,
        annDf: org.apache.spark.sql.DataFrame) = {
      val bmRanks = bmDf
        .select($"doc_id", $"bm25d".cast("double")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, sc) => (-sc, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
      val annRanks = annDf
        .select($"n_id", $"rnk").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      (bmRanks.keySet ++ annRanks.keySet).toSeq.map { id =>
        val r = bmRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          annRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (id, (bmRanks.contains(id), annRanks.contains(id)) match {
          case (true, true) => 2L; case _ => 1L
        }, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }.sortBy { case (id, _, r) => (-r, id) }.take(10)
    }
    val fused = fuse(
      TextIndex.search(spark, textDir, Similarity.BmTerms, n),
      AnnIndex.search(spark, annDir, Seq((-1L, qv)).toDF("q_id", "qv"), n))
    assert(got.nonEmpty && got.sameElements(fused),
      s"fused ranking must equal the in-spec RRF of the component " +
        s"artifact rankings; got ${got.take(3).mkString(",")} vs " +
        s"${fused.take(3).mkString(",")}")
    assert(got.exists(_._2 == 2L),
      "the fixture query must produce at least one both-sides doc " +
        "(otherwise the fusion is vacuous)")

    // ---- filtered hybrid: allow scopes BOTH sides pre-cut -------------
    val fusedTop1 = got.head._1
    val allow = Tables.load(spark, sfVerify, "embeddings")
      .select($"vec_id".as("id")).filter($"id" =!= fusedTop1)
    val gotF = HybridIndex.search(spark, textDir, annDir,
        Similarity.BmTerms, qv, n, 10, Some(allow))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val fusedF = fuse(
      TextIndex.search(spark, textDir, Similarity.BmTerms, n,
        Some(allow.select($"id".as("doc_id")))),
      AnnIndex.search(spark, annDir, Seq((-1L, qv)).toDF("q_id", "qv"),
        n, Some(allow.select($"id".as("vec_id")))))
    assert(!gotF.exists(_._1 == fusedTop1),
      "the disallowed doc must not surface in the filtered fusion")
    assert(gotF.nonEmpty && gotF.sameElements(fusedF),
      s"filtered fusion must equal the RRF of the FILTERED component " +
        s"rankings (both sides re-ranked without the excised id): " +
        s"got ${gotF.take(3).mkString(",")} vs " +
        s"${fusedF.take(3).mkString(",")}")

    // ---- zero corpus bytes in the whole hybrid plan -------------------
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans)
    }
    val searched = HybridIndex.search(spark, textDir, annDir,
      Similarity.BmTerms, qv, n, 10)
    searched.collect()
    val paths = scans(searched.queryExecution.executedPlan)
      .map(_.relation.location.rootPaths.mkString)
    assert(!paths.exists(p =>
        p.contains("documents") || p.contains("embeddings")),
      s"the hybrid serving plan must scan neither corpus: $paths")
    assert(paths.exists(_.contains("postings")) &&
      paths.exists(_.contains("invlists")),
      s"both indexes must actually be probed: $paths")
  }
}
