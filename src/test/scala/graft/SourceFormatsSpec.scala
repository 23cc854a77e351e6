package graft

import org.apache.spark.sql.functions._

/** Multi-format source coverage: the engine's ingest surface is not
  * parquet-only — CSV and JSON-lines are what raw corpora actually
  * arrive as before curation writes them to columnar. Round-trips the
  * documents fixture through both text formats and proves (a) full row
  * fidelity back against the parquet original, and (b) that schema is
  * enforced on read (explicit schema, no inference job at scale — on
  * 100 TB an inference pass is a full extra scan).
  */
class SourceFormatsSpec extends SparkTestBase {

  test("JSON-lines round trip preserves every row and column") {
    val dir = tmpDir("jsonl") + "/docs"
    val src = Tables.load(spark, sfVerify, "documents")
    src.write.mode("overwrite").json(dir)
    // explicit schema: no inference scan
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
  }

  test("CSV round trip with quoting preserves every row and column") {
    val dir = tmpDir("csv") + "/docs"
    val src = Tables.load(spark, sfVerify, "documents")
    // text contains spaces only (word soup), but quote/escape anyway —
    // the settings a real corpus with embedded delimiters needs
    src.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .csv(dir)
    val back = spark.read.schema(src.schema)
      .option("header", "true").csv(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
  }

  test("corrupt JSON lines are quarantined, not silently dropped") {
    val dir = tmpDir("badjson")
    val f = new java.io.File(dir, "part-0.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("""{"doc_id": 1, "text": "ok"}""")
    w.println("""{"doc_id": BROKEN""")
    w.println("""{"doc_id": 3, "text": "also ok"}""")
    w.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, _corrupt STRING")
    val df = spark.read.schema(schema)
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir).cache()
    try {
      assert(df.count() == 3)
      assert(df.filter(col("_corrupt").isNotNull).count() == 1)
      assert(df.filter(col("doc_id").isNotNull).count() == 2)
    } finally df.unpersist()
  }

  test("ORC round trip preserves every row and column") {
    // ORC is the other columnar format Spark ships natively.
    val dir = tmpDir("orc") + "/docs"
    val src = Tables.load(spark, sfVerify, "documents")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(src.schema).orc(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
  }

  test("ORC predicate pushdown reaches the scan like parquet's") {
    val dir = tmpDir("orcpush") + "/docs"
    val src = Tables.load(spark, sfVerify, "documents")
    src.write.mode("overwrite").orc(dir)
    val q = spark.read.schema(src.schema).orc(dir)
      .filter(col("source") === "src0").select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(source)"),
      plan.take(1200))
    assert(q.count() == src.filter(col("source") === "src0").count())
  }
}
