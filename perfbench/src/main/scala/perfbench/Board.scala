package perfbench

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Board queries and streaming gates, given as (query, fixture dir)
  * pairs: each operation is one registered query, built with
  * `fn(spark, dir)` and materialized in full through
  * the `noop` sink (not `count()`, which lets Catalyst prune the
  * operators a query is named after). The output check collects the
  * same frame afterwards and compares its digest with the pinned one.
  */
final class Board(rows: Seq[(String, String)], seed: Long,
    expected: Map[String, Fingerprint.Digest],
    observed: collection.mutable.Map[String, Fingerprint.Digest]) extends Workload {
  private val fns = graft.SparkEntry.queries
  val queries: Seq[String] = rows.map(_._1)
  private val dirs = rows.toMap
  require(queries.forall(fns.contains),
    s"unknown queries: ${queries.filterNot(fns.contains).mkString(",")}")

  def prepare(spark: SparkSession): Unit = ()

  /** The untimed warm-up passes (pass <= 0) run in the given order, so the
    * JIT profiles of every run start from the same sequence. Timed passes
    * take a fresh seeded order, so no query always runs first.
    */
  def passOps(pass: Int): Seq[String] =
    if (pass <= 0) queries
    else new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def run(spark: SparkSession, q: String, check: Boolean): Sample = {
    val sc = spark.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val res = Try(Trace.op("bench", q) {
      val df = Trace.span("ops", "construct")(fns(q)(spark, dirs(q)))
      Trace.span("exec", "materialize")(
        df.write.format("noop").mode("overwrite").save())
      df
    })
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = res match {
      case Success(df) =>
        !check || (Try(Fingerprint.of(df)) match {
          case Success(d) =>
            observed(q) = d
            val good = expected.get(q).contains(d)
            if (!good) System.err.println(s"[perfbench] $q: digest ${d.json} " +
              s"!= pinned ${expected.get(q).map(_.json).getOrElse("none")}")
            good
          case Failure(e) =>
            System.err.println(s"[perfbench] $q check failed: $e"); false
        })
      case Failure(e) =>
        System.err.println(s"[perfbench] $q failed: $e"); false
    }
    // a pass's checkpointed blocks would otherwise pile up across passes
    // and tax whichever later query needs the storage memory (as in Bench)
    sc.getPersistentRDDs.filterNot { case (id, _) => preexisting(id) }
      .values.foreach(_.unpersist(blocking = true))
    Sample(q, ms, Seq(ms), ok)
  }
}
