package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.core.CorpusSpec
import org.apache.spark.sql.SparkSession

/** Operator queries over generated tables, one at a time, every result
  * column consumed through Spark's `noop` sink. `count()` is never used:
  * Catalyst prunes a query body whose columns nobody reads.
  */
final class Analytics(h: Harness, val modules: Map[String, String])
    extends Workload(h) {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The seed sets the query order. */
  val order: Vector[String] =
    new scala.util.Random(h.seed).shuffle(modules.keys.toVector.sorted)

  def probeSpec: CorpusSpec = CorpusSpec(seed = h.seed)

  private var pass = 0
  private val failedQueries = scala.collection.mutable.Set.empty[String]

  /** Resolves every table's schema from its parquet footer. */
  def prepare(s: SparkSession): Unit =
    tables.foreach(t => s.read.parquet(s"${h.data}/$t.parquet").schema)

  /** Untimed passes before the window: one that writes every result for
    * the DuckDB check, then `WarmPasses` through the timed `noop` path.
    * A query's second and third executions are still 20% and 8% faster
    * than the one before (Spark's code cache, then the JIT); after that
    * the curve is flat to within a few percent per pass.
    */
  val WarmPasses = 1
  /** Passes per measured cycle. With one pass per cycle, a fast run fits
    * two passes into a short window and a slow run one, which widens the
    * spread between runs beyond their own difference in speed.
    */
  val CyclePasses = 2

  def warmUp(): Unit = {
    for (q <- order) {
      try SparkEntry.queries(q)(spark, h.data)
        .write.mode("overwrite").parquet(s"${h.work}/results/$q")
      catch {
        case e: Throwable =>
          failedQueries += q
          h.check(s"analytics/$q/run", ok = false, e.toString.take(300))
      }
    }
    val sql = order.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.write(Paths.get(h.work, "oracle_sql.json"),
      Json.write(sql).getBytes(StandardCharsets.UTF_8))
    for (_ <- 1 to WarmPasses; q <- order if !failedQueries(q))
      noop(q)
  }

  private def noop(q: String): Unit =
    SparkEntry.queries(q)(spark, h.data)
      .write.format("noop").mode("overwrite").save()

  def measure(seg: Segment, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    do for (_ <- 1 to CyclePasses) {
      pass += 1
      for (q <- order) {
        val (_, c) = h.timed(seg, "query", s"analytics/${modules(q)}/$q/$pass")(
          noop(q))
        c.extra("query") = q
        c.extra("module") = modules(q)
        if (failedQueries(q)) c.checkOk = false
      }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  def finish(): Unit = h.facts("passes") = pass
}
