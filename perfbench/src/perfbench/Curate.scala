package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Observation, SparkSession}

/** curate: one sweep of a fixed set of `SparkEntry.queries` entries over
  * seeded generated tables (perfbench/gen_tables.py), each written to
  * the noop sink. The seed sets the tables' contents and the order the
  * queries run in. Each query's row count and order-insensitive value
  * hash are observed on its output during the write.
  *
  * The URL-frontier leaf (crawl_politeness_salted: first-wins seen
  * filter + salted politeness scheduler over the events table) yields
  * the workload's URL count: its output rows, over the sweep's wall.
  */
final class Curate(spark: SparkSession, seed: Long, queries: Seq[String],
                   dataDir: String, warmDir: String) extends Workload {
  private val urlLeaf = "crawl_politeness_salted"
  private val order = new scala.util.Random(seed).shuffle(queries.sorted)

  def warmUp(): Double = Clock.timed(sweep(warmDir, None))._2

  def buildInputs(): Double = 0.0

  def op(tracer: Option[Tracer]): Op = tracer match {
    case None => sweep(dataDir, None)
    case Some(tr) => tr.span("sweep")(sweep(dataDir, tracer))
  }

  private def sweep(dir: String, tracer: Option[Tracer]): Op = {
    val t0 = System.nanoTime()
    val units = order.map { q =>
      val u =
        try tracer.fold(run(q, dir))(_.span(s"query.$q")(run(q, dir)))
        catch { case e: Throwable => Op.failed(q, e, 0.0).units.head._2 }
      q -> u
    }
    val urls = units.collect { case (`urlLeaf`, u) =>
      u.digest.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L) }.sum
    val wall = Clock.secs(t0)
    Op(wall, urls, units)
  }

  private def run(q: String, dir: String): Outcome = {
    val df = SparkEntry.queries(q)(spark, dir)
    val obs = Observation()
    val d = Digest.exprs(df)
    df.observe(obs, d.head, d.tail: _*).write.format("noop").mode("overwrite").save()
    val digest = Digest.fromObservation(obs.get)
    Outcome(ok = true, "", digest)
  }

  /** Writes every query's output as parquet plus the oracle SQL, for
    * the DuckDB cross-check made when goldens are recorded.
    */
  override def record(dir: String): Unit = {
    order.foreach { q =>
      SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$q")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      Json.write(oracle))
  }
}
