package perfbench

/** The result of one unit — what counts as one attempted operation: a
  * pass, a crawl round or read-back, a query. `digest` is what the
  * output check compares against the recorded golden.
  */
final case class Outcome(ok: Boolean, detail: String, digest: Map[String, Any])

/** One measured operation: its wall time, the URLs it scheduled and
  * fetched (0 where the workload handles none), and its units.
  */
final case class Op(wallS: Double, urls: Long, units: Seq[(String, Outcome)],
                    extra: Map[String, Any] = Map.empty) {
  def json: Map[String, Any] = Map(
    "wall_s" -> wallS, "urls" -> urls,
    "units" -> units.map { case (n, u) =>
      Map("name" -> n, "ok" -> u.ok, "detail" -> u.detail, "digest" -> u.digest) },
    "extra" -> extra)
}

object Op {
  def failed(name: String, e: Throwable, wallS: Double): Op =
    Op(wallS, 0L, Seq(name -> Outcome(ok = false,
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}",
      Map.empty)))
}

trait Workload {
  /** Warm-up on a smaller input of another seed; returns seconds. */
  def warmUp(): Double
  /** Builds this run's inputs (and prior state); returns seconds. Called
    * several times; the last build is the one the operations use.
    */
  def buildInputs(): Double
  def op(tracer: Option[Tracer]): Op
  /** Extra record-mode output (query results for the oracle check). */
  def record(dir: String): Unit = ()
  def close(): Unit = ()
}

object Clock {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secs(t0))
  }
}
