package perfbench

import scala.collection.mutable

/** `query_suite`: registry queries in one long-lived session.
  *
  * {{{
  * QuerySuite <tablesDir> <out.json> <windowSeconds> <q1,q2,...>
  * }}}
  * After the untimed warm-up, each query runs once cold: its first
  * execution, including analysis and codegen, timed to its collected
  * result. The checksum of that result is taken after the clock
  * stops, so the timed execution is the checked one. Warm passes over
  * the same order, to the `noop` sink, follow. Warm times fall by half
  * over the first five or six passes as the JIT compiles the query
  * paths, and how fast they fall follows the host's load, so the first
  * `SettlePasses` are a fixed, untimed JIT settle; timed passes then
  * repeat until the window has elapsed and at least `MinTimedPasses`
  * have run. The harness takes each query's fastest timed pass. A
  * window of 0 runs the cold pass only: the reference mode.
  */
object QuerySuite {
  val SettlePasses = 2
  val MinTimedPasses = 3

  def main(args: Array[String]): Unit = {
    val Array(dir, out, windowS, list) = args
    val names = list.split(",").toSeq.filter(_.nonEmpty)
    val registry = graft.SparkEntry.queries
    val tStart = Trace.nowMs
    val spark = Harness.session()
    val contextMs = spark.sparkContext.startTime.toDouble
    Harness.warmUp(spark, dir)
    val tReady = Trace.nowMs
    // Self-test: the named query's checked result loses its first row.
    val plant = sys.props.get("perfbench.plant")

    val cold = mutable.Map.empty[String, Double]
    val checks = mutable.Map.empty[String, Map[String, Any]]
    val warm = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    var attempted = 0
    def run(name: String, pass: String)(body: org.apache.spark.sql.DataFrame => Unit): Option[Double] = {
      attempted += 1
      val r = registry.get(name) match {
        case Some(fn) => Harness.timed(spark, s"$pass:$name")(body(Harness.attribute(spark, fn(spark, dir))))
        case None => Left(s"unknown query $name")
      }
      r.left.foreach(e => errors.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s"$pass: $e")
      r.toOption
    }

    Harness.drain(spark)
    val c0 = Trace.snapshot()
    val w0 = Trace.nowMs
    names.foreach { n =>
      var result: Option[(Seq[String], Array[org.apache.spark.sql.Row])] = None
      run(n, "cold") { df => result = Some((df.columns.toIndexedSeq, df.collect())) }.foreach { t =>
        cold(n) = t
        result.foreach { case (cols, rows) =>
          val (count, sum) = Harness.checksum(cols, if (plant.contains(n)) rows.drop(1) else rows)
          checks(n) = Map("rows" -> count, "checksum" -> sum)
        }
      }
    }
    Harness.drain(spark)
    val c1 = Trace.snapshot()
    val w1 = Trace.nowMs
    val timedRun = windowS.toDouble > 0
    if (timedRun) for (_ <- 1 to SettlePasses) names.foreach(n => run(n, "settle")(Harness.noop))
    val deadline = Trace.nowMs + windowS.toDouble * 1000
    var passes = 0
    while (timedRun && (passes < MinTimedPasses || Trace.nowMs < deadline)) {
      names.foreach(n => run(n, "warm")(Harness.noop).foreach(t =>
        warm.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += t))
      passes += 1
    }
    Harness.drain(spark)
    val c2 = Trace.snapshot()
    val w2 = Trace.nowMs
    spark.stop()

    Json.write(out, Map(
      "start_ms" -> tStart, "context_ms" -> contextMs, "ready_ms" -> tReady,
      "cold_window" -> Seq(w0, w1), "warm_window" -> Seq(w1, w2), "warm_passes" -> passes,
      "attempted" -> attempted,
      "cold" -> cold, "warm" -> warm, "checks" -> checks, "errors" -> errors,
      "counters_cold" -> Trace.delta(c0, c1), "counters_warm" -> Trace.delta(c1, c2)))
    Trace.dump()
  }
}

/** Writes the registry's query names, one per line. */
object ListQueries {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      graft.SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
}
