package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.StoreProbes.StoreProbe

/** `store_cycle`: writes beside reads on the persisted stores.
  *
  * {{{
  * StoreCycle <tablesDir> <landingDir> <workDir> <out.json> <windowSeconds> <probe,probe,...>
  * }}}
  *  1. Create every `StoreProbes.all` store. Probes whose build is the
  *     same artifact share one store: the posting store (with frozen
  *     tf-idf norms) serves the four retrieval probes, the LM store
  *     serves `lm` and `lm_oov`.
  *  2. Probe every store in the given order, repeating rounds until
  *     the window has elapsed (at least one round). A probe is timed to
  *     its collected result; the checksum of each result is taken
  *     after the clock stops.
  *  3. Fold the landing micro-batches into the stores that have a
  *     monitor stream, each through its `maintain(..., AvailableNow)`.
  *     Folds run after the probes because two of them (posting, hll)
  *     grow their store, and probes are checked against the gate rows
  *     of the unfolded stores.
  * A window of 0 builds and probes once without folding: the reference
  * mode.
  */
object StoreCycle {
  /** Probes served by another probe's store. */
  val sharedBuild: Map[String, String] = Map(
    "posting" -> "tfidf", "posting_capped" -> "tfidf", "tfidf_capped" -> "tfidf",
    "lm_oov" -> "lm")
  def group(probe: String): String = sharedBuild.getOrElse(probe, probe)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val psiSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("norm", DoubleType)))

  def main(args: Array[String]): Unit = {
    val Array(dir, landing, work, out, windowS, list) = args
    val byName = graft.StoreProbes.all.map(p => p.name -> p).toMap
    val order = list.split(",").toSeq.filter(_.nonEmpty)
    val tStart = Trace.nowMs
    val spark = Harness.session()
    val contextMs = spark.sparkContext.startTime.toDouble
    Harness.warmUp(spark, dir)
    val tReady = Trace.nowMs
    val timedRun = windowS.toDouble > 0
    val errors = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    def fail(op: String, e: String): Unit = errors.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += e
    var attempted = 0
    def root(g: String) = s"$work/stores/$g"

    Harness.drain(spark)
    val c0 = Trace.snapshot()
    val w0 = Trace.nowMs
    val builds = mutable.LinkedHashMap.empty[String, Double]
    order.map(group).distinct.foreach { g =>
      attempted += 1
      Harness.timed(spark, s"store.create:$g")(byName(g).build(spark, dir, root(g))) match {
        case Right(t) => builds(g) = t
        case Left(e) => fail(s"create:$g", e)
      }
    }
    Harness.drain(spark)
    val c1 = Trace.snapshot()
    val w1 = Trace.nowMs

    val probes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val checks = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[(Long, String)]]
    def probe(p: StoreProbe): Unit = {
      attempted += 1
      var result: Option[(Seq[String], Array[org.apache.spark.sql.Row])] = None
      Harness.timed(spark, s"store.probe:${p.name}") {
        val df = Harness.attribute(spark, p.probe(spark, dir, root(group(p.name))))
        result = Some((df.columns.toIndexedSeq, df.collect()))
      } match {
        case Right(t) =>
          probes.getOrElseUpdate(p.name, mutable.ArrayBuffer.empty) += t
          result.foreach { case (cols, rows) =>
            checks.getOrElseUpdate(p.name, mutable.LinkedHashSet.empty) += Harness.checksum(cols, rows)
          }
        case Left(e) => fail(s"probe:${p.name}", e)
      }
    }
    val deadline = w1 + windowS.toDouble * 1000
    var rounds = 0
    while (rounds == 0 || Trace.nowMs < deadline) {
      order.foreach(n => probe(byName(n)))
      rounds += 1
    }
    Harness.drain(spark)
    val c2 = Trace.snapshot()
    val w2 = Trace.nowMs

    val folds = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    if (timedRun) {
      def fold(name: String)(start: => StreamingQuery): Unit = {
        attempted += 1
        var q: StreamingQuery = null
        Harness.timed(spark, s"stream.fold:$name") {
          q = start
          q.awaitTermination()
        } match {
          case Right(t) =>
            q.exception.foreach(e => fail(s"fold:$name", e.getMessage.take(500)))
            val progress = q.recentProgress.filter(_.numInputRows > 0)
            folds(name) = Map("s" -> t, "rows_in" -> progress.map(_.numInputRows).sum,
              "batches" -> progress.length)
          case Left(e) => fail(s"fold:$name", e)
        }
      }
      def l(s: String) = s"$landing/$s"
      def o(s: String) = s"$work/folds/$s"
      def ck(s: String) = s"$work/checkpoints/$s"
      import graft.streaming._
      fold("posting")(PostingStream.maintain(spark, l("posting"), s"${root("tfidf")}/posting", ck("posting")))
      fold("hll")(HllStream.maintain(spark, l("hll"), s"${root("hll")}/hll", o("hll"), ck("hll"), docSchema))
      fold("cms")(CmsStream.maintain(spark, l("cms"), s"${root("cms")}/cms", o("cms"), ck("cms"), docSchema))
      fold("psi")(PsiStream.maintain(spark, l("psi"), s"${root("psi")}/psi", o("psi"), ck("psi"), psiSchema, "norm"))
      fold("tok")(TokStream.maintain(spark, l("tok"), s"${root("tok")}/tok", o("tok"), ck("tok"), docSchema))
      fold("langid")(LangIdStream.maintain(spark, l("langid"), s"${root("langid")}/lid", o("langid"), ck("langid"), docSchema))
      fold("drift")(StreamDrift.maintain(spark, l("drift"), s"${root("lm")}/lm", o("drift"), ck("drift"), docSchema, "lang"))
    }
    Harness.drain(spark)
    val c3 = Trace.snapshot()
    val w3 = Trace.nowMs
    spark.stop()

    Json.write(out, Map(
      "start_ms" -> tStart, "context_ms" -> contextMs, "ready_ms" -> tReady,
      "build_window" -> Seq(w0, w1), "probe_window" -> Seq(w1, w2), "fold_window" -> Seq(w2, w3),
      "rounds" -> rounds, "attempted" -> attempted,
      "builds" -> builds, "probes" -> probes,
      "checks" -> checks.map { case (k, v) => k -> v.toSeq.map { case (n, s) => Map("rows" -> n, "checksum" -> s) } },
      "folds" -> folds, "errors" -> errors,
      "counters_build" -> Trace.delta(c0, c1), "counters_probe" -> Trace.delta(c1, c2),
      "counters_fold" -> Trace.delta(c2, c3)))
    Trace.dump()
  }
}
