package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Session, warm-up, timing and output checksums shared by the
  * benchmark's in-process mains. */
object Harness {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The same session `graft.Bench` and `graft.Cli` build. */
  def session(): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up over the generated tables: a scan with a partial
    * aggregate, a broadcast join with a window, and the tokenizer
    * kernels, so session-wide initialisation is not charged to the
    * first measured operation. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("s"), count(lit(1)).as("n"))
      .write.mode("overwrite").format("noop").save()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
    spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
      .join(broadcast(spark.read.parquet(s"$dir/nation.parquet")),
        col("l_suppkey") % 25 === col("n_nationkey"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .write.mode("overwrite").format("noop").save()
    spark.read.parquet(s"$dir/documents.parquet").limit(200)
      .select(graft.functions.TextFunctions.wordNgrams(
        graft.functions.TextFunctions.tokens(col("text")), 2).as("g"))
      .write.mode("overwrite").format("noop").save()
  }

  /** Drop what the last operation persisted, as `graft.Bench` does
    * between queries. */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Seconds `body` took, or the error it threw. A failed operation's
    * time is never returned. */
  def timed(spark: SparkSession, op: String)(body: => Unit): Either[String, Double] = {
    spark.sparkContext.setLocalProperty("perfbench.op", op)
    val t0 = Trace.nowMs
    val r =
      try { body; Right((Trace.nowMs - t0) / 1000.0) }
      catch { case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    Trace.record(op, t0, Trace.nowMs, "window")
    spark.sparkContext.setLocalProperty("perfbench.op", null)
    spark.sparkContext.setLocalProperty("perfbench.module", null)
    isolate(spark)
    r
  }

  /** Under tracing, marks the jobs the next action on `df` runs with
    * the module that built its plan (`Trace.planModule`): the action
    * itself runs from the benchmark's frames. Returns `df`. */
  def attribute(spark: SparkSession, df: DataFrame): DataFrame = {
    if (Trace.enabled)
      Trace.planModule(df.queryExecution.analyzed).foreach(
        spark.sparkContext.setLocalProperty("perfbench.module", _))
    df
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Order-insensitive checksum of a result: columns by name, rows
    * sorted, floating values rounded to 6 dp (the oracle convention). */
  def checksum(df: DataFrame): (Long, String) = checksum(df.columns.toIndexedSeq, df.collect())

  def checksum(columns: Seq[String], collected: Array[Row]): (Long, String) = {
    val names = columns.sorted
    val idx = names.map(columns.indexOf(_))
    val rows = collected.map(r => idx.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(names.mkString("\u0001").getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case d: java.math.BigDecimal => d.setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
      if (s.matches("-0\\.0+")) s.substring(1) else s
    }
}
