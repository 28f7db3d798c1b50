package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchInternals
import org.apache.spark.sql.SparkSession

import graft.template.Json

/** Benchmark recorder: runs one workload's operators through their public
  * entry point (`SparkEntry.defs(name).production`) in one JVM, as a closed
  * loop with one client, and writes what it saw as JSON. Statistics, the
  * oracle check and the metric line are computed by `perfbench/run.py`.
  *
  * Sequence:
  *  1. session: the shipped GraftSession profile with Bench's local sizing;
  *  2. verify pass: every op once, its output written as parquet for the
  *     oracle check (the cold pass: class loading, JIT, code generation);
  *  3. warm pass: every op once through the timed path, untimed;
  *  4. timed passes over the ops in order, each op's result materialized
  *     through the `noop` sink and the cache cleared after each op, outside
  *     its timed window. A run makes whole rounds, one round at least and
  *     more only while fewer than `--seconds` have elapsed. An untraced
  *     round (`--trace 0`) is [[Passes]] passes; a traced round
  *     (`--trace 1`) is four passes, untraced / traced / traced /
  *     untraced, so a linear warm-up trend cancels out of the
  *     tracing-overhead comparison. Recorders ([[Tracer]]) are attached
  *     only for the traced passes.
  *
  * Setup time ends where step 4 begins.
  *
  * Usage: Harness --data DIR --out DIR --ops a,b,c --seconds S --trace 0|1
  *                --cores N
  */
object Harness {

  /** Timed passes of one untraced round. */
  val Passes = 2
  /** Passes of one traced round: untraced, traced, traced, untraced. */
  val TracedRound = Seq(false, true, true, false)

  final case class Sample(op: String, pass: Int, traced: Boolean,
      start: Double, buildEnd: Double, end: Double,
      error: Option[String], residentBytes: Long)

  /** Epoch milliseconds with microsecond resolution. */
  def nowMs(): Double = {
    val i = Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val out = opt("out")
    val ops = opt("ops").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val unknown = ops.filterNot(graft.SparkEntry.defs.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    val spark = session(cores, out)
    val sessionReady = nowMs()
    val verified = verifyPass(spark, ops, data, s"$out/verify")
    ops.foreach(op => runTimed(spark, op, data, -1, traced = false)) // warm pass

    val samples = ArrayBuffer.empty[Sample]
    val firstTimed = nowMs()
    def elapsed: Double = (nowMs() - firstTimed) / 1000.0
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val round = if (trace) TracedRound else Seq.fill(Passes)(false)
    var pass = 0
    while (pass == 0 || pass % round.size != 0 || elapsed < seconds) {
      val traced = round(pass % round.size)
      if (traced) tracer.foreach(_.start())
      ops.foreach(op => samples += runTimed(spark, op, data, pass, traced))
      if (traced) tracer.foreach(_.stop())
      pass += 1
    }
    val peakRssKb = vmHwmKb()

    val result = Map(
      "session_ready_ms" -> sessionReady,
      "first_timed_ms" -> firstTimed,
      "cores" -> cores,
      "peak_rss_kb" -> peakRssKb,
      "verify_errors" -> verified.collect { case (op, _, Some(e)) => op -> e }.toMap,
      "verify_s" -> ListMap.from(verified.map { case (op, s, _) => op -> s }),
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) },
      "samples" -> samples.map { s =>
        Map("op" -> s.op, "pass" -> s.pass, "traced" -> s.traced, "start" -> s.start,
          "build_end" -> s.buildEnd, "end" -> s.end, "error" -> s.error.orNull,
          "resident_bytes" -> s.residentBytes)
      },
      "trace" -> tracer.map(_.result).orNull)
    Files.writeString(Paths.get(s"$out/harness.json"), Json.write(result))
    spark.stop()
  }

  def session(cores: Int, out: String): SparkSession = {
    val localSizing = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")
    val b = graft.core.GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    val spark = localSizing.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    graft.core.GraftSession.confs.foreach { case (k, v) =>
      val want = localSizing.getOrElse(k, v)
      require(spark.conf.get(k) == want,
        s"session drifted from the production profile: $k = ${spark.conf.get(k)}, want $want")
    }
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs every op once, writing its output for the oracle check. Returns
    * (op, seconds, error if it threw) per op. */
  def verifyPass(spark: SparkSession, ops: Seq[String], data: String,
      dir: String): Seq[(String, Double, Option[String])] =
    ops.map { op =>
      val start = nowMs()
      val error =
        try {
          graft.SparkEntry.defs(op).production(spark, data)
            .write.mode("overwrite").parquet(s"$dir/$op")
          None
        } catch { case NonFatal(e) => Some(describe(e)) }
        finally spark.catalog.clearCache()
      (op, (nowMs() - start) / 1000.0, error)
    }

  def runTimed(spark: SparkSession, op: String, data: String, pass: Int,
      traced: Boolean): Sample = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$pass:$op", op, interruptOnCancel = false)
    val start = nowMs()
    var buildEnd = start
    val error =
      try {
        val df = graft.SparkEntry.defs(op).production(spark, data)
        buildEnd = nowMs()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(describe(e)) }
    val end = nowMs()
    if (buildEnd == start) buildEnd = end // the build itself threw
    sc.clearJobGroup()
    spark.catalog.clearCache()
    val resident = if (traced) PerfbenchInternals.residentRddBytes() else 0L
    Sample(op, pass, traced, start, buildEnd, end, error, resident)
  }

  def describe(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }
}
