package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one client thread, one seed.
  *
  *   --workload build|mixed_ops|watch
  *   --seed N --seconds S --trace 0|1
  *   --work DIR      scratch directory (inputs, index, stream state)
  *   --result FILE   result JSON written here
  *   --code-index DIR  the prebuilt code index (`mixed_ops` copies it)
  *   --emit-inputs   generate the inputs, print their digest and exit
  *   --workload tour write the code index to --code-index, then run a
  *                   short watch pass (used once after a build; the
  *                   launcher records the JVM class-data archive from it)
  *
  * Untraced runs time the workload; traced runs (`--trace 1`) run a
  * fixed number of operations, each once untraced and once traced, and
  * write every span with its Spark counters to `<work>/spans.jsonl`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, result: String,
                        codeIndex: String, emitInputs: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var emit = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--emit-inputs" => emit = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => m(k.drop(2)) = args(i + 1); i += 2
        case k => sys.error(s"unexpected argument $k")
      }
    }
    Opts(m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("result", ""),
      m.getOrElse("code-index", ""), emit)
  }

  /** Heap in use right after a full collection, in MB: what the program
    * (and the harness) keep live, whatever the heap's size. Collections
    * repeat until the reading settles, because Spark's context cleaner
    * drops the blocks of unreachable broadcasts only after a collection
    * has found them.
    */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = collect()
    var i = 0
    var settled = false
    while (!settled && i < 8) {
      Thread.sleep(100)
      val now = collect()
      settled = math.abs(now - last) < 0.01 * last
      last = now
      i += 1
    }
    last
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    new File(o.work).mkdirs()
    if (o.emitInputs) {
      val tables = new Tables(o.seed)
      val md = MessageDigest.getInstance("SHA-256")
      tables.digestInto(md)
      val w = Workload.inputsOnly(o.workload, o.seed)
      w.digestInto(md)
      println(s"""{"digest":"${md.digest().map("%02x".format(_)).mkString}",""" +
        s""""table_rows":${tables.size},"workload_inputs":${w.size}}""")
      return
    }

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warm-up: first-job class loading and codegen set-up
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, o.trace)
    if (o.workload == "tour") {
      Workload.writeCodeIndex(spark, o.codeIndex)
      val w = Workload("watch", spark, o.seed, o.work, tracer, o.codeIndex)
      w.setup(); w.timedRun(3.0, new Result("watch"))
      spark.stop()
      return
    }
    val w = Workload(o.workload, spark, o.seed, o.work, tracer, o.codeIndex)
    val out = new Result(o.workload)
    try {
      // set-up several times; the median is the reported set-up time
      val reps = (0 until w.setupReps).map(_ => Timing.secs(w.setup()))
      out.num("setup_s", sessionS + Timing.median(reps))
      out.arr("setup_reps_s", reps)
      if (o.trace) w.traceRun(out) else w.timedRun(o.seconds, out)
      out.num("live_heap_mb", liveHeapMb())
      w.check(out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.fail(s"${o.workload} aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    out.write(o.result)
    spark.stop() // drains the listener bus before the side file is written
    if (o.trace) tracer.writeSideFile(s"${o.work}/spans.jsonl", t0)
  }
}

object Timing {
  def secs(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val p = q * (s.size - 1)
    val lo = math.floor(p).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (p - lo)
  }
}

/** Result file the launcher turns into the printed metrics. */
final class Result(workload: String) {
  private val nums = mutable.LinkedHashMap.empty[String, Double]
  private val arrs = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failedOps = 0L

  def num(k: String, v: Double): Unit = nums(k) = v
  def arr(k: String, v: Seq[Double]): Unit = arrs(k) = v
  def fail(msg: String): Unit = { failures += msg; System.err.println(s"[perfbench] FAIL $msg") }
  /** An output check: a failure marks the run incorrect and counts as
    * one failed operation.
    */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) { fail(msg); failedOps += 1 }

  def write(path: String): Unit = {
    val body = Seq(
      s""""workload":${Json.str(workload)}""",
      s""""correct":${failures.isEmpty}""",
      s""""attempted":${math.max(attempted, 1L)}""",
      s""""failed":${failedOps + (if (failures.nonEmpty && failedOps == 0) 1 else 0)}""",
      s""""failures":[${failures.map(Json.str).mkString(",")}]""",
      s""""values":{${nums.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}}""",
      s""""series":{${arrs.map { case (k, v) => s"${Json.str(k)}:[${v.map(Json.num).mkString(",")}]" }.mkString(",")}}""")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(body.mkString("{", ",", "}")) finally w.close()
  }
}
