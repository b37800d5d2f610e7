package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-span Spark counters. Every field is a plain count or byte/ns
  * total, so two runs over the same input can be compared exactly.
  */
final class Counters {
  val jobs = new AtomicLong
  val matJobs = new AtomicLong // jobs started from graft.operators.Materialize
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong // shuffle write + read
  val spillBytes = new AtomicLong   // memory + disk spill
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
}

final case class Span(id: Int, name: String, layer: String, parent: Int,
                      request: Int, startNs: Long, var endNs: Long = 0L,
                      var constructNs: Long = 0L)

/** Span tracer. A span sets its own Spark job group on the calling
  * thread, and a listener on the bus attributes every job, stage and
  * task to the group that started it, so counters land on the layer
  * that caused them. With `enabled = false` nothing is registered and
  * `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prefix = "perfbench-span-"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val engine = new Counters
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  /** (batch id, durationMs map) from streaming progress events. */
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt).getOrElse(-1)

  private def c(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // jobs outside any span (untraced operations) are not counted
      val s = spanOf(e.properties)
      if (s >= 0) {
        e.stageIds.foreach(id => stageSpan.put(id, s))
        val mat = e.stageInfos.exists(_.name.contains("Materialize.scala"))
        Seq(c(s), engine).foreach { k =>
          k.jobs.incrementAndGet()
          if (mat) k.matJobs.incrementAndGet()
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
      if (s >= 0) Seq(c(s), engine).foreach(_.stages.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (s >= 0) Seq(c(s), engine).foreach { k =>
        k.tasks.incrementAndGet()
        if (m != null) {
          k.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
          k.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          k.cpuNs.addAndGet(m.executorCpuTime)
          k.gcMs.addAndGet(m.jvmGCTime)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.batchId ->
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  private var request = 0
  def setRequest(r: Int): Unit = request = r
  /** Spans are recorded only while active (traced runs switch it off
    * for the untraced half of each operation pair).
    */
  @volatile var active = true

  private val GroupProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Run `body` as one span. `body` receives a callback it calls once
    * its result frame is built and the sink action is about to start,
    * which splits construction time (including the eager lineage-cut
    * jobs) from the sink.
    */
  def span[T](name: String, layer: String)(body: (() => Unit) => T): T = {
    if (!enabled || !active) return body(() => ())
    val saved = GroupProps.map(sc.getLocalProperty)
    val parent = stack.get.headOption.getOrElse(-1)
    val sp = spans.synchronized {
      val s = Span(spans.size, name, layer, parent, request, System.nanoTime())
      spans += s; s
    }
    stack.set(sp.id :: stack.get)
    sc.setJobGroup(Prefix + sp.id, name, interruptOnCancel = false)
    try body(() => if (sp.constructNs == 0L) sp.constructNs = System.nanoTime() - sp.startNs)
    finally {
      sp.endNs = System.nanoTime()
      stack.set(stack.get.tail)
      GroupProps.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Write one JSON object per span, then one engine-wide line. Call
    * after the SparkContext has stopped, so the listener bus has
    * delivered every event.
    */
  def writeSideFile(path: String, t0Ns: Long): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    def cnt(k: Counters): String =
      s""""jobs":${k.jobs.get},"mat_jobs":${k.matJobs.get},"stages":${k.stages.get},""" +
        s""""tasks":${k.tasks.get},"shuffle_bytes":${k.shuffleBytes.get},""" +
        s""""spill_bytes":${k.spillBytes.get},"cpu_ns":${k.cpuNs.get},"gc_ms":${k.gcMs.get}"""
    try {
      spans.foreach { s =>
        val k = Option(counters.get(s.id)).getOrElse(new Counters)
        w.println(s"""{"kind":"span","id":${s.id},"name":${Json.str(s.name)},""" +
          s""""layer":${Json.str(s.layer)},"parent":${s.parent},"request":${s.request},""" +
          s""""start_s":${(s.startNs - t0Ns) / 1e9},"end_s":${(s.endNs - t0Ns) / 1e9},""" +
          s""""construct_s":${s.constructNs / 1e9},${cnt(k)}}""")
      }
      progress.asScala.foreach { case (b, d) =>
        w.println(s"""{"kind":"progress","batch":$b,""" +
          d.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",") + "}")
      }
      w.println(s"""{"kind":"engine",${cnt(engine)}}""")
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
