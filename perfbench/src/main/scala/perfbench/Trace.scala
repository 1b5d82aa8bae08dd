package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Outside-in layer timing. Every call into a program module goes
  * through [[Layers.frame]] (functions returning a DataFrame) or
  * [[Layers.eager]] (functions that do their work before returning),
  * which time the call from the caller's side only:
  *
  *  - construct: the call itself (eager persists, artifact builds and
  *    driver-side work the function does before handing back a plan);
  *  - plan: forcing `queryExecution.executedPlan` of the returned frame;
  *  - exec: `collect()` on the same QueryExecution.
  *
  * With tracing off the call is made plainly (call, then collect) and
  * nothing is recorded but failures. */
final class Layers(val tracing: Boolean) {
  import Layers._

  private val t0 = System.nanoTime()
  val stats = mutable.LinkedHashMap[String, Stat]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = -1
  private var opSpan = -1
  /** Per-pass switch for measuring the tracer's own cost: while off,
    * calls run the untraced path even in a traced run. */
  var on: Boolean = tracing

  Modules.foreach(m => stats(m) = new Stat)

  private def now: Double = (System.nanoTime() - t0) / 1e9

  private def span(name: String, parent: Int)(body: => Unit): Unit = {
    val i = spans.length
    spans += Span(name, now, Double.NaN, parent, opId)
    try body finally spans(i) = spans(i).copy(end = now)
  }

  /** Run one unit op (a query, a consumer, a daily increment): its
    * layer calls become children of one root span. Returns seconds. */
  def op(name: String)(body: => Unit): Double = {
    opId += 1
    val start = System.nanoTime()
    if (on) {
      opSpan = spans.length
      try span(s"op:$name", -1)(body) finally opSpan = -1
    } else body
    (System.nanoTime() - start) / 1e9
  }

  def frame(module: String, fn: String)(call: => DataFrame): (Array[Row], StructType) = {
    val st = stats(module)
    if (on) st.calls += 1
    try {
      if (!on) { val df = call; (df.collect(), df.schema) }
      else {
        var df: DataFrame = null
        var rows: Array[Row] = null
        val parent = spans.length
        span(s"$module.$fn", opSpan) {
          st.construct += timed(span("construct", parent) { df = call })
          st.plan += timed(span("plan", parent)(df.queryExecution.executedPlan))
          st.exec += timed(span("exec", parent) { rows = df.collect() })
        }
        (rows, df.schema)
      }
    } catch { case e: Throwable => st.failed += 1; throw e }
  }

  def eager[A](module: String, fn: String)(call: => A): A = {
    val st = stats(module)
    if (on) st.calls += 1
    try {
      if (!on) call
      else {
        var a: Option[A] = None
        span(s"$module.$fn", opSpan)(st.construct += timed { a = Some(call) })
        a.get
      }
    } catch { case e: Throwable => st.failed += 1; throw e }
  }

  /** Self time per layer: each span's duration minus its children's,
    * summed by the layer that made the call (op roots count as the
    * harness's own time). */
  def selfTimes: Map[String, Double] = {
    val child = Array.fill(spans.length)(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    val layerOf = spans.indices.map { i =>
      val s = spans(i)
      if (s.parent < 0) "harness"
      else if (s.name.contains('.')) s.name.substring(0, s.name.lastIndexOf('.'))
      else {
        val p = spans(s.parent).name
        p.substring(0, p.lastIndexOf('.'))
      }
    }
    spans.indices.groupBy(layerOf).map { case (l, is) =>
      l -> is.map(i => spans(i).end - spans(i).start - child(i)).sum }
  }

  /** Each op's layer self times against its wall time: true when no op
    * accounts more layer time than it took. */
  def selfTimesWithinWall: Boolean = {
    val child = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.forall { i =>
      val s = spans(i)
      s.parent >= 0 || child(i) <= s.end - s.start + 1e-9
    }
  }

  def dumpSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"name":"${s.name}","start":${s.start}%.6f,"end":${s.end}%.6f,""" +
        s""""parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

object Layers {
  final class Stat {
    var calls = 0L
    var construct, plan, exec = 0.0
    var failed = 0L
  }
  final case class Span(name: String, start: Double, end: Double, parent: Int, op: Int)

  /** The layers the benchmark times, in report order. */
  val Modules: Seq[String] = Seq(
    "ops.Finance", "ops.TimeSeries", "ops.Risk", "ops.Drawdown", "ops.Relational",
    "ops.Events", "ops.Text", "ops.Dedup", "ops.Similarity", "ops.Multimodal",
    "io.Writers", "pipelines.Datamart", "pipelines.Curation")

  def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }
}

/** Engine counters from Spark's public listener API. Events arrive
  * asynchronously, so [[settle]] waits for the bus to go quiet before
  * a snapshot is read. */
final class Counters extends SparkListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  @volatile private var last = System.nanoTime()
  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = { last = System.nanoTime(); add("jobs", 1) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = last = System.nanoTime()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    last = System.nanoTime(); add("stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    last = System.nanoTime()
    add("tasks", 1)
    val info = e.taskInfo
    if (info.failed || info.killed) add("tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      // the scheduler-delay decomposition Spark's own UI uses
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("sched_wait_s", math.max(0L, delay) / 1e3)
    }
  }

  /** Wait until no listener event has arrived for 200 ms (at most 10 s). */
  def settle(): Unit = {
    val give = System.nanoTime() + 10000000000L
    while (System.nanoTime() - last < 200000000L && System.nanoTime() < give) Thread.sleep(50)
  }

  def snapshot: Map[String, Double] = {
    settle()
    Counters.Keys.map(k => k -> Option(c.get(k)).map(_.doubleValue).getOrElse(0.0)).toMap
  }
}

object Counters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "sched_wait_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "tasks_failed")

  def register(spark: SparkSession): Counters = {
    val l = new Counters
    spark.sparkContext.addSparkListener(l)
    l
  }
}

/** Peak heap in use right after a collection, from the JVM's GC
  * notifications: the program's live heap (plus garbage a young
  * collection does not reach), which the resident set of a fixed-size
  * heap does not show once every heap page has been touched. */
final class HeapAfterGc {
  import scala.jdk.CollectionConverters._
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile var peakMb = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: javax.management.NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6
      peakMb = math.max(peakMb, used)
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}

/** `ArtifactCache.buildLog` deltas: the log is (kind → summed build
  * seconds), so a build shows as a kind whose total grew. */
object Builds {
  def snapshot(): Map[String, Double] = graft.ArtifactCache.buildLog.toMap

  /** (builds, seconds) between two snapshots. */
  def delta(before: Map[String, Double], after: Map[String, Double]): (Int, Double) = {
    val grown = after.filter { case (k, v) => v > before.getOrElse(k, 0.0) }
    (grown.size, grown.map { case (k, v) => v - before.getOrElse(k, 0.0) }.sum)
  }
}
