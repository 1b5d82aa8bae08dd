package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM: one SparkSession, one closed-loop
  * client, one workload.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --inputs <dir>`; `--seconds 0` runs the warm-up only.
  *
  * Reads the inputs `gen.py` generated under `--inputs`, writes every
  * table and temporary file it makes under `--work`, and leaves
  * `result.json` there for `run.py`, which adds the DuckDB oracle
  * verdicts and prints the final result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    val ctx = new Ctx(spark, opt("trace") == "1", opt("seed").toLong, work)
    ctx.phases("jvm_to_session") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val noisePre = noiseProbe(spark)
    ctx.phase("noise")
    val wl: Workload = opt("workload") match {
      case "etl_daily"        => new EtlDaily(ctx, opt("inputs"))
      case "query_warm"       => new QueryWarm(ctx, opt("inputs"))
      case w => sys.error(s"unknown workload $w")
    }
    if (opt("seconds").toDouble <= 0) {
      // a warm-up alone: loads the classes a run uses, for run.py's
      // class-data archive
      wl.warmup()
      spark.stop()
      return
    }
    val res = ctx.run(wl, opt("seconds").toDouble)
    ctx.phase("run")
    val noisePost = noiseProbe(spark)
    val json = res.json(ctx, cores, Map("noise_pre_s" -> noisePre, "noise_post_s" -> noisePost))
    val w = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try w.print(json) finally w.close()
    if (ctx.tracing) ctx.layers.dumpSpans(s"$work/spans.jsonl")
    spark.stop()
  }

  /** The session posture of the program's own bench main: local[cores],
    * shuffle partitions = cores, UTC, and its measured confs. Every
    * path Spark or the program writes to lives under `work`. */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.cluster.iterDir", s"$work/iter")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Machine-noise probe (a constant trivial job, timed three times):
    * a diagnostic that makes a contaminated run visible, not a metric. */
  def noiseProbe(spark: SparkSession): Seq[Double] =
    (1 to 3).map(_ => Layers.timed(spark.range(1000000L).count()))
}

/** What one workload does; [[Ctx.run]] drives it. */
trait Workload {
  /** Work units one unit op stands for (strategy-days, queries). */
  def unitsPerOp: Double
  /** Unreported warm-up before set-up: class loading, JIT and code
    * generation on the same code paths the loop will run. */
  def warmup(): Unit = ()
  /** One repetition of the workload's set-up on a fresh data version;
    * returns its seconds. */
  def setup(rep: Int): Double
  def setupReps: Int = 3
  /** Measured passes a run makes at least, however long they take. */
  def minPasses: Int = 2
  /** One pass of unit ops over the workload's mix. */
  def pass(n: Int): Unit
  /** Output checks after the timed loop (counted like ops). */
  def verify(): Unit = ()
}

/** Run state shared by the workloads: the session, the layer timer,
  * op latencies, failures, repetition hashes and saved outputs for the
  * oracle check. */
final class Ctx(val spark: SparkSession, val tracing: Boolean, val seed: Long, val work: String) {
  var layers = new Layers(false)
  val latencies = mutable.ArrayBuffer.empty[Double]
  private val tracedLat = mutable.ArrayBuffer.empty[Double]
  private val plainLat = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var opsBuilds = 0L
  var buildSec = 0.0
  private val firstHash = mutable.Map[String, Int]()
  /** name → (corpus dir, schema, rows) of outputs the oracle checks. */
  val saved = mutable.LinkedHashMap[String, (String, org.apache.spark.sql.types.StructType, Array[Row])]()
  val counters: Option[Counters] = if (tracing) Some(Counters.register(spark)) else None
  val heap = new HeapAfterGc
  /** Wall seconds of the run's phases, for the diagnostics. */
  val phases = mutable.LinkedHashMap[String, Double]()
  var passTimes: Seq[Double] = Nil
  val byOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var phaseT = System.nanoTime()
  def phase(name: String): Unit = {
    val t = System.nanoTime(); phases(name) = (t - phaseT) / 1e9; phaseT = t
  }

  /** One unit op: caches from the previous op are released first
    * (the runner-side contract the operators rely on), artifact builds
    * inside it are charged to it, a thrown error counts as a failure. */
  def unit(name: String)(body: => Unit): Unit = {
    attempted += 1
    // blocking, so no block removal of the last op runs inside this one
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val b0 = Builds.snapshot()
    try {
      val sec = layers.op(name)(body)
      latencies += sec
      byOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += sec
      (if (layers.on) tracedLat else plainLat) += sec
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
    }
    val (n, s) = Builds.delta(b0, Builds.snapshot())
    opsBuilds += n
    buildSec += s
  }

  /** Order-insensitive hash of an op's output; every repetition of the
    * same op on the same data must reproduce the first one. */
  def check(key: String, rows: Array[Row]): Unit = {
    val h = scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toSeq))
    firstHash.get(key) match {
      case None => firstHash(key) = h
      case Some(h0) if h0 != h =>
        failed += 1
        System.err.println(s"[perfbench] $key: output differs from its first repetition")
      case _ => ()
    }
  }

  /** A frame-returning call whose output is checked by repetition hash
    * and, the first time, saved for the DuckDB oracle. */
  def query(name: String, module: String, dir: String, key: String)(call: => DataFrame): Unit = {
    val (rows, schema) = layers.frame(module, name)(call)
    check(key, rows)
    if (!saved.contains(name) && graft.SparkEntry.oracleSql.contains(name))
      saved(name) = (dir, schema, rows)
  }

  /** Land the saved outputs as parquet under `work/out` for the oracle. */
  def writeSaved(): Unit =
    Ctx.parallel(saved.toSeq.map { case (name, (_, schema, rows)) => () =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$name")
    })

  /** A workload output check: counted as attempted, and as failed when
    * it does not hold. */
  def expect(label: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $label")
    }
  }

  def run(wl: Workload, seconds: Double): RunResult = {
    wl.warmup()
    phase("warmup")
    val setups = (0 until wl.setupReps).map(wl.setup)
    phase("setup")
    // the timed loop gets a fresh layer timer: set-up calls are not layer work
    layers = new Layers(tracing)
    latencies.clear(); tracedLat.clear(); plainLat.clear(); byOp.clear()
    opsBuilds = 0; buildSec = 0.0
    val c0 = counters.map(_.snapshot)
    heap.peakMb = 0.0
    val t0 = System.nanoTime()
    var n = 0
    val passSec = mutable.ArrayBuffer.empty[Double]
    // whole passes until the time is up, and at least the workload's
    // minimum, so every op has repetitions to check against its first
    while (n < wl.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      // traced runs alternate traced and plain passes, which prices the tracer
      layers.on = tracing && n % 2 == 0
      passSec += Layers.timed(wl.pass(n))
      n += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    phase("loop")
    val c1 = counters.map(_.snapshot)
    val heapPeak = heap.peakMb
    layers.on = false
    val spark0 = for (a <- c0; b <- c1) yield Counters.Keys.map(k => k -> (b(k) - a(k))).toMap
    val ops = latencies.toVector
    if (tracing) expect("layer self times fit in each op's wall time", layers.selfTimesWithinWall)
    wl.verify()
    phase("verify")
    writeSaved()
    phase("save")
    passTimes = passSec.toSeq
    RunResult(setups, ops, n, wall, wl.unitsPerOp, spark0.getOrElse(Map.empty),
      median(tracedLat.toSeq) - median(plainLat.toSeq), heapPeak)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

object Ctx {
  /** Independent Spark jobs side by side, four at a time: for checks
    * and saved outputs, which are outside the timed loop. */
  def parallel[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** The rows of `df` as a multiset, columns in name order and numbers
    * widened to Double, so tables that went through different sinks
    * (parquet partition values, JDBC types) compare by value. */
  def rowsOf(df: DataFrame): Map[Seq[Any], Int] =
    df.select(df.columns.sorted.toSeq.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
      .map(_.toSeq.map { case n: java.lang.Number => n.doubleValue: Any; case x => x })
      .groupBy(identity).view.mapValues(_.size).toMap
}

final case class RunResult(setups: Seq[Double], ops: Seq[Double], passes: Int, wall: Double,
    unitsPerOp: Double, spark: Map[String, Double], traceOverhead: Double, heapAfterGcMb: Double) {

  /** The tail percentile: the highest one with at least 10 samples
    * beyond it (nearest-rank), and the sample it lands on; with fewer
    * than 11 samples no percentile qualifies and the tail is the max. */
  def tail: (Double, Double) = {
    val s = ops.sorted
    if (s.length < 11) (100.0, s.last)
    else (100.0 * (s.length - 10) / s.length, s(s.length - 11))
  }

  def json(ctx: Ctx, cores: Int, diag: Map[String, Seq[Double]]): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(m: Seq[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def metric(v: Double, unit: String) = obj(Seq("value" -> num(v), "unit" -> ("\"" + unit + "\"")))
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    val (tailPct, tailV) = tail
    val opTime = ops.sum
    val e2e = Seq(
      "setup_s" -> metric(ctx.median(setups), "s"),
      "op_p50_s" -> metric(ctx.median(ops), "s"),
      "op_tail_s" -> metric(tailV, "s"),
      "units_per_s" -> metric(ops.length * unitsPerOp / opTime, "1/s"),
      "peak_rss_mb" -> metric(hwm, "MB"))
    val st = ctx.layers.stats
    val self = ctx.layers.selfTimes
    val layer = Layers.Modules.flatMap { m =>
      val s = st(m)
      Seq(s"$m.calls" -> metric(s.calls.toDouble, "count"),
        s"$m.construct_s" -> metric(s.construct, "s"),
        s"$m.plan_s" -> metric(s.plan, "s"),
        s"$m.exec_s" -> metric(s.exec, "s"),
        s"$m.self_s" -> metric(self.getOrElse(m, 0.0), "s"),
        s"$m.failed" -> metric(s.failed.toDouble, "count"))
    } ++ Seq(
      "ArtifactCache.builds" -> metric(ctx.opsBuilds.toDouble, "count"),
      "ArtifactCache.build_s" -> metric(ctx.buildSec, "s"),
      "ArtifactCache.builds_per_op" -> metric(ctx.opsBuilds.toDouble / ops.length, "count"),
      "harness.self_s" -> metric(self.getOrElse("harness", 0.0), "s"),
      "trace.overhead_s" -> metric(traceOverhead, "s"),
      "jvm.heap_after_gc_peak_mb" -> metric(heapAfterGcMb, "MB")
    ) ++ Counters.Keys.map { k =>
      val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
      s"spark.$k" -> metric(spark.getOrElse(k, 0.0), unit)
    } :+ ("spark.slot_util" -> metric(spark.getOrElse("task_run_s", 0.0) / (wall * cores), "ratio"))
    val oracle = ctx.saved.keys.toSeq.map { name =>
      name -> obj(Seq("dir" -> ("\"" + ctx.saved(name)._1 + "\""),
        "sql" -> ("\"" + graft.SparkEntry.oracleSql(name)
          .replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
          .replace("\t", "\\t").replace("\r", "") + "\"")))
    }
    obj(Seq(
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "e2e" -> obj(e2e),
      "per_layer" -> obj(layer),
      "oracle" -> obj(oracle),
      "diagnostics" -> obj(diag.toSeq.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") } ++ Seq(
        "passes" -> passes.toString, "ops" -> ops.length.toString, "wall_s" -> num(wall),
        "tail_percentile" -> num(tailPct), "tail_samples_beyond" -> (if (ops.length < 11) "0" else "10"),
        "setups_s" -> setups.map(num).mkString("[", ",", "]"),
        "phases_s" -> obj(ctx.phases.toSeq.map { case (k, v) => k -> num(v) }),
        "pass_s" -> ctx.passTimes.map(num).mkString("[", ",", "]"),
        "op_s" -> obj(ctx.byOp.toSeq.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") })))))
  }
}
