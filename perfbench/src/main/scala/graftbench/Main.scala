package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, ProcStat}

/** One run of one benchmark workload in a fresh JVM.
  *
  * Usage: `graftbench.Main --workload <name> --data <dir> --out <dir>
  * --seconds <s> --trace <0|1> --cores <n>`. The run builds the session
  * with `GraftSession.builder` on `local[cores]`, sets up the workload,
  * makes one untimed warm-up round (whose outputs are written to
  * `<out>/check` for the oracle), then runs whole timed rounds until
  * `seconds` have passed, and writes `<out>/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(
      workload = kv("workload"), data = kv("data"), out = Paths.get(kv("out")),
      seconds = kv("seconds").toDouble, trace = kv("trace") == "1", cores = kv("cores").toInt)
    ctx.run(ctx.workload match {
      case "ingest_stream" => new IngestStream(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })
  }
}

/** A workload: set-up, then rounds of a fixed set of operations. */
trait Workload {
  /** Catalog, layout or other state built once, inside set-up time. */
  def setup(): Unit
  /** One round of the workload's operations. The warm-up round
    * (`warm = true`) writes every output it checks to `check/`. */
  def round(warm: Boolean): Unit
  /** Timed rounds made even when one round outlasts `--seconds`. */
  def minRounds: Int
  /** The operations that carry the workload's event-ingest path, and
    * how many events each of them ingests. */
  def ingestOps: Seq[String]
  def eventsPerIngestOp: Double
}

final class Ctx(val workload: String, val data: String, val out: Path,
    val seconds: Double, val trace: Boolean, val cores: Int) {
  val tr = new Trace(trace)
  val listener = new OpListener
  private val threads = ManagementFactory.getThreadMXBean
  private val originNs = System.nanoTime()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var seq = 0

  Files.createDirectories(out.resolve("check"))
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("local").toString)
      // every trickle batch's progress stays readable after the drain
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // --- per-operation samples of the timed rounds --------------------------
  /** Wall-clock and CPU samples (ms) per operation, timed rounds only.
    * An operation's CPU is what its own threads spent: the calling
    * thread's CPU time plus the executor CPU time of every task it
    * started. JIT compilation, GC and other background threads are left
    * out, and so is CPU the host's other tenants take (steal). */
  val wallMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val cpuMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var timed = false
  var attempted = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  private var heapPeakB = 0L

  private def sample(name: String, id: String, eagerBuild: Boolean, wallNs: Long,
      threadNs: Long): Unit = {
    val taskCpuMs = account(id, eagerBuild)
    if (timed) {
      wallMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wallNs / 1e6
      cpuMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += threadNs / 1e6 + taskCpuMs
      attempted += 1
    }
  }

  /** Per-layer accumulators of the current round (traced runs). */
  val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val layerRounds = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** Per-layer figures of the set-up phase (measured once per run). */
  val setupLayer = mutable.Map.empty[String, Double]
  val translateMs = mutable.ArrayBuffer.empty[Double]

  private def setOp(v: String): Unit = spark.sparkContext.setLocalProperty(OpListener.Prop, v)

  /** Between operations, outside every timed window: reclaim the heap
    * and record what stays live (the post-GC high-water mark). */
  def settle(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (timed) heapPeakB = math.max(heapPeakB, used)
  }

  /** Runs one operation: the entry-point call that returns a DataFrame
    * (timed into the per-layer metric `buildMetric`), Catalyst planning
    * (forced separately only when tracing) and the action. Returns the
    * action's result; the samples cover the call and the action (and
    * planning, which the action does itself when not traced). */
  def op[T](name: String, buildMetric: String)(build: => DataFrame)(action: DataFrame => T): T = {
    settle()
    seq += 1
    val id = s"$name@$seq"
    tr.span(name) {
      setOp(s"$id#build")
      val (c0, t0) = (threadCpuNs, System.nanoTime())
      val df = tr.span(buildMetric.takeWhile(_ != '_'))(build)
      val (c1, t1) = (threadCpuNs, System.nanoTime())
      if (trace) {
        setOp(s"$id#plan")
        tr.span("plans.plan")(df.queryExecution.executedPlan)
      }
      val (c2, t2) = (threadCpuNs, System.nanoTime())
      setOp(s"$id#action")
      val r = tr.span("exec.action")(action(df))
      val (c3, t3) = (threadCpuNs, System.nanoTime())
      setOp(null)
      if (trace) {
        layer(buildMetric) += (t1 - t0) / 1e9
        layer("plans.plan_ms") += (t2 - t1) / 1e6
        layer("exec.action_s") += (t3 - t2) / 1e9
      }
      sample(name, id, buildMetric == "operators.build_s", t3 - t2 + t1 - t0, c3 - c2 + c1 - c0)
      r
    }
  }

  /** Runs one operation whose Spark jobs (including those of the stream
    * threads it starts) are attributed to `name`. */
  def attributed(name: String)(body: => Unit): Unit = {
    settle()
    seq += 1
    val id = s"$name@$seq"
    setOp(s"$id#action")
    val (c0, t0) = (threadCpuNs, System.nanoTime())
    try tr.span(name)(body) finally setOp(null)
    val (c1, t1) = (threadCpuNs, System.nanoTime())
    if (trace) layer("exec.action_s") += (t1 - t0) / 1e9
    sample(name, id, eagerBuild = false, t1 - t0, c1 - c0)
  }

  /** Collects the tasks of operation `id` once all have reported; returns
    * their executor CPU time (ms) and, when tracing, adds them to the
    * round's per-layer figures. */
  private def account(id: String, eagerBuild: Boolean): Double = {
    val l = listener
    val mine = (o: String) => o.startsWith(id + "#")
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    if (!l.quiesce(mine)) System.err.println(s"[bench] $id: listener did not settle")
    val build = l.take(o => o == s"$id#build")
    val rest = l.take(mine)
    val all = new OpListener.Acc
    all += build
    all += rest
    if (trace) tally(all, rest, if (eagerBuild) build.jobs else 0L)
    all.cpuNs / 1e6
  }

  private def tally(all: OpListener.Acc, action: OpListener.Acc, buildJobs: Long): Unit = {
    layer("operators.build_jobs") += buildJobs
    layer("exec.task_run_s") += action.runMs / 1e3
    layer("exec.jobs") += all.jobs
    layer("exec.stages") += all.stages
    layer("exec.tasks") += all.tasks
    layer("exec.input_rows") += all.inputRows
    layer("exec.task_cpu_s") += all.cpuNs / 1e9
    layer("exec.shuffle_mb") += all.shuffleWriteB / 1e6
    layer("exec.spill_mb") += all.spillB / 1e6
    layer("exec.gc_s") += all.gcMs / 1e3
    layer("exec.peak_exec_mb") = math.max(layer("exec.peak_exec_mb"), all.peakExecB / 1e6)
  }

  /** Writes an output (canonical JSON rows) for the checks. */
  def writeCheck(name: String, json: String): Unit =
    Files.write(out.resolve("check").resolve(name + ".json"), json.getBytes("UTF-8"))

  /** The checked outputs: each native key with its DuckDB oracle from
    * `SparkEntry.oracleSql`, each dialect statement with none (the
    * checks hold their own). */
  def writeOracle(keys: Seq[String], dialect: Seq[String]): Unit =
    Files.write(out.resolve("oracle.json"), Json.render(
      keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap ++ dialect.map(_ -> null)
    ).getBytes("UTF-8"))

  /** A timed output must equal the warm-up output the oracle checks. */
  def expectSame(name: String, warm: String, now: String): Unit =
    if (warm != now) mismatches += name

  def scratch(name: String): String = {
    val p = out.resolve("scratch").resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** CPU time of every thread of this process. */
  private def cpuNs: Long = os.getProcessCpuTime
  private def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  def run(make: => Workload): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val buildS = tr.span("GraftSession.build") {
      val t = System.nanoTime(); spark; (System.nanoTime() - t) / 1e9
    }
    spark.sparkContext.addSparkListener(listener)
    val wl = make
    tr.span("setup")(wl.setup())
    tr.span("warmup")(wl.round(warm = true))
    settle()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    layer.clear()
    translateMs.clear()

    timed = true
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val (jit0, gc0) = (jit.getTotalCompilationTime, gcs.map(_.getCollectionTime).sum)
    val host0 = ProcStat.read()
    val t0 = System.nanoTime()
    val roundCpu = mutable.ArrayBuffer.empty[Double]
    var rounds = 0
    // classes Spark's code generator compiled (Janino), per round
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    while (rounds < wl.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (c0, cg0) = (cpuNs, codegen.getCount)
      tr.span("round")(wl.round(warm = false))
      roundCpu += (cpuNs - c0) / 1e9
      rounds += 1
      if (trace) {
        layer("plans.codegen_classes") = (codegen.getCount - cg0).toDouble
        layerRounds += layer.toMap
        layer.clear()
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val host = ProcStat.read() - host0
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    timed = false

    def medians(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]) =
      m.map { case (k, v) => k -> Stats.median(v.toSeq) }
    def geomean(xs: Iterable[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    def ingestRate(med: collection.Map[String, Double]) =
      wl.eventsPerIngestOp * wl.ingestOps.size / (wl.ingestOps.map(med).sum / 1e3)
    val (cpuMed, wallMed) = (medians(cpuMs), medians(wallMs))
    val e2e = Map(
      "setup_s" -> setupS,
      "cpu_s" -> Stats.median(roundCpu.toSeq),
      "query_cpu_ms" -> geomean(cpuMed.values),
      "ingest_events_per_cpu_s" -> ingestRate(cpuMed),
      "peak_heap_mb" -> heapPeakB / 1e6)
    // wall-clock figures, recorded next to the host's steal
    val wall = Map(
      "query_geomean_ms" -> geomean(wallMed.values),
      "pass_s" -> wallMed.values.sum / 1e3,
      "ingest_eps" -> ingestRate(wallMed))
    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = layerRounds.flatMap(_.keys).distinct
        val med = keys.map(k => k -> Stats.median(layerRounds.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val util = med.getOrElse("exec.task_run_s", 0.0) /
          (math.max(med.getOrElse("exec.action_s", 0.0), 1e-9) * cores)
        med ++ setupLayer ++ Map(
          "GraftSession.build_s" -> buildS,
          "exec.core_util" -> util,
          "sources.translate_ms" -> (if (translateMs.isEmpty) 0.0 else Stats.median(translateMs.toSeq)))
      }
    val result = Map(
      "workload" -> workload, "rounds" -> rounds, "timed_wall_s" -> wallS,
      "attempted" -> attempted, "mismatches" -> mismatches.toSeq,
      "end_to_end" -> e2e, "per_layer" -> perLayer, "wall" -> wall,
      "wall_ms" -> wallMs.map { case (k, v) => k -> v.toSeq },
      "cpu_ms" -> cpuMs.map { case (k, v) => k -> v.toSeq },
      "jvm" -> Map("jit_compile_s" -> jitS, "gc_s" -> gcS),
      "host" -> Map("busy_s" -> host.busyS, "steal_s" -> host.stealS,
        "idle_s" -> host.idleS, "iowait_s" -> host.iowaitS),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6, "cores" -> cores)
    if (trace) tr.write(out.resolve("spans.jsonl"), originNs)
    Files.write(out.resolve("result.json"), Json.render(result).getBytes("UTF-8"))
    System.err.println(f"[bench] host over the timed window: busy=${host.busyS}%.1fs " +
      f"steal=${host.stealS}%.1fs idle=${host.idleS}%.1fs iowait=${host.iowaitS}%.1fs")
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}

object Stats {
  /** Linear-interpolated quantile of like samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
