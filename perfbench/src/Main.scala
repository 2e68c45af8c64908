package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured operation (or a sub-operation such as a read). `req` is
  * the trace request id when the operation ran traced, else 0.
  */
final case class Sample(kind: String, ms: Double, ok: Boolean, work: Double = 0.0,
    req: Long = 0L, extras: Map[String, Double] = Map.empty)

/** Run-wide settings shared by the workloads. */
final class Ctx(val seed: Long, val work: File, val cores: Int, val injectFault: Boolean,
    val scale: Double = 1.0) {
  /** An input size scaled for class-loading runs (`scale` < 1). */
  def sized(n: Int): Int = math.max(1, (n * scale).round.toInt)
  val inDir: String = new File(work, "inputs").getPath
  private val reqIds = new AtomicLong
  def nextRequest(): Long = reqIds.incrementAndGet()
  private val faults = new AtomicInteger(if (injectFault) 1 else 0)
  /** True exactly once when a fault is injected: the caller corrupts
    * the output it is about to check.
    */
  def takeFault(): Boolean = measuring && faults.getAndUpdate(n => math.max(0, n - 1)) > 0
  /** Set while the timed window runs (set-up operations are not measured). */
  @volatile var measuring = false
  @volatile var tracer: Option[Tracer] = None
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** A workload: generated inputs, a set-up, and a closed-loop operation. */
abstract class Workload(val ctx: Ctx) {
  def clients: Int = 1
  /** Write the generated inputs under `ctx.inDir`. */
  def generate(spark: SparkSession): Unit
  /** Load the inputs into `spark` and run the untimed warm-up. */
  def setup(spark: SparkSession): Unit
  /** One closed-loop operation of `client`; `traced` runs it with the
    * layer boundaries materialized and spanned.
    */
  def op(client: Int, index: Long, traced: Boolean): Seq[Sample]
  /** Operations per client per second of `--seconds`. */
  def opsPerSecond: Double
  /** A run times a fixed number of operations, round(seconds × rate), so
    * both sides of a comparison time the same operations at the same
    * point of the JVM's warm-up, however fast each side runs.
    */
  def opsPerClient(seconds: Double): Long =
    if (seconds <= 0) 0L else math.max(1L, math.round(seconds * opsPerSecond))
  def tracedOp(client: Int, index: Long): Boolean = index % 2 == 1
  /** Work items per second for the end-to-end report. */
  def workPerSec(ops: Seq[Sample], wallS: Double): Double
  /** Per-layer figures of one traced sample, named as in BENCHMARK.json. */
  def layers(s: Sample, fig: Map[String, Double]): Map[String, Double]
  /** Human-readable workload-specific figures for the log. */
  def report(samples: Seq[Sample], wallS: Double): Seq[String] = Nil
  def close(): Unit = ()
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "mem_peak_mb" -> "MB", "op_p50_ms" -> "ms", "work_per_s" -> "1/s")

  /** Every per-layer metric with its unit; layers a workload does not
    * exercise report 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.rows" -> "count", "sources.bytes" -> "bytes",
    "graphops.edges_s" -> "s", "graphops.merge_in_rows" -> "count", "graphops.merge_out_rows" -> "count",
    "graphops.merge_ratio" -> "ratio", "graphops.trove_s" -> "s",
    "graphops.khop_s" -> "s", "graphops.khop_jobs" -> "count", "graphops.khop_tasks" -> "count",
    "graphops.khop_cuts" -> "count", "graphops.khop_rows" -> "count",
    "graphops.state_merge_s" -> "s", "graphops.state_rows" -> "count",
    "textops.quality_s" -> "s", "textops.kept_ratio" -> "ratio",
    "dedup.exact_s" -> "s", "dedup.simhash_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.pair_yield" -> "ratio", "dedup.cc_s" -> "s",
    "dedup.cc_rounds" -> "count", "dedup.planted_recall" -> "ratio",
    "functions.hash_s" -> "s", "functions.hashed_rows" -> "count",
    "pipelines.plan_ms" -> "ms",
    "streaming.batch_s" -> "s", "streaming.start_ms" -> "ms", "streaming.state_bytes_written" -> "bytes",
    "streaming.state_write_amp" -> "ratio",
    "sinks.rdf_write_s" -> "s", "sinks.rdf_bytes" -> "bytes",
    "sinks.upsert_s" -> "s", "sinks.upserts" -> "count", "sinks.upserts_per_s" -> "1/s",
    "sinks.shards_write_s" -> "s", "sinks.shards_bytes" -> "bytes",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count", "exec.run_s" -> "s",
    "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.sched_delay_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.busy_ratio" -> "ratio",
    "trace.overhead_ratio" -> "ratio", "trace.traced_op_ms" -> "ms", "trace.untraced_op_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    if (opt.contains("self-test")) { SelfTest.main(opt); return }
    if (opt.contains("train")) { train(opt); return }
    val code = try run(opt) catch {
      case e: Throwable =>
        System.err.println("[perfbench] run failed:")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  /** Load the classes every workload uses, at tiny input sizes, so the
    * JVM can archive them for faster start-up (class data sharing).
    */
  def train(opt: Map[String, String]): Unit = {
    val work = new File(opt.getOrElse("work", sys.error("--work is required")))
    Workloads.Names.foreach { name =>
      val ctx = new Ctx(1, new File(work, name), Runtime.getRuntime.availableProcessors, false, scale = 0.05)
      val w = Workloads.create(name, ctx)
      try execute(w, 0.0, traced = false) finally w.close()
      SparkSession.getActiveSession.foreach(_.stop())
    }
    System.exit(0)
  }

  def parse(args: Array[String]): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { out(k) = args(i + 1); i += 2 }
      else { out(k) = "true"; i += 1 }
    }
    out.toMap
  }

  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", new File(ctx.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(ctx.work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Post-GC heap occupancy in MB (local mode: the whole engine). The
    * collections repeat after pauses so that Spark's context cleaner can
    * drop the broadcasts and shuffles the first one made unreachable.
    */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  final case class Outcome(samples: Seq[Sample], wallS: Double, setupS: Double, memMb: Double,
      tracer: Option[Tracer])

  /** Set up (timed from JVM start), then run the closed loop: the
    * operations `seconds` stands for, twice as many when traced (half
    * of them traced).
    */
  def execute(w: Workload, seconds: Double, traced: Boolean): Outcome = {
    val ctx = w.ctx
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val ta = System.currentTimeMillis()
    val spark = session(ctx)
    val tb = System.currentTimeMillis()
    w.generate(spark)
    val tc = System.currentTimeMillis()
    w.setup(spark)
    val ready = System.currentTimeMillis()
    ctx.log(s"setup: jvm ${ta - jvmStart} session ${tb - ta} generate ${tc - tb} load+warm-up ${ready - tc} ms")
    var mem = liveHeapMb()
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    ctx.tracer = tracer
    ctx.measuring = true
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]
    val n = w.opsPerClient(seconds) * (if (traced) 2 else 1)
    val t0 = System.nanoTime()
    val threads = (0 until w.clients).map { c =>
      val th = new Thread(() => {
        var i = 0L
        while (i < n) {
          val tr = traced && w.tracedOp(c, i)
          val got =
            try w.op(c, i, tr)
            catch {
              case e: Throwable =>
                ctx.log(s"client $c op $i threw: $e")
                Seq(Sample("op", 0.0, ok = false))
            }
          got.foreach(samples.add)
          i += 1
        }
      }, s"perfbench-client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    ctx.measuring = false
    // A planned operation that left no sample (its client thread died)
    // counts as failed.
    val unrun = n * w.clients - samples.asScala.count(_.kind == "op")
    if (unrun > 0) ctx.log(s"$unrun planned operations did not run")
    (0L until unrun).foreach(_ => samples.add(Sample("op", 0.0, ok = false)))
    // Sampled before anything is released: what the operations cached or
    // leaked during the loop still counts.
    mem = math.max(mem, liveHeapMb())
    tracer.foreach(_.drain())
    Outcome(samples.asScala.toSeq, wallS, (ready - jvmStart) / 1000.0, mem, tracer)
  }

  def run(opt: Map[String, String]): Int = {
    val name = opt.getOrElse("workload", sys.error("--workload is required"))
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt.getOrElse("work", sys.error("--work is required")))
    val ctx = new Ctx(seed, work, Runtime.getRuntime.availableProcessors, injectFault = false)
    val w = Workloads.create(name, ctx)
    val out = try execute(w, seconds, traced) finally w.close()
    val ops = out.samples.filter(_.kind == "op")
    val attempted = out.samples.size
    val failed = out.samples.count(!_.ok)
    val okOps = ops.filter(_.ok).map(_.ms)
    val lat = if (okOps.nonEmpty) okOps else Seq(0.0)
    val tailNote = Stats.tailPercentile(lat.size) match {
      case Some(p) => f"tail ${Stats.label(p)}=${Stats.percentile(lat, p)}%.1fms of ${lat.size}"
      case None    => s"no tail: ${lat.size} ops, no percentile has ten beyond it"
    }
    ctx.log(f"$name seed=$seed ops=${ops.size} samples=$attempted failed=$failed wall=${out.wallS}%.2fs " +
      f"setup=${out.setupS}%.2fs $tailNote")
    ctx.log("op ms: " + ops.take(40).map(s => f"${s.ms}%.0f").mkString(" "))
    w.report(out.samples, out.wallS).foreach(ctx.log)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val vals = Map(
          "setup_s" -> out.setupS,
          "mem_peak_mb" -> out.memMb,
          "op_p50_ms" -> Stats.median(lat),
          "work_per_s" -> w.workPerSec(ops.filter(_.ok), out.wallS))
        EndToEnd.map { case (k, u) => (k, vals(k), u) }
      } else {
        val tr = out.tracer.get
        val tracedS = out.samples.filter(_.req != 0L)
        val perSample = tracedS.map(s => (s, w.layers(s, tr.requestFigures(s.req, ctx.cores))))
        val keys = perSample.flatMap(_._2.keys).distinct
        val med = keys.map { k =>
          val xs = perSample.collect { case (s, m) if m.contains(k) && (!k.startsWith("exec.") || s.kind == "op") => m(k) }
          k -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
        }.toMap
        val tOps = ops.filter(s => s.ok && s.req != 0L).map(_.ms)
        val uOps = ops.filter(s => s.ok && s.req == 0L).map(_.ms)
        val over =
          if (tOps.isEmpty || uOps.isEmpty) Map.empty[String, Double]
          else Map("trace.traced_op_ms" -> Stats.median(tOps), "trace.untraced_op_ms" -> Stats.median(uOps),
            "trace.overhead_ratio" -> Stats.median(tOps) / Stats.median(uOps))
        tr.writeJsonl(new File(opt.getOrElse("trace-out", new File(work, "spans.jsonl").getPath)))
        val all = med ++ over
        PerLayer.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
