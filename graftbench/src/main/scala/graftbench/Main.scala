package graftbench

import org.apache.spark.sql.SparkSession

/** One workload. Set-up is `prepare` (catalog registration, derived
  * artifacts; it runs [[Main.Setups]] times per process and the last one
  * stays in place) and then one `warmUp`; `run` is the measured work. Its
  * amount is fixed by `seconds` and the input alone, never by how fast the
  * ops run, so a faster program does the same work in less time. */
trait Workload {
  def prepare(round: Int): Unit
  def warmUp(): Unit
  def run(seconds: Double, trace: Trace): Outcome
}

/** What a measured loop did.
  *
  * @param latencyKinds op kinds that feed `latency_p50_ms`/`latency_p90_ms`
  * @param appendMs     times of the store writes, for `store.append_ms`
  * @param opsPerS      completed work per second, as the workload defines it
  * @param layers       the workload's own per-layer metrics
  * @param report       checks and sizes, copied into the result file */
final case class Outcome(ops: Seq[OpRecord], latencyKinds: Set[String],
                         appendMs: Seq[Double], opsPerS: Double,
                         attempted: Long, failed: Long,
                         layers: Map[String, Double], report: Map[String, Any])

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
    }

  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Main {
  /** Rounds of the repeatable set-up; `setup_s` takes their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val inputs = a("inputs")
    val work = a("work")

    val spark = graft.Tables.session("graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = workloadName match {
      case "sql_interactive" => new SqlInteractive(spark, inputs, work)
      case "corpus_batch" => new CorpusBatch(spark, inputs, work)
    }
    val prepareS = (1 to Setups).map(r => Trace.ms(wl.prepare(r)) / 1e3)
    val warmS = Trace.ms(wl.warmUp()) / 1e3
    val trace = new Trace(spark, traced)
    val out = wl.run(seconds, trace)
    val (blocks, blockMb) = trace.retained()
    val retainedMb = heapAfterGcMb() + blockMb
    val cores = spark.sparkContext.defaultParallelism

    val lat = out.ops.filter(o => out.latencyKinds(o.kind)).map(_.wallMs)
    val e2e = Map(
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p75_ms" -> Stats.pct(lat, 75),
      "ops_per_s" -> out.opsPerS,
      "retained_mb" -> retainedMb)
    val layers =
      if (!traced) Map.empty[String, Double]
      else common(out, cores) ++ out.layers ++ Map(
        "reuse.blocks_retained" -> blocks.toDouble, "reuse.retained_mb" -> blockMb)
    if (traced) trace.write(a("spans"))
    Json.writeFile(a("out"), Map(
      "workload" -> workloadName, "session_s" -> sessionS,
      "prepare_s" -> prepareS, "warm_s" -> warmS,
      "cores" -> cores, "attempted" -> out.attempted, "failed" -> out.failed,
      "ops" -> out.ops.length, "latency_samples" -> lat.length,
      "append_samples" -> out.appendMs.length, "e2e" -> e2e, "layers" -> layers,
      "report" -> out.report))
    spark.stop()
  }

  /** Heap still live at the end. Spark's ContextCleaner frees the blocks
    * of unreferenced broadcasts and shuffles only after a GC has found
    * them, on its own thread, so collect a few times with pauses between
    * and keep the smallest reading. */
  private def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1e6
  }

  /** Per-layer metrics every workload has, from its traced ops. */
  private def common(out: Outcome, cores: Int): Map[String, Double] = {
    val ops = out.ops.filter(_.traced)
    def f(o: OpRecord, k: String) = o.layer.getOrElse(k, 0.0)
    def med(k: String) = Stats.median(ops.map(f(_, k)))
    def perOp(k: String, scale: Double) = Stats.mean(ops.map(f(_, k))) * scale
    // Engine.query runs the dialect rewrite itself, so its span already
    // holds it; rewrite_ms is the same call timed on its own, outside the op
    val analyze =
      if (ops.exists(_.layer.contains("span.engine.query"))) "span.engine.query"
      else "analysis_ms"
    val build = ops.map(o => f(o, analyze) + f(o, "optimize_ms") + f(o, "plan_ms")).sum
    val wall = ops.map(_.wallMs).sum
    val writes = ops.map(f(_, "write_b")).filter(_ > 0)
    Map(
      "engine.rewrite_ms" -> med("rewrite_ms"),
      "engine.analyze_ms" -> med(analyze),
      "engine.optimize_ms" -> med("optimize_ms"),
      "engine.plan_ms" -> med("plan_ms"),
      "engine.build_share" -> (if (wall > 0) build / wall else 0.0),
      "exec.codegen_ms" -> perOp("codegen_us", 1e-3),
      "exec.jobs_per_op" -> perOp("jobs", 1),
      "exec.tasks_per_op" -> perOp("tasks", 1),
      "exec.driver_gap_ms" -> Stats.median(ops.map(o => o.wallMs - f(o, "job_union_ms"))),
      "exec.busy_frac" -> (if (wall > 0) ops.map(f(_, "run_ms")).sum / (wall * cores) else 0.0),
      "exec.task_cpu_s" -> perOp("cpu_ns", 1e-9),
      "exec.gc_s" -> perOp("gc_ms", 1e-3),
      "exec.shuffle_write_mb" -> perOp("shuffle_write_b", 1e-6),
      "exec.shuffle_read_mb" -> perOp("shuffle_read_b", 1e-6),
      "exec.fetch_wait_ms" -> perOp("fetch_wait_ms", 1),
      "exec.spill_mb" -> perOp("spill_b", 1e-6),
      "sources.scan_mb" -> perOp("scan_b", 1e-6),
      "store.write_mb" -> Stats.mean(writes) * 1e-6,
      "store.append_ms" -> Stats.median(out.appendMs),
      // the tracer's own time inside traced ops, as a share of their wall
      "trace.overhead_pct" -> (if (wall > 0) ops.map(f(_, "trace_own_ms")).sum / wall * 100 else 0.0))
  }
}
