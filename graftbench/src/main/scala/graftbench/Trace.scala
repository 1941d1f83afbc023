package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counts from the benchmark's own listeners. A reading is
  * taken at every op and span boundary, after draining the listener bus,
  * and the difference of two readings is what ran in between. */
final class Counters {
  val names: Seq[String] = Seq("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "spill_b",
    "scan_b", "scan_rows", "write_b", "analysis_ms", "optimize_ms", "plan_ms")
  private val c = names.map(_ -> new AtomicLong).toMap
  /** (start ms, end ms) of finished jobs, in completion order. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  def add(name: String, v: Long): Unit = c(name).addAndGet(v)
  def read(): Map[String, Long] = c.map { case (k, v) => k -> v.get }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      add("jobs", 1); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("tasks", 1)
      if (m != null) {
        add("run_ms", m.executorRunTime); add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("scan_b", m.inputMetrics.bytesRead)
        add("scan_rows", m.inputMetrics.recordsRead)
        add("write_b", m.outputMetrics.bytesWritten)
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      add("analysis_ms", ms("analysis")); add("optimize_ms", ms("optimization"))
      add("plan_ms", ms("planning"))
    }
  }
}

object Trace {
  /** Wall time of `body`, in ms. */
  def ms(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }
}

/** One span: a call into a layer, made from the benchmark's code. */
final case class Span(name: String, op: Long, parent: Int, start: Long,
                      var end: Long = 0L, var counts: Map[String, Long] = Map.empty)

/** What one op cost. `layer` is empty for an untraced op. */
final case class OpRecord(id: Long, kind: String, wallMs: Double, traced: Boolean,
                          layer: Map[String, Double])

/** Spans and listener counts around the benchmark's calls into graft.
  *
  * With tracing off nothing is registered and [[span]] is a plain call.
  * With tracing on, every op is traced, and the time the tracer spends
  * draining the listener bus and reading counters is kept apart so that
  * `trace.overhead_pct` can report it. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1L
  private var tracing = false
  private var opCount = 0L
  private var ownNs = 0L

  if (enabled) {
    sc.addSparkListener(counters.spark)
    spark.listenerManager.register(counters.queries)
  }

  private def reading(): Map[String, Long] = {
    val t0 = System.nanoTime()
    org.apache.spark.BenchSpark.drain(sc)
    val r = counters.read() + ("codegen_us" -> codegenUs())
    ownNs += System.nanoTime() - t0
    r
  }

  /** Compile time recorded by Spark's codegen histogram, in µs. The
    * histogram keeps every sample until its reservoir (1028) fills, so the
    * sum is exact until then and an estimate (count × mean) after. */
  private def codegenUs(): Long = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (h.getCount <= s.size) s.getValues.sum * 1000L
    else (h.getCount * s.getMean * 1000).toLong
  }

  /** Run one op and time it; traced ops also get their counts and spans. */
  def op[T](kind: String)(body: => T): (T, OpRecord) = {
    val id = opCount
    opCount += 1
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, OpRecord(id, kind, (System.nanoTime() - t0) / 1e6, traced = false, Map.empty))
    }
    opId = id
    tracing = true
    val own0 = ownNs
    val before = reading()
    val nSpans = spans.length
    val j0 = counters.jobs.synchronized(counters.jobs.length)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val root = push(kind)
    val r = try body finally pop(root, before)
    val wall = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    val after = reading()
    val ownMs = (ownNs - own0) / 1e6
    tracing = false
    val jobsHere = counters.jobs.synchronized(counters.jobs.drop(j0).toList)
    val layer = mutable.Map.empty[String, Double]
    after.foreach { case (k, v) => layer(k) = (v - before(k)).toDouble }
    layer("job_union_ms") = union(jobsHere.map { case (a, b) =>
      (math.max(a, w0), math.min(b, w1)) }).toDouble
    layer("trace_own_ms") = ownMs
    spans.iterator.drop(nSpans + 1).foreach { s =>
      val k = s"span.${s.name}"
      layer(k) = layer.getOrElse(k, 0.0) + (s.end - s.start) / 1e6
    }
    (r, OpRecord(id, kind, wall, traced = true, layer.toMap))
  }

  /** A call into a layer. Nested spans name their caller as parent. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val before = reading()
      val i = push(name)
      try body finally pop(i, before)
    }

  private def push(name: String): Int = {
    spans += Span(name, opId, stack.headOption.getOrElse(-1), System.nanoTime())
    stack = (spans.length - 1) :: stack
    spans.length - 1
  }

  private def pop(i: Int, before: Map[String, Long]): Unit = {
    val s = spans(i)
    s.end = System.nanoTime()
    val after = reading()
    s.counts = after.map { case (k, v) => k -> (v - before(k)) }.filter(_._2 != 0)
    stack = stack.tail
  }

  /** Total length of the union of intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Persisted RDDs and the bytes they hold: blocks a session keeps after
    * the op that made them has finished. */
  def retained(): (Int, Double) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(_.numCachedPartitions).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part of it that its child spans cover. */
  def write(path: String): Unit = {
    val children = spans.indices.groupBy(spans(_).parent)
    val out = new java.io.PrintWriter(path)
    try spans.indices.foreach { i =>
      val s = spans(i)
      val kids = children.getOrElse(i, Nil).map(k => (spans(k).start, spans(k).end))
      val self = (s.end - s.start) - union(kids)
      out.println(Json.obj(
        "name" -> s.name, "op" -> s.op, "id" -> i, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self,
        "counts" -> s.counts))
    } finally out.close()
  }
}
