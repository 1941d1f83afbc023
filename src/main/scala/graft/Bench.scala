package graft

import org.apache.spark.sql.SparkSession

/** Bench protocol (BASELINE.md): per-query wall-clock on
  * SPARK_GRAFT_SF_DIR, one warm-up of the catalog, noop sink so every
  * query's full column set is actually computed (a count() would let
  * Catalyst prune the projections being measured). Prints exactly one
  * JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Tables.session("graft-bench")
    // stdout must carry exactly one parseable JSON line; Spark's console
    // appender writes WARNs to stderr, but the driver may capture merged
    // streams — keep everything below ERROR out of the logs
    spark.sparkContext.setLogLevel("ERROR")
    // One ERROR-level logger fires in a HEALTHY run: the DAGScheduler's
    // "Failed to update accumulator … attempted to access non-existent
    // accumulator" barrage — tasks of an already-finished/cancelled
    // stage (AQE re-plans cancel materialized stages; early-exit limits)
    // report completion after the execution's metric accumulators are
    // unregistered. Driver-side accounting noise, results unaffected —
    // but one ~300-frame burst lands directly above the JSON line and
    // would eat the driver's ~2000-char capture window (BASELINE.md
    // "Bench stderr"). Pin that logger to FATAL in THIS process only; a
    // genuinely failing query still surfaces as its action's exception →
    // the -1 sentinel + "[bench] <name> failed" line.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.FATAL)
    // warm-up: touch every table's footer + JIT the read path
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    // one UNMEASURED full execution so whole-stage-codegen compilation +
    // JIT of the shared kernels doesn't land on whichever query sorts
    // first alphabetically (r2: a10_salted_agg looked 3x its steady state)
    // llm_minhash_pairs JITs the shingle/hash/band kernels shared by the
    // three cluster queries that sort before it alphabetically
    for (w <- Seq("q5_flagship", "llm_text_stats", "llm_minhash_pairs");
         fn <- SparkEntry.queries.get(w))
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $w failed: ${e.getMessage}") }
    // optional comma-separated name-prefix filter (local ratio checks;
    // unset in the driver protocol, so the full sweep is unaffected)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    // r13 post-mortem (VERDICT r13 #1): 463 keys x 3 runs needs ~1800 s
    // of measured time — past the driver window that killed BENCH_r13 at
    // rc=124. Probe-threshold protocol: every key's FIRST run is the
    // probe; keys whose probe exceeds the threshold keep that single
    // measurement (the expensive class is store-building parquet I/O,
    // stable across runs), cheap keys get the full median-of-`runs`.
    // Arithmetic on the r13 builder sweep (598.9 s/run): threshold 1.0 s
    // -> 166 probe-only keys (481 s once) + 294 cheap keys (118 s x3)
    // = ~835 s measured vs ~1797 s, inside the window r12 fit (1412 s).
    val probeThreshold =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_SEC", "1.0").toDouble
    // The six carried keys VERDICT r13 flagged >=1.77x builder-vs-r12
    // stay median-of-3 regardless of cost, so their BENCH_r14 numbers
    // are measured under the exact r12 protocol (median of 3) and the
    // adjudication compares like with like.
    val alwaysMedian = Set(
      "e_sql_semdedup", "e_sql_hybrid_eval", "e_sql_pipeline4",
      "llm_bm25_append", "st_admission_append", "llm_bm25_compact")
    // MEASUREMENT-BUG FIX (optimization round 14, declared in
    // OPTIMIZATION_r14.md): every Reuse.Local/localCheckpoint a query
    // materializes leaves persisted blocks behind after its action
    // finishes — across a 486-key sweep they pile up in the ~4.6 GiB
    // block store (8 g heap), and keys late in the alphabet run under
    // eviction + GC churn caused by FINISHED keys' garbage, not their
    // own computation (measured: j7_range 10.5 s at sweep position
    // ~250 vs 0.68 s isolated, j8_salted_join 8.6 vs 1.1 — a 10×
    // position artifact). Guide §1 says time THE computation: drop
    // dead blocks BEFORE each timed run, outside the clock. Nothing is
    // pre-computed or reused across runs — the opposite: every run
    // starts from parquet inputs and an empty block store.
    // blocking=true: removal completes BEFORE the clock starts, so the
    // async block-removal work can never race the timed run it precedes
    def dropDeadBlocks(): Unit = BlockHygiene.dropDeadBlocks(spark)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      dropDeadBlocks()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 // failure sentinel — keeps broken queries visible in the JSON
      }
    }
    // ADDITIONS-ONLY warm-run column (VERDICT r14 #7): keys whose probe
    // exceeds this also get ONE extra run in the same JVM (plan already
    // analyzed once, codegen/JIT warm, block store still dropped first)
    // reported under "warm" — separating one-time analysis+codegen cost
    // from recurring compute without touching the probe protocol or the
    // "queries"/"value" fields earlier rounds compare against.
    val warmThreshold =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_SEC", "5.0").toDouble
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, fn) =>
      val probe = timeOne(name, fn)
      val value =
        if (probe < 0) -1.0
        else if (probe > probeThreshold && !alwaysMedian(name)) probe
        else {
          val times = (probe +: (2 to runs).map(_ => timeOne(name, fn))).sorted
          if (times.contains(-1.0)) -1.0 else times(times.length / 2)
        }
      val warm =
        if (probe > warmThreshold && !alwaysMedian(name))
          Some(timeOne(name, fn))
        else None
      (name, value, warm)
    }
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = results.map(_._2).filter(_ >= 0).sum
    val warms = results.collect { case (k, _, Some(w)) => k -> w }
    // complete full-precision record for analysis (the stdout line below
    // is size-bounded)
    val fullQs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullWarm = warms.map { case (k, w) => "\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"warm":$fullWarm,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_full.json"),
      fullLine.getBytes("UTF-8"))
    // The driver records only the LAST ~2000 chars of stdout, and sbt
    // appends its own "[success] ..." line after us — so the printed JSON
    // line must stay comfortably under that window or its head is
    // truncated and unparseable (BENCH_r01 'parsed' was null for exactly
    // this reason). Budget the queries map: slowest queries first (the
    // ones worth comparing against BASELINE), stop before the cap.
    // r15: 1500 → 1100 to make room for the ~350-char warm map below —
    // the whole stdout line must stay comfortably inside the driver's
    // ~2000-char tail capture (plus sbt's trailing "[success]" line)
    val budget = 1100
    // failed queries (-1 sentinel) FIRST so the budget cut can never
    // hide a failure from the driver-visible line, then slowest-first
    val bySlowest = results
      .sortBy { case (_, v, _) => if (v < 0) Double.NegativeInfinity else -v }
      .map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
    val (included, n) = budgetPrefix(bySlowest, budget)
    val omitted = results.length - n
    val sfShort = sfDir.split('/').last
    // the warm column (slowest-first, own small budget so it can never
    // crowd the probe map out of the driver's capture window)
    val (warmIncluded, _) = budgetPrefix(
      warms.sortBy(-_._2).map { case (k, w) => "\"" + k + "\":" + fmt(w) }, 350)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.length},"queries_omitted":$omitted,"queries":{$included},"warm":{$warmIncluded},"sf":"$sfShort","full":"target/bench_full.json"}""")
    spark.stop()
  }

  /** The comma-joined strict prefix of `entries` that fits `budget`
    * chars (each entry counted with one separator), and how many entries
    * it keeps. The cut stops at the first entry that does not fit, even
    * when a later, shorter one would: a filter would keep appending
    * faster entries after an oversized one and break the slowest-first
    * order of the printed maps. */
  private[graft] def budgetPrefix(entries: Seq[String], budget: Int): (String, Int) = {
    val sb = new StringBuilder
    var n = 0
    val it = entries.iterator
    var fits = true
    while (fits && it.hasNext) {
      val e = it.next()
      if (sb.length + e.length + 1 > budget) fits = false
      else { if (n > 0) sb += ','; sb ++= e; n += 1 }
    }
    (sb.toString, n)
  }
}
