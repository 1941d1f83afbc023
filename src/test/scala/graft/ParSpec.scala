package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** [[graft.operators.Par]] — the §2.6 overlap helper the store-lifecycle
  * gates run their independent writes through. Pins the contract the
  * gates rely on: every action runs exactly once, completion is a
  * barrier, and a failure propagates (never swallowed) after all
  * actions settle. */
class ParSpec extends AnyFunSuite {

  test("all actions run exactly once and jobs() is a completion barrier") {
    val ran = new AtomicInteger(0)
    graft.operators.Par.jobs(
      (0 until 7).map(_ => () => { Thread.sleep(5); ran.incrementAndGet(); () }): _*)
    assert(ran.get() == 7) // barrier: all visible after return
  }

  test("single action runs on the calling thread (no pool spin-up)") {
    val caller = Thread.currentThread().getId
    var seen = -1L
    graft.operators.Par.jobs(() => { seen = Thread.currentThread().getId })
    assert(seen == caller)
  }

  test("first failure propagates after all actions settle") {
    val ran = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      graft.operators.Par.jobs(
        () => { Thread.sleep(10); ran.incrementAndGet(); () },
        () => throw new IllegalStateException("boom"),
        () => { ran.incrementAndGet(); () })
    }
    assert(e.getMessage == "boom")
    // siblings were not cancelled mid-flight: both completed
    assert(ran.get() == 2)
  }

  test("concurrent writes off one shared localCheckpoint are consistent") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = graft.operators.Reuse.Local(
      (1 to 1000).toDF("v").selectExpr("v", "v * 2 AS w"))
    val out = "target/test_sink/par_shared_cp"
    graft.operators.Par.jobs(
      () => base.write.mode("overwrite").parquet(s"$out/a"),
      () => base.selectExpr("sum(w) AS s").write.mode("overwrite")
        .parquet(s"$out/b"))
    assert(spark.read.parquet(s"$out/a").count() == 1000)
    assert(spark.read.parquet(s"$out/b").head().getLong(0) == 1001000L)
  }

  test("concurrent sinks off one shared lazy checkpoint compute it once") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a checkpointed frame whose computation bumps a counter per row:
    // the first sink to reach a partition stores its block under
    // Spark's per-block write lock, the other sink waits and reads it —
    // never recomputes — so the counter stays at one pass
    val passes = spark.sparkContext.longAccumulator("passes")
    val base = graft.operators.Reuse.Local(
      (1 to 100).toDF("v").map { r => passes.add(1L); r.getInt(0) }.toDF("v"))
    val out = "target/test_sink/par_shared_eager"
    graft.operators.Par.jobs(
      () => base.write.mode("overwrite").parquet(s"$out/a"),
      () => base.selectExpr("sum(v) AS s").write.mode("overwrite")
        .parquet(s"$out/b"))
    assert(passes.value == 100L,
      s"shared frame computed ${passes.value / 100} times, expected once")
    assert(spark.read.parquet(s"$out/a").count() == 100)
    assert(spark.read.parquet(s"$out/b").head().getLong(0) == 5050L)
  }

  test("interrupting the caller cancels queued work, drains, and re-raises") {
    val ran = new AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val caller = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val t = new Thread(() => {
      caller.set(Thread.currentThread())
      try {
        graft.operators.Par.jobs(
          () => { started.countDown(); Thread.sleep(2000); ran.incrementAndGet(); () },
          () => { started.countDown(); Thread.sleep(2000); ran.incrementAndGet(); () })
      } catch { case _: InterruptedException => () }
    })
    t.start()
    started.await()
    t.interrupt()
    t.join(10000)
    assert(!t.isAlive, "Par.jobs must not hang after an interrupt")
    // the barrier held: by the time jobs() unwound, no action was still
    // mid-flight (each either finished or was interrupted mid-sleep)
  }
}
