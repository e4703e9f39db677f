package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for Core.inParallel — the generic §2.6 overlap
  * helper behind the r18 optimizations (cumulative edge-term
  * construction, IVF sidecar writes, drift slice builds). The
  * semantics under test are the ones correctness rests on: input
  * order, join-all before any failure propagates, first-failure-
  * in-input-order rethrow, and FATAL errors propagating as
  * themselves (the writeBatchIdempotentAll NPE-masking class, ADVICE
  * r17). */
class InParallelSpec extends AnyFunSuite {

  test("results come back in input order") {
    val out = graft.ops.Core.inParallel[Int](Seq(
      "slow" -> (() => { Thread.sleep(50); 1 }),
      "fast" -> (() => 2),
      "mid" -> (() => { Thread.sleep(10); 3 })))
    assert(out == Seq(1, 2, 3))
  }

  test("a single task runs inline on the calling thread") {
    val caller = Thread.currentThread()
    var ran: Thread = null
    graft.ops.Core.inParallel[Unit](Seq(
      "only" -> (() => { ran = Thread.currentThread() })))
    assert(ran eq caller)
  }

  test("all siblings finish before the first failure (in input order) rethrows") {
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = intercept[IllegalStateException] {
      graft.ops.Core.inParallel[Unit](Seq(
        "ok1" -> (() => { Thread.sleep(60); finished.incrementAndGet(); () }),
        "fail-fast" -> (() => throw new IllegalStateException("first in order")),
        "ok2" -> (() => { Thread.sleep(30); finished.incrementAndGet(); () }),
        "fail-late" -> (() => { Thread.sleep(5); throw new RuntimeException("later") })))
    }
    // both non-failing siblings completed (join-all), and the failure
    // that propagates is the first FAILING task in INPUT order even
    // though it threw before the slower siblings finished
    assert(boom.getMessage == "first in order")
    assert(finished.get() == 2)
  }

  test("a fatal task error propagates as itself, not as an NPE over a null slot") {
    // scala.util.Try catches only NonFatal — the helper must catch
    // Throwable in the task body so e.g. an InterruptedException or a
    // LinkageError surfaces as the original failure (ADVICE r17's
    // writeBatchIdempotentAll finding, pinned at the shared helper)
    val boom = intercept[InterruptedException] {
      graft.ops.Core.inParallel[Unit](Seq(
        "ok" -> (() => ()),
        "fatal" -> (() => throw new InterruptedException("shutdown"))))
    }
    assert(boom.getMessage == "shutdown")
  }

  test("spark jobs submitted from the helper's threads all complete") {
    val spark = SparkSpec.session
    val sums = graft.ops.Core.inParallel[Long](Seq(
      "job-a" -> (() => spark.range(1000).selectExpr("sum(id)").head().getLong(0)),
      "job-b" -> (() => spark.range(2000).selectExpr("sum(id)").head().getLong(0)),
      "job-c" -> (() => spark.range(3000).selectExpr("sum(id)").head().getLong(0))))
    assert(sums == Seq(499500L, 1999000L, 4498500L))
  }

  test("an interrupted caller still joins every sibling, then keeps its interrupt flag") {
    // returning on the interrupt would leave siblings running against
    // live state (the join-all contract); swallowing it would hide the
    // caller's shutdown request
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(2)
    @volatile var finishedAtReturn = -1
    @volatile var flagAtReturn = false
    @volatile var thrown: Throwable = null
    val caller = new Thread(() => {
      try graft.ops.Core.inParallel[Unit](Seq(
        "a" -> (() => { started.countDown(); Thread.sleep(300); finished.incrementAndGet(); () }),
        "b" -> (() => { started.countDown(); Thread.sleep(400); finished.incrementAndGet(); () })))
      catch { case t: Throwable => thrown = t }
      finishedAtReturn = finished.get()
      flagAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "the caller never returned")
    assert(thrown == null, s"the interrupt must not abort the join: $thrown")
    assert(finishedAtReturn == 2, s"returned with ${2 - finishedAtReturn} sibling(s) still running")
    assert(flagAtReturn, "the caller's interrupt flag must be re-asserted after the join")
  }
}
