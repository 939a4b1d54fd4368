package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.util.{DriverBudget, Legs}

/** [[graft.util.Legs.concurrently]], the driver-thread fan-out behind
  * the pipeline's stage legs, q248's grid points and q258's beam widths:
  * each leg runs under the caller's `DriverBudget` scope and active
  * session, also on a pooled thread created outside that scope, the legs'
  * values come back in argument order, and a failure is rethrown only
  * after every leg has ended.
  */
class PipelineLegsSpec extends SparkSpec {

  /** Runs `n` legs that wait for each other (so they take `n` pool
    * threads at once), each recording its thread and `read`.
    */
  private def legs[T](n: Int)(read: => T): Seq[(Thread, T)] = {
    val seen = new ConcurrentLinkedQueue[(Thread, T)]()
    val all = new CountDownLatch(n)
    Legs.concurrently(Seq.fill(n) { () =>
      all.countDown()
      assert(all.await(30, TimeUnit.SECONDS), "legs did not run at once")
      seen.add(Thread.currentThread() -> read)
      ()
    }: _*)
    seen.asScala.toSeq
  }

  test("a leg reads the caller's DriverBudget scope, on pool threads created outside it") {
    spark
    val outside = legs(2)(DriverBudget.bytes).map(_._1).toSet
    Thread.sleep(200) // let the finished workers go back to waiting for work
    val inside = DriverBudget.withBytes(7L)(legs(2)(DriverBudget.bytes))
    assert(inside.map(_._2) == Seq(7L, 7L))
    assert(inside.forall(l => outside.contains(l._1)),
      s"legs must reuse the threads made outside the scope: ${inside.map(_._1)} vs $outside")
    // and the reverse: threads made inside a scope keep none of it
    DriverBudget.withBytes(0L)(legs(3)(DriverBudget.bytes))
    Thread.sleep(200)
    val default = DriverBudget.bytes
    assert(default > 0L && legs(3)(DriverBudget.bytes).map(_._2) == Seq.fill(3)(default))
  }

  test("a leg sees the caller's active session") {
    assert(legs(2)(SparkSession.active).forall(_._2 eq spark))
    val other = spark.newSession()
    SparkSession.setActiveSession(other)
    try assert(legs(2)(SparkSession.active).forall(_._2 eq other))
    finally SparkSession.setActiveSession(spark)
  }

  test("legs return their values in argument order, each read under the caller's scope") {
    spark
    // the first leg ends last, so completion order is not argument order
    val got = DriverBudget.withBytes(5L)(Legs.concurrently(
      () => { Thread.sleep(300); "a" -> DriverBudget.bytes },
      () => { Thread.sleep(100); "b" -> DriverBudget.bytes },
      () => "c" -> DriverBudget.bytes))
    assert(got == Seq("a" -> 5L, "b" -> 5L, "c" -> 5L))
    assert(Legs.concurrently[Int]().isEmpty)
  }

  test("one failing leg: the helper throws its failure only after the other legs end") {
    val slowDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first leg")
    val third = new IllegalArgumentException("third leg")
    val e = intercept[IllegalStateException] {
      Legs.concurrently(
        () => throw first,
        () => { Thread.sleep(500); slowDone.set(true) },
        () => { Thread.sleep(100); throw third })
    }
    assert(e eq first)
    assert(slowDone.get(), "the slow leg must have finished before the throw")
    assert(e.getSuppressed.toSeq == Seq(third))
  }
}
