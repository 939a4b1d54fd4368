package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.SparkSession

/** Driver-thread fan-out: independent legs of driver work (pipeline
  * stages, per-width or per-grid-point plans that each run Spark jobs)
  * run at once on pooled daemon threads.
  */
object Legs {

  /** Daemon threads for [[concurrently]]'s legs; idle ones expire. */
  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-driver-leg")
    t.setDaemon(true)
    t
  }

  /** Runs the legs at once and returns their values in argument order
    * once every leg has ended. A failure is rethrown only then — the
    * first leg's in argument order, later ones attached as suppressed —
    * so no leg's job is left running. Each leg runs under the caller's
    * `DriverBudget` scope and active session: a pooled thread created
    * earlier inherits neither.
    */
  def concurrently[T](legs: (() => T)*): Seq[T] = {
    val budget = DriverBudget.scope
    val session = SparkSession.getActiveSession
    val running = legs.map { leg =>
      pool.submit(new Callable[T] {
        def call(): T = {
          session.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
          try DriverBudget.within(budget)(leg())
          finally SparkSession.clearActiveSession()
        }
      })
    }
    val ended = running.map { f =>
      try Right(f.get())
      catch { case e: ExecutionException => Left(e.getCause) }
    }
    val failures = ended.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    ended.collect { case Right(v) => v }
  }
}
