package graft

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.GraftSparkShim
import org.apache.spark.sql.SparkSession

/** Runs the independent branches of one driver-side flow as concurrent
  * Spark jobs.
  *
  * A product flow such as [[operators.ReleaseBuild]] is a long chain of
  * small jobs, most of them one task wide, so on one driver thread the
  * cores sit idle between jobs. [[Fanout.run]] hands the flow a `Fanout`:
  * each branch starts on a pool of daemon threads sized to
  * `sparkContext.defaultParallelism`, either at once ([[apply]]) or when
  * the frames it reads are ready ([[after]], [[afterAll]]), and Spark's
  * scheduler interleaves the jobs of the branches that are running.
  *
  * Every branch runs with its own copy of the calling thread's
  * SparkContext local properties (job group, job description, scheduler
  * pool: what listeners attribute jobs by) and with the caller's session
  * active. [[Fanout.run]] waits for every branch, including the siblings
  * of one that failed, then rethrows the first failure as it was thrown;
  * the pool's threads have exited by the time it returns.
  *
  * Branches must not set session conf. The conf is shared by every
  * thread of the session, so a value one branch sets for a moment (as
  * `Tables(…, "events")` does) leaks into the plans its siblings analyse
  * meanwhile. Read such tables before the fan-out.
  */
final class Fanout private (spark: SparkSession,
    ec: ExecutionContext) {
  private val props = GraftSparkShim.localProperties(spark.sparkContext)
  private val failure = new AtomicReference[Throwable]
  private val started = mutable.ArrayBuffer.empty[Future[_]]

  /** Starts `body` now. */
  def apply[T](body: => T): Future[T] = track(Future(branch(body))(ec))

  /** Starts `f` once `dep` has succeeded; if `dep` fails, the returned
    * future fails the same way and `f` never runs. */
  def after[A, T](dep: Future[A])(f: A => T): Future[T] =
    track(dep.map(a => branch(f(a)))(ec))

  /** [[after]] over several dependencies, their values in order. */
  def afterAll[A, T](deps: Seq[Future[A]])(f: Seq[A] => T): Future[T] = {
    implicit val join: ExecutionContext = ExecutionContext.parasitic
    after(Future.sequence(deps))(f)
  }

  private def track[T](f: Future[T]): Future[T] = {
    synchronized(started += f)
    f
  }

  private def branch[T](body: => T): T = {
    GraftSparkShim.setLocalProperties(spark.sparkContext, props)
    SparkSession.setActiveSession(spark)
    try body
    catch {
      case t: Throwable =>
        failure.compareAndSet(null, t)
        // a Future never completes on a fatal error: box it so that run
        // still sees this branch finish, and rethrows `t` itself
        if (NonFatal(t)) throw t else throw new ExecutionException(t)
    }
  }

  private def awaitAll(seen: Int = 0): Unit = {
    val pending = synchronized(started.drop(seen).toList)
    if (pending.nonEmpty) {
      pending.foreach(Await.ready(_, Duration.Inf))
      awaitAll(seen + pending.size)
    }
  }
}

object Fanout {
  /** Runs `plan`, which starts branches on the given `Fanout` and
    * returns the futures whose values the flow needs; waits for every
    * branch started, then returns those values in order or rethrows the
    * first failure (a failure of `plan` itself once the branches it
    * started have finished). */
  def run[T](spark: SparkSession)(plan: Fanout => Seq[Future[T]]): Seq[T] = {
    val threads = mutable.ArrayBuffer.empty[Thread]
    val factory: ThreadFactory = r => threads.synchronized {
      val t = new Thread(r, s"graft-fanout-${threads.size + 1}")
      t.setDaemon(true)
      threads += t
      t
    }
    val pool = Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism, factory)
    val fan = new Fanout(spark, ExecutionContext.fromExecutorService(pool))
    try {
      val results = plan(fan)
      fan.awaitAll()
      Option(fan.failure.get).foreach(t => throw t)
      results.map(Await.result(_, Duration.Inf))
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      threads.synchronized(threads.toList).foreach(_.join())
    }
  }
}
