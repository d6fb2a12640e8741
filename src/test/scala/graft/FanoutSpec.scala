package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The driver-side fan-out: branches see the caller's job group,
  * description and session; a failing branch fails the run only after
  * its siblings finish; no pool thread outlives the run. */
class FanoutSpec extends SparkSpec {

  private def poolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-fanout-")).toSet

  /** One Spark job whose tasks each take about `ms` milliseconds. */
  private def slowJob(ms: Long): Long =
    spark.sparkContext.parallelize(1 to 2, 2)
      .map { x => Thread.sleep(ms); x }.count()

  test("branches carry the caller's job group, description and session") {
    val sc = spark.sparkContext
    sc.setJobGroup("fanout-spec", "fanout spec group",
      interruptOnCancel = false)
    sc.setJobDescription("fanout spec jobs")
    try {
      val (counts, jobs) = jobsDuring(Fanout.run(spark) { fan =>
        // every pool thread first runs a branch that relabels its own
        // jobs; the branches reusing those threads must not inherit it
        val relabel = (1 to sc.defaultParallelism).map(_ =>
          fan(sc.setJobDescription("one branch's own label")))
        val grouped = fan.afterAll(relabel)(_ => spark.range(100)
          .groupBy(col("id") % 3).count()
          .transform(Materialize.shared)) // runs its shuffle job here
        val plain = fan.afterAll(relabel)(_ => spark.range(50).count())
        Seq(fan.after(grouped)(_.count()), plain,
          fan.afterAll(Seq(grouped, grouped))(_.map(_.count()).sum))
      })
      assert(counts == Seq(3L, 50L, 6L))
      assert(jobs.size >= 4)
      jobs.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") == "fanout-spec")
        assert(p.getProperty("spark.job.description") == "fanout spec jobs")
      }
      // the caller's own properties are untouched by the branches
      assert(sc.getLocalProperty("spark.jobGroup.id") == "fanout-spec")
      assert(sc.getLocalProperty("spark.job.description") ==
        "fanout spec jobs")
      assert(sc.getLocalProperty("spark.sql.execution.id") == null)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
    }

    val seen = Fanout.run(spark) { fan =>
      (1 to 12).map(_ => fan {
        Thread.sleep(20)
        (Thread.currentThread.getName, SparkSession.getActiveSession)
      })
    }
    assert(seen.forall(_._2.contains(spark)))
    assert(seen.map(_._1).forall(_.startsWith("graft-fanout-")))
    assert(seen.map(_._1).distinct.size <= sc.defaultParallelism)
    assert(poolThreads.isEmpty)
  }

  test("a failing branch fails the run only after its siblings finish") {
    val boom = new IllegalStateException("boom")
    val siblingsRunning = new CountDownLatch(2)
    val finished = new ConcurrentLinkedQueue[String]
    val dependentRan = new AtomicBoolean
    val e = intercept[IllegalStateException] {
      Fanout.run(spark) { fan =>
        def sibling(name: String) = fan {
          siblingsRunning.countDown()
          val n = slowJob(300)
          finished.add(name)
          n
        }
        val a = sibling("a")
        val b = sibling("b")
        val bad = fan[Long] {
          assert(siblingsRunning.await(60, TimeUnit.SECONDS))
          throw boom
        }
        Seq(bad, fan.after(bad) { n =>
          dependentRan.set(true)
          n
        }, a, b)
      }
    }
    assert(e eq boom, "the branch's own exception is rethrown")
    assert(finished.asScala.toSet == Set("a", "b"),
      "the run threw before its siblings finished")
    assert(!dependentRan.get, "a branch ran after its dependency failed")
    assert(poolThreads.isEmpty, "a pool thread outlived the run")
  }

  test("a failure in the plan itself still waits for started branches") {
    val finished = new AtomicBoolean
    val e = intercept[IllegalArgumentException] {
      Fanout.run[Long](spark) { fan =>
        fan { slowJob(200); finished.set(true) }
        throw new IllegalArgumentException("bad plan")
      }
    }
    assert(e.getMessage == "bad plan")
    assert(finished.get)
    assert(poolThreads.isEmpty)
  }
}
