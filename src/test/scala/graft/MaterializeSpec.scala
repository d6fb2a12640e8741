package graft

import org.apache.spark.sql.functions._

/** The shared-intermediate materialization policy (round 16): default
  * mode must be byte-identical to the localCheckpoint it replaced;
  * persist mode must produce the same rows recomputably; unknown mode
  * values must fail loud (a cluster typo must not silently run the
  * non-scale-safe local default).
  */
class MaterializeSpec extends SparkSpec {

  private def withMode[A](mode: Option[String])(body: => A): A = {
    val key = "spark.graft.materialize"
    val prev = spark.conf.getOption(key)
    mode match {
      case Some(m) => spark.conf.set(key, m)
      case None => spark.conf.unset(key)
    }
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def frame = spark.range(100)
    .select(col("id"), (col("id") % 7).as("k"))

  test("default mode is a localCheckpoint (lineage truncated lazily)") {
    withMode(None) {
      val m = Materialize.shared(frame)
      assert(m.queryExecution.analyzed.collectLeaves().nonEmpty)
      assert(m.count() === 100)
      val n = Materialize.now(frame)
      assert(n.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    }
  }

  test("persist mode returns the same rows for shared and now") {
    withMode(Some("persist")) {
      val s = Materialize.shared(frame)
      val n = Materialize.now(frame)
      try {
        assert(s.count() === 100)
        assert(n.count() === 100)
        assert(s.collect().toSet == n.collect().toSet)
      } finally {
        s.unpersist(); n.unpersist()
      }
    }
  }

  test("persist mode uses a reliable checkpoint when a dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try withMode(Some("persist")) {
      val n = Materialize.now(frame)
      // reliable checkpoint truncates to an RDD scan and writes files
      assert(n.count() === 100)
      assert(new java.io.File(dir.toString).listFiles().nonEmpty)
    } finally {
      // the session is shared across suites: clear the checkpoint dir
      org.apache.spark.GraftSparkShim
        .clearCheckpointDir(spark.sparkContext)
    }
  }

  test("shared runs a frame's exchange stages at construction (AQE)") {
    val grouped = frame.groupBy(col("k")).count()
    withMode(None) {
      assert(jobsDuring(Materialize.shared(frame))._2.isEmpty,
        "a frame without an exchange ran a job at construction")
      val (m, built) = jobsDuring(Materialize.shared(grouped))
      assert(built.nonEmpty,
        "constructing a shared frame over an exchange ran no job")
      assert(m.count() === 7)
    }
    withMode(Some("persist")) {
      val (p, built) = jobsDuring(Materialize.shared(grouped))
      try assert(built.isEmpty, "persist mode ran a job at construction")
      finally p.unpersist()
    }
  }

  test("unknown mode fails loud instead of silently running local") {
    withMode(Some("reliable")) {
      val e = intercept[IllegalArgumentException] {
        Materialize.shared(frame)
      }
      assert(e.getMessage.contains("spark.graft.materialize"))
    }
  }
}
