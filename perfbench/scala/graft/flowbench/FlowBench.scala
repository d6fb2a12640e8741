package graft.flowbench

import java.lang.management.ManagementFactory

import scala.util.{Failure, Success, Try}

import org.apache.spark.GraftSparkShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run of one workload, in one JVM:
  *
  *  1. session: `local[N]`, N = available cores, N shuffle partitions;
  *  2. set-up, [[SetupReps]] times: generate the seeded inputs and the
  *     tables the flow needs (the last copy is the one used);
  *  3. one untimed warm-up iteration, whose artifacts are checked
  *     (reconciliation checks here, the oracle compare by the caller) and
  *     fingerprinted;
  *  4. closed loop: iterations back to back until their timed wall
  *     time reaches `seconds` and their count is odd, each timed (wall,
  *     executor CPU), then fingerprinted and compared with the warm-up's; the
  *     live heap is read after a full GC at the end. Traced runs
  *     alternate untraced and traced iterations, so the tracing overhead
  *     is measured under the same load, then run the workload's
  *     attribution legs once.
  *
  * Usage: FlowBench <workload> <seed> <seconds> <trace 0|1> <smoke 0|1>
  *   <workDir> <resultJson>
  * Everything is written under workDir; the result is one JSON object.
  */
object FlowBench {
  private val SetupReps = 3

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // as every entry point of the program (see graft.Soak.session)
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-independent content hash of each artifact: row count plus the
    * sum of per-row xxhash64 (JSON artifacts are hashed as text lines),
    * all artifacts in one job. */
  def fingerprint(spark: SparkSession, paths: Seq[(String, String)])
      : String =
    paths.zipWithIndex.map { case ((path, format), i) =>
      val df = if (format == "json") spark.read.text(path)
        else spark.read.parquet(path)
      df.select(lit(i).as("artifact"),
        xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")
          .as("h"))
    }.reduce(_ unionByName _)
      .groupBy(col("artifact")).agg(count(lit(1)), sum(col("h")))
      .collect().sortBy(_.getInt(0))
      .map(r => s"${r.getInt(0)}:${r.getLong(1)}:${r.get(2)}").mkString("|")

  /** Heap in use after a full GC. The second GC runs after Spark's
    * ContextCleaner has had time to drop the blocks of checkpoints the
    * first one made unreachable, so cached-but-dead data does not count. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, smokeS, work, resultPath) = args
    val (seed, budget) = (seedS.toLong, secondsS.toDouble)
    val (traced, smoke) = (traceS == "1", smokeS == "1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workload.byName(name, smoke)

    val spark = session(work)
    val sc = spark.sparkContext
    val rec = new Recorder(traced = false)
    sc.addSparkListener(rec)
    val tr = new Tracer(spark, rec)
    def drain(): Unit = GraftSparkShim.drainListenerBus(sc)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val setupS = (0 until SetupReps).map { r =>
      if (r > 0) Files.wipe(s"$work/setup${r - 1}")
      val t0 = System.nanoTime()
      workload.setup(spark, seed, s"$work/setup$r")
      seconds(t0)
    }
    val data = s"$work/setup${SetupReps - 1}"

    val warm = s"$work/warmup"
    val t0 = System.nanoTime()
    workload.iteration(spark, tr, data, warm)
    val warmupS = seconds(t0)
    val problems = workload.check(spark, data, warm)
    val ratios = workload.ratios(spark, data, warm)
    val expected = fingerprint(spark, workload.artifacts(data, warm))

    val iterations = Seq.newBuilder[String]
    var measured = 0.0 // timed seconds so far; checks and GC excluded
    var i = 0
    // an odd count, so the median is one iteration, not a mean of two
    // (traced runs end on complete untraced/traced pairs instead)
    def more: Boolean =
      if (traced) i % 2 == 1 || measured < budget
      else i % 2 == 0 || measured < budget
    while (i == 0 || more) {
      val tracedIter = traced && i % 2 == 1
      val out = s"$work/iter"
      Files.wipe(out)
      drain()
      rec.traced = tracedIter
      tr.iter = i
      System.gc()
      val c0 = rec.cpuNs.get()
      val w0 = System.nanoTime()
      val run = Try(tr.span("flow")(workload.iteration(spark, tr, data, out)))
      val wall = seconds(w0)
      measured += wall
      drain()
      rec.traced = false
      val cpu = (rec.cpuNs.get() - c0) / 1e9
      val error = run.flatMap(_ => Try(
        fingerprint(spark, workload.artifacts(data, out)))) match {
        case Success(fp) if fp == expected => None
        case Success(fp) => Some(s"artifact fingerprint $fp != $expected")
        case Failure(e) => Some(e.toString)
      }
      iterations += Json.obj("traced" -> tracedIter, "wall_s" -> wall,
        "cpu_s" -> cpu, "error" -> error)
      i += 1
    }
    val heapMb = liveHeapMb()

    val legs = if (!traced) Map.empty[String, Double] else {
      drain()
      rec.traced = true
      tr.iter = -1
      val extra = workload.legs(spark, tr, seed, data, s"$work/legs")
      drain()
      rec.traced = false
      extra
    }

    val inputBytes = Files.bytes(new java.io.File(data))
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "smoke" -> smoke,
      "cores" -> sc.defaultParallelism,
      "input" -> Map("rows" -> workload.inputRows, "bytes" -> inputBytes),
      "session_s" -> sessionS, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "live_heap_mb" -> heapMb,
      "checks" -> problems,
      "oracle" -> workload.oracle(data, warm).map { case (k, (sql, dir)) =>
        k -> Map("sql" -> sql, "spark_dir" -> dir) },
      "data_dir" -> data,
      "iterations" -> Json.Raw(iterations.result().mkString("[", ",", "]")),
      "extra" -> (ratios ++ legs),
      "trace" -> (if (traced) Json.Raw(rec.toJson) else null))
    val w = new java.io.PrintWriter(resultPath, "UTF-8")
    try w.print(result) finally w.close()
    spark.stop()
  }
}
