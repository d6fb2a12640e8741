package graft.flowbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The benchmark's one listener.
  *
  * Untraced, it keeps a single counter: executor CPU summed at task end
  * (the `Timing.cpuCounter` mechanism). Traced, it also records every job
  * (group, call site, submit/end time), every stage's job group, and every
  * task (launch/finish time, CPU, shuffle bytes), plus the spans the
  * benchmark opens around its calls into the program. Everything stays in
  * memory and is written once, when the run ends; the arithmetic on it
  * (idle time, self time, attribution) is done by `perfbench/stats.py`.
  */
final class Recorder(@volatile var traced: Boolean) extends SparkListener {
  val cpuNs = new AtomicLong

  private final case class Job(id: Int, group: String, site: String,
      start: Long, var end: Long)
  private final case class Task(job: Int, group: String, launch: Long,
      finish: Long, cpuNs: Long, shuffleBytes: Long)
  private final case class Span(id: Int, name: String, parent: Int,
      iter: Int, start: Long, var end: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (traced) synchronized {
      // the result stage is created last, so it has the highest id; its
      // name is the job's short call site ("<op> at <File>.scala:<line>")
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      val j = Job(e.jobId, groupOf(e.properties), site, e.time, -1L)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (traced) synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (traced) synchronized {
      stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val cpu = if (m == null) 0L else m.executorCpuTime
    cpuNs.addAndGet(cpu)
    if (traced) synchronized {
      val shuffle = if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      tasks += Task(stageJob.getOrElse(e.stageId, -1),
        stageGroup.getOrElse(e.stageId, ""), e.taskInfo.launchTime,
        e.taskInfo.finishTime, cpu, shuffle)
    }
  }

  def openSpan(name: String, parent: Int, iter: Int): Int = synchronized {
    val s = Span(spans.size, name, parent, iter, System.currentTimeMillis(),
      -1L)
    spans += s
    s.id
  }

  def closeSpan(id: Int): Unit = synchronized {
    spans(id).end = System.currentTimeMillis()
  }

  def spanName(id: Int): String = synchronized(spans(id).name)

  /** Jobs, tasks and spans as one JSON object (times in epoch ms). */
  def toJson: String = synchronized {
    val js = jobs.map(j => Json.obj("id" -> j.id, "group" -> j.group,
      "site" -> j.site, "start" -> j.start, "end" -> j.end))
    val ts = tasks.map(t => Json.obj("job" -> t.job, "group" -> t.group,
      "launch" -> t.launch, "finish" -> t.finish, "cpu_ns" -> t.cpuNs,
      "shuffle_bytes" -> t.shuffleBytes))
    val ss = spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "iter" -> s.iter, "start" -> s.start,
      "end" -> s.end))
    Json.obj("spans" -> Json.Raw(ss.mkString("[", ",", "]")),
      "jobs" -> Json.Raw(js.mkString("[", ",", "]")),
      "tasks" -> Json.Raw(ts.mkString("[", ",", "]")))
  }
}

/** Opens spans around the benchmark's calls into the program. Each span
  * sets the Spark job group to its id, so every job the call causes
  * (including broadcast and AQE stage jobs, which inherit the caller's
  * local properties) is attributed to it. Untraced, a span is just the
  * call. */
final class Tracer(spark: SparkSession, rec: Recorder) {
  private var stack: List[Int] = Nil
  var iter: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!rec.traced) body
    else {
      val sc = spark.sparkContext
      val id = rec.openSpan(name, stack.headOption.getOrElse(-1), iter)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      try body
      finally {
        rec.closeSpan(id)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, rec.spanName(p),
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Just enough JSON writing for the benchmark's result file. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
