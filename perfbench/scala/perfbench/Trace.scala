package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program. Times are epoch milliseconds with
  * sub-millisecond precision, on the same clock as Spark's job events. */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def json: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs.toMap)
}

/** In-memory span recorder for the benchmark's own thread. Each span sets
  * a job group named after its id, so Spark jobs launched inside it (and
  * by threads it starts, which inherit the group) are attributed to it;
  * on exit the parent's group is restored. Spans are written out only
  * when the run ends. */
final class Spans(sc: SparkContext) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[A](name: String, attrs: (String, Any)*)(body: Span => A): A = {
    val s = new Span(all.size, name, open.headOption.fold(-1)(_.id), Clock.nowMs)
    s.attrs ++= attrs
    all += s
    open = s :: open
    sc.setJobGroup(Spans.group(s.id), name)
    try body(s)
    finally {
      s.endMs = Clock.nowMs
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(Spans.group(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def json: Seq[Map[String, Any]] = all.toSeq.map(_.json)
}

object Spans {
  def group(id: Int): String = s"perfbench-span-$id"
}

/** Epoch clock with nanoTime resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-job totals from the listener bus: interval, group, and the task
  * metrics of every stage the job ran. */
final class JobMeter extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, inBytes, inRecords, outBytes, outRecords, shuffleWrite, spill = 0L

    def json: Map[String, Any] = Map("id" -> id, "group" -> group,
      "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "input_bytes" -> inBytes, "input_records" -> inRecords,
      "output_bytes" -> outBytes, "output_records" -> outRecords,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new Job(e.jobId, group.getOrElse(""), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecords += m.inputMetrics.recordsRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRecords += m.outputMetrics.recordsWritten
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  def json: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map(_.json)
}

/** Time threads spend in `Thread.sleep` called from `cls.method`, found
  * by sampling every thread's stack every 50 ms while `during` runs: how
  * long the program really sleeps there, whatever its policy. The error is
  * at most one period per sleep; a shorter period made the sampling itself
  * a visible share of the traced conversion. */
final class SleepMeter(cls: String, method: String) {
  private val periodMs = 50L
  private val threads = ManagementFactory.getThreadMXBean
  private var sleptNs = 0L

  def seconds: Double = sleptNs / 1e9

  def during[A](body: => A): A = {
    val running = new AtomicBoolean(true)
    val sampler = new Thread(() => {
      var last = System.nanoTime()
      while (running.get) {
        Thread.sleep(periodMs)
        val now = System.nanoTime()
        sleptNs += (now - last) * threads.dumpAllThreads(false, false, 8).count(t => sleeping(t.getStackTrace))
        last = now
      }
    }, "perfbench-sleep-meter")
    sampler.setDaemon(true)
    sampler.start()
    try body finally { running.set(false); sampler.join() }
  }

  private def sleeping(stack: Array[StackTraceElement]): Boolean =
    stack.headOption.exists(f => f.getClassName == "java.lang.Thread" && f.getMethodName.startsWith("sleep")) &&
      stack.exists(f => f.getClassName == cls && f.getMethodName == method)
}

/** Minimal JSON rendering for the run's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
