package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One closed-loop step: its input landed at `landUs`, the timer ran
  * from `startUs` (input landed) to `endUs` (results committed). */
final case class StepRec(index: Int, large: Boolean, warm: Boolean,
    landUs: Long, startUs: Long, endUs: Long, records: Long, failed: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Spans and per-batch samples, kept in memory and written as JSONL
  * when the run ends. With `enabled = false` every call is a no-op
  * apart from running its body, so untraced runs pay nothing. */
final class Recorder(val enabled: Boolean) {
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000L

  private final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
      parent: Int, attrs: String)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Double)]]

  def add(name: String, startUs: Long, endUs: Long, parent: Int, attrs: String = ""): Int =
    if (!enabled) -1 else synchronized {
      spans += Span(spans.size, name, startUs, endUs, parent, attrs)
      spans.size - 1
    }

  def span[T](name: String, parent: Int, attrs: String = "")(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = synchronized { spans += Span(spans.size, name, nowUs, -1L, parent, attrs); spans.size - 1 }
      try body(id)
      finally synchronized { spans(id) = spans(id).copy(endUs = nowUs) }
    }

  def end(id: Int): Unit =
    if (enabled) synchronized { spans(id) = spans(id).copy(endUs = nowUs) }

  /** A timed value observed at `atUs` (e.g. one index write). */
  def sample(name: String, atUs: Long, v: Double): Unit =
    if (enabled) synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((atUs, v))
    }

  def samplesIn(name: String, steps: Seq[StepRec]): Seq[Double] = synchronized {
    samples.getOrElse(name, mutable.ArrayBuffer.empty)
      .filter { case (t, _) => steps.exists(s => t >= s.landUs && t <= s.endUs) }
      .map(_._2).toSeq
  }

  /** Writes every span as one JSON line. A span added with parent
    * [[Recorder.InStep]] gets the step span that contains its start
    * (else the first span, the run). */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try synchronized {
      val steps = spans.filter(_.name == "step")
      spans.foreach { s =>
        val parent =
          if (s.parent != Recorder.InStep) s.parent
          else steps.find(p => s.startUs >= p.startUs && s.startUs <= p.endUs).map(_.id).getOrElse(0)
        w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.startUs},""" +
          s""""end_us":${s.endUs},"parent":${if (parent < 0) "null" else parent.toString}""" +
          (if (s.attrs.isEmpty) "" else s",${s.attrs}") + "}")
      }
    } finally w.close()
  }
}

object Recorder {
  /** parent marker: resolve to the enclosing step span when written. */
  val InStep: Int = -2
}

/** SparkListener tap (traced runs only): job and task records, read
  * after the listener bus has drained. */
final class SparkTap extends SparkListener {
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long, shuffleWrite: Long, spill: Long)
  private val jobStart = mutable.HashMap.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }
}

/** Host CPU counters from /proc: all CPUs' busy and total ticks, and
  * this process's own ticks (same USER_HZ unit). */
object ProcCpu {
  final case class Snap(busy: Long, total: Long, self: Long)
  def snap(): Snap = try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    val idle = cpu(3) + cpu(4)
    val st = scala.io.Source.fromFile("/proc/self/stat").mkString
    val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
    Snap(cpu.sum - idle, cpu.sum, f(11).toLong + f(12).toLong)
  } catch { case _: Exception => Snap(0L, 0L, 0L) }
}

/** Micro-batch progress helpers shared by the streaming workloads. */
object Progress {
  def inSteps(q: StreamingQuery, steps: Seq[StepRec]): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      steps.exists(s => t >= s.landUs && t <= s.endUs)
    }
  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
  /** records one span per micro-batch, with its phase durations. */
  def spans(rec: Recorder, ps: Seq[StreamingQueryProgress]): Unit = ps.foreach { p =>
    import scala.jdk.CollectionConverters._
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    rec.add("microbatch", t, t + (dur(p, "triggerExecution") * 1000).toLong, Recorder.InStep,
      s""""batch":${p.batchId},"input_rows":${p.numInputRows},"duration_ms":{$phases}""")
  }
  def engine(ps: Seq[StreamingQueryProgress], steps: Seq[StepRec]): Map[String, Double] = Map(
    "microbatch.count" -> ps.size.toDouble / math.max(1, steps.size),
    "microbatch.planning_ms" -> Stats.median(ps.map(dur(_, "queryPlanning"))),
    "microbatch.wal_ms" -> Stats.median(ps.map(dur(_, "walCommit"))))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
