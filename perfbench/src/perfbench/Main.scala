package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** A closed-loop workload. The benchmark lands a step's input, then times
  * `run` from input landed to results committed; the next step's input
  * is written only after that. Nothing is paced by the wall clock. */
trait Workload {
  /** small steps per round; every round ends with one large step. */
  def smallPerRound: Int
  /** untimed rounds that count as set-up (JIT, caches, first batches). */
  def warmRounds: Int
  /** generate inputs and start any long-running query. */
  def start(): Unit
  /** write the step's input; returns the records it holds. */
  def land(large: Boolean, step: Int): Long
  /** the timed part of a step: input landed → results committed. */
  def run(large: Boolean, step: Int): Unit
  /** problems found by the independent output checks. */
  def check(): Seq[String]
  /** this workload's per-layer metrics over the timed steps (traced runs). */
  def layers(timed: Seq[StepRec]): Map[String, Double]
  def close(): Unit
}

object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "records/s", "small_step_ms" -> "ms")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.task_s" -> "s", "spark.busy_frac" -> "fraction", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "connector.offset_ms" -> "ms",
    "microbatch.count" -> "count", "microbatch.planning_ms" -> "ms", "microbatch.wal_ms" -> "ms",
    "quorum.commit_ms" -> "ms", "apply.commit_ms" -> "ms",
    "quorum.state_rows" -> "count", "quorum.state_mb" -> "MB", "quorum.update_ms" -> "ms",
    "apply.state_rows" -> "count", "apply.state_mb" -> "MB", "apply.update_ms" -> "ms",
    "index.write_ms" -> "ms", "index.rows" -> "count", "index.rows_per_op" -> "ratio",
    "dedup.ngram_jaccard_s" -> "s", "dedup.minhash_lsh_s" -> "s", "dedup.clusters_star_s" -> "s",
    "serve.add_batch_ms" -> "ms",
    "jvm.first_step_s" -> "s", "jvm.jit_s" -> "s",
    "host.other_cpu_frac" -> "fraction")

  private def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = graft.GraftSession.builderDefaults(b, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val launchMs = opt("launch-ms").toDouble
    val rec = new Recorder(traced)

    val runSpan = rec.add("run", (launchMs * 1000).toLong, -1L, -1,
      s""""workload":${Json.str(workload)},"seed":$seed,"cores":$cores""")
    val setupStart = rec.nowUs
    val spark = rec.span("session", runSpan)(_ => session(cores, work))
    val tap = if (traced) {
      val t = new SparkTap; spark.sparkContext.addSparkListener(t); Some(t)
    } else None
    val w: Workload = workload match {
      case "cdc_quorum_tail" => new CdcWorkload(spark, work, seed, rec)
      case "neardup_batch" => new NearDupWorkload(spark, work, seed, rec)
      case "vector_serve" => new ServeWorkload(spark, work, seed, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.span("start", runSpan)(_ => w.start())

    val steps = mutable.ArrayBuffer.empty[StepRec]
    val procSnaps = mutable.ArrayBuffer.empty[(ProcCpu.Snap, ProcCpu.Snap)]
    var warm = true
    def step(large: Boolean): Unit = {
      val idx = steps.size
      val landUs = rec.nowUs
      val records = w.land(large, idx)
      val p0 = if (traced && !warm) Some(ProcCpu.snap()) else None
      val t0 = rec.nowUs
      val failed =
        try { w.run(large, idx); false }
        catch { case e: Exception =>
          System.err.println(s"[perfbench] step $idx failed: $e"); true }
      val t1 = rec.nowUs
      p0.foreach(p => procSnaps += ((p, ProcCpu.snap())))
      steps += StepRec(idx, large, warm, landUs, t0, t1, records, failed)
      val id = rec.add("step", landUs, t1, runSpan,
        s""""index":$idx,"kind":"${if (large) "large" else "small"}","warm":$warm,"records":$records""")
      rec.add("land", landUs, t0, id)
      rec.add("run", t0, t1, id)
    }
    def round(): Unit = {
      (0 until w.smallPerRound).foreach(_ => step(large = false))
      step(large = true)
    }

    (0 until w.warmRounds).foreach(_ => round())
    val timedStartUs = rec.nowUs
    val jitS = java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1000.0
    rec.add("setup", setupStart, timedStartUs, runSpan)
    val setupS = (timedStartUs / 1000.0 - launchMs) / 1000.0
    val gc0 = gcMs()
    warm = false
    do round() while (rec.nowUs - timedStartUs < seconds * 1e6)
    val gcS = (gcMs() - gc0) / 1000.0
    val timedEndUs = rec.nowUs
    rec.add("timed", timedStartUs, timedEndUs, runSpan)

    val problems = rec.span("check", runSpan)(_ => w.check())
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))

    val timed = steps.filterNot(_.warm).toSeq
    val large = timed.filter(_.large)
    val small = timed.filterNot(_.large)
    val values: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "records_per_s" -> large.map(_.records).sum / (large.map(_.ms).sum / 1000.0),
        "small_step_ms" -> Stats.median(small.map(_.ms)))
      else {
        PerfbenchBus.drain(spark.sparkContext)
        tap.foreach(_.jobs.foreach { case (id, a, b) =>
          rec.add("spark.job", a * 1000L, b * 1000L, Recorder.InStep, s""""job":$id""") })
        val spk = tap.map(t => sparkLayers(t, timed, cores)).getOrElse(Map.empty)
        val other = {
          val d = procSnaps.map { case (a, b) => (b.busy - a.busy, b.total - a.total, b.self - a.self) }
          val tot = d.map(_._2).sum
          if (tot <= 0) 0.0 else math.max(0L, d.map(_._1).sum - d.map(_._3).sum).toDouble / tot
        }
        val firstStep = steps.headOption.map(_.ms / 1000.0).getOrElse(0.0)
        spk ++ w.layers(timed) ++ Map(
          "spark.gc_s" -> gcS / math.max(1, timed.size),
          "jvm.first_step_s" -> firstStep, "jvm.jit_s" -> jitS,
          "host.other_cpu_frac" -> other)
      }
    val metrics = (if (traced) perLayer else endToEnd).map { case (n, u) =>
      (n, values.getOrElse(n, 0.0), u) }
    rec.span("shutdown", runSpan)(_ => try w.close() finally spark.stop())
    rec.end(runSpan)
    opt.get("trace-out").filter(_ => traced).foreach(rec.write)

    val attempted = steps.size
    val failed = steps.count(_.failed)
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    println(s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
  }

  /** Spark-runtime layer metrics over the timed steps, per step. */
  private def sparkLayers(tap: SparkTap, timed: Seq[StepRec], cores: Int): Map[String, Double] =
    tap.synchronized {
      def inStep(ms: Long) = timed.exists(s => ms * 1000L >= s.startUs && ms * 1000L <= s.endUs)
      val tasks = tap.tasks.filter(t => inStep(t.launchMs))
      // union of task-running intervals, to find driver-only time
      val merged = mutable.ArrayBuffer.empty[(Long, Long)]
      tap.tasks.map(t => (t.launchMs * 1000L, t.finishMs * 1000L)).sortBy(_._1).foreach { case (a, b) =>
        if (merged.nonEmpty && a <= merged.last._2)
          merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, b))
        else merged += ((a, b))
      }
      val gapUs = timed.map { s =>
        val covered = merged.map { case (a, b) =>
          math.max(0L, math.min(b, s.endUs) - math.max(a, s.startUs)) }.sum
        (s.endUs - s.startUs) - covered
      }.sum
      val n = math.max(1, timed.size).toDouble
      val wallS = timed.map(_.ms).sum / 1000.0
      val taskS = tasks.map(_.runMs).sum / 1000.0
      Map(
        "spark.jobs" -> tap.jobs.count(j => inStep(j._2)) / n,
        "spark.tasks" -> tasks.size / n,
        "spark.driver_gap_s" -> gapUs / 1e6 / n,
        "spark.task_s" -> taskS / n,
        "spark.busy_frac" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
        "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6 / n,
        "spark.spill_mb" -> tasks.map(_.spill).sum / 1e6 / n)
    }
}
