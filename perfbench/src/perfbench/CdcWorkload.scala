package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.OplogEntry
import graft.streaming.{OplogApply, OplogPipeline, QuorumDedup}

/** The oplog generator: a seeded op stream over a skewed key space in
  * two namespaces, spread over two shards. Each shard's primary holds
  * its whole oplog; each of its two secondaries holds a prefix that
  * lags the primary by up to `maxLag` entries, so the newest ops of a
  * step reach a 2-member quorum only in a later step. Clocks are
  * BSON-like: whole seconds plus an increment, 1000 ops per second. */
final class OplogGen(seed: Long) {
  val shards: Seq[String] = Seq("s0", "s1")
  val hosts: Map[String, Seq[(String, Int)]] =
    shards.map(s => s -> Seq((s"${s}a", 27017), (s"${s}b", 27018), (s"${s}c", 27019))).toMap
  val topology: String =
    shards.map(s => s + "/" + hosts(s).map { case (h, p) => s"$h:$p" }.mkString(",")).mkString(";")
  val maxLag = 150
  private val keys = 4000
  private val namespaces = Seq("bench.orders", "bench.users")
  private val t0Ms = 1704067200000L                      // 2024-01-01T00:00:00Z
  private val rnd = new java.util.SplittableRandom(seed)
  private val live = Array.fill(namespaces.size, keys)(false)
  private var clock = 0L
  private var migrations = 0L

  /** per shard: every entry with its JSON line, and member prefix lengths. */
  val log: Map[String, mutable.ArrayBuffer[(Checks.OpRec, String)]] =
    shards.map(_ -> mutable.ArrayBuffer.empty[(Checks.OpRec, String)]).toMap
  val held: Map[String, Array[Int]] = shards.map(_ -> Array(0, 0, 0)).toMap

  private def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(fields: Seq[(String, String)]) =
    fields.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
  private def word(): String =
    (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  private def emit(shard: String, op: String, ns: String, id: String, filtered: Boolean,
      fromMigrate: Boolean, o: String, o2: Option[String], fields: Map[String, String]): Unit = {
    val ms = t0Ms + (clock / 1000L) * 1000L
    val inc = (clock % 1000L).toInt + 1
    clock += 1
    val line = obj(Seq(
      "ts" -> js(java.time.Instant.ofEpochMilli(ms).toString),
      "tsInc" -> inc.toString, "h" -> rnd.nextLong().toString,
      "op" -> js(op), "ns" -> js(ns)) ++
      (if (fromMigrate) Seq("fromMigrate" -> "true") else Nil) ++
      Seq("o" -> js(o)) ++ o2.map(v => "o2" -> js(v)).toSeq)
    log(shard) += ((Checks.OpRec(ms * 1000L, inc, op, ns, id, filtered, 0, fields), line))
  }

  private def nextOp(): Unit = {
    val u = rnd.nextDouble()
    if (u < 0.08) {                                      // entries the static filter drops
      val shard = shards(rnd.nextInt(shards.size))
      u match {
        case _ if u < 0.03 =>
          emit(shard, "n", "", "", filtered = true, fromMigrate = false,
            obj(Seq("msg" -> js("periodic noop"))), None, Map.empty)
        case _ if u < 0.055 =>
          val host = hosts(shard)(0)._1
          emit(shard, "u", "time_d.repl_time", host, filtered = true, fromMigrate = false,
            obj(Seq("$set" -> obj(Seq("ts" -> clock.toString)))),
            Some(obj(Seq("_id" -> js(host)))), Map.empty)
        case _ =>
          migrations += 1
          val id = s"mig-$migrations"
          emit(shard, "i", namespaces(rnd.nextInt(namespaces.size)), id, filtered = true,
            fromMigrate = true, obj(Seq("_id" -> js(id), "n" -> "0")), None, Map.empty)
      }
    } else {
      val n = rnd.nextInt(namespaces.size)
      val k = (keys * math.pow(rnd.nextDouble(), 2.0)).toInt   // skewed key choice
      val ns = namespaces(n)
      val id = s"k$k"
      val shard = shards((n * keys + k) % shards.size)
      if (!live(n)(k)) {
        val f = Seq("_id" -> js(id), "n" -> rnd.nextInt(1000000).toString,
          "s" -> js(word()), "c" -> rnd.nextInt(100).toString)
        live(n)(k) = true
        emit(shard, "i", ns, id, filtered = false, fromMigrate = false, obj(f), None, f.toMap)
      } else if (rnd.nextDouble() < 0.8) {
        val f = (0 until 1 + rnd.nextInt(2)).map { _ =>
          val name = Seq("n", "c", "f0", "f1", "f2")(rnd.nextInt(5))
          name -> (if (name == "n" || name == "c") rnd.nextInt(1000000).toString else js(word()))
        }.toMap.toSeq.sortBy(_._1)
        emit(shard, "u", ns, id, filtered = false, fromMigrate = false,
          obj(Seq("$set" -> obj(f))), Some(obj(Seq("_id" -> js(id)))), f.toMap)
      } else {
        live(n)(k) = false
        emit(shard, "d", ns, id, filtered = false, fromMigrate = false,
          obj(Seq("_id" -> js(id))), None, Map.empty)
      }
    }
  }

  /** Append `ops` new entries, move the secondaries' prefixes, and
    * return each member's newly held lines plus the number of
    * unfiltered ops that newly reach a 2-member quorum. */
  def advance(ops: Int): (Seq[(String, Int, Seq[String])], Long) = {
    val before = shards.map(s => s -> held(s).clone()).toMap
    (0 until ops).foreach(_ => nextOp())
    var quorate = 0L
    val out = shards.flatMap { s =>
      val h = held(s)
      val n = log(s).size
      h(0) = n
      (1 to 2).foreach(i => h(i) = math.max(h(i), n - rnd.nextInt(maxLag + 1)))
      val q0 = math.max(before(s)(1), before(s)(2))
      val q1 = math.max(h(1), h(2))
      quorate += (q0 until q1).count(i => !log(s)(i)._1.filtered)
      (0 to 2).map(i => (s, i, (before(s)(i) until h(i)).map(j => log(s)(j)._2)))
    }
    (out, quorate)
  }

  /** every entry with its final copy count. */
  def opRecs: Seq[Checks.OpRec] = shards.flatMap { s =>
    val h = held(s)
    log(s).iterator.zipWithIndex.map { case ((o, _), i) => o.copy(copies = h.count(_ > i)) }
  }
}

/** cdc_quorum_tail: one long-running query over the DSv2 oplog
  * connector (2 shards × 3 members): static filter → quorum dedup at
  * depth 2 → apply to current state → index sink in foreachBatch. */
final class CdcWorkload(spark: SparkSession, work: String, seed: Long, rec: Recorder)
    extends Workload {
  val smallPerRound = 6
  val warmRounds = 1
  private val smallOps = 200
  private val largeOps = 10000
  private val depth = 2
  // covers the largest lag: maxLag entries of one shard ≈ 2·maxLag ops ≈ 0.3 s of clock
  private val lateness = "2 seconds"

  private val gen = new OplogGen(seed)
  private val root = s"$work/oplog"
  private val indexRoot = s"$work/index"
  private val ckpt = s"$work/checkpoint"
  private var query: StreamingQuery = _
  private val quorateByStep = mutable.HashMap.empty[Int, Long]
  private val batchStep = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  @volatile private var curStep = -1

  def start(): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // the quorum stage emits ops up to the lag behind the watermark; the
    // lateness covers that lag, so no row reaching the apply stage is late
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    QuorumDedup.ensureStateFormat(spark, ckpt)
    val src = OplogPipeline.connectorSource(spark, root, gen.topology)
    val deduped = QuorumDedup(
      OplogPipeline.staticFilter(src).withWatermark("ts", lateness).as[OplogEntry], depth)
    val applied = OplogApply.currentState(deduped, lateness)
    query = applied.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[OplogApply.DocState], batchId: Long) =>
        batchStep.put(batchId, curStep)
        val t0 = rec.nowUs
        OplogPipeline.writeIndexBatch(b.toDF(), indexRoot, batchId)
        val t1 = rec.nowUs
        rec.sample("index.write_ms", t1, (t1 - t0) / 1000.0)
        rec.add("index.write", t0, t1, Recorder.InStep, s""""batch":$batchId""")
        ()
      }
      .start()
  }

  def land(large: Boolean, step: Int): Long = {
    val (files, quorate) = gen.advance(if (large) largeOps else smallOps)
    quorateByStep(step) = quorate
    val staged = files.filter(_._3.nonEmpty).map { case (s, i, lines) =>
      val (host, port) = gen.hosts(s)(i)
      val dir = new File(graft.sources.OplogConnector.memberDir(root, s, host, port))
      dir.mkdirs()
      val tmp = new File(dir, s"b$step.json.tmp")
      Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      (tmp, new File(dir, s"b$step.json"), lines.size)
    }
    // publish every member's file back to back, after all are written
    staged.foreach { case (tmp, dst, _) =>
      Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE) }
    curStep = step
    staged.map(_._3.toLong).sum
  }

  def run(large: Boolean, step: Int): Unit = query.processAllAvailable()

  def check(): Seq[String] = {
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def fields(json: String): Map[String, String] =
      if (json == null || json.isEmpty) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        mapper.readTree(json).fields().asScala.map(e => e.getKey -> e.getValue.toString).toMap
      }
    val lines = graft.sources.IndexSink.readCommitted(spark, s"$indexRoot/oplog")
      .select($"value", org.apache.spark.sql.functions.input_file_name()).as[(String, String)].collect()
    indexLinesPerBatch = lines.toSeq.groupBy { case (_, f) =>
      "batch=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong).getOrElse(-1L) }
      .map { case (b, ls) => b -> ls.size.toLong }
    val rows = lines.toSeq.map { case (l, _) =>
      val d = mapper.readTree(l).get("data")
      Checks.IndexRow(d.get("ns").asText(), d.get("docId").asText(), d.get("op").asText(),
        d.get("tsUs").asLong(), d.get("tsInc").asInt(), fields(d.get("doc").asText()))
    }
    Checks.cdc(gen.opRecs, depth, rows)
  }
  private var indexLinesPerBatch = Map.empty[Long, Long]

  def layers(timed: Seq[StepRec]): Map[String, Double] = {
    val ps = Progress.inSteps(query, timed)
    Progress.spans(rec, ps)
    // stateOperators lists the plan's state stores root first: apply, then quorum
    def op(i: Int) = ps.filter(_.stateOperators.length == 2).map(_.stateOperators(i))
    val last = ps.reverse.find(_.stateOperators.length == 2)
    val timedIds = timed.map(_.index).toSet
    val indexByStep = indexLinesPerBatch.toSeq.collect {
      case (b, n) if timedIds.contains(batchStep.getOrDefault(b, -1)) => n }.sum
    val quorate = timed.map(s => quorateByStep.getOrElse(s.index, 0L)).sum
    Progress.engine(ps, timed) ++ Map(
      "connector.offset_ms" -> Stats.median(ps.map(Progress.dur(_, "latestOffset"))),
      "quorum.commit_ms" -> Stats.median(op(1).map(_.commitTimeMs.toDouble)),
      "apply.commit_ms" -> Stats.median(op(0).map(_.commitTimeMs.toDouble)),
      "quorum.update_ms" -> Stats.median(op(1).map(_.allUpdatesTimeMs.toDouble)),
      "apply.update_ms" -> Stats.median(op(0).map(_.allUpdatesTimeMs.toDouble)),
      "quorum.state_rows" -> last.map(_.stateOperators(1).numRowsTotal.toDouble).getOrElse(0.0),
      "quorum.state_mb" -> last.map(_.stateOperators(1).memoryUsedBytes / 1e6).getOrElse(0.0),
      "apply.state_rows" -> last.map(_.stateOperators(0).numRowsTotal.toDouble).getOrElse(0.0),
      "apply.state_mb" -> last.map(_.stateOperators(0).memoryUsedBytes / 1e6).getOrElse(0.0),
      "index.write_ms" -> Stats.median(rec.samplesIn("index.write_ms", timed)),
      "index.rows" -> indexByStep.toDouble / math.max(1, timed.size),
      "index.rows_per_op" -> (if (quorate > 0) indexByStep.toDouble / quorate else 0.0))
  }

  def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}
