package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{MmrHit, MmrServeStream}

/** Seeded clustered `embeddings` corpus and query vectors near it.
  * Vector i belongs to cluster i mod 16, so the serve's 16-cell codebook
  * (the 16 lowest vec_ids) holds one member of each cluster and every
  * cell is about the same size, whatever the seed. */
final class VecGen(seed: Long) {
  val dim = 64
  private val clusters = 16
  private val rnd = new java.util.SplittableRandom(seed)
  private val centers = Array.fill(clusters, dim)(rnd.nextGaussian())
  def near(c: Int): Array[Float] = centers(c).map(x => (x + 0.35 * rnd.nextGaussian()).toFloat)
  def corpus(n: Int): Seq[(Long, Array[Float], Int)] =
    (0 until n).map(i => (i.toLong, near(i % clusters), i % clusters))
  def query(): Array[Float] = near(rnd.nextInt(clusters))
}

object VecGen {
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** one single-file parquet dataset of (vec_id, embedding, label). */
  def write(spark: SparkSession, rows: Seq[(Long, Array[Float], Int)], path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, v, l) => Row(id, v.toSeq, l) }, 1), schema)
      .write.mode("overwrite").parquet(path)
}

/** vector_serve: one long-running MmrServeStream.serve query over a
  * parquet file stream; each step lands one file of query vectors with
  * fresh ids. */
final class ServeWorkload(spark: SparkSession, work: String, seed: Long, rec: Recorder)
    extends Workload {
  val smallPerRound = 6
  val warmRounds = 1
  private val corpusSize = 4000
  private val smallQueries = 8
  private val largeQueries = 400
  private val kOut = 5

  private val gen = new VecGen(seed)
  private val corpusDir = s"$work/corpus"
  private val streamDir = s"$work/queries"
  private val stageDir = s"$work/stage"
  private val ckpt = s"$work/checkpoint"
  private var corpus: Map[Long, Array[Float]] = Map.empty
  private val sent = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val hits = new java.util.concurrent.ConcurrentLinkedQueue[Checks.Hit]()
  private var nextQid = 1000000000L
  private var query: StreamingQuery = _

  def start(): Unit = {
    val rows = gen.corpus(corpusSize)
    corpus = rows.map(r => r._1 -> r._2).toMap
    VecGen.write(spark, rows, s"$corpusDir/embeddings.parquet")
    new File(streamDir).mkdirs()
    val src = graft.Tables.loadStream(spark, streamDir, "embeddings",
      s"$corpusDir/embeddings.parquet")
    query = MmrServeStream.serve(src, corpusDir, kOut = kOut)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[MmrHit], _: Long) =>
        b.collect().foreach(h => hits.add((h.qid, h.step, h.vec_id, h.mmr_score)))
      }
      .start()
  }

  def land(large: Boolean, step: Int): Long = {
    val n = if (large) largeQueries else smallQueries
    val qs = (0 until n).map { _ => nextQid += 1; (nextQid, gen.query(), -1) }
    qs.foreach { case (id, v, _) => sent(id) = v }
    val stage = s"$stageDir/q$step"
    VecGen.write(spark, qs, stage)
    val part = new File(stage).listFiles.find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(streamDir, s"q$step.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    n.toLong
  }

  def run(large: Boolean, step: Int): Unit = query.processAllAvailable()

  def check(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Checks.serve(sent, corpus, hits.asScala.toSeq, kOut)
  }

  def layers(timed: Seq[StepRec]): Map[String, Double] = {
    val ps = Progress.inSteps(query, timed)
    Progress.spans(rec, ps)
    Progress.engine(ps, timed) ++ Map(
      "serve.add_batch_ms" -> Stats.median(ps.filter(_.numInputRows > 0)
        .map(Progress.dur(_, "addBatch"))))
  }

  def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}
