package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded `documents` corpus, built in blocks of 100 documents with a
  * fixed make-up so every seed carries the same amount of near-dup work:
  *  - 3 planted clusters of 2, 3 and 4 members; each member replaces the
  *    first and last token of a 40..89-token base text (pairwise J >= 0.9);
  *  - 2 planted pairs of 101-token texts sharing a 64..72-token prefix,
  *    so their Jaccard lands just below, on, or just above 0.5;
  *  - 87 background documents of 20..79 tokens drawn from a skewed
  *    30,000-word vocabulary (pairwise Jaccard far below 0.5).
  * Doc ids are a seeded shuffle, so planted members are not adjacent. */
object DocGen {
  def corpus(seed: Long, docs: Int): Seq[(Long, String)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 30000)
        seen += (0 until 3 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    def tok(): String = vocab((vocab.size * math.pow(rnd.nextDouble(), 2.0)).toInt)
    def fresh(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val texts = mutable.ArrayBuffer.empty[Seq[String]]
    while (texts.size < docs) {
      Seq(2, 3, 4).foreach { size =>
        val base = fresh(40 + rnd.nextInt(50))
        (0 until size).foreach(_ => texts += (fresh(1) ++ base.slice(1, base.size - 1) ++ fresh(1)))
      }
      (0 until 2).foreach { _ =>
        val m = 64 + rnd.nextInt(9)                       // J >= 0.5 iff m >= 68
        val a = fresh(101)
        texts += a
        texts += a.take(m) ++ fresh(101 - m)
      }
      (0 until 87).foreach(_ => texts += Seq.fill(20 + rnd.nextInt(60))(tok()))
    }
    val ids = (0 until texts.size).map(_.toLong).toArray
    var i = ids.length - 1
    while (i > 0) {                                       // seeded shuffle of doc ids
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
    }
    texts.indices.map(k => (ids(k), texts(k).mkString(" "))).take(docs).sortBy(_._1)
  }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def write(spark: SparkSession, docs: Seq[(Long, String)], dir: String): Unit = {
    val rows = docs.map { case (id, t) =>
      Row(id, t, if (id % 5 == 0) "de" else "en", s"src${id % 7}", t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

/** neardup_batch: each step runs dedup_ngram_jaccard, dedup_minhash_lsh
  * and dedup_clusters_star through SparkEntry.queries and collects
  * them — over the large corpus on large steps, the small corpus on
  * small steps. */
final class NearDupWorkload(spark: SparkSession, work: String, seed: Long, rec: Recorder)
    extends Workload {
  val smallPerRound = 1
  val warmRounds = 1
  private val largeDocs = 3000
  private val smallDocs = 300
  private val names = Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_clusters_star")

  private val dirs = Map(true -> s"$work/docs_large", false -> s"$work/docs_small")
  private var corpora: Map[Boolean, Seq[(Long, String)]] = Map.empty
  /** every step's collected outputs, checked after the run. */
  private val outputs = mutable.ArrayBuffer.empty[(Boolean, Map[String, Array[Row]])]
  private val queryS = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]

  def start(): Unit = {
    corpora = Map(true -> DocGen.corpus(seed, largeDocs),
      false -> DocGen.corpus(seed * 31 + 7, smallDocs))
    corpora.foreach { case (large, docs) => DocGen.write(spark, docs, dirs(large)) }
  }

  def land(large: Boolean, step: Int): Long = corpora(large).size.toLong

  def run(large: Boolean, step: Int): Unit = {
    val out = names.map { n =>
      val t0 = rec.nowUs
      val rows = graft.SparkEntry.queries(n)(spark, dirs(large)).collect()
      val t1 = rec.nowUs
      rec.add(n, t0, t1, Recorder.InStep)
      if (large) queryS.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ((step, (t1 - t0) / 1e6))
      n -> rows
    }.toMap
    outputs += ((large, out))
  }

  def check(): Seq[String] = {
    val expected = corpora.map { case (large, docs) => large -> Checks.exactPairs(docs) }
    def pairs(rs: Array[Row]) = rs.toSeq.map(r =>
      (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("inter_size"), r.getAs[Long]("union_size")))
    outputs.zipWithIndex.flatMap { case ((large, out), i) =>
      Checks.neardup(expected(large), pairs(out(names(0))), pairs(out(names(1))),
        out(names(2)).toSeq.map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("cluster_size"))))
        .map(p => s"step $i (${if (large) "large" else "small"}): $p")
    }.toSeq
  }

  def layers(timed: Seq[StepRec]): Map[String, Double] = {
    val ids = timed.map(_.index).toSet
    def med(n: String) = Stats.median(queryS.getOrElse(n, mutable.ArrayBuffer.empty)
      .collect { case (s, v) if ids.contains(s) => v }.toSeq)
    Map("dedup.ngram_jaccard_s" -> med(names(0)), "dedup.minhash_lsh_s" -> med(names(1)),
      "dedup.clusters_star_s" -> med(names(2)))
  }

  def close(): Unit = ()
}
