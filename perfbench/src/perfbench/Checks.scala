package perfbench

import scala.collection.mutable

/** Output checks, each against a computation made here in plain Scala
  * from the generated inputs — never against saved program output.
  * Every check returns the list of problems it found (empty = pass). */
object Checks {

  private def cap(ps: Seq[String], n: Int = 8): Seq[String] =
    if (ps.size <= n) ps else ps.take(n) :+ s"... ${ps.size - n} more"

  // ------------------------------------------------------------------
  // cdc_quorum_tail
  // ------------------------------------------------------------------

  /** One oplog entry as the generator wrote it. `copies` is how many
    * replica members hold it at the end of the run; `filtered` marks
    * the entries the static filter must drop (no-ops, offset-table
    * writes, migration copies). `fields` are the insert payload or the
    * `$set` fields, as JSON-encoded scalar values. */
  final case class OpRec(tsUs: Long, inc: Int, op: String, ns: String, id: String,
      filtered: Boolean, copies: Int, fields: Map[String, String])

  /** One committed index row: the materialized document state. */
  final case class IndexRow(ns: String, docId: String, op: String, tsUs: Long,
      inc: Int, doc: Map[String, String])

  /** Expected current state: fold, in clock order, every unfiltered op
    * held by at least `depth` members. Value: (clock, op, doc) of the
    * key's last op; the doc is the insert payload with `$set` fields
    * merged in clock order. */
  def foldQuorate(ops: Seq[OpRec], depth: Int):
      Map[(String, String), (Long, Int, String, Map[String, String])] = {
    val st = mutable.HashMap.empty[(String, String), (Long, Int, String, Map[String, String])]
    ops.filter(o => !o.filtered && o.copies >= depth)
      .sortBy(o => (o.tsUs, o.inc))
      .foreach { o =>
        val k = (o.ns, o.id)
        val doc = o.op match {
          case "i" => o.fields
          case "u" => st.get(k).filter(_._3 != "d").map(_._4).getOrElse(Map.empty) ++ o.fields
          case _ => Map.empty[String, String]
        }
        st(k) = (o.tsUs, o.inc, o.op, doc)
      }
    st.toMap
  }

  def cdc(ops: Seq[OpRec], depth: Int, index: Seq[IndexRow]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val expected = foldQuorate(ops, depth)
    val latest = mutable.HashMap.empty[(String, String), IndexRow]
    index.foreach { r =>
      val k = (r.ns, r.docId)
      latest.get(k) match {
        case Some(p) if p.tsUs > r.tsUs || (p.tsUs == r.tsUs && p.inc >= r.inc) => ()
        case _ => latest(k) = r
      }
    }
    val expLive = expected.keySet.filter(k => expected(k)._3 != "d")
    val gotLive = latest.keySet.filter(k => latest(k).op != "d").toSet
    (expLive -- gotLive).toSeq.sorted.foreach(k => problems += s"live key missing from index: $k")
    (gotLive -- expLive).toSeq.sorted.foreach(k => problems += s"index holds a key that is not live: $k")
    (expected.keySet ++ latest.keySet).toSeq.sorted.foreach { k =>
      (expected.get(k), latest.get(k)) match {
        case (Some(e), Some(r)) =>
          if ((e._1, e._2, e._3) != ((r.tsUs, r.inc, r.op)))
            problems += s"key $k: index clock/op ${(r.tsUs, r.inc, r.op)} != expected ${(e._1, e._2, e._3)}"
          else if (e._3 != "d" && e._4 != r.doc)
            problems += s"key $k: index doc ${r.doc} != expected ${e._4}"
        case (Some(e), None) if e._3 == "d" => problems += s"key $k: tombstone ${(e._1, e._2)} missing"
        case (Some(_), None) => ()                  // reported above as a missing live key
        case (None, Some(r)) => problems += s"key $k in index but no quorate op touches it"
        case (None, None) => ()
      }
    }
    val forbidden = ops.filter(o => o.filtered || o.copies < depth)
      .map(o => (o.tsUs, o.inc) -> o).toMap
    index.foreach { r =>
      forbidden.get((r.tsUs, r.inc)).foreach { o =>
        problems += s"index row ${(r.ns, r.docId, r.tsUs, r.inc)} comes from a " +
          (if (o.filtered) "filtered entry" else s"op held by ${o.copies} member(s)")
      }
    }
    cap(problems.toSeq)
  }

  // ------------------------------------------------------------------
  // neardup_batch
  // ------------------------------------------------------------------

  /** Distinct space-joined 3-word shingles of a text. */
  def shingles(text: String): Set[String] = {
    val t = text.split(' ').filter(_.nonEmpty)
    if (t.length < 3) Set.empty
    else (0 until t.length - 2).iterator.map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  /** Exact pairs with Jaccard >= 1/2 (`3·inter >= n1+n2`), d1 < d2:
    * (d1, d2) -> (inter, union). */
  def exactPairs(docs: Seq[(Long, String)]): Map[(Long, Long), (Long, Long)] = {
    val sets = docs.map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty).sortBy(_._1)
    val post = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val out = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    sets.indices.foreach { i =>
      val (id, s) = sets(i)
      val inter = mutable.HashMap.empty[Int, Int]
      s.foreach { sh =>
        val b = post.getOrElseUpdate(sh, mutable.ArrayBuffer.empty)
        b.foreach(j => inter(j) = inter.getOrElse(j, 0) + 1)
        b += i
      }
      inter.foreach { case (j, n) =>
        val n1 = sets(j)._2.size
        val n2 = s.size
        if (3L * n >= n1 + n2) out((sets(j)._1, id)) = (n.toLong, (n1 + n2 - n).toLong)
      }
    }
    out.toMap
  }

  /** Union-find components over `pairs`: doc -> (smallest id, size). */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, (Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = parent.keys.map(v => v -> find(v)).toMap
    val size = lab.values.groupBy(identity).map { case (l, vs) => l -> vs.size.toLong }
    lab.map { case (v, l) => v -> (l, size(l)) }
  }

  type Pair = (Long, Long, Long, Long)          // d1, d2, inter, union
  type Member = (Long, Long, Long)              // canonical_id, doc_id, cluster_size

  def neardup(expected: Map[(Long, Long), (Long, Long)], ngram: Seq[Pair],
      minhash: Seq[Pair], clusters: Seq[Member]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def asMap(name: String, rows: Seq[Pair]) = {
      val m = rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      if (m.size != rows.size) problems += s"$name: ${rows.size - m.size} duplicated pair row(s)"
      m
    }
    val ng = asMap("dedup_ngram_jaccard", ngram)
    (expected.keySet -- ng.keySet).toSeq.sorted.take(5)
      .foreach(k => problems += s"dedup_ngram_jaccard misses pair $k ${expected(k)}")
    (ng.keySet -- expected.keySet).toSeq.sorted.take(5)
      .foreach(k => problems += s"dedup_ngram_jaccard has extra pair $k ${ng(k)}")
    (ng.keySet & expected.keySet).toSeq.sorted.filter(k => ng(k) != expected(k)).take(5)
      .foreach(k => problems += s"dedup_ngram_jaccard pair $k sizes ${ng(k)} != ${expected(k)}")
    val mh = asMap("dedup_minhash_lsh", minhash)
    mh.toSeq.sortBy(_._1).filter { case (k, v) => !expected.get(k).contains(v) }.take(5)
      .foreach { case (k, v) => problems += s"dedup_minhash_lsh pair $k $v is not an exact pair" }
    expected.toSeq.sortBy(_._1)
      .filter { case (k, (i, u)) => 10 * i >= 9 * u && !mh.contains(k) }.take(5)
      .foreach { case (k, v) => problems += s"dedup_minhash_lsh misses J>=0.9 pair $k $v" }
    val want = components(mh.keys).map { case (v, (l, n)) => (l, v, n) }.toSet
    val got = clusters.toSet
    if (got.size != clusters.size) problems += "dedup_clusters_star: duplicated member rows"
    (want -- got).toSeq.sorted.take(5)
      .foreach(m => problems += s"dedup_clusters_star misses member row $m")
    (got -- want).toSeq.sorted.take(5)
      .foreach(m => problems += s"dedup_clusters_star has unexpected member row $m")
    cap(problems.toSeq)
  }

  // ------------------------------------------------------------------
  // vector_serve
  // ------------------------------------------------------------------

  type Hit = (Long, Int, Long, Long)            // qid, step, vec_id, mmr_score

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  def microHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(1e6 * x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  def serve(sent: collection.Map[Long, Array[Float]], corpus: collection.Map[Long, Array[Float]],
      hits: Seq[Hit], kOut: Int): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val byQ = hits.groupBy(_._1)
    (byQ.keySet -- sent.keySet).toSeq.sorted.take(5)
      .foreach(q => problems += s"hits for query $q that was never sent")
    sent.keys.toSeq.sorted.foreach { q =>
      val hs = byQ.getOrElse(q, Seq.empty).sortBy(_._2)
      if (hs.map(_._2) != (1 to kOut))
        problems += s"query $q: steps ${hs.map(_._2).mkString(",")} != 1..$kOut"
      else if (hs.map(_._3).distinct.size != kOut)
        problems += s"query $q: hits are not distinct: ${hs.map(_._3).mkString(",")}"
      else hs.find(h => !corpus.contains(h._3)) match {
        case Some(h) => problems += s"query $q: hit ${h._3} is not in the corpus"
        case None =>
          val qv = sent(q)
          val cos = hs.map(h => cosine(qv, corpus(h._3)))
          val want = 10L * microHalfUp(cos.head)
          if (math.abs(hs.head._4 - want) > 10L)
            problems += s"query $q: step-1 mmr_score ${hs.head._4} != 10*round(1e6*cos) = $want"
          if (cos.tail.exists(_ > cos.head + 1e-12))
            problems += s"query $q: step-1 cosine ${cos.head} is below another hit's ${cos.max}"
      }
    }
    cap(problems.toSeq)
  }
}
