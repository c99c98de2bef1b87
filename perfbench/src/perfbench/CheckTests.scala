package perfbench

/** Tests of the benchmark's own output checks: each check passes on a
  * correct output and fails on each corruption of it. Run with
  * `python3 perfbench/test_checks.py`; exits non-zero on any failure. */
object CheckTests {
  private var failures = 0

  private def expect(name: String, problems: Seq[String], shouldFail: Boolean): Unit = {
    val ok = problems.nonEmpty == shouldFail
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name" +
      (if (problems.nonEmpty) s"  [${problems.head}]" else ""))
  }

  private def cdc(): Unit = {
    import Checks.{IndexRow, OpRec}
    def ins(t: Long, id: String, n: String) =
      OpRec(t, 1, "i", "db.c", id, filtered = false, 3, Map("_id" -> s""""$id"""", "n" -> n))
    val ops = Seq(
      ins(1, "a", "1"),
      ins(2, "b", "2"),
      OpRec(3, 1, "u", "db.c", "a", filtered = false, 2, Map("n" -> "5", "f" -> "\"x\"")),
      OpRec(4, 1, "d", "db.c", "b", filtered = false, 3, Map.empty),
      ins(5, "c", "7"),
      OpRec(6, 1, "n", "", "", filtered = true, 3, Map.empty),
      OpRec(7, 1, "u", "db.c", "c", filtered = false, 1, Map("n" -> "9")))
    val good = Seq(
      IndexRow("db.c", "a", "i", 1, 1, Map("_id" -> "\"a\"", "n" -> "1")),
      IndexRow("db.c", "b", "i", 2, 1, Map("_id" -> "\"b\"", "n" -> "2")),
      IndexRow("db.c", "a", "u", 3, 1, Map("_id" -> "\"a\"", "n" -> "5", "f" -> "\"x\"")),
      IndexRow("db.c", "b", "d", 4, 1, Map.empty),
      IndexRow("db.c", "c", "i", 5, 1, Map("_id" -> "\"c\"", "n" -> "7")))
    expect("cdc: correct index passes", Checks.cdc(ops, 2, good), shouldFail = false)
    expect("cdc: dropped key fails", Checks.cdc(ops, 2, good.filterNot(_.docId == "c")), shouldFail = true)
    expect("cdc: stale clock fails",
      Checks.cdc(ops, 2, good.filterNot(r => r.docId == "a" && r.op == "u")), shouldFail = true)
    expect("cdc: wrong merged doc fails",
      Checks.cdc(ops, 2, good.map(r => if (r.tsUs == 3) r.copy(doc = r.doc - "f") else r)),
      shouldFail = true)
    expect("cdc: op held by one member fails",
      Checks.cdc(ops, 2, good :+ IndexRow("db.c", "c", "u", 7, 1, Map("_id" -> "\"c\"", "n" -> "9"))),
      shouldFail = true)
    expect("cdc: filtered entry fails",
      Checks.cdc(ops, 2, good :+ IndexRow("", "", "n", 6, 1, Map.empty)), shouldFail = true)
  }

  private def neardup(): Unit = {
    val base = (1 to 80).map(i => s"t$i")
    val docs = Seq(
      1L -> base.mkString(" "),
      2L -> base.updated(10, "zz").mkString(" "),        // J >= 0.9 with 1 and 3
      3L -> base.updated(30, "yy").mkString(" "),
      4L -> (base.take(54) ++ (1 to 26).map(i => s"u$i")).mkString(" "),  // J = 0.5 with 1
      5L -> (1 to 80).map(i => s"v$i").mkString(" "))
    val exp = Checks.exactPairs(docs)
    val pairs = exp.toSeq.sortBy(_._1).map { case ((a, b), (i, u)) => (a, b, i, u) }
    val lsh = pairs.filter(p => 10 * p._3 >= 9 * p._4)
    val clusters = Checks.components(lsh.map(p => (p._1, p._2)))
      .toSeq.map { case (v, (l, n)) => (l, v, n) }
    expect("neardup: exact pairs found (4 pairs)", if (exp.size == 4) Nil else Seq(s"${exp.size}"),
      shouldFail = false)
    expect("neardup: correct outputs pass", Checks.neardup(exp, pairs, lsh, clusters), shouldFail = false)
    expect("neardup: extra pair fails",
      Checks.neardup(exp, pairs :+ ((1L, 5L, 0L, 156L)), lsh, clusters), shouldFail = true)
    expect("neardup: missing pair fails", Checks.neardup(exp, pairs.tail, lsh, clusters), shouldFail = true)
    expect("neardup: minhash missing J>=0.9 pair fails",
      Checks.neardup(exp, pairs, lsh.tail, clusters), shouldFail = true)
    val split = clusters.map { case (l, v, n) => if (v == 3L) (3L, 3L, 1L) else (l, v, n - 1) }
    expect("neardup: split cluster fails", Checks.neardup(exp, pairs, lsh, split), shouldFail = true)
  }

  private def serve(): Unit = {
    val rnd = new java.util.SplittableRandom(7)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val corpus = (0 until 12).map(i => i.toLong -> vec()).toMap
    val sent = Map(100L -> vec(), 101L -> vec())
    val hits = sent.toSeq.flatMap { case (q, qv) =>
      val ranked = corpus.toSeq.sortBy { case (id, v) => (-Checks.cosine(qv, v), id) }.take(5)
      ranked.zipWithIndex.map { case ((id, v), i) =>
        (q, i + 1, id, if (i == 0) 10L * Checks.microHalfUp(Checks.cosine(qv, v)) else 0L) }
    }
    expect("serve: correct hits pass", Checks.serve(sent, corpus, hits, 5), shouldFail = false)
    expect("serve: missing hit fails",
      Checks.serve(sent, corpus, hits.filterNot(h => h._1 == 100L && h._2 == 3), 5), shouldFail = true)
    val dup = hits.map(h => if (h._1 == 101L && h._2 == 4) h.copy(_3 = hits.find(x => x._1 == 101L && x._2 == 2).get._3) else h)
    expect("serve: duplicated hit fails", Checks.serve(sent, corpus, dup, 5), shouldFail = true)
    expect("serve: wrong step-1 score fails",
      Checks.serve(sent, corpus, hits.map(h => if (h._2 == 1) h.copy(_4 = h._4 + 40) else h), 5),
      shouldFail = true)
    expect("serve: query without hits fails",
      Checks.serve(sent, corpus, hits.filterNot(_._1 == 101L), 5), shouldFail = true)
  }

  def main(args: Array[String]): Unit = {
    cdc(); neardup(); serve()
    println(if (failures == 0) "all check tests passed" else s"$failures check test(s) failed")
    if (failures != 0) sys.exit(1)
  }
}
