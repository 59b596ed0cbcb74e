package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import graft.datasets.JudgmentDataset

/** The checks must pass a correct result and fail a corrupted one.
  * Runs without Spark; exits 1 on the first check that does not.
  *
  *   java -cp CLASSES:SPARK_JARS perfbench.SelfTest
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }
    else println(s"ok: $what")

  def main(args: Array[String]): Unit = {
    bm25()
    cosine()
    ivf()
    export()
    corpus()
    if (failures > 0) sys.exit(1)
  }

  private def bm25(): Unit = {
    val docs = Seq(1L -> "gericht klage urteil gericht", 2L -> "klage frist kosten",
      3L -> "urteil kosten gericht", 4L -> "frist frist klage", 5L -> "kanton urteil")
    val o = new Checks.Bm25Oracle(docs)
    val terms = Seq("gericht", "frist")
    val good = o.topK(terms, 3)
    expect("bm25 oracle ranks the matching docs", good.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    expect("bm25 accepts the exact answer", o.mismatch(terms, 3, good).isEmpty)
    expect("bm25 rejects a changed score",
      o.mismatch(terms, 3, good.updated(0, good.head._1 -> (good.head._2 + 0.01))).isDefined)
    expect("bm25 rejects a dropped hit", o.mismatch(terms, 3, good.dropRight(1)).isDefined)
    expect("bm25 rejects a swapped order", o.mismatch(terms, 3, good.reverse).isDefined)
  }

  private def cosine(): Unit = {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => i -> Array.fill(8)(rnd.nextGaussian()))
    val o = new Checks.CosineOracle(vecs)
    val q = Array.fill(8)(rnd.nextGaussian())
    def cos(v: Array[Double]) = {
      val d = v.zip(q).map { case (a, b) => a * b }.sum
      d / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
    }
    val exact = vecs.map { case (id, v) => id -> cos(v) }.sortBy { case (id, c) => (-c, id) }.take(5)
    val (ok, recall) = o.check(q, 5, exact)
    expect("ann accepts the exact top-5 with recall 1", ok.isEmpty && recall == 1.0)
    expect("ann rejects a wrong score",
      o.check(q, 5, exact.updated(2, exact(2)._1 -> (exact(2)._2 - 0.1)))._1.isDefined)
    expect("ann rejects a short answer", o.check(q, 5, exact.take(4))._1.isDefined)
    expect("ann rejects a wrong rank order", o.check(q, 5, exact.reverse)._1.isDefined)
    val worse = exact.take(4) :+ vecs.map { case (id, v) => id -> cos(v) }.sortBy(_._2).head
    val (ok2, r2) = o.check(q, 5, worse.sortBy(-_._2))
    expect("ann scores a true-but-worse hit as lower recall", ok2.isEmpty && r2 == 0.8)
  }

  private def ivf(): Unit = {
    val rnd = new scala.util.Random(11)
    val cents = (0L until 6L).map { c =>
      val cv = Array.fill(8)(rnd.nextGaussian())
      (c, cv, cv.map(x => x * x).sum)
    }
    val vecs = (0L until 300L).map { i =>
      i -> cents((i % 6).toInt)._2.map(_ + 0.6 * rnd.nextGaussian())
    }
    val o = new Checks.IvfOracle(vecs, cents, 2)
    val q = cents(1)._2.map(_ + 0.3 * rnd.nextGaussian())
    val exact = o.topK(q, 10)
    expect("ivf accepts the exact IVF answer", o.mismatch(q, 10, exact).isEmpty)
    // a store that lost one generation: the same answer over half the vectors
    val halfGen = new Checks.IvfOracle(vecs.filter(_._1 % 2 == 0), cents, 2).topK(q, 10)
    expect("ivf rejects an answer missing a generation", o.mismatch(q, 10, halfGen).isDefined)
    // probing the wrong cells: the best hits outside the probed ones
    val inProbed = o.topK(q, vecs.size).map(_._1).toSet
    val outside = new Checks.IvfOracle(vecs, cents, cents.size).topK(q, vecs.size)
      .filterNot(h => inProbed(h._1)).take(10)
    expect("ivf rejects hits from unprobed cells", o.mismatch(q, 10, outside).isDefined)
    expect("ivf rejects a short answer", o.mismatch(q, 10, exact.take(9)).isDefined)
  }

  private def export(): Unit = {
    val counts = Map(("train", "approval") -> 10L, ("test", "dismissal") -> 4L)
    val want = Checks.ExportExpect(14, 1000, Map("judgment" -> counts))
    def report(c: Map[(String, String), Long]) = JudgmentDataset.Report(Seq("approval"), c)
    expect("export accepts matching counts",
      Checks.export(null, "judgment", report(counts), want, "", readBack = false).isEmpty)
    expect("export rejects a changed count", Checks.export(null, "judgment",
      report(counts.updated(("train", "approval"), 9L)), want, "", readBack = false).isDefined)
    expect("export rejects a missing label", Checks.export(null, "judgment",
      report(counts - (("test", "dismissal"))), want, "", readBack = false).isDefined)
  }

  private def corpus(): Unit = {
    val truth = new ObjectMapper().readTree(
      """[{"stem": "a", "wave": 0, "kind": "fresh", "lang": "de", "outcome": "dismissal",
        |  "n_citations": 2, "lower_court": "ZH_OG"},
        | {"stem": "b", "wave": 1, "kind": "dup", "lang": "fr", "outcome": "approval",
        |  "n_citations": 0},
        | {"stem": "a", "wave": 1, "kind": "redelivery", "lang": "de", "outcome": "dismissal",
        |  "n_citations": 2, "lower_court": "ZH_OG"},
        | {"stem": "h", "wave": 1, "kind": "hostile"}]""".stripMargin)
    val docs = (0 until truth.size()).map(truth.get)
    val good = Checks.CorpusState(
      docs = Map("a" -> ("id_a", "de"), "b" -> ("id_b", "fr")),
      outcomes = Map("id_a" -> Seq("dismissal"), "id_b" -> Seq("approval")),
      cites = Map("id_a" -> 2L),
      courts = Map("id_a" -> Some("ZH_OG"), "id_b" -> None),
      verdicts = Map(("id_a", 0) -> true, ("id_b", 1) -> false, ("id_a", 1) -> false),
      indexed = Set("id_a"))
    val skipped = Seq(0 -> 0L, 1 -> 1L)
    expect("corpus accepts the true state", Checks.corpus(good, docs, skipped).isEmpty)
    val corrupted = Seq(
      "a wrong outcome" -> good.copy(outcomes = good.outcomes.updated("id_a", Seq("approval"))),
      "a lost citation" -> good.copy(cites = Map("id_a" -> 1L)),
      "a wrong language" -> good.copy(docs = good.docs.updated("b", ("id_b", "it"))),
      "a wrong lower court" -> good.copy(courts = good.courts.updated("id_a", Some("BE_OG"))),
      "an admitted duplicate" -> good.copy(verdicts = good.verdicts.updated(("id_b", 1), true)),
      "an admitted redelivery" -> good.copy(verdicts = good.verdicts.updated(("id_a", 1), true)),
      "a missing document" -> good.copy(docs = good.docs - "b"),
      "an ingested hostile file" -> good.copy(docs = good.docs.updated("h", ("id_h", "de"))),
      "a duplicate in the BM25 index" -> good.copy(indexed = Set("id_a", "id_b")))
    for ((what, st) <- corrupted)
      expect(s"corpus rejects $what", Checks.corpus(st, docs, skipped).nonEmpty)
    expect("corpus rejects a missed quarantine",
      Checks.corpus(good, docs, Seq(0 -> 0L, 1 -> 0L)).nonEmpty)
  }
}
