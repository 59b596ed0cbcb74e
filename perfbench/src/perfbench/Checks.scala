package perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.datasets.JudgmentDataset

/** Correctness checks. Every expectation is computed here from the
  * generator's ground truth or by the benchmark's own brute force,
  * never read back from the program under test.
  */
object Checks {

  // ------------------------------------------------------ corpus_ingest

  /** what the corpus_ingest stores hold, read back once after the run */
  final case class CorpusState(docs: Map[String, (String, String)], // stem -> (id, lang)
                               outcomes: Map[String, Seq[String]],
                               cites: Map[String, Long],
                               courts: Map[String, Option[String]],
                               verdicts: Map[(String, Int), Boolean], // (id, wave) -> admitted
                               indexed: Set[String])

  def corpusState(spark: SparkSession, st: CorpusIngest.Stores): CorpusState = CorpusState(
    spark.read.parquet(s"${st.out}/documents").select("decision_id", "stem", "lang")
      .collect().map(r => r.getString(1) -> (r.getString(0), r.getString(2))).toMap,
    spark.read.parquet(s"${st.out}/judgments").collect()
      .map(r => r.getAs[String]("decision_id") ->
        Option(r.getAs[scala.collection.Seq[String]]("outcomes")).map(_.toSeq).getOrElse(Nil)).toMap,
    spark.read.parquet(s"${st.out}/citations").groupBy("decision_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
    spark.read.parquet(s"${st.out}/lower_courts").select("decision_id", "court")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap,
    spark.read.parquet(st.verdicts).where(col("batch") > 0)
      .select("decision_id", "admitted", "batch").collect()
      .map(r => (r.getString(0), r.getAs[Any]("batch").toString.toInt - 1) -> r.getBoolean(1)).toMap,
    spark.read.parquet(s"${st.bm25}/postings").where(col("gen") > 0)
      .select("doc_id").distinct().collect().map(_.getString(0)).toSet)

  /** final tables, outcomes, quarantines and dedup verdicts against
    * the ground truth; returns (wave, problem) pairs
    */
  def corpus(state: CorpusState, truth: Seq[JsonNode],
             skipped: Seq[(Int, Long)]): Seq[(Int, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    def txt(d: JsonNode, k: String) = Option(d.get(k)).filterNot(_.isNull).map(_.asText())
    import state._
    for (d <- truth) {
      val w = d.get("wave").asInt()
      val stem = d.get("stem").asText()
      val kind = d.get("kind").asText()
      if (kind == "hostile") {
        if (docs.contains(stem)) out += w -> s"hostile $stem was ingested"
      } else docs.get(stem) match {
        case None => out += w -> s"$stem ($kind) missing from documents"
        case Some((id, lang)) =>
          for (l <- txt(d, "lang") if l != lang) out += w -> s"$stem lang $lang, expected $l"
          for (o <- txt(d, "outcome") if outcomes.getOrElse(id, Nil) != Seq(o))
            out += w -> s"$stem outcomes ${outcomes.getOrElse(id, Nil)}, expected [$o]"
          for (n <- Option(d.get("n_citations")).map(_.asLong()) if cites.getOrElse(id, 0L) != n)
            out += w -> s"$stem citations ${cites.getOrElse(id, 0L)}, expected $n"
          for (c <- txt(d, "lower_court") if courts.get(id).flatten != Some(c))
            out += w -> s"$stem lower court ${courts.get(id).flatten}, expected $c"
          // only first sightings are admitted: planted dups and
          // redeliveries must be flagged
          verdicts.get((id, w)) match {
            case None => out += w -> s"$stem has no dedup verdict"
            case Some(adm) if adm != (kind == "fresh") =>
              out += w -> s"$stem ($kind) admitted=$adm"
            case _ =>
          }
      }
    }
    val hostile = truth.filter(_.get("kind").asText() == "hostile")
      .groupBy(_.get("wave").asInt()).view.mapValues(_.size.toLong).toMap
    for ((w, n) <- skipped if hostile.getOrElse(w, 0L) != n)
      out += w -> s"wave $w quarantined $n, expected ${hostile.getOrElse(w, 0L)}"
    // the BM25 index holds exactly the admitted docs
    val admitted = verdicts.collect { case ((id, _), true) => id }.toSet
    if (indexed != admitted)
      out += ((0, s"bm25 index holds ${indexed.size} docs, ${admitted.size} admitted " +
        s"(${(indexed diff admitted).take(3)} / ${(admitted diff indexed).take(3)})"))
    out.toSeq
  }

  // ----------------------------------------------------- dataset_export

  final case class ExportExpect(docs: Long, textBytes: Long,
                                counts: Map[String, Map[(String, String), Long]])

  /** per-creator (split, label) counts, restated from the labelling
    * rules each creator documents, over the generated input
    */
  def exportExpectations(spark: SparkSession, dir: String): ExportExpect = {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    def split(d: Long): String = {
      val y = d % 25 + 2000
      if (y <= 2015) "train" else if (y <= 2017) "validation" else if (y <= 2022) "test"
      else "secret_test"
    }
    def tally(xs: Seq[(String, String)]) = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ids = rows.map(_._1).toSeq
    val judgment = tally(ids.flatMap { d =>
      val label = if (d % 7 == 0) None else if (d % 3 == 0) Some("dismissal") else Some("approval")
      label.map(split(d) -> _)
    })
    // criticality: freq of each cited key, ntile(4) over (freq desc, key)
    val cited = ids.groupBy(d => (d + 1) % 400).view.mapValues(_.size).toMap
    val ranked = cited.toSeq.sortBy { case (k, f) => (-f, k) }.map(_._1)
    val n = ranked.size
    val (base, rem) = (n / 4, n % 4)
    val tile = ranked.zipWithIndex.map { case (k, i) =>
      val cut = rem * (base + 1)
      k -> (if (i < cut) i / (base + 1) + 1 else rem + (i - cut) / base + 1)
    }.toMap
    val criticality = tally(ids.map { d =>
      split(d) -> tile.get(d % 400).map(q => s"critical-$q").getOrElse("non-critical")
    })
    // doc2doc: the 100 most cited keys form the label vocabulary
    val vocab = cited.toSeq.sortBy { case (k, f) => (-f, k) }.take(100).map(_._1).toSet
    val doc2doc = tally(ids.filter(d => vocab((d + 1) % 400)).map(d => split(d) -> ((d + 1) % 400).toString))
    val area = Map("src0" -> "civil_law", "src1" -> "public_law", "src2" -> "penal_law",
      "src3" -> "social_law")
    val lawArea = tally(rows.toSeq.map(r => split(r._1) -> area.getOrElse(r._2, "other")))
    def all(f: ((Long, String, Long, String)) => Boolean) =
      tally(rows.toSeq.filter(f).map(r => split(r._1) -> "all"))
    ExportExpect(rows.length.toLong,
      rows.map(_._4.getBytes("UTF-8").length.toLong).sum,
      Map("judgment" -> judgment, "criticality" -> criticality, "doc2doc" -> doc2doc,
        "law_area" -> lawArea,
        "court_view" -> all(_._4.length > 120),
        "pretraining" -> all(_._3 >= 100),
        "citation_extraction" -> all(_ => true),
        "regeste" -> all(_ => true)))
  }

  /** report counts against the expectation; optionally read one split
    * back through the xz codec
    */
  def export(spark: SparkSession, creator: String, report: JudgmentDataset.Report,
             expect: ExportExpect, out: String, readBack: Boolean): Option[String] = {
    val want = expect.counts(creator)
    if (report.splitCounts != want) {
      val diff = (want.keySet ++ report.splitCounts.keySet).toSeq.sortBy(_.toString)
        .filter(k => want.get(k) != report.splitCounts.get(k)).take(4)
        .map(k => s"$k=${report.splitCounts.get(k)} want ${want.get(k)}")
      return Some(s"split/label counts differ: ${diff.mkString(", ")}")
    }
    if (readBack) {
      val split = "train"
      val n = want.collect { case ((s, _), c) if s == split => c }.sum
      val back = if (n == 0) 0L else spark.read.json(s"$out/$split").count()
      if (back != n) return Some(s"$split read back $back rows through xz, expected $n")
    }
    None
  }

  // ------------------------------------------------------- search_serve

  /** brute-force Okapi BM25 (k1 1.2, b 0.75, non-negative idf), each
    * term's contribution rounded to 6 dp and summed exactly
    */
  final class Bm25Oracle(docs: Seq[(Long, String)]) {
    private val tf: Seq[(Long, Map[String, Int], Long)] = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      (id, toks.groupBy(identity).view.mapValues(_.length).toMap, toks.length.toLong)
    }
    private val df: Map[String, Long] =
      tf.flatMap(_._2.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
    private val n = tf.size.toLong
    private val avgdl = tf.map(_._3).sum.toDouble / n.toDouble

    def topK(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
      val q = terms.distinct.filter(df.contains)
      tf.flatMap { case (id, m, dl) =>
        val hit = q.filter(m.contains)
        if (hit.isEmpty) None
        else Some(id -> hit.map { t =>
          val (d, f) = (df(t), m(t).toLong)
          val x = StrictMath.log((n - d + 0.5) / (d + 0.5) + 1) * (f * 2.2) /
            (f + 1.2 * (0.25 + 0.75 * dl / avgdl))
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    }

    def mismatch(terms: Seq[String], k: Int, got: Seq[(Long, Double)]): Option[String] = {
      val want = topK(terms, k)
      val ok = want.size == got.size && want.zip(got).forall { case ((a, x), (b, y)) =>
        a == b && math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      }
      if (ok) None else Some(s"bm25 $terms: got ${got.take(3)}, want ${want.take(3)}")
    }
  }

  /** exact cosine over every vector */
  final class CosineOracle(vecs: Seq[(Long, Array[Double])]) {
    private val byId = vecs.toMap
    private def cos(a: Array[Double], b: Array[Double]): Double = {
      var s, na, nb = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }

    /** (problem, recall@k): returned scores must be the true cosines,
      * in rank order, k of them
      */
    def check(q: Array[Double], k: Int, got: Seq[(Long, Double)]): (Option[String], Double) = {
      val exact = vecs.map { case (id, v) => id -> cos(q, v) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
      val recall = got.count(h => exact(h._1)).toDouble / k
      val bad =
        if (got.size != k) Some(s"ann returned ${got.size} hits, expected $k")
        else if (got.map(_._1).distinct.size != k) Some("ann returned duplicate ids")
        else got.find { case (id, c) => byId.get(id).forall(v => math.abs(cos(q, v) - c) > 1e-9) }
          .map { case (id, c) => s"ann hit $id scored $c, exact ${byId.get(id).map(cos(q, _))}" }
          .orElse(if (got.map(_._2).sliding(2).exists(p => p.size == 2 && p(0) < p(1)))
            Some("ann hits not in rank order") else None)
      (bad, recall)
    }
  }

  /** the exact IVF answer, restated from the codebook: each vector's
    * cell is its argmax-cosine centroid (codebook in cell order, the
    * lower cell on ties), a query probes its `nprobe` nearest cells
    * (cosine desc, cell asc), and the answer is the exact top-k of
    * the vectors in those cells. A served answer must have exactly
    * those scores, each hit inside a probed cell; with the
    * [[CosineOracle]] check (true cosines, distinct ids, rank order)
    * that pins the ids up to exact score ties.
    */
  final class IvfOracle(vecs: Seq[(Long, Array[Double])],
                        cents: Seq[(Long, Array[Double], Double)], nprobe: Int) {
    private val book = cents.sortBy(_._1)
    private def norm2(v: Array[Double]) = v.foldLeft(0.0)((a, x) => a + x * x)
    private def cosTo(cv: Array[Double], cn: Double, v: Array[Double], nn: Double): Double = {
      var s = 0.0
      var i = 0
      while (i < cv.length) { s += cv(i) * v(i); i += 1 }
      s / (math.sqrt(cn) * math.sqrt(nn))
    }
    private val cellOf: Map[Long, Long] = vecs.map { case (id, v) =>
      val nn = norm2(v)
      var (best, bestCos) = (-1L, Double.NegativeInfinity)
      for ((cid, cv, cn) <- book) {
        val c = cosTo(cv, cn, v, nn)
        if (c > bestCos) { best = cid; bestCos = c }
      }
      id -> best
    }.toMap

    def probe(q: Array[Double]): Seq[Long] = {
      val qn = norm2(q)
      book.map { case (cid, cv, cn) => cid -> cosTo(cv, cn, q, qn) }
        .sortBy { case (cid, c) => (-c, cid) }.take(nprobe).map(_._1)
    }

    def topK(q: Array[Double], k: Int): Seq[(Long, Double)] = {
      val cells = probe(q).toSet
      val qn = norm2(q)
      vecs.filter { case (id, _) => cells(cellOf(id)) }
        .map { case (id, v) => id -> cosTo(v, norm2(v), q, qn) }
        .sortBy { case (id, c) => (-c, id) }.take(k)
    }

    def mismatch(q: Array[Double], k: Int, got: Seq[(Long, Double)]): Option[String] = {
      val cells = probe(q).toSet
      val want = topK(q, k)
      got.find { case (id, _) => !cellOf.get(id).exists(cells) }
        .map { case (id, _) => s"ivf hit $id lies outside the probed cells ${cells.toSeq.sorted}" }
        .orElse(
          if (got.size != want.size) Some(s"ivf returned ${got.size} hits, exact IVF has ${want.size}")
          else want.zip(got).zipWithIndex.collectFirst {
            case (((wid, w), (gid, g)), i) if math.abs(w - g) > 1e-9 =>
              s"ivf rank $i: got $gid ($g), exact IVF $wid ($w)"
          })
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
