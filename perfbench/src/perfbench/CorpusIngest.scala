package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.MinHashLSH
import graft.pipeline.CorpusPipeline
import graft.queries.BenchAccess
import graft.sources.{Ingest, Sinks}

/** corpus_ingest: a closed loop with one client. One large backfill
  * wave, then small incremental waves; each wave runs
  * `CorpusPipeline.run` into one persistent out dir, probes its
  * documents against the persisted bucketed band index
  * (`MinHashLSH.committedIncrementalDedupBucketed`) and appends the
  * admitted ones as a new BM25 generation. A traced run ends with one
  * round of the eight dataset creators (see [[DatasetExport]]).
  */
object CorpusIngest {
  private val Spider = "CH_BGer"
  /** dedup batch id of the warm-up wave (measured waves count from 1) */
  private val WarmupBatch = 1000000L

  final case class Stores(out: String, index: String, verdicts: String, bm25: String)
  final case class WaveStats(docs: Long, skipped: Long, covered: Long, seconds: Double)

  /** upsert write accounting (traced runs only) */
  final class UpsertStats {
    var files, bytes, buckets, newRowBytes = 0L
    def reset(): Unit = { files = 0; bytes = 0; buckets = 0; newRowBytes = 0 }
  }

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    val cfg = ctx.cfg
    val k = cfg.get("minhash_k").asInt()
    val rowsPerBand = cfg.get("minhash_rows_per_band").asInt()
    val truth = new ObjectMapper().readTree(new File(ctx.input("truth.json")))
    val landing = new File(ctx.input("landing"))
    val waveDirs = landing.listFiles().filter(_.getName.startsWith("wave_"))
      .sortBy(_.getName).map(_.getPath).toSeq
    val warmupDir = new File(landing, "warmup").getPath
    val upserts = new UpsertStats

    def words(text: Column): Column = split(trim(regexp_replace(text, "\\s+", " ")), " ")

    def stemsOf(dir: String): Seq[String] =
      new File(dir).list().filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted.toSeq

    def materialize(name: String)(df: => DataFrame): DataFrame = ctx.trace.span(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    /** CorpusPipeline.run, stage by stage, each stage's input
      * materialized before its span starts (traced runs only)
      */
    def tracedPipeline(dir: String, out: String): CorpusPipeline.RunReport = {
      val docs = materialize("pipeline.ingest")(CorpusPipeline.ingest(spark, dir))
      val sectioned = materialize("extract.sections")(CorpusPipeline.splitSections(docs, Spider))
      val children = Seq(
        "judgments" -> materialize("extract.judgments")(CorpusPipeline.judgments(sectioned)),
        "citations" -> materialize("extract.citations")(CorpusPipeline.citations(sectioned)),
        "compositions" -> materialize("extract.composition")(
          CorpusPipeline.compositions(sectioned, Spider)),
        "participations" -> materialize("extract.participation")(
          CorpusPipeline.participations(sectioned, Spider)),
        "lower_courts" -> materialize("extract.lower_court")(CorpusPipeline.lowerCourts(sectioned)),
        "people" -> materialize("extract.people")(CorpusPipeline.people(spark, sectioned)))
      val tables = Seq("documents" -> docs, "sections" -> sectioned) ++ children
      val account = ctx.trace.phase == "measure"
      for ((t, df) <- tables) {
        val path = s"$out/$t"
        val before = if (account) ctx.trace.span("bench.accounting")(FileStats.list(path)) else null
        ctx.trace.span("sources.upsert")(Sinks.upsertBucketed(df, path, "decision_id", 16))
        if (account) ctx.trace.span("bench.accounting") {
          val written = FileStats.written(before, FileStats.list(path))
          upserts.files += written.size
          upserts.bytes += written.map(_.bytes).sum
          upserts.buckets += written.map(_.bucket).distinct.size
          val (tableBytes, tableRows) = (FileStats.list(path).values.map(_.bytes).sum,
            spark.read.parquet(path).count())
          if (tableRows > 0) upserts.newRowBytes += df.count() * tableBytes / tableRows
        }
      }
      val report = ctx.trace.span("bench.accounting") {
        val n = docs.count()
        val covered = children.head._2.where(size(col("outcomes")) > 0).count()
        CorpusPipeline.RunReport(n, sectioned.count(), children(1)._2.count(),
          if (n == 0) 0.0 else covered.toDouble / n,
          nSkipped = Ingest.fileTriples(spark, dir).count() - n)
      }
      tables.foreach(_._2.unpersist())
      report
    }

    /** one wave: pipeline, dedup probe, BM25 generation append */
    def wave(batch: Long, dir: String, st: Stores): WaveStats = {
      val t0 = System.nanoTime()
      val report = ctx.trace.span("pipeline.run") {
        if (ctx.trace.enabled) tracedPipeline(dir, st.out)
        else CorpusPipeline.run(spark, dir, st.out, Spider)
      }
      val stems = stemsOf(dir)
      val docs = materialize("sources.read_wave")(spark.read.parquet(s"${st.out}/documents")
        .where(col("stem").isin(stems: _*)).select("decision_id", "stem", "text"))
      val bands = materialize("operators.minhash_bands")(
        MinHashLSH.bands(docs, "decision_id", words(col("text")), k, rowsPerBand))
      val verdict = ctx.trace.span("operators.dedup_probe") {
        MinHashLSH.committedIncrementalDedupBucketed(bands, "decision_id", st.index,
          st.verdicts, batch).collect()
      }
      val admitted = verdict.filter(_.getAs[Boolean]("admitted"))
        .map(_.getAs[String]("decision_id")).toSeq
      ctx.trace.span("queries.bm25_append") {
        BenchAccess.landBm25Tables(spark, BenchAccess.tfOf(
          docs.where(col("decision_id").isin(admitted: _*))
            .select(col("decision_id").as("doc_id"), col("text"))),
          st.bm25, "append", Some(batch))
      }
      bands.unpersist()
      docs.unpersist()
      val covered = math.round(report.judgmentCoverage * report.nIngested)
      WaveStats(report.nIngested, report.nSkipped, covered, (System.nanoTime() - t0) / 1e9)
    }

    // ---- set-up: the dedup backfill of the historical corpus, three
    // times into fresh dirs; then one warm-up wave through the whole
    // path on the first copy (its own out and BM25 dirs)
    val (stores, buildS) = ctx.setupReps(3) { r =>
      val d = ctx.work(s"stores_$r")
      val st = Stores(s"$d/corpus", s"$d/dedup_index", s"$d/dedup_verdicts", s"$d/bm25")
      ctx.trace.span("operators.dedup_backfill") {
        val prior = spark.read.parquet(ctx.input("prior.parquet"))
        MinHashLSH.buildBucketedIndex(
          MinHashLSH.bands(prior, "decision_id", words(col("text")), k, rowsPerBand), st.index)
      }
      st
    }
    // warm-up: one small wave through the whole path into the out dir
    // and dedup index the measured pass will use (its verdicts and BM25
    // generation go to dirs of their own), so the backfill is a merge
    // into a live catalog and every wave runs warm code. A traced run
    // also warms one export creator.
    // traced runs only: its expectations read the export input
    lazy val exporter = new DatasetExport.Exporter(ctx, ctx.input("export"))
    val st0 = stores.last
    val warmS = ctx.warmup {
      wave(WarmupBatch, warmupDir, st0.copy(verdicts = st0.verdicts + "_warmup",
        bm25 = st0.bm25 + "_warmup"))
      if (ctx.args.trace)
        exporter.runCreator(DatasetExport.creators.head, ctx.input("export/warmup"),
          ctx.work("warm_export"))
    }
    val setupS = buildS + warmS
    // a traced run's untraced pass starts from a copy of the warmed
    // catalog and index (off the clock, after set-up)
    val untracedStores =
      if (!ctx.args.trace) st0
      else {
        // the whole stores dir: layout markers sit next to the stores
        val (from, d) = (new File(st0.out).getParent, ctx.work("stores_untraced"))
        FileStats.copyTree(from, d)
        def moved(p: String) = d + p.stripPrefix(from)
        Stores(moved(st0.out), moved(st0.index), moved(st0.verdicts), moved(st0.bm25))
      }

    // ---- measured phase: a fixed op list, the backfill wave and then
    // every incremental wave the generator wrote, so two runs always
    // measure the same waves. A traced run measures its two passes on
    // the backfill and the first incremental wave only, and its traced
    // pass then makes one round of the dataset export, which supplies
    // the datasets and JSONL layers; untraced runs leave the export
    // out, and the tracing cost is measured on the waves. Both keep a
    // run inside the time budget.
    val measuredWaves = if (ctx.args.trace) waveDirs.take(2) else waveDirs
    val failedWaves = scala.collection.mutable.Set.empty[Int]
    def pass(traced: Boolean): (Stores, Seq[(Int, WaveStats)], Seq[DatasetExport.Op]) = {
      val st = if (traced) st0 else untracedStores
      val counted = !ctx.args.trace || traced
      if (traced) upserts.reset()
      val ran = scala.collection.mutable.ArrayBuffer.empty[(Int, WaveStats)]
      for (w <- measuredWaves.indices) {
        if (counted) res.attempted += 1
        Main.collectGarbage()
        try ran += w -> ctx.trace.span(if (w == 0) "op.backfill_wave" else "op.wave") {
          wave(w + 1L, measuredWaves(w), st)
        }
        catch {
          case e: Exception if counted =>
            failedWaves += w
            res.problems += s"wave $w: ${e.getClass.getName}: ${e.getMessage}"
        }
      }
      val exported = if (traced) exporter.round(ctx.work("export"), counted, res) else Nil
      (st, ran.toSeq, exported)
    }
    val (measured, ran, exported) = ctx.measure(pass)(_._2.map(_._2.seconds).sum, res)

    // ---- correctness against the generator's ground truth
    val checked = ran.map(_._1).toSet
    val docsTruth = truth.get("docs").elements().asScala.toSeq
      .filter(d => checked.contains(d.get("wave").asInt()))
    Checks.corpus(Checks.corpusState(spark, measured), docsTruth,
        ran.toSeq.map { case (w, s) => w -> s.skipped })
      .foreach { case (w, why) => failedWaves += w; if (res.problems.size < 50) res.problems += why }
    res.failed += failedWaves.size.toLong

    // ---- metrics
    val backfill = ran.find(_._1 == 0).map(_._2)
    val incr = ran.filter(_._1 > 0).map(_._2.seconds * 1000)
    val backfillRate = backfill.map(b => b.docs / b.seconds).getOrElse(0.0)
    res.endToEnd("setup_s") = ctx.sessionReadyS + setupS
    res.endToEnd("op_p50_ms") = Stats.median(incr.toSeq)
    res.endToEnd("throughput_per_s") = backfillRate
    res.detail("ingest_backfill_docs_per_s") = backfillRate
    res.detail("ingest_backfill_docs") = backfill.map(_.docs).getOrElse(0L)
    res.detail("ingest_wave_p50_s") = Stats.median(incr.toSeq) / 1000
    res.detail("ingest_waves") = incr.size
    res.detail("ingest_wave_docs") = ran.filter(_._1 > 0).map(_._2.docs).sum
    if (ctx.args.trace) exporter.report(exported, res)
    res.detail("setup_session_s") = ctx.sessionReadyS
    res.detail("setup_store_build_median_s") = buildS
    res.detail("setup_warmup_s") = warmS

    if (ctx.trace.enabled) {
      val t = ctx.trace
      for (n <- Seq("sections", "judgments", "citations", "composition", "participation",
        "lower_court", "people"))
        res.layers(s"extract.${n}_s") = t.seconds(s"extract.$n")
      res.layers("pipeline.ingest_s") = t.seconds("pipeline.ingest")
      val pdfs = ran.map(_._1).flatMap(w => new File(waveDirs(w)).listFiles()
        .filter(_.getName.endsWith(".pdf")))
      res.layers("sources.pdf_docs") = pdfs.size.toDouble
      res.layers("sources.pdf_bytes") = pdfs.map(_.length()).sum.toDouble
      res.layers("sources.quarantined") = ran.map(_._2.skipped).sum.toDouble
      val docsIn = ran.map(_._2.docs).sum
      res.layers("extract.judgment_coverage") =
        if (docsIn == 0) 0.0 else ran.map(_._2.covered).sum.toDouble / docsIn
      res.layers("sources.upsert_s") = t.seconds("sources.upsert")
      res.layers("sources.upsert_files_written") = upserts.files.toDouble
      res.layers("sources.upsert_bytes_written") = upserts.bytes.toDouble
      res.layers("sources.upsert_buckets_touched") = upserts.buckets.toDouble
      res.layers("sources.upsert_write_amp") =
        if (upserts.newRowBytes == 0) 0.0 else upserts.bytes.toDouble / upserts.newRowBytes
      res.layers("operators.minhash_bands_s") = t.seconds("operators.minhash_bands")
      res.layers("operators.dedup_probe_s") = t.seconds("operators.dedup_probe")
      res.layers("operators.dedup_index_gens") = new File(measured.index).list()
        .count(_.startsWith("gen=")).toDouble
      val verdicts = spark.read.parquet(measured.verdicts)
      res.layers("operators.dedup_flagged") = verdicts.where(!col("admitted")).count().toDouble
      val planted = docsTruth.filter(d => Set("dup", "redelivery")(d.get("kind").asText()))
        .map(_.get("stem").asText()).toSet
      val flaggedStems = spark.read.parquet(s"${measured.out}/documents")
        .join(verdicts.where(!col("admitted")), "decision_id")
        .select("stem").collect().map(_.getString(0)).toSet
      res.layers("operators.dedup_recall") =
        if (planted.isEmpty) 1.0 else planted.count(flaggedStems).toDouble / planted.size
      res.layers("queries.bm25_append_s") = t.seconds("queries.bm25_append")
    }
  }
}

/** file listings for the upsert write accounting */
object FileStats {
  final case class F(bytes: Long, mtime: Long, bucket: String)

  def list(root: String): Map[String, F] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => !f.getFileName.toString.startsWith("."))
      .map { f =>
        val bucket = Option(f.getParent).map(_.getFileName.toString).getOrElse("")
        f.toString -> F(Files.size(f), Files.getLastModifiedTime(f).toMillis, bucket)
      }.toMap
    finally s.close()
  }

  def written(before: Map[String, F], after: Map[String, F]): Seq[F] =
    after.toSeq.collect { case (p, f) if !before.get(p).contains(f) => f }

  /** copy a directory tree, hidden files included */
  def copyTree(src: String, dst: String): Unit = {
    val (from, to) = (Paths.get(src), Paths.get(dst))
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }
}
