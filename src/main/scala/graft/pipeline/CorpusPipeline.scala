package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{ExtractUdfs, Extractors, PeopleExtractors}
import graft.functions.TextFunctions
import graft.sources.{Ingest, Sinks}

/** Corpus-construction pipeline — the reference's main entry point
  * (`scrc/main.py:43-125`: TextToDatabase → LanguageIdentifier →
  * Cleaner → SectionSplitter → CitationExtractor → JudgmentExtractor →
  * CourtCompositionExtractor …) as ONE declarative flow:
  *
  *   landing dir → payload preference → clean → deterministic ids →
  *   sections → per-section child tables (citations, judgments,
  *   composition, participation, lower court, people) → one keyed
  *   landing of all eight tables.
  *
  * The reference's per-spider loop, progress files and chunked cursors
  * disappear: partitioning replaces chunks, one concurrent keyed landing
  * per wave ([[landWave]], `Sinks.upsertKeyed`) replaces its per-chunk
  * delete-then-insert on the chunk's decision ids, and re-runs are
  * no-op rewrites of the same key buckets (so the cron-driven
  * incremental intent of `main.py:88` is just "run it again").
  * `CorpusStream` lands each micro-batch through the same [[landWave]].
  */
object CorpusPipeline {

  private val htmlParasUdf = udf { b: Array[Byte] =>
    if (b == null) Seq.empty[String]
    else TextFunctions.htmlToParagraphsUnified(
      new String(b, java.nio.charset.StandardCharsets.UTF_8))
  }
  private val pdfParasUdf = udf { b: Array[Byte] =>
    if (b == null) Seq.empty[String]
    else {
      // real PDF payloads decode through the native extractor (S3);
      // pre-extracted text landing files pass through unchanged
      val isPdf = b.length >= 4 && b(0) == '%' && b(1) == 'P' &&
        b(2) == 'D' && b(3) == 'F'
      val text =
        if (isPdf) graft.sources.PdfText.extract(b)
        else new String(b, java.nio.charset.StandardCharsets.UTF_8)
      if (text == null) Seq.empty[String]
      else TextFunctions.pdfToParagraphs(text)
    }
  }
  private val langIdUdf = udf { t: String => graft.functions.LangId.detect(t) }
  private val cleanParasUdf = udf { paras: Seq[String] =>
    paras.map(TextFunctions.cleanText).filter(_.nonEmpty)
  }
  private val decisionIdUdf = udf { name: String => TextFunctions.decisionId(name) }

  /** Stage 1-2 (TextToDatabase + Cleaner): landing dir → cleaned
    * paragraphs per document with its deterministic decision id. HTML
    * paragraphs are preferred over PDF (F4); documents under `minChars`
    * are dropped (the reference's 1000-char ingest gate, scaled by
    * caller).
    */
  def ingest(spark: SparkSession, landingDir: String, minChars: Int = 50): DataFrame =
    ingestTriples(Ingest.fileTriples(spark, landingDir), minChars)

  private def ingestTriples(triples: DataFrame, minChars: Int): DataFrame =
    triples
      .withColumn("html_paras", htmlParasUdf(col("html_raw")))
      .withColumn("pdf_paras", pdfParasUdf(col("pdf_raw")))
      .withColumn("raw_paras",
        when(size(col("html_paras")) > 0, col("html_paras"))
          .otherwise(col("pdf_paras")))
      .withColumn("paras", cleanParasUdf(col("raw_paras")))
      .withColumn("text", concat_ws("\n", col("paras")))
      .where(length(col("text")) >= minChars)
      .withColumn("decision_id", decisionIdUdf(col("stem")))
      // LanguageIdentifier stage (main.py stage 4): trigram tier, with
      // the reference's '--' sentinel preserved as 'unk'
      .withColumn("lang", langIdUdf(col("text")))
      .select("decision_id", "stem", "paras", "text", "lang")

  /** Stage 3 (SectionSplitter): paragraphs → section map via the
    * PORTED per-spider marker corpus (F9), language-aware — the lang
    * column from the identifier stage selects the spider's per-language
    * marker table; unknown spiders fall back to the generic default.
    */
  def splitSections(docs: DataFrame, spider: String): DataFrame =
    docs
      .withColumn("secs",
        ExtractUdfs.splitSectionsLang(lit(spider), col("lang"), col("paras")))
      .select(col("decision_id"), col("lang"),
        concat_ws("\n", element_at(col("secs"), "header")).as("header"),
        concat_ws("\n", element_at(col("secs"), "topic")).as("topic"),
        concat_ws("\n", element_at(col("secs"), "facts")).as("facts"),
        concat_ws("\n", element_at(col("secs"), "considerations")).as("considerations"),
        concat_ws("\n", element_at(col("secs"), "rulings")).as("rulings"))

  /** Stages 4-6: child tables from the sectioned documents. */
  def citations(sectioned: DataFrame): DataFrame =
    sectioned
      .withColumn("cite", explode(ExtractUdfs.rulingCitations(col("considerations"))))
      .select(col("decision_id"), col("cite.volume"), col("cite.book"), col("cite.page"))

  def judgments(sectioned: DataFrame): DataFrame =
    sectioned
      .withColumn("ext", ExtractUdfs.judgmentsSafe(col("rulings")))
      .select(col("decision_id"), col("ext.outcomes").as("outcomes"),
        col("ext.error").as("error"))

  def compositions(sectioned: DataFrame, spider: String = "default"): DataFrame =
    sectioned
      // spider variants slice the header region and bring their role
      // vocabulary (F37); unknown spiders use the generic parse
      .withColumn("comp", ExtractUdfs.compositionSpider(lit(spider), col("header")))
      .select(col("decision_id"), col("comp.president").as("president"),
        col("comp.judges").as("judges"), col("comp.clerks").as("clerks"))

  /** Stage 6b (F38): procedural participation, spider- and language-
    * dispatched through the ported per-spider regex configs; rows whose
    * header the parser rejects (or spiders without a config) carry null
    * participation — the reference's log-and-skip, kept as data.
    */
  def participations(sectioned: DataFrame, spider: String): DataFrame =
    sectioned
      .withColumn("part", ExtractUdfs.participationSpider(
        lit(spider), coalesce(col("lang"), lit("de")), col("header")))
      .select(col("decision_id"),
        col("part.plaintiffs").as("plaintiffs"),
        col("part.defendants").as("defendants"))

  /** Stage 6c (F39): lower court from the header region (the topic
    * line carries the "Beschwerde gegen das Urteil des …" sentence for
    * spiders whose marker tables split it out, so both are scanned).
    */
  def lowerCourts(sectioned: DataFrame): DataFrame =
    sectioned
      .withColumn("lc", ExtractUdfs.lowerCourt(
        concat_ws("\n", col("header"), col("topic"))))
      .select(col("decision_id"),
        col("lc.court").as("court"), col("lc.canton").as("canton"),
        col("lc.chamber").as("chamber"), col("lc.date").as("date"),
        col("lc.fileNumber").as("file_number"))

  /** Stage 7 (NameToGender, F36): one row per person in a composition,
    * gender filled from (a) the role-word context the parser saw, else
    * (b) the bundled offline first-name table, broadcast-joined
    * (`name_to_gender.py:35-77` — the reference updates person.gender
    * from a local genderize file; the join replaces its row loop).
    */
  def people(spark: SparkSession, sectioned: DataFrame): DataFrame = {
    val persons = compositions(sectioned).selectExpr("decision_id",
      """explode(concat(
           IF(president IS NOT NULL,
              array(named_struct('role', 'president', 'name', president.name,
                                 'gender', president.gender)),
              slice(array(named_struct('role', 'president', 'name', president.name,
                                       'gender', president.gender)), 1, 0)),
           transform(judges, j -> named_struct('role', 'judge', 'name', j.name,
                                               'gender', j.gender)),
           transform(clerks, c -> named_struct('role', 'clerk', 'name', c.name,
                                               'gender', c.gender)))) AS p""")
      .select(col("decision_id"), col("p.role").as("role"),
        col("p.name").as("name"), col("p.gender").as("gender"))
    import spark.implicits._
    val lookup = broadcast(
      PeopleExtractors.nameGender.toSeq.toDF("__first", "__gender"))
    persons
      .withColumn("__first", lower(ExtractUdfs.firstName(col("name"))))
      .join(lookup, Seq("__first"), "left")
      .withColumn("gender", coalesce(col("gender"), col("__gender")))
      .drop("__first", "__gender")
  }

  case class RunReport(nIngested: Long, nSections: Long, nCitations: Long,
                       judgmentCoverage: Double, nSkipped: Long = 0L)

  /** What a landed wave counted while it wrote: its documents (and so
    * its sections, a 1:1 projection of them), its citation rows and its
    * documents with at least one judgment outcome.
    */
  private[graft] final case class Landed(nDocs: Long, nCitations: Long, nCovered: Long)

  /** The store names of the tables a wave lands, in landing order. */
  private[graft] val waveTableNames: Seq[String] = Seq("documents", "sections",
    "citations", "judgments", "compositions", "participations", "lower_courts", "people")

  /** A wave's eight tables by store name, each built on demand over the
    * wave's cached `docs` and `sectioned` frames. `cited` and `covered`
    * observe the citation rows and the documents with a judgment
    * outcome as the wave writes them; an observation registers with the
    * session only when its table is built.
    */
  private[graft] def waveTables(spark: SparkSession, docs: DataFrame, sectioned: DataFrame,
                                spider: String, cited: Observation,
                                covered: Observation): Seq[(String, () => DataFrame)] =
    waveTableNames.map(t => t -> (() => t match {
      case "documents" => docs
      case "sections" => sectioned
      case "citations" => citations(sectioned).observe(cited, count(lit(1)).as("n"))
      case "judgments" => judgments(sectioned)
        .observe(covered, count_if(size(col("outcomes")) > 0).as("n"))
      case "compositions" => compositions(sectioned, spider)
      case "participations" => participations(sectioned, spider)
      case "lower_courts" => lowerCourts(sectioned)
      case "people" => people(spark, sectioned)
    }))

  /** Land one wave's eight tables under `outDir` in one concurrent pass
    * (`Sinks.upsertKeyed`) keyed on the wave's decision ids: each table
    * loses every old row of those ids and gains the new ones, the
    * reference's per-decision delete-then-insert — so a redelivered
    * ruling that no longer yields a citation or a person keeps none of
    * its old ones. `docs` and `sectioned` are the caller's persisted
    * caches; the key pass materializes both (sectioned reads docs), and
    * every child frame is evaluated once, by its own write. The landing
    * returns only after every write settled, so the caller may then
    * unpersist the caches.
    */
  private[graft] def landWave(spark: SparkSession, docs: DataFrame, sectioned: DataFrame,
                              outDir: String, spider: String): Landed = {
    val cited, covered = Observation()
    val n = Sinks.upsertKeyed(sectioned.select("decision_id"), "decision_id", 16,
      waveTables(spark, docs, sectioned, spider, cited, covered)
        .map { case (t, df) => s"$outDir/$t" -> df })
    // no documents: no table was built, so no observation registered
    if (n == 0) Landed(0L, 0L, 0L)
    else Landed(n, observed(cited), observed(covered))
  }

  /** An observed count; a frame no partition of which ran reports none. */
  private def observed(o: Observation): Long =
    o.get.get("n").fold(0L)(_.asInstanceOf[Long])

  /** Full run: landing dir → parquet tables under `outDir`, idempotent
    * per decision_id; returns coverage metrics (§5 style), all counted
    * by the passes the wave makes anyway.
    */
  def run(spark: SparkSession, landingDir: String, outDir: String,
          spider: String = "default"): RunReport = {
    // skipped = landing triples that produced no ingestable text
    // (undecodable payloads / under the min-chars gate) — the
    // reference logs these per file (`text_to_database.py`); here the
    // count is part of the run report instead of a log line
    val triples = Observation()
    val docs = ingestTriples(Ingest.fileTriples(spark, landingDir)
      .observe(triples, count(lit(1)).as("n")), 50).persist()
    try {
      val sectioned = splitSections(docs, spider).persist()
      try {
        val w = landWave(spark, docs, sectioned, outDir, spider)
        RunReport(w.nDocs, w.nDocs, w.nCitations,
          if (w.nDocs == 0) 0.0 else w.nCovered.toDouble / w.nDocs,
          nSkipped = observed(triples) - w.nDocs)
      } finally { sectioned.unpersist(); () }
    } finally { docs.unpersist(); () }
  }
}
