package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.datasets.{CriticalityDataset, DatasetWriter, Doc2DocIRDataset,
  JudgmentDataset, TextDatasets}

/** The dataset export: the eight dataset creators over a generated
  * `documents.parquet`, each writing xz JSONL per split, labels and an
  * overview through `DatasetWriter`. One op = one creator. The five
  * text creators are the calls `TextDatasets.buildAll` makes, issued
  * one by one so each is an op.
  */
object DatasetExport {

  /** name, label column, the creator's prepare step (input dir → rows
    * plus a release hook), and its one-call build
    */
  final case class Creator(name: String, label: Option[String],
                           prepare: (SparkSession, String) => (DataFrame, () => Unit),
                           build: (SparkSession, String, String) => JudgmentDataset.Report)

  private def plain(f: (SparkSession, String) => DataFrame) =
    (s: SparkSession, d: String) => (f(s, d), () => ())

  private def viaWriter(f: (SparkSession, String) => DataFrame, label: Option[String]) =
    (s: SparkSession, d: String, o: String) => DatasetWriter.write(f(s, d), o, label)

  val creators: Seq[Creator] = Seq(
    Creator("judgment", Some("label"), plain(JudgmentDataset.prepare), JudgmentDataset.build),
    Creator("criticality", Some("label"), (s, d) => CriticalityDataset.prepareReleasable(s, d),
      CriticalityDataset.build),
    Creator("doc2doc", Some("cited_key"), plain(Doc2DocIRDataset.prepare), Doc2DocIRDataset.build),
    Creator("law_area", Some("law_area"), plain(TextDatasets.lawArea),
      viaWriter(TextDatasets.lawArea, Some("law_area"))),
    Creator("court_view", None, plain(TextDatasets.courtView),
      viaWriter(TextDatasets.courtView, None)),
    Creator("pretraining", None, plain(TextDatasets.pretraining),
      viaWriter(TextDatasets.pretraining, None)),
    Creator("citation_extraction", None, plain(TextDatasets.citationExtraction),
      viaWriter(TextDatasets.citationExtraction, None)),
    Creator("regeste", None, plain(TextDatasets.regeste), viaWriter(TextDatasets.regeste, None)))

  final case class Op(creator: String, seconds: Double, docs: Long)

  /** runs rounds of the eight creators over `inDir/documents.parquet`
    * and checks each against the expected split/label counts
    */
  final class Exporter(ctx: Main.Ctx, inDir: String) {
    private val spark = ctx.spark
    val expected: Checks.ExportExpect = Checks.exportExpectations(spark, inDir)
    val jsonl = new JsonlStats

    def runCreator(c: Creator, dir: String, out: String): JudgmentDataset.Report =
      if (!ctx.trace.enabled) c.build(spark, dir, out)
      else {
        val (df, release) = c.prepare(spark, dir)
        val rows = ctx.trace.span(s"datasets.${c.name}_prepare") {
          val p = df.persist(StorageLevel.MEMORY_AND_DISK)
          p.count()
          p
        }
        try ctx.trace.span("sources.jsonl_write")(DatasetWriter.write(rows, out, c.label))
        finally { rows.unpersist(); release() }
      }

    /** one round; `counted` rounds add to the op tally and the checks */
    def round(outRoot: String, counted: Boolean, res: Main.Result): Seq[Op] = {
      val ops = creators.flatMap { c =>
        if (counted) res.attempted += 1
        val out = s"$outRoot/${c.name}"
        val s0 = System.nanoTime()
        try {
          val report = ctx.trace.span(s"op.${c.name}")(runCreator(c, inDir, out))
          val op = Op(c.name, (System.nanoTime() - s0) / 1e9, expected.docs)
          if (counted) {
            Checks.export(spark, c.name, report, expected, out, readBack = c.name == "judgment")
              .foreach(w => res.fail(s"export ${c.name}", w))
            jsonl.add(out)
          }
          Some(op)
        } catch {
          case e: Exception if counted =>
            res.fail(s"export ${c.name}", s"${e.getClass.getName}: ${e.getMessage}")
            None
        }
      }
      Checks.deleteTree(new File(outRoot))
      ops
    }

    /** export figures (detail) and the datasets/JSONL layers (traced) */
    def report(ops: Seq[Op], res: Main.Result): Unit = {
      val rate = if (ops.isEmpty) 0.0 else ops.map(_.docs).sum / ops.map(_.seconds).sum
      val outPerIn = jsonl.bytes.toDouble / expected.textBytes
      res.detail("export_docs_per_s") = rate
      res.detail("export_creator_p50_ms") = Stats.median(ops.map(_.seconds * 1000))
      res.detail("export_out_bytes_per_in_byte") = outPerIn
      res.detail("export_input_docs") = expected.docs
      if (ctx.trace.enabled) {
        for (c <- creators)
          res.layers(s"datasets.${c.name}_prepare_s") = ctx.trace.seconds(s"datasets.${c.name}_prepare")
        res.layers("sources.jsonl_write_s") = ctx.trace.seconds("sources.jsonl_write")
        res.layers("sources.jsonl_bytes_out") = jsonl.bytes.toDouble
        res.layers("sources.jsonl_files_out") = jsonl.files.toDouble
        res.layers("export.docs_per_s") = rate
        res.layers("export.out_bytes_per_in_byte") = outPerIn
      }
    }
  }

  /** the compressed JSONL part files a creator wrote */
  final class JsonlStats {
    var bytes, files = 0L
    def add(out: String): Unit =
      for (split <- DatasetWriter.splits; dir = new File(out, split) if dir.isDirectory;
           f <- dir.listFiles() if f.getName.startsWith("part-")) {
        bytes += f.length()
        files += 1
      }
  }
}
