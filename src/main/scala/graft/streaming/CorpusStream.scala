package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery}

import graft.pipeline.CorpusPipeline

/** Continuous corpus construction (§3.1 as a STREAM): the landing dir
  * is consumed with the Structured Streaming file source — each
  * microbatch discovers the newly landed files and routes exactly
  * those documents through the SAME batch pipeline stages (ingest →
  * sections → the eight tables) via `foreachBatch` and the batch run's
  * own wave landing (`CorpusPipeline.landWave`). This is the
  * Spark-first replacement for the reference's cron-driven re-runs
  * (`main.py:88`): instead of "run the whole pipeline again and skip
  * what the progress files remember", new files flow through
  * incrementally and re-delivery is absorbed by the landing's
  * per-decision replace, keyed on decision_id.
  *
  * ALL THREE file kinds drive progress (checkpointed file offsets),
  * not just the `.json` metas: the landing protocol allows a payload
  * to land minutes after its meta, and a meta-only batch would skip
  * that document with no later file to re-trigger its stem. Because a
  * late `{stem}.html`/`{stem}.pdf` is itself a new file, its arrival
  * re-enters the stem and the batch rescan now sees the complete
  * triple — the keyed upsert replaces whatever the meta-only pass
  * produced (usually nothing: a payload-less triple fails min_chars).
  * Payload-before-meta inverts the same way: the stem joins to no
  * meta row until the `.json` lands and re-triggers it. This
  * sidesteps stream-stream joining of the three kinds (which would
  * need watermarks the landing protocol cannot promise).
  *
  * The per-batch rescan lists `srcDir`; at 100 TB the landing area is
  * date-partitioned and each stream instance pointed at the OPEN
  * partition via `openPartition` (e.g. `date=2026-08-13`), keeping
  * both the source listing and the rescan bounded by one partition —
  * closed partitions are never listed again. `maxFilesPerTrigger`
  * bounds a single microbatch during backfill.
  */
object CorpusStream {

  /** Start the continuous pipeline; returns the StreamingQuery (caller
    * owns its lifecycle — `processAllAvailable()` in tests, `awaitTermination()`
    * in production).
    *
    * @param openPartition when the landing dir is partitioned
    *   (`landing/date=…/`), the single open partition to watch; both
    *   the file source and the per-batch rescan are confined to it
    * @param maxFilesPerTrigger upper bound on files per microbatch
    */
  def run(spark: SparkSession, landingDir: String, outDir: String,
          spider: String, checkpointDir: String,
          minChars: Int = 50,
          openPartition: Option[String] = None,
          maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val srcDir = openPartition.fold(landingDir)(p => s"$landingDir/$p")
    // the file streaming source requires an explicit schema — this is
    // binaryFile's fixed one (path, modificationTime, length, content);
    // only `path` is selected, so column pruning skips the payload bytes
    val reader: DataStreamReader = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.{json,html,pdf}")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val landed = reader.load(srcDir)
      .select(regexp_extract(col("path"), "([^/]+)\\.[a-z]+$", 1).as("stem"))

    landed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val stems = batch.select("stem").distinct()
        val docs = CorpusPipeline.ingest(spark, srcDir, minChars)
          .join(broadcast(stems), Seq("stem"))
          .persist()
        try {
          val sectioned = CorpusPipeline.splitSections(docs, spider).persist()
          // the batch run's own landing: one concurrent pass over the
          // eight tables, keyed on this micro-batch's decision ids; it
          // returns only after every write settled, so the unpersists
          // below never run while a write still reads the caches
          try { CorpusPipeline.landWave(spark, docs, sectioned, outDir, spider); () }
          finally { sectioned.unpersist(); () }
        } finally { docs.unpersist(); () }
        ()
      }
      .start()
  }
}
