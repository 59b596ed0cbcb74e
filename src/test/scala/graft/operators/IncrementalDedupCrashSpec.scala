package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Crash-atomicity of MinHashLSH.committedIncrementalDedupBucketed
  * (the e18 sink protocol): simulate dying between the verdict commit
  * and the generational append, then replay — an admitted doc must
  * never be lost (verdict flipped to dup_of_corpus by its own appended
  * bands) and never double-ingested (duplicate bands in the index),
  * before or after the store's generations are folded. SinksCrashSpec
  * discipline: each window's on-disk state is constructed exactly, then
  * the real entry point is re-invoked as a restarted stream would.
  */
class IncrementalDedupCrashSpec extends SparkSpec {

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  /** fixture: corpus docs 1..6, batch = {3 (dup of corpus), 7, 8 (dup
    * of 7 in-batch), 9} — every verdict class represented. Bands are
    * handwritten (band 0, h = content key) so collisions are exact by
    * construction, no MinHash reverse-engineering.
    */
  private def bandRow(id: Long, h: Long) = (id, 0, s"c$h")

  private def corpusBands: DataFrame = {
    import spark.implicits._
    (1L to 6L).map(i => bandRow(i, i)).toDF("doc_id", "band", "h")
  }

  private def batchBands: DataFrame = {
    import spark.implicits._
    Seq(bandRow(3L, 3L), bandRow(7L, 70L), bandRow(8L, 70L), bandRow(9L, 90L))
      .toDF("doc_id", "band", "h")
  }

  private def verdictMap(df: DataFrame): Map[Long, (Boolean, Boolean, Boolean)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Boolean]("dup_of_corpus"), r.getAs[Boolean]("dup_in_batch"),
        r.getAs[Boolean]("admitted")))).toMap

  private val expected = Map(
    3L -> ((true, false, false)),   // collides with corpus doc 3
    7L -> ((false, false, true)),   // fresh → admitted
    8L -> ((false, true, false)),   // in-batch dup of 7 (keep-first)
    9L -> ((false, false, true)))   // fresh → admitted

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("inc_crash_")
    val idx = base.resolve("idx").toString
    MinHashLSH.buildBucketedIndex(corpusBands, idx)
    (idx, base.resolve("verdicts").toString)
  }

  private def dedup(batch: DataFrame, idx: String, vd: String, batchId: Long) =
    verdictMap(MinHashLSH.committedIncrementalDedupBucketed(
      batch, "doc_id", idx, vd, batchId))

  /** the index's band rows with the layout columns (gen, hb) dropped */
  private def indexBands(idx: String): Seq[(Long, Int, String)] =
    spark.read.parquet(idx).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("h")))
      .toSeq.sorted

  private def gens(idx: String): Set[String] =
    fs.listStatus(p(idx)).map(_.getPath.getName).filter(_.startsWith("gen=")).toSet

  private val appendedIndex =
    ((1L to 6L).map(i => (i, 0, s"c$i")) ++
      Seq((7L, 0, "c70"), (9L, 0, "c90"))).sorted

  test("crash BETWEEN verdict commit and index append: replay keeps the admitted verdict and appends exactly once") {
    val (idx, vd) = freshDirs()
    // reproduce the window: verdicts computed against the pre-append
    // index and committed under batch=0; the process dies before the
    // generational append. The commit is the entry's own, taken from a
    // twin index of the same corpus.
    val (twinIdx, twinVd) = freshDirs()
    dedup(batchBands, twinIdx, twinVd, 0L)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$twinVd/batch=0"),
      fs, p(s"$vd/batch=0"), false, spark.sparkContext.hadoopConfiguration))
    val committed = fs.listStatus(p(s"$vd/batch=0")).map(_.getPath.getName).toSet
    assert(indexBands(idx) == (1L to 6L).map(i => (i, 0, s"c$i")).sorted)

    // the decisive assertion: docs 7/9 were admitted pre-crash; the
    // replay must NOT flip them to dup_of_corpus via their own bands
    assert(dedup(batchBands, idx, vd, 0L) == expected,
      "replay after the verdict-commit window must trust the stored verdict")
    assert(fs.listStatus(p(s"$vd/batch=0")).map(_.getPath.getName).toSet == committed,
      "the stored verdict is read, never rewritten")
    assert(indexBands(idx) == appendedIndex, "append happens exactly once")
    assert(gens(idx) == Set("gen=-1", "gen=0"), "admitted bands (7, 9) landed as gen=0")

    // full replay (restart after everything committed): verdicts
    // stable, index untouched — no re-judging against the appended bands
    assert(dedup(batchBands, idx, vd, 0L) == expected,
      "replay must return the stored verdicts unchanged")
    assert(indexBands(idx) == appendedIndex, "replay must not double-append")
  }

  test("sequential batches chain through the committed index; a later batch sees earlier admits") {
    import spark.implicits._
    val (idx, vd) = freshDirs()
    dedup(batchBands, idx, vd, 0L)
    // batch 1: doc 11 collides with batch 0's ADMITTED doc 7 → must be
    // dup_of_corpus now; doc 12 fresh
    val b1 = Seq(bandRow(11L, 70L), bandRow(12L, 120L)).toDF("doc_id", "band", "h")
    assert(dedup(b1, idx, vd, 1L) == Map(
      11L -> ((true, false, false)), 12L -> ((false, false, true))))
    // reading the verdict ROOT yields both batches with the partition col
    val all = spark.read.parquet(vd)
    assert(all.select("batch").distinct().collect().map(_.getInt(0)).toSet == Set(0, 1))
    assert(all.count() == 6)
  }

  test("compaction keeps verdicts; replay after the fold is a pure skip") {
    import spark.implicits._
    val (idx, vd) = freshDirs()
    dedup(batchBands, idx, vd, 0L)
    val b1 = Seq(bandRow(11L, 70L), bandRow(12L, 120L)).toDF("doc_id", "band", "h")
    val v1 = dedup(b1, idx, vd, 1L)
    assert(gens(idx) == Set("gen=-1", "gen=0", "gen=1"))
    val contentBefore = indexBands(idx)

    graft.sources.Sinks.compactGenerations(spark, idx, Some("hb"))
    assert(gens(idx) == Set("gen=-1"), "every generation folds into gen=-1")
    assert(indexBands(idx) == contentBefore, "compaction must preserve every band row")

    // the folded gen dirs were the replay markers; the __committed
    // manifest now is, so replaying either folded batch id returns its
    // stored verdicts and appends nothing
    assert(dedup(batchBands, idx, vd, 0L) == expected)
    assert(dedup(b1, idx, vd, 1L) == v1)
    assert(indexBands(idx) == contentBefore, "post-compaction replay must not re-append")
    assert(gens(idx) == Set("gen=-1"))

    // a new batch is judged against the folded index: 21 hits batch
    // 0's admitted 7, 22 is fresh
    val probe = Seq(bandRow(21L, 70L), bandRow(22L, 999L)).toDF("doc_id", "band", "h")
    assert(dedup(probe, idx, vd, 2L) == Map(
      21L -> ((true, false, false)), 22L -> ((false, false, true))))
  }

  test("bucketed index (d16): verdicts equal the expected set, probe partition-prunes to the batch's hash buckets") {
    import org.apache.spark.sql.functions.input_file_name
    val (bucketed, vd) = freshDirs()
    assert(dedup(batchBands, bucketed, vd, 0L) == expected,
      "layout must never change verdicts")

    // the probe's index scan — THE read the operator itself runs
    // (prunedBucketedIndex) — touches ONLY the batch's hash buckets
    import spark.implicits._
    val probedHb = MinHashLSH.withHashBucket(batchBands)
      .select("hb").distinct().as[Int].collect().toSet
    val pruned = MinHashLSH.prunedBucketedIndex(spark, bucketed, probedHb.toSeq.sorted)
    // non-EMPTY partition filters: "PartitionFilters: []" would mean
    // the isin degraded to a post-scan data filter (no pruning)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(planStr).isDefined,
      "the hb filter must reach the scan as a NON-EMPTY partition filter: " +
        planStr.take(800))
    val readFiles = pruned
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(readFiles.nonEmpty &&
      readFiles.forall(f => probedHb.exists(b => f.contains(s"hb=$b/"))),
      s"probe must touch only buckets $probedHb, read: ${readFiles.mkString(", ")}")
    // and the index genuinely holds buckets the probe never read
    val allHb = spark.read.parquet(bucketed)
      .select("hb").distinct().as[Int].collect().toSet
    assert((allHb -- probedHb).nonEmpty, "fixture must have unprobed buckets")

    // generational append under the bucketed layout: admitted bands
    // landed as gen=0 and a probe of the same docs under a new id
    // sees them
    val v3 = dedup(batchBands, bucketed, vd, 99L)
    assert(v3.values.forall(v => !v._3), "replayed batch docs all hit the appended bands")
  }

  test("bucketed index: probing without the layout marker fails loudly, never prunes wrong") {
    val base = java.nio.file.Files.createTempDirectory("inc_nohb_")
    val dir = base.resolve("hb").toString
    // an index laid down WITHOUT buildBucketedIndex (no layout marker)
    graft.sources.Sinks.committedPartitionedAppend(
      MinHashLSH.withHashBucket(corpusBands, 32), dir, -1L, "hb")
    val e = intercept[IllegalStateException](
      dedup(batchBands, dir, base.resolve("verdicts").toString, 0L))
    assert(e.getMessage.contains("layout marker"))
  }

  test("committed bucketed face: crash between verdict commit and gen append heals like the flat protocol") {
    val base = java.nio.file.Files.createTempDirectory("inc_hbc_")
    val idx = base.resolve("hb").toString
    val vd = base.resolve("verdicts").toString
    MinHashLSH.buildBucketedIndex(corpusBands, idx)
    // window: verdicts committed (computed pre-append by the entry's
    // verdict plan over the whole index), process died before the
    // generational append
    MinHashLSH.incrementalVerdictPlan(batchBands, "doc_id",
        spark.read.parquet(idx).select("doc_id", "band", "h"))
      .write.parquet(s"$vd/batch=0")

    val v = MinHashLSH.committedIncrementalDedupBucketed(
      batchBands, "doc_id", idx, vd, 0L)
    assert(verdictMap(v) == expected,
      "replay must trust the stored verdict, not re-judge")
    val gen0 = spark.read.parquet(idx).where(col("gen") === 0)
    assert(gen0.count() == 2, "admitted bands (7, 9) landed as gen=0")
    // full replay: pure skip, nothing double-appends
    val v2 = MinHashLSH.committedIncrementalDedupBucketed(
      batchBands, "doc_id", idx, vd, 0L)
    assert(verdictMap(v2) == expected)
    assert(spark.read.parquet(idx).where(col("gen") === 0).count() == 2)
  }

  test("committedPartitionedAppend reports id reuse and sweeps stale tmp dirs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gen_reuse_")
      .resolve("idx").toString
    def gen(ids: Range) = ids.map(i => (i.toLong, i % 2)).toDF("id", "part")
    assert(graft.sources.Sinks.committedPartitionedAppend(gen(0 until 4), dir, 0L, "part"))
    // id REUSE for a different batch: reported, not silently dropped
    assert(!graft.sources.Sinks.committedPartitionedAppend(gen(10 until 14), dir, 0L, "part"))
    // a dead half-write from a crashed writer is swept on the next call
    gen(90 until 94).write.partitionBy("part").parquet(s"$dir/.tmp_gen_7")
    assert(graft.sources.Sinks.committedPartitionedAppend(gen(20 until 22), dir, 1L, "part"))
    assert(!fs.exists(p(s"$dir/.tmp_gen_7")), "stale tmp must be swept")
    assert(spark.read.parquet(dir).count() == 6)
  }
}
