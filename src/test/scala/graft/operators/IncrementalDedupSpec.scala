package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** MinHashLSH.committedIncrementalDedupBucketed — the persisted-index
  * batch dedup (gates d13/d16). Driven with explicit band frames so the
  * collision topology is exact: corpus owns buckets A and B; the batch
  * brings one corpus dup, one within-batch dup pair, and one clean doc.
  */
class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  private def corpusBands = Seq(
    (1L, 0, "A"),
    (2L, 0, "B"),
  ).toDF("doc_id", "band", "h")

  // 10 collides with corpus bucket A; 11/12 share the fresh bucket C
  // (keep-first: 11 admitted, 12 within-batch dup); 13 is clean
  private def batchBands = Seq(
    (10L, 0, "A"),
    (11L, 0, "C"),
    (12L, 0, "C"),
    (13L, 0, "D"),
  ).toDF("doc_id", "band", "h")

  /** (index dir, verdict dir) of a fresh index backfilled from `corpus` */
  private def freshIndex(corpus: org.apache.spark.sql.DataFrame = corpusBands)
      : (String, String) = {
    val base = graft.queries.Scratch.dir("inc_dedup_")
    val dir = base.resolve("idx").toString
    MinHashLSH.buildBucketedIndex(corpus, dir)
    (dir, base.resolve("verdicts").toString)
  }

  private def dedup(batch: org.apache.spark.sql.DataFrame, dirs: (String, String),
                    batchId: Long): Map[Long, (Boolean, Boolean, Boolean)] =
    MinHashLSH.committedIncrementalDedupBucketed(batch, "doc_id", dirs._1, dirs._2, batchId)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("dup_of_corpus"), r.getAs[Boolean]("dup_in_batch"),
          r.getAs[Boolean]("admitted")))).toMap

  test("batch verdicts: corpus dup, keep-first within batch, clean admit") {
    val v = dedup(batchBands, freshIndex(), 0L)
    assert(v(10L) === ((true, false, false)))
    assert(v(11L) === ((false, false, true)))
    assert(v(12L) === ((false, true, false)))
    assert(v(13L) === ((false, false, true)))
  }

  test("append maintains the index: admitted bands land, nothing else") {
    val dirs = freshIndex()
    dedup(batchBands, dirs, 0L)
    val idx = spark.read.parquet(dirs._1)
    // corpus docs + the two admitted batch docs; dups 10/12 NOT indexed
    assert(idx.select("doc_id").distinct().as[Long].collect().toSet ===
      Set(1L, 2L, 11L, 13L))
    // and the admitted bands are exactly the batch's generation
    assert(idx.where(col("gen") === 0).select("doc_id").as[Long].collect().toSet ===
      Set(11L, 13L))
  }

  test("replaying the same batch after the append admits nothing") {
    val dirs = freshIndex()
    dedup(batchBands, dirs, 0L)
    // redelivered under a NEW batch id, so it is judged afresh
    val v = dedup(batchBands, dirs, 1L)
    // THE replay invariant: at-least-once redelivery cannot
    // double-ingest — nothing is admitted on the second pass
    assert(v.values.forall(_._3 === false))
    // on THIS topology every doc also reads dup_of_corpus (11/13 hit
    // their own appended bands, 12 hits 11's bucket C, 10 still hits
    // A) — fixture-specific, NOT the general invariant (see below)
    assert(v.values.forall(_._1 === true))
  }

  test("replay counterexample: a doc whose only partner was rejected replays as dup_in_batch") {
    // corpus owns A; batch doc 10 = {A, C} (corpus dup), doc 11 = {C}
    // (within-batch dup of the REJECTED 10). Nothing is admitted, so
    // nothing appends — on replay 11 is still dup_in_batch, NOT
    // dup_of_corpus. `admitted`, not `dup_of_corpus`, is the replay
    // signal a consumer must key on.
    val dirs = freshIndex(Seq((1L, 0, "A")).toDF("doc_id", "band", "h"))
    val batch = Seq((10L, 0, "A"), (10L, 0, "C"), (11L, 0, "C"))
      .toDF("doc_id", "band", "h")
    val first = dedup(batch, dirs, 0L)
    assert(first(10L) === ((true, false, false)))
    assert(first(11L) === ((false, true, false)))
    val replay = dedup(batch, dirs, 1L)
    assert(replay === first)
    assert(replay.values.forall(_._3 === false))
  }

  test("maintenance cost tracks the batch: corpus is never re-read for verdicts") {
    // the index probe must keep the batch side broadcast — the plan
    // may not shuffle the index scan (exchange on the big side would
    // be the 100 TB killer)
    val (idx, _) = freshIndex()
    // the entry returns a read of its committed verdicts, so assert on
    // the LAZY verdict plan it commits, over the pruned read it runs
    val probedHb = MinHashLSH.withHashBucket(batchBands)
      .select("hb").distinct().as[Int].collect().toSeq.sorted
    val res = MinHashLSH.incrementalVerdictPlan(batchBands, "doc_id",
      MinHashLSH.prunedBucketedIndex(spark, idx, probedHb)
        .select("doc_id", "band", "h"))
    val p = res.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast probe of the persisted index, got:\n$p")
  }
}
