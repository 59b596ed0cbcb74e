package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Model-based fuzz for MinHashLSH.committedIncrementalDedupBucketed:
  * random band topologies (random bucket assignments, random
  * corpus/batch split, multi-band docs, shared and disjoint buckets)
  * checked against a plain-Scala reference model computing the same
  * three verdicts from the raw edge sets. The indexes have 2–4 hash
  * buckets, so distinct `h` values share an `hb` dir and the pruned
  * probe must still tell them apart. Any divergence prints the seed.
  */
class IncrementalDedupRandomSpec extends SparkSpec {

  import spark.implicits._

  test("random topologies match the set-model verdicts (12 seeded trials)") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val nDocs = 20 + rnd.nextInt(40)
      val nBuckets = 3 + rnd.nextInt(10)
      // each doc gets 1-3 (band, h) rows; band in {0,1}, h over a small
      // shared alphabet so collisions are frequent
      val rows = (0L until nDocs.toLong).flatMap { id =>
        (0 to rnd.nextInt(3)).map { _ =>
          (id, rnd.nextInt(2), s"h${rnd.nextInt(nBuckets)}")
        }
      }.distinct
      val isBatch = (0L until nDocs.toLong).map(id => id -> (rnd.nextInt(3) == 0)).toMap
      val corpus = rows.filter(r => !isBatch(r._1))
      val batch = rows.filter(r => isBatch(r._1))
      if (batch.nonEmpty) {
        val base = graft.queries.Scratch.dir(s"inc_rand_$seed")
        val idx = base.resolve("i").toString
        MinHashLSH.buildBucketedIndex(corpus.toDF("doc_id", "band", "h"), idx,
          numBuckets = 2 + seed % 3)
        val got = MinHashLSH.committedIncrementalDedupBucketed(
            batch.toDF("doc_id", "band", "h"), "doc_id", idx,
            base.resolve("v").toString, 0L)
          .collect()
          .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
          .toMap
        // reference model over plain sets
        val corpusKeys = corpus.map(r => (r._2, r._3)).toSet
        val batchIds = batch.map(_._1).distinct
        val keysOf = batch.groupBy(_._1).map { case (id, rs) =>
          id -> rs.map(r => (r._2, r._3)).toSet }
        val want = batchIds.map { id =>
          val dupC = keysOf(id).exists(corpusKeys.contains)
          val dupB = batchIds.exists(o =>
            o < id && keysOf(o).exists(keysOf(id).contains))
          id -> ((dupC, dupB, !dupC && !dupB))
        }.toMap
        assert(got === want, s"seed=$seed nDocs=$nDocs nBuckets=$nBuckets")
      }
    }
  }

  test("committed protocol: random batch sequences with random replays match the sequential model") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(0xC0117ED + seed)
      val base = java.nio.file.Files.createTempDirectory(s"inc_seq_$seed")
      val idx = base.resolve("idx").toString
      val vd = base.resolve("verdicts").toString
      val nBuckets = 4 + rnd.nextInt(8)
      // seed corpus
      val corpus = (0L until 10L).flatMap { id =>
        (0 to rnd.nextInt(2)).map(_ => (id, 0, s"h${rnd.nextInt(nBuckets)}")) }.distinct
      MinHashLSH.buildBucketedIndex(corpus.toDF("doc_id", "band", "h"), idx,
        numBuckets = 2 + seed % 3)
      // the store's generations fold after this batch
      val foldAfter = rnd.nextInt(5).toLong
      // model state: the set of (band, h) keys the index holds, plus
      // the exact ROW set (doc_id distinct per batch, so row counts
      // expose double-appends a set compare would hide)
      var indexKeys = corpus.map(r => (r._2, r._3)).toSet
      var indexRows = corpus.toSet
      var nextId = 100L
      val landed = scala.collection.mutable.Map.empty[Long,
        (Seq[(Long, Int, String)], Map[Long, (Boolean, Boolean, Boolean)])]
      def run(batch: Seq[(Long, Int, String)], bid: Long) =
        MinHashLSH.committedIncrementalDedupBucketed(
            batch.toDF("doc_id", "band", "h"), "doc_id", idx, vd, bid)
          .collect()
          .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
          .toMap
      for (bid <- 0L until 5L) {
        val ids = (0 until 1 + rnd.nextInt(4)).map(_ => { nextId += 1; nextId })
        val batch: Seq[(Long, Int, String)] = ids.flatMap { id =>
          (0 to rnd.nextInt(2)).map(_ => (id, 0, s"h${rnd.nextInt(nBuckets)}")) }.distinct
        val keysOf = batch.groupBy(_._1).map { case (id, rs) =>
          id -> rs.map(r => (r._2, r._3)).toSet }
        val want = ids.sorted.map { id =>
          val dupC = keysOf(id).exists(indexKeys.contains)
          val dupB = ids.exists(o => o < id && keysOf(o).exists(keysOf(id).contains))
          id -> ((dupC, dupB, !dupC && !dupB))
        }.toMap
        val got = run(batch, bid)
        assert(got === want, s"seed=$seed bid=$bid")
        landed(bid) = (batch, want)
        // model append: admitted docs' keys + rows enter the index
        indexKeys ++= want.collect { case (id, (_, _, true)) => keysOf(id) }.flatten
        indexRows ++= batch.filter(r => want(r._1)._3)
        // random at-least-once replay of THIS batch (sometimes twice):
        // must return the stored verdicts and leave the index unchanged
        for (_ <- 0 until rnd.nextInt(3))
          assert(run(batch, bid) === want, s"seed=$seed bid=$bid replay")
        if (bid == foldAfter) {
          graft.sources.Sinks.compactGenerations(spark, idx, Some("hb"))
          // replay a random FOLDED batch: its gen dir is gone, and the
          // __committed manifest must still make it a pure skip
          val fid = rnd.nextInt(bid.toInt + 1).toLong
          assert(run(landed(fid)._1, fid) === landed(fid)._2,
            s"seed=$seed folded bid=$fid replay")
        }
      }
      // final invariant: the on-disk index (layout columns gen and hb
      // dropped) equals the model EXACTLY — row-for-row AND in count,
      // so a double-append cannot hide
      val disk = spark.read.parquet(idx).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("h")))
      assert(disk.length === indexRows.size, s"seed=$seed duplicate rows on disk")
      assert(disk.toSet === indexRows, s"seed=$seed final index drift")
      assert(disk.map(r => (r._2, r._3)).toSet === indexKeys, s"seed=$seed key drift")
    }
  }
}
