package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.MinHashLSH
import graft.sources.Sinks
import graft.tools.GenLayoutProbe.countJobs

/** Building a read of a generational store resolves its dirs and its
  * schema on the driver: no Spark job runs until the frame is executed
  * (a schema-inference read runs one job per store).
  */
class StoreReadJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs `f` launches, in any job group */
  private def jobsOf[T](f: => T): (T, Int) = countJobs(spark)(_ => true)(f)

  test("building a BM25 serve frame over a 2-generation index launches no job") {
    val idx = Scratch.dir("jobs_bm25_").toString
    for (g <- 0 to 1) {
      val docs = (0 until 20).map(i => (g * 100L + i, s"w${i % 7} w${(i + g) % 5} w9"))
        .toDF("doc_id", "text")
      TextQueries.landBm25Tables(spark, TextQueries.tfOf(docs), idx, "append", Some(g.toLong))
    }
    val (frame, jobs) = jobsOf(TextQueries.bm25Serve(spark, idx, Seq("w1", "w9"), 10))
    assert(jobs == 0, s"building the serve frame launched $jobs Spark jobs")
    val rows = frame.collect()
    assert(rows.length == 10 && rows.forall(_.getBoolean(2)))
  }

  test("building the dedup probe's pruned index read over a 3-generation " +
       "bucketed index launches no job") {
    val dir = Scratch.dir("jobs_hb_").resolve("hb").toString
    def bands(first: Long) = (0 until 60).map(i => (first + i, i % 4, (first + i) * 31L % 97))
      .toDF("doc_id", "band", "h")
    MinHashLSH.buildBucketedIndex(bands(0), dir)
    for (g <- 0 to 1)
      Sinks.committedPartitionedAppend(MinHashLSH.withHashBucket(bands(1000L * (g + 1))),
        dir, g.toLong, "hb")
    val probed = MinHashLSH.withHashBucket(bands(0)).select("hb").distinct()
      .as[Int].collect().sorted.take(3).toSeq
    val (pruned, jobs) = jobsOf(MinHashLSH.prunedBucketedIndex(spark, dir, probed))
    assert(jobs == 0, s"building the pruned index read launched $jobs Spark jobs")
    val want = spark.read.parquet(dir).where(col("hb").isin(probed: _*))
    assert(pruned.count() == want.count() && want.count() > 0)
  }
}
