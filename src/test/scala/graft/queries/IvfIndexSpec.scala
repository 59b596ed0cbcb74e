package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** s13's persisted IVF index: Spark's partition discovery must prune
  * a partitioned parquet layout to the probed directories, across
  * generations too (the inverted-file contract — unprobed corpus is
  * never listed or read); the committed cell-store append must make a
  * replay a pure skip; and serving from the persisted index must
  * reproduce the in-memory s9 serve exactly.
  */
class IvfIndexSpec extends SparkSpec {

  test("probe read partition-prunes to the probed cell directories") {
    import spark.implicits._
    val dir = Scratch.dir("ivf_idx_").resolve("ivf").toString
    (0L until 40L).map(i => (i, (i % 4).toInt)).toDF("vec_id", "cell")
      .write.partitionBy("cell").parquet(dir)
    val probed = spark.read.parquet(dir).where(col("cell").isin(0, 2))
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("cell"),
      s"expected a partition filter on cell, got:\n$p")
    // rows can only come from the two probed directories
    val files = probed.select(input_file_name().as("f")).distinct()
      .as[String].collect()
    assert(files.nonEmpty &&
      files.forall(f => f.contains("cell=0") || f.contains("cell=2")))
    // and the full index genuinely has more partitions than the probe
    assert(spark.read.parquet(dir).inputFiles
      .exists(f => f.contains("cell=1") || f.contains("cell=3")))
  }

  test("as-of read prunes BOTH partition levels (gen and cell) in one scan") {
    import spark.implicits._
    val dir = Scratch.dir("ivf_asof_").resolve("ivf").toString
    for (g <- Seq(-1, 0, 1))
      (0L until 20L).map(i => (i + 100L * g, (i % 4).toInt))
        .toDF("vec_id", "cell")
        .write.partitionBy("cell").parquet(s"$dir/gen=$g")
    val snap = spark.read.parquet(dir)
      .where(col("cell").isin(0, 2) && col("gen") <= lit(0))
    val p = snap.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("cell") &&
      p.contains("gen"), s"expected partition filters on gen AND cell:\n$p")
    val files = snap.select(input_file_name().as("f")).distinct()
      .as[String].collect()
    assert(files.nonEmpty && files.forall(f =>
      (f.contains("gen=-1") || f.contains("gen=0")) &&
        (f.contains("cell=0") || f.contains("cell=2"))))
  }

  test("append lands inside the existing cell directories and is immediately visible") {
    import spark.implicits._
    val dir = Scratch.dir("ivf_app_").resolve("ivf").toString
    (0L until 20L).map(i => (i, (i % 2).toInt)).toDF("vec_id", "cell")
      .write.partitionBy("cell").parquet(dir)
    (100L until 110L).map(i => (i, (i % 2).toInt)).toDF("vec_id", "cell")
      .write.mode("append").partitionBy("cell").parquet(dir)
    val back = spark.read.parquet(dir)
    // both generations readable, cells preserved
    assert(back.count() === 30)
    assert(back.where(col("vec_id") >= 100L && col("cell") === 1).count() === 5)
    // the append created no new top-level partition directories
    val cells = new java.io.File(dir).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(cells === Set("cell=0", "cell=1"))
  }

  test("committedBucketedCellAppend: replayed batchIds are pure skips; crashed tmp is invisible") {
    import spark.implicits._
    import graft.operators.VectorOps
    val dir = Scratch.dir("ivf_gen_").resolve("ivf").toString
    def gen(ids: Range) = ids.map(i => (i.toLong, (i % 3).toLong)).toDF("vec_id", "cell")
    def append(ids: Range, batchId: Long) =
      VectorOps.committedBucketedCellAppend(gen(ids), dir, batchId, 4)
    assert(append(0 until 12, -1L))
    assert(append(100 until 106, 0L))
    assert(spark.read.parquet(dir).count() === 18)
    // at-least-once REPLAY of batch 0 (different rows — must be ignored,
    // the generation is already committed)
    assert(!append(200 until 220, 0L))
    assert(spark.read.parquet(dir).count() === 18,
      "a replayed batchId must not double-ingest")
    // a crashed half-write (hidden tmp left behind) is invisible to
    // readers and to partition discovery
    gen(900 until 910).withColumn("cell_bucket", (col("cell") % 4).cast("int"))
      .write.partitionBy("cell_bucket").parquet(s"$dir/.tmp_gen_7")
    assert(spark.read.parquet(dir).count() === 18)
    // the cell prune is a bucket prune across generations
    // (input_file_name is execution-time truth; inputFiles is the
    // pre-pruning listing)
    val prunedFiles = spark.read.parquet(dir).where(col("cell_bucket") === 1)
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(prunedFiles.nonEmpty && prunedFiles.forall(_.contains("cell_bucket=1")))
    // and the next real batch commits normally
    assert(append(300 until 303, 1L))
    assert(spark.read.parquet(dir).count() === 21)
  }

  test("serving from the persisted index equals the in-memory serve (s13 == s9)") {
    val fromIndex = graft.SparkEntry.queries("s13_ivf_index_served")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val inMemory = graft.SparkEntry.queries("s9_ivf_kmeans")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(fromIndex === inMemory)
    assert(fromIndex.nonEmpty)
  }
}
