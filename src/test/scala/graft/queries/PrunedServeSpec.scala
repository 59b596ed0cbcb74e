package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.VectorOps
import graft.sources.Sinks
import graft.tools.GenLayoutProbe.countListingJobs

/** The serving reads of generational stores resolve their probed
  * partition dirs by a direct listing (`Sinks.prunedPartitionRead`): BM25
  * serve and the bucketed IVF cell scan answer exactly as the
  * whole-root read with the same partition filter does, on every
  * layout a store can have, and start no distributed listing job even
  * when a generation holds 64 partition dirs.
  */
class PrunedServeSpec extends SparkSpec {
  import spark.implicits._

  /** docs of `words` tokens drawn from `vocab` names, one seed per gen */
  private def docs(first: Long, n: Int, words: Int, vocab: Seq[String],
                   seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (first + i,
      Seq.fill(words)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** a BM25 index of one generation per entry of `gens` (flat when
    * `flat`, the t27 layout: a single batch with no gen level)
    */
  private def bm25Index(gens: Seq[DataFrame], flat: Boolean = false): String = {
    val idx = Scratch.dir("pruned_bm25_").toString
    if (flat) TextQueries.landBm25Tables(spark,
      TextQueries.tfOf(gens.reduce(_ union _)), idx, "error")
    else gens.zipWithIndex.foreach { case (d, g) =>
      TextQueries.landBm25Tables(spark, TextQueries.tfOf(d), idx, "append",
        Some(g.toLong))
    }
    idx
  }

  private def bucketOf(tokens: Seq[String]): Map[String, Int] =
    tokens.toDF("token").select(col("token"), pmod(hash(col("token")), lit(64)))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  /** bm25Serve's scoring over whole-root reads with its partition
    * filters — the read every serve made before probed dirs were
    * resolved by a direct listing
    */
  private def wholeRootBm25(idx: String, terms: Seq[String], k: Int,
                            asOf: Option[Long] = None): DataFrame = {
    val bks = terms.map(bucketOf(terms)).distinct
    def read(t: String): DataFrame = {
      val d = spark.read.parquet(s"$idx/$t")
      asOf.fold(d)(a => d.where(col("gen") <= a.toInt))
    }
    val qdf = read("df").where(col("tb").isin(bks: _*))
      .join(broadcast(terms.toDF("token")), "token")
      .groupBy("token").agg(sum("df").as("df")).where(col("df") > 0)
    val stats = read("stats").agg((sum(col("sum_dl")).cast("double") /
      sum(col("n")).cast("double")).as("avgdl"), sum(col("n")).as("n"))
    read("postings").where(col("tb").isin(bks: _*))
      .join(broadcast(qdf), "token")
      .join(read("dl").select(col("doc_id"), col("dl")), "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), TextQueries.bm25Contrib.as("c"))
      .groupBy("doc_id").agg(sum("c").cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .withColumn("served_pruned", lit(true))
  }

  /** same schema, same hits in the same order; scores to 1e-9 (a doc's
    * per-term contributions sum in shuffle-fetch order on either read)
    */
  private def assertSameServe(idx: String, terms: Seq[String],
                              asOf: Option[Long] = None,
                              k: Int = 20): Array[Row] = {
    val got = TextQueries.bm25Serve(spark, idx, terms, k, asOf)
    val want = wholeRootBm25(idx, terms, k, asOf)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect(), want.collect())
    assert(g.map(_.getLong(0)).toSeq == w.map(_.getLong(0)).toSeq,
      s"hits differ for $terms asOf=$asOf")
    g.zip(w).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) <= 1e-9, s"$a vs $b")
    }
    assert(g.forall(_.getBoolean(2)), s"served_pruned false for $terms")
    g
  }

  private val vocab = (0 until 40).map(i => s"w$i")

  test("served_pruned holds for 1-, 2- and 12-bucket queries " +
       "(= and INSET shapes of the partition filter)") {
    val idx = bm25Index(Seq(docs(0, 30, 40, vocab, 1), docs(100, 30, 40, vocab, 2)))
    val byBucket = bucketOf(vocab).toSeq.groupBy(_._2).values.map(_.head._1)
      .toSeq.sorted
    assert(byBucket.size >= 12, "need 12 distinct-bucket tokens")
    for (n <- Seq(1, 2, 12)) {
      val terms = byBucket.take(n)
      assert(terms.map(bucketOf(terms)).distinct.size == n)
      val rows = assertSameServe(idx, terms)
      assert(rows.nonEmpty, s"no hits for $terms")
    }
  }

  test("bm25Serve equals the whole-root read: 2 generations, flat t27, " +
       "as-of excluding a generation") {
    val g0 = docs(0, 30, 40, vocab, 3)
    val g1 = docs(100, 30, 40, vocab.take(20), 4)
    val gens = bm25Index(Seq(g0, g1))
    val flat = bm25Index(Seq(g0, g1), flat = true)
    val terms = Seq("w3", "w17", "w31")
    assertSameServe(gens, terms)
    assertSameServe(flat, terms)
    val asOf = assertSameServe(gens, terms, Some(0L))
    // gen 1's docs are out of the gen-0 snapshot
    assert(asOf.nonEmpty && asOf.forall(_.getLong(0) < 100))
  }

  test("bm25Serve equals the whole-root read when a probed bucket is " +
       "missing from one generation or from every generation") {
    val b = bucketOf(vocab)
    val g1Vocab = vocab.take(5)
    val g1Buckets = g1Vocab.map(b).toSet
    // an old-vocabulary term whose bucket gen 1 never wrote
    val onlyG0 = vocab.drop(5).find(t => !g1Buckets(b(t))).get
    val idx = bm25Index(Seq(docs(0, 30, 40, vocab, 5), docs(100, 30, 40, g1Vocab, 6)))
    val rows = assertSameServe(idx, Seq(onlyG0, "w1"), k = 100)
    assert(rows.exists(_.getLong(0) >= 100) && rows.exists(_.getLong(0) < 100))
    // a term whose bucket no generation holds: empty, same schema
    val allB = b.values.toSet
    val absent = Iterator.from(0).map(i => s"absent$i")
      .find(t => !allB(bucketOf(Seq(t))(t))).get
    assert(assertSameServe(idx, Seq(absent)).isEmpty)
  }

  test("stale .tmp_gen_* dirs and _SUCCESS files are invisible to serve") {
    val idx = bm25Index(Seq(docs(0, 30, 40, vocab, 7), docs(100, 30, 40, vocab, 8)))
    val terms = Seq("w2", "w9")
    val before = assertSameServe(idx, terms)
    // a crashed append's half-write carrying real rows of a probed
    // bucket, plus _SUCCESS markers at the root and inside a generation
    for (t <- Seq("postings", "df")) {
      val tb = bucketOf(terms)("w2")
      val src = new java.io.File(s"$idx/$t/gen=0/tb=$tb")
      val stale = new java.io.File(s"$idx/$t/.tmp_gen_7/tb=$tb")
      stale.mkdirs()
      src.listFiles.filter(_.getName.endsWith(".parquet")).foreach(f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(stale, f.getName).toPath))
      new java.io.File(s"$idx/$t/_SUCCESS").createNewFile()
      new java.io.File(s"$idx/$t/gen=1/_SUCCESS").createNewFile()
    }
    val after = assertSameServe(idx, terms)
    assert(after.map(_.getLong(0)).toSeq == before.map(_.getLong(0)).toSeq)
  }

  test("a root holding gen= and partition dirs side by side refuses, as " +
       "Spark's discovery does") {
    val root = Scratch.dir("pruned_mixed_").resolve("t").toString
    Seq((1L, 3)).toDF("doc_id", "tb").write.partitionBy("tb").parquet(s"$root/gen=0")
    Seq((2L, 3)).toDF("doc_id", "tb").write.partitionBy("tb").mode("append")
      .parquet(root)
    intercept[Throwable](spark.read.parquet(root).collect())
    val e = intercept[IllegalStateException](
      Sinks.prunedPartitionRead(spark, root, "tb", Seq(3)))
    assert(e.getMessage.contains("conflicting directory structures"))
  }

  private def ivfStore(gens: Seq[Seq[Long]], nlist: Long): String = {
    val dir = Scratch.dir("pruned_ivf_").resolve("ivf").toString
    gens.zipWithIndex.foreach { case (cells, g) =>
      val df = cells.flatMap(c => (0 until 3).map(i => (g * 10000L + c * 10 + i, c)))
        .toDF("vec_id", "cell")
      VectorOps.committedCellAppendAuto(df, dir, g.toLong, nlist)
    }
    dir
  }

  /** prunedCellScan over the whole root with its partition and cell
    * filters
    */
  private def wholeRootCells(dir: String, probed: Seq[Long], b: Int,
                             asOf: Option[Long]): DataFrame = {
    val d = spark.read.parquet(dir)
      .where(col("cell_bucket").isin(probed.map(c => (c % b).toInt).distinct: _*))
      .where(col("cell").isin(probed: _*)).drop("cell_bucket")
    asOf.fold(d)(a => d.where(col("gen") <= a.toInt)).drop("gen")
  }

  test("prunedCellScan equals the whole-root read: 2 generations, as-of, " +
       "a bucket missing from one generation, every bucket missing") {
    // nlist 16 → 16 buckets; gen 1 never writes cells 5 and 9
    val dir = ivfStore(Seq((0L until 16L), (0L until 16L).filter(c => c != 5 && c != 9)), 16)
    def same(probed: Seq[Long], asOf: Option[Long] = None): Array[Row] = {
      val want = wholeRootCells(dir, probed, 16, asOf)
      for (got <- Seq(
             VectorOps.prunedCellScan(spark, dir, probed.toArray, asOf),
             VectorOps.prunedCellScanFromFrame(spark, dir, probed.toDF("cell"), asOf))) {
        assert(got.schema == want.schema)
        assert(got.collect().sortBy(_.getLong(0)).toSeq ==
          want.collect().sortBy(_.getLong(0)).toSeq, s"cells $probed asOf=$asOf")
      }
      want.collect()
    }
    assert(same(Seq(2L, 11L)).map(_.getLong(0)).exists(_ >= 10000))
    assert(same(Seq(2L, 11L), Some(0L)).forall(_.getLong(0) < 10000))
    assert(same(Seq(5L)).forall(_.getLong(0) < 10000)) // bucket 5 only in gen 0
    // cells 21 and 25 fall in buckets 5 and 9 but no generation holds them
    val dir2 = ivfStore(Seq((0L until 16L).filter(c => c != 5 && c != 9)), 16)
    val got = VectorOps.prunedCellScan(spark, dir2, Array(21L, 25L))
    assert(got.isEmpty && got.schema == wholeRootCells(dir2, Seq(21L, 25L), 16, None).schema)
  }

  test("no distributed listing job per BM25 serve over 2 generations x " +
       "64 tb dirs") {
    val big = (0 until 1000).map(i => s"v$i")
    val idx = bm25Index(Seq(docs(0, 40, 60, big, 9), docs(100, 40, 60, big, 10)))
    for (g <- 0 to 1; t <- Seq("postings", "df"))
      assert(new java.io.File(s"$idx/$t/gen=$g").list().count(_.startsWith("tb=")) == 64)
    // the whole-root read lists each 64-dir generation as a job
    val (_, rootLists) = countListingJobs(spark)(spark.read.parquet(s"$idx/postings"))
    assert(rootLists == 2)
    val (rows, lists) = countListingJobs(spark)(
      TextQueries.bm25Serve(spark, idx, Seq("v1", "v2", "v3"), 10).collect())
    assert(rows.nonEmpty && lists == 0, s"$lists listing jobs in one BM25 serve")
  }

  test("no distributed listing job per IVF serve over 2 generations x 64 " +
       "buckets (nlist 64)") {
    val ivf = ivfStore(Seq(0L until 64L, 0L until 64L), 64)
    assert(new java.io.File(s"$ivf/gen=1").list().count(_.startsWith("cell_bucket=")) == 64)
    val (hits, lists) = countListingJobs(spark) {
      VectorOps.prunedCellScanFromFrame(spark, ivf, Seq(3L, 40L).toDF("cell")).collect()
    }
    assert(hits.length == 12 && lists == 0, s"$lists listing jobs in one IVF serve")
  }
}
