package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.VectorOps

/** The IVF cell store layout (s13–s30): `cell_bucket = cell % B` is
  * the PARTITION key and `cell` a cell-sorted DATA column, so directory
  * count is bounded by B no matter how many cells exist — a directory
  * per cell walls at ~10⁵ cells. These tests pin the two-level
  * prune from the EXECUTED plan (bucket partition prune + pushed
  * In(cell) filter), the cell-sort write contract that makes the
  * pushed filter a row-group min/max skip at production row-group
  * counts, the layout-marker contract (an unmarked store refuses to
  * serve), the fold's layout preservation, and writer invisibility in
  * served results (s26 == s20's oracle family; same DuckDB hashes in
  * CORRECTNESS).
  */
class BucketedIvfSpec extends SparkSpec {

  private def synthStore(dir: String, cells: Int, buckets: Int,
                         gen: Long = -1L, rows: Int = 3): Unit = {
    import spark.implicits._
    val df = (0 until cells * rows)
      .map(i => (i.toLong, (i % cells).toLong)).toDF("vec_id", "cell")
    VectorOps.committedBucketedCellAppend(df, dir, gen, buckets)
  }

  test("serve-shaped read: bucket partition prune + pushed cell filter, " +
       "directory count bounded by B at 200 cells") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_prune_").resolve("ivf").toString
    synthStore(dir, cells = 200, buckets = 8)
    // 200 cells would be 200 directories at one dir per cell; here
    // the generation holds at most B=8 bucket dirs
    val bucketDirs = new java.io.File(s"$dir/gen=-1").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bucketDirs.size <= 8 && bucketDirs.forall(_.startsWith("cell_bucket=")),
      s"expected <= 8 cell_bucket dirs, got $bucketDirs")
    // the serve shape: probed cells {3, 11} live in buckets {3 % 8, 11 % 8}
    val probed = Seq(3L, 11L)
    val bks = probed.map(c => (c % 8).toInt).distinct
    val served = spark.read.parquet(dir)
      .where(col("cell_bucket").isin(bks: _*))
      .where(col("cell").isin(probed: _*))
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("cell_bucket"),
      s"expected a partition filter on cell_bucket, got:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("In(cell"),
      s"expected In(cell, ...) pushed into the parquet scan, got:\n$p")
    // execution-time truth: rows only from the probed bucket dirs
    val files = served.select(input_file_name().as("f")).distinct()
      .as[String].collect()
    assert(files.nonEmpty &&
      files.forall(f => f.contains("cell_bucket=3")),
      s"rows leaked outside the pruned buckets: ${files.mkString(", ")}")
    assert(served.select("cell").distinct().as[Long].collect().toSet ==
      probed.toSet)
    // and the full store genuinely has more buckets than the probe read
    assert(spark.read.parquet(dir).inputFiles
      .exists(f => !f.contains("cell_bucket=3")))
  }

  test("rows are cell-sorted within each written file (the row-group " +
       "min/max skip contract)") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_sort_").resolve("ivf").toString
    synthStore(dir, cells = 40, buckets = 4)
    val aFile = spark.read.parquet(dir).inputFiles.head
    val cells = spark.read.parquet(aFile).select("cell").as[Long].collect()
    assert(cells.length > 1, "expected a multi-row file")
    assert(cells.sameElements(cells.sorted),
      s"file rows not cell-sorted: ${cells.take(20).mkString(",")}")
  }

  test("layout marker contract: differing bucket count refuses; reading " +
       "an unmarked store refuses") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_marker_").resolve("ivf").toString
    synthStore(dir, cells = 10, buckets = 4)
    val err = intercept[IllegalStateException] {
      synthStore(dir, cells = 10, buckets = 8, gen = 0L)
    }
    assert(err.getMessage.contains("numBuckets=4"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.Sinks.readLayoutMarker(fs, dir) == 4)
    intercept[IllegalStateException] {
      graft.sources.Sinks.readLayoutMarker(fs, dir + "_nowhere")
    }
  }

  test("fold preserves the bucket layout, the cell sort, and the marker") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_fold_").resolve("ivf").toString
    synthStore(dir, cells = 40, buckets = 4, gen = -1L)
    synthStore(dir, cells = 40, buckets = 4, gen = 0L)
    val before = spark.read.parquet(dir).count()
    VectorOps.compactBucketedCells(spark, dir)
    val gens = new java.io.File(dir).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens == Set("gen=-1"), s"fold left $gens")
    val bucketDirs = new java.io.File(s"$dir/gen=-1").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bucketDirs.nonEmpty && bucketDirs.forall(_.startsWith("cell_bucket=")))
    assert(spark.read.parquet(dir).count() == before)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.Sinks.readLayoutMarker(fs, dir) == 4,
      "the __layout marker must ride through the fold")
    // the fold's sortWithin re-clusters: every rewritten file cell-sorted
    for (f <- spark.read.parquet(dir).inputFiles.take(3)) {
      val cells = spark.read.parquet(f).select("cell").as[Long].collect()
      assert(cells.sameElements(cells.sorted), s"fold lost the cell sort in $f")
    }
    // delete face: fold + filter in one swap, layout still intact
    VectorOps.deleteFromBucketedCells(spark, dir,
      df => df.where(col("vec_id") % 2 === 0))
    val after = spark.read.parquet(dir)
    assert(after.count() == before / 2)
    assert(after.columns.contains("cell_bucket"))
  }

  test("auto writer (r14 directive 1): a new store is bucketed at " +
       "defaultBuckets(nlist); an existing marker's B wins; delete keeps " +
       "the bucket layout") {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def rows(n: Int) = (0 until n).map(i => (i.toLong, (i % 7).toLong))
      .toDF("vec_id", "cell")
    // first write → bucketed layout with defaultBuckets(nlist), marker
    val dirB = Scratch.dir("bivf_auto_b_").resolve("ivf").toString
    VectorOps.committedCellAppendAuto(rows(70), dirB, -1L, nlist = 7)
    assert(graft.sources.Sinks.layoutMarkerOpt(fs, dirB) ===
      Some(VectorOps.defaultBuckets(7)))
    // a later append at a DIFFERENT computed B still follows the marker
    VectorOps.committedCellAppendAuto(rows(10), dirB, 0L, nlist = 5000)
    assert(graft.sources.Sinks.readLayoutMarker(fs, dirB) ===
      VectorOps.defaultBuckets(7))
    assert(spark.read.parquet(dirB).count() === 80)
    VectorOps.deleteFromBucketedCells(spark, dirB, df => df.where(col("vec_id") % 2 === 0))
    assert(spark.read.parquet(dirB).count() === 40)
    assert(spark.read.parquet(dirB).columns.contains("cell_bucket"))
  }

  test("the serve scan refuses an unmarked gen=-1/cell=<id> store") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_unmarked_").resolve("ivf").toString
    (0L until 20L).map(i => (i, i % 4)).toDF("vec_id", "cell")
      .write.partitionBy("cell").parquet(s"$dir/gen=-1")
    val err = intercept[IllegalStateException] {
      VectorOps.prunedCellScanFromFrame(spark, dir, Seq(1L).toDF("cell"))
    }
    assert(err.getMessage.contains("no layout marker"), err.getMessage)
  }

  test("probed-cell size dispatch (r14 directive 2): literal In up to " +
       "128 probed cells, broadcast LEFT SEMI above — same rows, " +
       "bucket partition prune static either way") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_semi_").resolve("ivf").toString
    synthStore(dir, cells = 200, buckets = 8)
    // 12 probed cells: ABOVE parquet's In-pushdown threshold (10 —
    // the pushed filter degrades to a min/max RANGE on the cell-sorted
    // files, ADVICE r13) but below the default semi-join threshold
    val probed = Array(3L, 11L, 19L, 27L, 35L, 43L, 51L, 59L, 67L, 75L,
      83L, 91L)
    val lit12 = graft.operators.VectorOps.prunedCellScanFromFrame(spark, dir,
      probed.toSeq.toDF("cell"))
    val pLit = lit12.queryExecution.executedPlan.toString
    assert(pLit.contains("PartitionFilters: [") && pLit.contains("cell_bucket"))
    assert(pLit.contains("In(cell") || pLit.contains("isin"),
      s"expected the literal cell filter at 12 probed cells:\n$pLit")
    assert(lit12.select("cell").distinct().as[Long].collect().toSet ===
      probed.toSet, "production-width (>10-cell) probe must stay correct " +
        "through parquet's In->range pushdown fallback")
    // the big-batch path: 150 probed cells (buckets 0-5 of 8) is
    // above the 128-cell literal bound
    val many = (0L until 200L).filter(_ % 8 < 6)
    val semi = graft.operators.VectorOps.prunedCellScanFromFrame(spark, dir,
      many.toDF("cell"))
    val pSemi = semi.queryExecution.executedPlan.toString
    assert(pSemi.contains("PartitionFilters: [") && pSemi.contains("cell_bucket"),
      s"the bucket partition prune must stay STATIC on the semi-join path:\n$pSemi")
    assert(pSemi.contains("LeftSemi"),
      s"expected a broadcast left-semi cell filter above the threshold:\n$pSemi")
    assert(!pSemi.contains("In(cell"),
      s"the semi-join path must not also inflate the plan with cell literals:\n$pSemi")
    // the literal arm over two halves of the same cells
    val (lo, hi) = many.splitAt(many.size / 2)
    val viaLiteral = Seq(lo, hi).flatMap(h => graft.operators.VectorOps
      .prunedCellScanFromFrame(spark, dir, h.toDF("cell")).collect().map(_.toSeq)).toSet
    assert(semi.collect().map(_.toSeq).toSet === viaLiteral,
      "the two dispatch arms must return identical rows")
  }

  test("layout marker records the cell TYPE (r14 directive 8): a store " +
       "scanning at a different type than recorded refuses loudly") {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the bucketed writer records bigint
    val dirOk = Scratch.dir("bivf_type_ok_").resolve("ivf").toString
    synthStore(dirOk, cells = 10, buckets = 4)
    assert(graft.sources.Sinks.readLayoutCellType(fs, dirOk) === Some("bigint"))
    assert(graft.operators.VectorOps.prunedCellScanFromFrame(spark, dirOk,
      Seq(3L).toDF("cell")).count() > 0)
    // a store whose files landed int-typed (the b76ab6a truncation
    // class, planted here by hand) refuses at serve time
    val dirBad = Scratch.dir("bivf_type_bad_").resolve("ivf").toString
    graft.sources.Sinks.ensureLayoutMarker(fs, dirBad, 4, Some("bigint"))
    (0 until 20).map(i => (i.toLong, i % 10, i % 4))
      .toDF("vec_id", "cell", "cell_bucket")
      .write.partitionBy("cell_bucket").parquet(s"$dirBad/gen=-1")
    val err = intercept[IllegalArgumentException] {
      graft.operators.VectorOps.prunedCellScanFromFrame(spark, dirBad, Seq(3L).toDF("cell"))
    }
    assert(err.getMessage.contains("cell type"))
    // and a WRITER declaring a different type refuses at the marker
    val err2 = intercept[IllegalStateException] {
      graft.sources.Sinks.ensureLayoutMarker(fs, dirBad, 4, Some("int"))
    }
    assert(err2.getMessage.contains("bigint"))
  }

  test("the dist tier's serve path (s25 shape) prunes through the " +
       "bucketed store: static bucket PartitionFilters + pushed cell filter") {
    import spark.implicits._
    // the store exactly as the dist stream gates write it: the auto
    // writer at a corpus-scaled nlist
    val dir = Scratch.dir("bivf_dist_").resolve("ivf").toString
    val df = (0 until 600).map(i => (i.toLong, (i % 150).toLong))
      .toDF("vec_id", "cell")
    VectorOps.committedCellAppendAuto(df, dir, -1L, nlist = 150)
    VectorOps.committedCellAppendAuto(df.where(col("vec_id") < 60), dir, 0L,
      nlist = 150)
    // the serve reads through prunedCellScanFromFrame — assert the
    // executed plan from the REAL path
    val served = graft.operators.VectorOps.prunedCellScanFromFrame(spark, dir,
      Seq(7L, 23L).toDF("cell"))
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("cell_bucket"),
      s"dist serve must keep the static bucket prune:\n$p")
    assert(p.contains("In(cell"), s"dist serve must push the cell filter:\n$p")
    val files = served.select(input_file_name().as("f")).distinct()
      .as[String].collect()
    val b = graft.sources.Sinks.readLayoutMarker(
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration), dir)
    val wantBuckets = Set(7L % b, 23L % b).map(x => s"cell_bucket=$x")
    assert(files.nonEmpty && files.forall(f => wantBuckets.exists(f.contains)),
      s"rows leaked outside the probed buckets: ${files.mkString(", ")}")
    assert(served.select("cell").distinct().as[Long].collect().toSet ===
      Set(7L, 23L))
  }

  test("frame-driven serve scan: bounded driver payload, both dispatch " +
       "arms row-identical to the whole-store read") {
    import spark.implicits._
    val dir = Scratch.dir("bivf_frame_").resolve("ivf").toString
    synthStore(dir, cells = 200, buckets = 8)
    def wholeStore(cells: Seq[Long]) = spark.read.parquet(dir)
      .where(col("cell").isin(cells: _*)).drop("cell_bucket", "gen")
      .collect().map(_.toSeq).toSet
    val probed = Seq(3L, 11L, 19L, 27L, 35L, 43L, 51L, 59L, 67L, 75L,
      83L, 91L)
    // small probe: the limit(129) slice fits → the literal arm
    val small = graft.operators.VectorOps
      .prunedCellScanFromFrame(spark, dir, probed.toDF("cell"))
    assert(small.queryExecution.executedPlan.toString.contains("In(cell") ||
      small.queryExecution.executedPlan.toString.contains("isin"))
    assert(small.collect().map(_.toSeq).toSet === wholeStore(probed))
    // big probe (150 cells in buckets 0-5): only buckets (≤ B) cross the
    // driver; the cell filter is the broadcast semi-join fed from the FRAME
    val many = (0L until 200L).filter(_ % 8 < 6)
    val big = graft.operators.VectorOps
      .prunedCellScanFromFrame(spark, dir, many.toDF("cell"))
    val p = big.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("cell_bucket"),
      s"the static bucket prune must survive the frame path:\n$p")
    assert(p.contains("LeftSemi"), s"expected the semi-join arm:\n$p")
    assert(big.collect().map(_.toSeq).toSet === wholeStore(many))
  }

  test("the explicit-B serve equals the auto-writer serve (writer " +
       "invisible in results): s27 == s14, s26 family == s24") {
    val bucketed = graft.SparkEntry.queries("s27_ivf_bucketed_append")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val auto = graft.SparkEntry.queries("s14_ivf_index_append")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(bucketed === auto)
    assert(bucketed.nonEmpty)
    val bHier = graft.SparkEntry.queries("s26_ivf_bucketed_served")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val dHier = graft.SparkEntry.queries("s24_ivf_hier_dist")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(bHier === dHier)
    assert(bHier.nonEmpty)
    // the streamed faces must agree the same way (s30 == s16: same
    // stream, same frozen codebook, only the writer entry differs)
    val bStream = graft.SparkEntry.queries("s30_stream_ivf_bucketed")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val aStream = graft.SparkEntry.queries("s16_stream_ivf_append")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(bStream === aStream)
    assert(bStream.nonEmpty)
  }
}
