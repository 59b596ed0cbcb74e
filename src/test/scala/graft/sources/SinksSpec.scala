package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SinksSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("out").toString

  test("upsertBucketed is idempotent and replaces only touched keys") {
    import spark.implicits._
    val path = tmp("upsert")
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Sinks.upsertBucketed(v1, path, "id", numBuckets = 4)
    assert(Sinks.readUpserted(spark, path).collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))

    // re-run the same batch: no duplicates (delete-then-insert semantics)
    Sinks.upsertBucketed(v1, path, "id", numBuckets = 4)
    assert(Sinks.readUpserted(spark, path).count() == 3)

    // update one key: its bucket is rewritten, EVERY other key survives —
    // including keys that share the rewritten bucket (per-key, not
    // per-bucket, delete-then-insert semantics)
    val v2 = Seq((2L, "B2")).toDF("id", "v")
    Sinks.upsertBucketed(v2, path, "id", numBuckets = 4)
    val after = Sinks.readUpserted(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("upsertBucketed keeps bucket-mates of an updated key (forced collision)") {
    import spark.implicits._
    val path = tmp("upsert1b")
    // numBuckets = 1: every key shares the single bucket, so a 1-key
    // batch MUST merge with all existing rows or they'd be dropped
    val v1 = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.upsertBucketed(v1, path, "id", numBuckets = 1)
    Sinks.upsertBucketed(Seq((7L, "UPDATED")).toDF("id", "v"), path, "id", numBuckets = 1)
    val after = Sinks.readUpserted(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 20)
    assert(after(7L) == "UPDATED")
    assert(after(6L) == "v6" && after(8L) == "v8")
  }

  test("a reader that only calls registerNative resolves an .xz export (ADVICE r6)") {
    import spark.implicits._
    val path = tmp("xz_fresh")
    Sinks.writeJsonl(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    // simulate a fresh JVM that never ran writeJsonl: strip the codec
    // registration the write added to the shared hadoopConfiguration
    spark.sparkContext.hadoopConfiguration.unset("io.compression.codecs")
    // the reader-side contract: session construction (registerNative)
    // re-registers, so .xz resolves by extension instead of parsing raw
    // bytes into _corrupt_record
    graft.GraftExtensions.registerNative(spark)
    val back = spark.read.json(path)
    assert(!back.columns.contains("_corrupt_record"),
      "xz files must decode, not land in _corrupt_record")
    assert(back.count() == 2)
    assert(back.select("v").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("compactUpserted merges small files, keeps rows AND the bucket layout") {
    import spark.implicits._
    val path = tmp("compact_up")
    // 5 micro-batch-style upserts accumulate one file per touched bucket each
    for (w <- 0 until 5)
      Sinks.upsertBucketed((1L to 20L).map(i => (i, s"v$i-$w")).toDF("id", "v"),
        path, "id", numBuckets = 4)
    def parquetFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    def nParts = {
      var n = 0; val it = parquetFiles
      while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
      n
    }
    val before = Sinks.readUpserted(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val filesBefore = nParts
    // round-15: upsert writes are bucket-clustered, so batches no longer
    // accumulate one file per task per touched bucket — the steady state
    // is already ≤1 file per bucket and compaction must PRESERVE it
    // (the old assertion demanded a strict drop, which presupposed the
    // small-files accumulation the clustered write now prevents)
    assert(filesBefore <= 4,
      s"clustered upserts must not accumulate small files (got $filesBefore)")
    Sinks.compactUpserted(spark, path)
    val after = Sinks.readUpserted(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before, "compaction must be row-identical")
    assert(nParts <= filesBefore && nParts <= 4,
      s"compaction must keep ≤1 file per bucket ($filesBefore -> $nParts)")
    // layout survives: a later upsert still finds its __bucket dirs
    Sinks.upsertBucketed(Seq((7L, "POST")).toDF("id", "v"), path, "id", numBuckets = 4)
    val post = Sinks.readUpserted(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(post(7L) == "POST" && post.size == 20 && post(6L) == before(6L))
  }

  test("scd2Upsert: change closes the old version, replay is a no-op") {
    import spark.implicits._
    val path = tmp("scd2")
    Sinks.scd2Upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path, "id", 1L, 4)
    Sinks.scd2Upsert(Seq((1L, "A"), (3L, "c")).toDF("id", "v"), path, "id", 2L, 4)
    def rows = Sinks.readUpserted(spark, path)
      .select("id", "v", "valid_from", "valid_to").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val expected = Set(
      (1L, "a", 1L, 2L), (1L, "A", 2L, -1L), // closed + live
      (2L, "b", 1L, -1L),                    // untouched key stays live
      (3L, "c", 2L, -1L))                    // new key opens at v2
    assert(rows == expected)
    // replay of v2: byte-identical history (idempotent)
    Sinks.scd2Upsert(Seq((1L, "A"), (3L, "c")).toDF("id", "v"), path, "id", 2L, 4)
    assert(rows == expected)
    // a same-payload batch at a NEW version also writes nothing — SCD2
    // closes on CHANGE, not on every batch
    Sinks.scd2Upsert(Seq((1L, "A"), (2L, "b")).toDF("id", "v"), path, "id", 3L, 4)
    assert(rows == expected)
  }

  test("upsertBucketed refuses a batch whose columns differ from the stored table") {
    import spark.implicits._
    val path = tmp("upsert_schema")
    Sinks.upsertBucketed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path, "id", numBuckets = 4)
    for (bad <- Seq(Seq((1L, "A", 9)).toDF("id", "v", "extra"), Seq((1L, "A")).toDF("id", "w")))
      intercept[org.apache.spark.sql.AnalysisException] {
        Sinks.upsertBucketed(bad, path, "id", numBuckets = 4)
      }
    assert(Sinks.readUpserted(spark, path).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"), "a refused batch leaves the table as it was")
  }

  test("upsertBucketed: an all-empty first batch does not poison the sink") {
    import spark.implicits._
    val path = tmp("upsert_empty")
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    // empty first batch: no schemaless dir (only _SUCCESS) may be left
    // behind — that would break every later read-back of the sink
    Sinks.upsertBucketed(empty, path, "id", numBuckets = 4)
    assert(!Files.exists(java.nio.file.Paths.get(path)))
    // a real batch afterwards works normally
    Sinks.upsertBucketed(Seq((1L, "a")).toDF("id", "v"), path, "id", numBuckets = 4)
    Sinks.upsertBucketed(empty, path, "id", numBuckets = 4) // and empty again: no-op
    assert(Sinks.readUpserted(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a"))
  }

  test("upsertBucketed matches a Map model over random batch sequences") {
    // model-based check of the 100 TB incremental primitive: any
    // sequence of keyed batches must leave the table equal to "last
    // write per key wins" (seed-pinned so failures reproduce)
    import spark.implicits._
    val rnd = new scala.util.Random(0xD00D)
    for (scenario <- 1 to 3) {
      val path = tmp(s"upsert_model$scenario")
      val model = scala.collection.mutable.Map.empty[Long, String]
      // bucket count is part of the table's layout contract: fixed at
      // creation, never varied across upserts (see upsertBucketed doc)
      val buckets = 1 + rnd.nextInt(4)
      for (batchNo <- 1 to 4) {
        val batch = (0 until rnd.nextInt(12))
          .map(_ => (rnd.nextInt(20).toLong, s"s$scenario-b$batchNo-${rnd.nextInt(1000)}"))
          // within one batch the model keeps ONE row per key like the
          // sink's delete-then-insert; drop in-batch dup keys up front
          .groupBy(_._1).map(_._2.head).toSeq
        batch.foreach { case (k, v) => model(k) = v }
        Sinks.upsertBucketed(batch.toDF("id", "v"), path, "id", buckets)
      }
      val got =
        if (model.isEmpty) Map.empty[Long, String]
        else Sinks.readUpserted(spark, path).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == model.toMap, s"scenario $scenario diverged from model")
    }
  }

  test("upsertBucketed model holds under randomly injected crash states") {
    // same model as above, but BETWEEN batches a simulated crash leaves
    // the table in one of the swap's recovery states (bucket renamed
    // aside / stale tmp garbage / both); healUpsert must roll back to a
    // per-key-consistent table so the next batch still converges to
    // last-write-wins. Rollback may undo the PREVIOUS batch for the
    // affected bucket, so after each injection the crashed batch is
    // re-run, as a restarted at-least-once job would.
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val rnd = new scala.util.Random(0xCAFE)
    for (scenario <- 1 to 3) {
      val path = tmp(s"upsert_crash_model$scenario")
      val model = scala.collection.mutable.Map.empty[Long, String]
      val buckets = 2 + rnd.nextInt(3)
      for (batchNo <- 1 to 4) {
        val batch = (0 until 3 + rnd.nextInt(9))
          .map(_ => (rnd.nextInt(20).toLong, s"c$scenario-b$batchNo-${rnd.nextInt(1000)}"))
          .groupBy(_._1).map(_._2.head).toSeq
        batch.foreach { case (k, v) => model(k) = v }
        Sinks.upsertBucketed(batch.toDF("id", "v"), path, "id", buckets)
        // inject a crash state, then replay the batch (at-least-once)
        val kind = rnd.nextInt(3)
        val liveBuckets = fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .filter(_.getPath.getName.startsWith("__bucket=")).map(_.getPath)
        if (kind != 1 && liveBuckets.nonEmpty) {
          val victim = liveBuckets(rnd.nextInt(liveBuckets.length))
          val old = new org.apache.hadoop.fs.Path(path + "__upsert_old")
          fs.mkdirs(old)
          fs.rename(victim, new org.apache.hadoop.fs.Path(old, victim.getName))
        }
        if (kind != 0)
          Seq((999L, "garbage")).toDF("id", "v")
            .write.mode("overwrite").parquet(path + "__upsert_tmp/__bucket=99")
        Sinks.upsertBucketed(batch.toDF("id", "v"), path, "id", buckets)
      }
      val got = Sinks.readUpserted(spark, path).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == model.toMap, s"crash scenario $scenario diverged from model")
    }
  }

  test("appendNewKeys only appends unseen keys") {
    import spark.implicits._
    val path = tmp("append")
    Sinks.appendNewKeys(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path, "id")
    Sinks.appendNewKeys(Seq((2L, "DUP"), (3L, "c")).toDF("id", "v"), path, "id")
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("jsonl, csv and labels sinks produce readable output") {
    import spark.implicits._
    val df = Seq((1L, "text one", "lbl_a"), (2L, "text two", "lbl_b"))
      .toDF("id", "text", "label")

    val jl = tmp("jsonl")
    Sinks.writeJsonl(df, jl)
    assert(spark.read.json(jl).count() == 2)

    val csv = tmp("csv")
    Sinks.writeCsv(df, csv, dropTextCols = Seq("text"))
    val back = spark.read.option("header", "true").csv(csv)
    assert(back.columns.toSeq == Seq("id", "label"))
    assert(back.count() == 2)

    val lb = tmp("labels")
    Sinks.writeLabels(Seq("lbl_a", "lbl_b"), lb)
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get(lb, "labels.json")))
    assert(json.contains(""""0": "lbl_a"""") && json.contains(""""lbl_b": 1"""))
  }

  test("jsonl default codec is real xz (container magic + extension + read-back)") {
    import spark.implicits._
    val df = Seq((1L, "ein Urteil"), (2L, "zwei Urteile")).toDF("id", "text")
    val out = tmp("jsonl_xz")
    Sinks.writeJsonl(df, out)
    val parts = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(p => !new java.io.File(p).getName.startsWith("_")
        && !new java.io.File(p).getName.startsWith("."))
    assert(parts.nonEmpty && parts.forall(_.endsWith(".json.xz")), parts.toSeq.toString)
    // the 6-byte xz stream header: FD '7zXZ' 00 — proves a real xz
    // container, not a renamed gzip
    val magic = Files.readAllBytes(java.nio.file.Paths.get(parts.head)).take(6)
    assert(magic.sameElements(Array(0xFD, '7', 'z', 'X', 'Z', 0x00).map(_.toByte)),
      magic.map(b => f"$b%02x").mkString(" "))
    val back = spark.read.json(out)
    assert(back.count() == 2)
    assert(back.where(col("id") === 1L).select("text").head().getString(0) == "ein Urteil")
  }

  test("jsonl zstd codec is real zstd (frame magic + extension + read-back)") {
    import spark.implicits._
    val df = Seq((1L, "ein Urteil"), (2L, "zwei Urteile")).toDF("id", "text")
    val out = tmp("jsonl_zst")
    Sinks.writeJsonl(df, out, codec = "zstd")
    val parts = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(p => !new java.io.File(p).getName.startsWith("_")
        && !new java.io.File(p).getName.startsWith("."))
    assert(parts.nonEmpty && parts.forall(_.endsWith(".json.zst")), parts.toSeq.toString)
    // the 4-byte zstd frame magic: 28 B5 2F FD — a real zstd frame,
    // not a renamed gzip
    val magic = Files.readAllBytes(java.nio.file.Paths.get(parts.head)).take(4)
    assert(magic.sameElements(Array(0x28, 0xB5, 0x2F, 0xFD).map(_.toByte)),
      magic.map(b => f"$b%02x").mkString(" "))
    val back = spark.read.json(out)
    assert(back.count() == 2)
    assert(back.where(col("id") === 2L).select("text").head().getString(0) == "zwei Urteile")
  }

  test("compact merges small files without changing rows") {
    import spark.implicits._
    val path = tmp("compact")
    (1L to 1000L).toDF("id").repartition(40)
      .write.parquet(path)
    val before = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before >= 30, s"fixture should start fragmented, got $before files")
    Sinks.compact(spark, path)
    val after = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after < before / 4, s"$after files after compaction")
    assert(spark.read.parquet(path).count() == 1000)
  }

  test("partitioned layout prunes at the scan") {
    val path = tmp("partitioned")
    Sinks.writePartitioned(
      graft.sources.Tables.documents(spark, sfDir), path, "lang")
    val q = spark.read.parquet(path).where(col("lang") === "en")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan.take(800))
    // only the lang=en partition directory is read
    assert(plan.contains("lang=en") || q.count() ==
      graft.sources.Tables.documents(spark, sfDir).where(col("lang") === "en").count())
  }

  test("newerThan filters by high watermark") {
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "ts")
    assert(Sinks.newerThan(df, "ts", Some(15L)).count() == 2)
    assert(Sinks.newerThan(df, "ts", None).count() == 3)
  }
}
