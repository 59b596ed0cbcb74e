package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Sink layer — the reference's K-family re-expressed as idempotent
  * Spark writes.
  *
  * Reference points: JSONL+xz export (`scrc/dataset_creation/
  * dataset_creator.py:482-489`), CSV-per-split with long text columns
  * dropped (`:907-917`), id2label/label2id JSON (`:1032-1056`),
  * delete-then-insert upsert (`scrc/preprocessors/extractors/
  * section_splitter.py:140-174` et al.), bulk keyed UPDATE
  * (`abstract_preprocessor.py:202-244`).
  *
  * Scale notes: every write here is partition-parallel; the upsert path
  * uses hash-bucketed dynamic partition overwrite so a re-run (or a
  * late redelivery) rewrites only the buckets containing touched keys —
  * the Spark analog of the reference's per-decision delete+insert
  * idempotency, without a transactional store.
  */
object Sinks {

  /** Hadoop FileSystem.rename reports failure by RETURNING FALSE, not
    * throwing — an unchecked rename in a swap sequence would let the job
    * complete with a half-swapped table and no replay trigger (the
    * crash-heal path only engages when the job actually fails). Every
    * swap/heal rename goes through here so a failed rename surfaces as a
    * job failure.
    */
  private[graft] def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                                   src: org.apache.hadoop.fs.Path,
                                   dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Run independent write thunks as CONCURRENT Spark jobs (guide §2.6)
    * and wait for ALL of them to settle — the shared submission
    * discipline of every multi-table landing (BM25 tables, keep-list
    * state pairs, corpus-stream upserts).
    *
    * Failure contract (ADVICE r15): each thunk runs under its own Spark
    * job group; the FIRST failure cancels the sibling groups' in-flight
    * jobs and stops unstarted thunks from submitting, and the failure is
    * rethrown only AFTER every thunk has terminated — so a caller's
    * `finally` (typically an unpersist of the shared input cache) never
    * runs while a sibling job still reads that cache, and no orphan job
    * keeps writing to a store dir after the caller has unwound. (The
    * previous `Await.result(Future.sequence(...))` failed fast and left
    * siblings running.)
    */
  private[graft] def awaitAllWrites[T](spark: SparkSession,
                                       thunks: Seq[() => T]): Seq[T] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.sizeIs == 1) return Seq(thunks.head())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.{Failure, Success, Try}
    val sc = spark.sparkContext
    val base = java.util.UUID.randomUUID().toString
    val groups = thunks.indices.map(i => s"graft-cwrite-$base-$i")
    val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val futs: Seq[Future[T]] = thunks.zipWithIndex.map { case (t, i) =>
      Future {
        if (aborted.get)
          throw new java.util.concurrent.CancellationException(
            "sibling concurrent write failed before this one started")
        // job groups are thread-local: tag THIS thunk's jobs so a
        // sibling failure cancels exactly them; cleared in finally so
        // the pooled thread doesn't leak the group onto unrelated work
        sc.setJobGroup(groups(i), s"concurrent write ${i + 1}/${thunks.size}",
          interruptOnCancel = true)
        try t() finally sc.clearJobGroup()
      }
    }
    futs.foreach(_.failed.foreach { _ =>
      if (aborted.compareAndSet(false, true))
        groups.foreach(g => try sc.cancelJobGroup(g)
          catch { case scala.util.control.NonFatal(_) => () })
    })
    val settled: Seq[Try[T]] = Await.result(
      Future.sequence(futs.map(_.transform(Success(_)))), Duration.Inf)
    // rethrow the ROOT failure, not a secondary cancellation it caused
    def isCancel(e: Throwable): Boolean =
      e.isInstanceOf[java.util.concurrent.CancellationException] ||
        (e.getMessage != null && e.getMessage.contains("cancelled"))
    settled.collectFirst { case Failure(e) if !isCancel(e) => e }
      .orElse(settled.collectFirst { case Failure(e) => e })
      .foreach(e => throw e)
    settled.map(_.get)
  }

  /** ONE copy of the write-tmp-then-rename parquet commit (the
    * committed-verdict faces of the incremental dedup tier): the frame
    * is fully written to the hidden `tmp` path, then published at `dst`
    * with a single atomic rename — a crash mid-write is invisible, a
    * crash between write and rename is retried from scratch by the
    * caller's exists-check on `dst`.
    */
  private[graft] def atomicParquetCommit(df: DataFrame,
                                         tmp: org.apache.hadoop.fs.Path,
                                         dst: org.apache.hadoop.fs.Path): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    df.write.parquet(tmp.toString)
    renameOrThrow(fs, tmp, dst)
  }

  /** K5: JSONL export. Default codec is xz for parity with the
    * reference's `xz -T0` pipe (`dataset_creator.py:482-489`), via the
    * stream-only [[XzCodec]]; pass "gzip"/"zstd"/… for the built-ins.
    * Registers the xz codec on the session so the read-back resolves
    * `.xz` by extension.
    */
  def writeJsonl(df: DataFrame, path: String, codec: String = "xz"): Unit = {
    val codecName = if (codec == "xz") {
      XzCodec.register(df.sparkSession)
      classOf[XzCodec].getName
    } else if (codec == "zstd") {
      ZstdCodec.register(df.sparkSession)
      classOf[ZstdCodec].getName
    } else codec
    df.write.mode(SaveMode.Overwrite)
      .option("compression", codecName).json(path)
  }

  /** K6: CSV export with long text columns dropped first. */
  def writeCsv(df: DataFrame, path: String, dropTextCols: Seq[String]): Unit =
    df.drop(dropTextCols: _*)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** K7: id2label/label2id JSON (labels collected to driver — the label
    * vocabulary is small by construction).
    */
  def writeLabels(labels: Seq[String], path: String): Unit = {
    val id2 = labels.zipWithIndex
      .map { case (l, i) => s""""$i": "$l"""" }.mkString("{", ", ", "}")
    val l2i = labels.zipWithIndex
      .map { case (l, i) => s""""$l": $i""" }.mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(path))
    Files.write(Paths.get(path, "labels.json"),
      s"""{"id2label": $id2, "label2id": $l2i}""".getBytes(StandardCharsets.UTF_8))
  }

  /** K2/K3: idempotent keyed upsert via hash-bucketed dynamic partition
    * overwrite, per-KEY semantics (the reference's delete-then-insert,
    * `section_splitter.py:140-174`). Rows route to `numBuckets`
    * partitions by key hash; before overwriting a touched bucket, the
    * existing rows of that bucket whose keys are NOT in the batch are
    * read back and carried over, so unrelated keys that happen to share
    * a bucket survive. Only touched buckets are read or rewritten —
    * untouched buckets are never opened, so batch cost scales with
    * |batch| + |touched buckets|, not table size.
    *
    * `numBuckets` is part of the table's LAYOUT CONTRACT: it must stay
    * constant for the table's lifetime (like Hive bucketing) — routing
    * and the touched-bucket pruning both derive from it, so changing
    * it mid-table would strand rows in partitions the new routing
    * never revisits. Re-bucketing = full rewrite through `compact`-
    * style read-all + fresh upsert.
    *
    * CONCURRENCY: one writer per TABLE at a time (concurrent calls on
    * the same path race the read-merge-swap; the corpus stream runs
    * its six tables' upserts concurrently because they are six
    * DIFFERENT paths). Serialize same-table batches upstream — the
    * micro-batch/foreachBatch model does this naturally.
    */
  def upsertBucketed(batch: DataFrame, path: String, keyCol: String,
                     numBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    healUpsert(fs, path) // roll back any swap a previous run crashed in
    val routed = batch
      .withColumn("__bucket", pmod(xxhash64(col(keyCol)), lit(numBuckets)))
    if (!Files.exists(Paths.get(path))) {
      // an all-empty FIRST batch must write nothing: overwriting with
      // zero rows leaves a schemaless dir (only _SUCCESS) that poisons
      // every later read-back of this sink
      if (routed.isEmpty) return
      clusterByPartition(routed, "__bucket")
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(path)
      return
    }
    val touched = routed.select("__bucket").distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return // empty batch: nothing to rewrite
    // partition pruning keeps this read to the touched buckets only
    val survivors = spark.read.parquet(path)
      .where(col("__bucket").cast("long").isin(touched.toSeq: _*))
      .withColumn("__bucket", col("__bucket").cast("long"))
      .join(batch.select(keyCol).distinct(), Seq(keyCol), "left_anti")
    // merged output goes to a SIDE temp dir: the plan reads `path` and
    // writes `tmp`, so there is no read-from-overwrite-target hazard and
    // nothing to materialize up front. (The previous localCheckpoint
    // strategy pinned the whole merged set in executor block storage —
    // measured parity at sf0.1 (tools.UpsertProbe, medians 2.01 vs
    // 1.97 s) but a memory ceiling and an executor-loss hazard at scale;
    // this writes the data exactly once, then swaps directory entries.)
    val tmp = path + "__upsert_tmp"
    val old = path + "__upsert_old"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    clusterByPartition(
        routed.unionByName(survivors.select(routed.columns.map(col): _*)),
        "__bucket")
      .write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(tmp)
    // swap each touched bucket via rename-aside: between the two renames
    // a bucket's live dir is absent but its data sits at __upsert_old —
    // healUpsert restores it on the next call (SinksCrashSpec pins both
    // windows). Renames are metadata-only on any rename-capable fs.
    fs.mkdirs(new org.apache.hadoop.fs.Path(old))
    for (k <- touched) {
      val src = new org.apache.hadoop.fs.Path(s"$tmp/__bucket=$k")
      val dst = new org.apache.hadoop.fs.Path(s"$path/__bucket=$k")
      if (fs.exists(src)) {
        if (fs.exists(dst))
          renameOrThrow(fs, dst, new org.apache.hadoop.fs.Path(s"$old/__bucket=$k"))
        renameOrThrow(fs, src, dst)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(old), true)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** Crash recovery for upsertBucketed's swap: any bucket renamed aside
    * whose live dir never got its replacement rolls BACK (old data is
    * consistent for a re-run — per-key idempotency reapplies the batch);
    * buckets that completed keep the new data. The partial temp dir is
    * discarded.
    */
  private def healUpsert(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val old = new org.apache.hadoop.fs.Path(path + "__upsert_old")
    if (fs.exists(old)) {
      for (st <- fs.listStatus(old)) {
        val dst = new org.apache.hadoop.fs.Path(path + "/" + st.getPath.getName)
        // a silent rename failure here followed by the delete below
        // would destroy the only copy of the bucket — throw instead
        if (!fs.exists(dst)) renameOrThrow(fs, st.getPath, dst)
      }
      fs.delete(old, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(path + "__upsert_tmp"), true)
  }

  /** TYPE-2 HISTORY upsert (SCD2): every key keeps its full version
    * history — the live row has `valid_to = NULL`; a change closes the
    * previous version (`valid_to = version`) and opens a new one.
    * Versions are LOGICAL, caller-supplied batch numbers (never
    * wall-clock), so replays are deterministic and IDEMPOTENT:
    * re-applying batch v finds every key's live payload already equal
    * and writes nothing. Unchanged keys are never rewritten (the delta
    * is closes ∪ inserts only), and storage-wise each history row
    * routes through [[upsertBucketed]] keyed on (key, valid_from) — so
    * batch cost stays |changed keys| + touched buckets, independent of
    * table or history size.
    */
  def scd2Upsert(batch: DataFrame, path: String, keyCol: String,
                 version: Long, numBuckets: Int = 64): Unit = {
    val payloadCols = batch.columns.filterNot(_ == keyCol).toSeq
    def withSkey(df: DataFrame): DataFrame =
      df.withColumn("__skey", concat_ws(":", col(keyCol), col("valid_from")))
    if (!Files.exists(Paths.get(path))) {
      val first = batch
        .withColumn("valid_from", lit(version))
        .withColumn("valid_to", lit(null).cast("long"))
      upsertBucketed(withSkey(first), path, "__skey", numBuckets)
      return
    }
    val live = readUpserted(batch.sparkSession, path)
      .drop("__skey").where(col("valid_to").isNull)
    val joined = batch.as("b")
      .join(live.as("l"), col(s"b.$keyCol") === col(s"l.$keyCol"), "left")
    val changedPayload = payloadCols.map(c => not(col(s"b.$c") <=> col(s"l.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changed = joined.where(col(s"l.$keyCol").isNull || changedPayload)
    val closes = changed.where(col(s"l.$keyCol").isNotNull)
      .select(col(s"l.$keyCol").as(keyCol) +:
        (payloadCols.map(c => col(s"l.$c").as(c)) :+
          col("l.valid_from").as("valid_from")): _*)
      .withColumn("valid_to", lit(version))
    val inserts = changed
      .select(col(s"b.$keyCol").as(keyCol) +:
        payloadCols.map(c => col(s"b.$c").as(c)): _*)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
    upsertBucketed(withSkey(closes.unionByName(inserts)), path, "__skey", numBuckets)
  }

  /** TIME-TRAVEL read over an SCD2 history table: the table AS OF
    * logical version `v` — rows whose interval [valid_from, valid_to)
    * covers v. A partition/zone-map-friendly pair of range predicates;
    * no history is ever rewritten to serve an old version.
    *
    * PRE-HORIZON CONTRACT: once [[scd2Retention]] has run, versions
    * below the retention horizon are not fully reconstructible (their
    * closed rows were vacuumed). Such a read FAILS LOUDLY here — a
    * silent partial history masquerading as the real v would be a
    * correctness bug in every downstream consumer. `scd2AsOf(v)` for
    * any v >= horizon is exactly the pre-retention result (gated k13);
    * pre-horizon history that must stay queryable belongs in an export
    * taken before the retention run.
    */
  def scd2AsOf(spark: SparkSession, path: String, v: Long): DataFrame = {
    retentionHorizon(spark, path).filter(v < _).foreach { h =>
      throw new IllegalStateException(
        s"scd2AsOf($v) on $path: version $v predates the retention horizon $h — " +
          "closed rows at or before the horizon were vacuumed, so this read " +
          "would silently return partial history. Query a version >= " +
          s"$h, or restore from a pre-retention export.")
    }
    readUpserted(spark, path).drop("__skey")
      .where(col("valid_from") <= v &&
        (col("valid_to").isNull || col("valid_to") > v))
  }

  /** The retention horizon recorded for an SCD2 table, if any. Stored
    * in a SIBLING file (`<path>__retention`) so the bucket-rewrite dir
    * swaps of retention/compaction cannot erase it; the reader also
    * consults the tmp sibling so the marker-write crash window
    * (tmp written, final rename pending) still reports the strictest
    * horizon seen. Horizons only ever grow.
    */
  def retentionHorizon(spark: SparkSession, path: String): Option[Long] =
    readLongMarker(spark, path, "__retention")

  /** Generic sibling long-marker read — the retention-horizon crash
    * discipline (tmp sibling consulted, corrupt final marker is loud,
    * values only grow) reused by every horizon-style marker
    * (SCD2 `__retention`, keep-list `__fold_horizon`).
    */
  private[graft] def readLongMarker(spark: SparkSession, path: String,
                                    suffix: String): Option[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def readMarker(p: org.apache.hadoop.fs.Path): Option[String] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          // read FULLY (a single read() may legally return short on a
          // remote fs) — the payload is one stringified long
          val out = new java.io.ByteArrayOutputStream(64)
          val buf = new Array[Byte](64)
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
          Some(out.toString(StandardCharsets.UTF_8).trim)
        } finally in.close()
      }
    // the FINAL marker is placed only by atomic rename of a fully-
    // written tmp, so an unparseable final marker is real corruption —
    // fail loudly rather than silently dropping the guard. The TMP
    // sibling, by contrast, can legitimately be a zero-byte husk of a
    // crashed recordHorizon (create() succeeded, write never flushed):
    // an unparseable tmp is ignored, a parseable one still counts.
    val fin = readMarker(new org.apache.hadoop.fs.Path(path + suffix))
      .map(s => s.toLongOption.getOrElse(throw new IllegalStateException(
        s"corrupt marker ${path}$suffix: '$s'")))
    val tmp = readMarker(new org.apache.hadoop.fs.Path(path + suffix + ".tmp"))
      .flatMap(_.toLongOption)
    val vals = fin.toSeq ++ tmp.toSeq
    if (vals.isEmpty) None else Some(vals.max)
  }

  /** Record `horizon` (monotone max with any prior marker) — called by
    * scd2Retention BEFORE the vacuum rewrite, so a crash between marker
    * and rewrite errs toward refusing reads that would still have been
    * complete (never the reverse).
    */
  private def recordHorizon(spark: SparkSession, path: String, horizon: Long): Unit =
    recordLongMarker(spark, path, "__retention", horizon)

  /** Generic sibling long-marker write (monotone max with any prior
    * value; tmp + rename, claim-first safe — see recordHorizon's
    * ordering note).
    */
  private[graft] def recordLongMarker(spark: SparkSession, path: String,
                                      suffix: String, v: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val h = math.max(v,
      readLongMarker(spark, path, suffix).getOrElse(Long.MinValue))
    val tmp = new org.apache.hadoop.fs.Path(path + suffix + ".tmp")
    val dst = new org.apache.hadoop.fs.Path(path + suffix)
    val out = fs.create(tmp, true)
    try out.write(h.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    renameOrThrow(fs, tmp, dst)
  }

  /** Read back an upsert table (drops the routing column). */
  def readUpserted(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("__bucket")

  /** Incremental append: only rows whose key is not yet present (the
    * reference's anti-join over already-processed files, J12 +
    * high-watermark). First write creates the table.
    */
  def appendNewKeys(batch: DataFrame, path: String, keyCol: String): Unit = {
    val spark = batch.sparkSession
    val isNew = !Files.exists(Paths.get(path))
    val toWrite =
      if (isNew) batch
      else batch.join(spark.read.parquet(path).select(keyCol), Seq(keyCol), "left_anti")
    toWrite.write.mode(if (isNew) SaveMode.Overwrite else SaveMode.Append).parquet(path)
  }

  /** Compact a table directory to ~`targetFileBytes` per file (the
    * small-files problem: incremental appends accumulate tiny files and
    * scan planning degrades). Reads, re-partitions by size, atomically
    * replaces via a temp dir + move.
    */
  /** ONE copy of the rename-aside crash RECOVERY (the read half of the
    * swap discipline): a rewrite that died between its two renames
    * leaves `path` absent with the complete replacement at
    * `__compact_tmp` (it is fully written before any rename, so it
    * wins); with no tmp, roll back to the renamed-aside `__compact_old`.
    * Returns whether `path` exists after the heal. EVERY toucher of a
    * swap-managed dir routes through here — writers (the compactors)
    * AND the read/append paths (committedGenWrite, KeepListStore) —
    * because a crash window must heal at the NEXT TOUCH, whatever it
    * is: an append that recreated a bare root over a half-swapped store
    * would bury the tmp forever and silently destroy the pre-crash
    * data. (SinksCrashSpec exercises the windows.)
    */
  private[graft] def healSwap(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    if (!fs.exists(dst)) {
      if (fs.exists(tmp)) { renameOrThrow(fs, tmp, dst); fs.delete(old, true) }
      else if (fs.exists(old)) renameOrThrow(fs, old, dst)
    }
    fs.exists(dst)
  }

  /** ONE copy of the write half: heal, write the full replacement via
    * `write(tmpDir)`, then swap with rename-aside. At no point is
    * `path` absent AND the new data unrecoverable — a crash leaves
    * either the old dir live, or the new dir one rename away (healed by
    * [[healSwap]] on the next touch). Every dir-level rewrite (compact,
    * compactUpserted/scd2Retention, compactGenerations, the keep-list
    * fold) shares this state machine instead of keeping copies in
    * lockstep.
    */
  private[graft] def swapRewrite(fs: org.apache.hadoop.fs.FileSystem,
                                 path: String)(write: String => Unit): Unit = {
    healSwap(fs, path)
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    fs.delete(tmp, true) // stale tmp from a mid-write crash
    write(tmp.toString)
    fs.delete(old, true)
    renameOrThrow(fs, dst, old)
    renameOrThrow(fs, tmp, dst)
    fs.delete(old, true)
  }

  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    swapRewrite(fs, path) { tmp =>
      val df = spark.read.parquet(path)
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val parts = math.max(1, (bytes / BigInt(targetFileBytes)).toInt)
      df.repartition(parts).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** Compact an UPSERT table (micro-batch upserts accumulate one file
    * per touched bucket per batch — the streaming small-files problem)
    * while PRESERVING the `__bucket=k` partition layout that routing and
    * touched-bucket pruning depend on: plain `compact` would fold the
    * partition column into the data files and strand every later upsert.
    * One shuffle on the bucket id → one file per bucket; the swap reuses
    * compact's rename-aside discipline via the same dir-level recovery.
    */
  def compactUpserted(spark: SparkSession, path: String): Unit =
    rewriteUpserted(spark, path, identity)

  /** RETENTION for an SCD2 history table (scd2Upsert layout): drop
    * closed versions whose interval ended at or before `horizon` —
    * the storage lever for histories that otherwise grow forever at
    * 100 TB. Live rows and intervals still open at the horizon always
    * survive, so `scd2AsOf(v)` for any v >= horizon is UNCHANGED
    * (gated k13); reads below the horizon now FAIL LOUDLY in scd2AsOf
    * via the recorded horizon marker (gated k17) instead of silently
    * returning partial history. Same full-bucket rewrite + rename-swap
    * discipline as compaction, so the table also comes out compacted.
    */
  def scd2Retention(spark: SparkSession, path: String, horizon: Long): Unit = {
    recordHorizon(spark, path, horizon)
    rewriteUpserted(spark, path,
      _.where(col("valid_to").isNull || col("valid_to") > horizon))
  }

  /** Shared bucket-layout-preserving rewrite: read the table, apply a
    * row-level `transform` (identity = pure compaction), write one file
    * per bucket, swap dirs with compact's rename-aside crash recovery.
    */
  private def rewriteUpserted(spark: SparkSession, path: String,
                              transform: DataFrame => DataFrame): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a table this stream never wrote (all its batches were empty —
    // upsertBucketed writes nothing then, by design): nothing to compact
    if (!healSwap(fs, path)) return
    swapRewrite(fs, path) { tmp =>
      clusterByPartition(transform(spark.read.parquet(path)), "__bucket")
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
        .parquet(tmp)
    }
  }

  /** EXACTLY-ONCE per-batch append into a partition-pruned index
    * layout: each batch's rows land under their own `gen=<batchId>/
    * <partitionCol>=.../` generation — written to a hidden tmp sibling
    * first, then published with ONE atomic dir rename. A replayed
    * batchId is a pure skip (its gen dir exists) and a crashed
    * half-write is invisible (hidden tmp). Serving readers resolve only
    * the probed `<partitionCol>=` dirs of every visible generation
    * ([[prunedPartitionRead]]) and read them with the root as base path,
    * so discovery still surfaces (gen, partitionCol) and `gen` is
    * dropped before use. The commit discipline behind the streaming
    * IVF maintenance (s16, via VectorOps.committedCellAppend) and the
    * bucketed band index (d16).
    *
    * Returns true when this call published the generation, false when
    * `batchId` was already committed (the replay skip) — callers
    * managing their own ids can detect an id-reuse mistake instead of
    * silently losing a batch. CONCURRENCY: one writer per index at a
    * time (the upsertBucketed discipline — foreachBatch serializes
    * naturally); under that contract any `.tmp_gen_*` dir found on
    * entry is a dead half-write from a crashed predecessor (its batch
    * either replays through here or was abandoned with the
    * checkpoint), so stale tmps are swept rather than left to
    * accumulate invisible disk forever.
    */
  def committedPartitionedAppend(df: DataFrame, indexDir: String,
                                 batchId: Long, partitionCol: String,
                                 preClustered: Boolean = false): Boolean =
    committedGenWrite(df, indexDir, batchId, Some(partitionCol), preClustered)

  /** [[committedPartitionedAppend]] without an inner partition level —
    * for small mergeable state (sketch partials) where per-gen
    * subdirectories would be pure overhead.
    */
  def committedAppend(df: DataFrame, indexDir: String, batchId: Long): Boolean =
    committedGenWrite(df, indexDir, batchId, None, preClustered = true)

  /** The serving read of a partitioned store, generational
    * (`gen=<id>/<partCol>=<v>/`) or flat (`<partCol>=<v>/`), restricted
    * to the probed partition `values` BEFORE Spark lists anything: the
    * root is listed once through the Hadoop FileSystem, the visible `gen=` dirs with
    * gen ≤ `asOf` are kept (a flat store uses the root itself), each is
    * listed once for the `<partCol>=<v>` dirs that exist, and only those
    * leaf dirs are read, with `basePath = root` so `gen` and `partCol`
    * are discovered from the paths with the same types as a whole-root
    * read. A whole-root read of a store with more than 32 partition dirs
    * per generation (Spark's parallel-discovery threshold) starts one
    * distributed listing job per generation per request; this read
    * starts none while it resolves to at most 32 leaf dirs.
    *
    * Callers keep their partition filter and `gen` horizon: the rows
    * are the whole-root read's under those filters. When no probed dir
    * exists it falls back to the whole-root read, where the caller's
    * filter answers empty with the store's schema. A root holding both
    * `gen=` dirs and other visible children refuses, as Spark's
    * discovery does ("conflicting directory structures").
    */
  def prunedPartitionRead(spark: SparkSession, root: String, partCol: String,
                          values: Iterable[Int],
                          asOf: Option[Long] = None): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(root)
    // Spark's hidden-path rule: `_x` (not a partition dir) and `.x`
    def visible(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
      }
    val children =
      if (fs.exists(rootP)) visible(rootP)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val (gens, others) = children.partition(st =>
      st.isDirectory && st.getPath.getName.startsWith("gen="))
    if (gens.nonEmpty && others.nonEmpty)
      throw new IllegalStateException(
        s"conflicting directory structures under $root: gen= dirs next to " +
          others.map(_.getPath.getName).sorted.mkString(", ") +
          " — a store is either generational or flat, never both")
    val wanted = values.map(v => s"$partCol=$v").toSet
    def probed(sts: Array[org.apache.hadoop.fs.FileStatus]) =
      sts.filter(st => st.isDirectory && wanted(st.getPath.getName))
        .map(_.getPath.toString)
    val leaves =
      if (gens.isEmpty) probed(children)
      else gens
        .filter(st => asOf.forall(st.getPath.getName.stripPrefix("gen=").toLong <= _))
        .flatMap(st => probed(visible(st.getPath)))
    if (leaves.isEmpty) spark.read.parquet(root)
    else spark.read.option("basePath", root).parquet(leaves.sorted.toSeq: _*)
  }

  /** Did every file scan of `df`'s executed plan prune on the partition
    * column `partCol`? Read from the scans' `partitionFilters`, so the
    * answer holds whatever shape the optimizer gave the predicate
    * (`OptimizeIn` turns a one-value list into `=` and a list of more
    * than 10 values into `INSET`).
    */
  private[graft] def scansPrunedOn(df: DataFrame, partCol: String): Boolean = {
    val scans = PlanWalk.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans.nonEmpty && scans.forall(_.partitionFilters.exists(
      _.references.exists(_.name == partCol)))
  }

  private object PlanWalk
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Cluster a frame on its inner partition column before a
    * `partitionBy` write (round-15, guide §6 small files + §2.4): an
    * unclustered write opens (tasks × partition values) files — the
    * small-files problem at scale, and measured locally as the
    * lifecycle tier's dominant cost in the OPPOSITE direction (a
    * coalesced/AQE-coalesced input writes all ~64 partition dirs from
    * ONE task, 1.1–2.3 s of serial file creation per append). The
    * partition count is EXPLICIT (the session's shuffle-partition
    * setting — scale-adaptive by conf, not a local constant) because an
    * implicit `repartition(col)` is AQE-coalescible right back to the
    * single-task write: AQE sizes by map-output bytes, which cannot see
    * per-file creation cost. Result: ≤1 file per partition value per
    * task wave, written in parallel.
    */
  private[graft] def clusterByPartition(df: DataFrame,
                                        partitionCols: String*): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    df.repartition(p, partitionCols.map(col): _*)
  }

  private def committedGenWrite(df: DataFrame, indexDir: String,
                                batchId: Long,
                                partitionCol: Option[String],
                                preClustered: Boolean): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val genDir = new org.apache.hadoop.fs.Path(s"$indexDir/gen=$batchId")
    // fast path FIRST: a replay skip costs one getFileStatus (plus a
    // cached manifest probe), not a root listing — at streaming cadence
    // the root holds one gen dir per micro-batch and listing it per
    // append would make every append O(#generations)
    if (isCommittedGen(fs, indexDir, batchId)) return false
    // heal a half-swapped store BEFORE writing: if a compaction died
    // between its renames the root is absent and the full store sits at
    // __compact_tmp — recreating a bare root here would bury that tmp
    // forever (the next compaction would see the root, skip recovery,
    // and delete the tmp: the whole pre-crash corpus silently gone)
    healSwap(fs, indexDir)
    // about to write: sweep dead half-writes (single-writer contract —
    // any tmp found here is a crashed predecessor's)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    if (fs.exists(root))
      for (st <- fs.listStatus(root)
           if st.getPath.getName.startsWith(".tmp_gen_"))
        fs.delete(st.getPath, true)
    val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/.tmp_gen_$batchId")
    val out = partitionCol match {
      case Some(c) if !preClustered => clusterByPartition(df, c)
      case _ => df
    }
    val w = out.write
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(tmp.toString)
    renameOrThrow(fs, tmp, genDir)
    true
  }

  /** Create-or-validate a store's sibling `__layout` marker (the
    * bucket-count layout contract, shared by the banded MinHash index
    * and the bucketed-cell IVF store): the bucket count is chosen ONCE
    * at first write, recorded tmp+rename, and every later writer and
    * every reader derives it from the marker — a writer bucketing
    * differently than the store would land rows in directories reads
    * no longer match (the silent-wrong-prune class), so a differing
    * count refuses loudly instead.
    */
  def ensureLayoutMarker(fs: org.apache.hadoop.fs.FileSystem,
                         indexDir: String, numBuckets: Int,
                         cellType: Option[String] = None): Unit = {
    val dst = new org.apache.hadoop.fs.Path(indexDir + "__layout")
    if (fs.exists(dst)) {
      val existing = readLayoutMarker(fs, indexDir)
      if (existing != numBuckets)
        throw new IllegalStateException(
          s"$indexDir is already laid out with numBuckets=$existing; " +
            s"writing with $numBuckets would strand its partitions — " +
            "use a fresh store dir")
      // the key column's TYPE is part of the layout contract too (the
      // b76ab6a class: an Int-narrowed key silently probes the wrong
      // rows past 2³¹) — a writer declaring a different type than the
      // store records refuses loudly like a differing bucket count
      for (recorded <- readLayoutCellType(fs, indexDir); declared <- cellType
           if recorded != declared)
        throw new IllegalStateException(
          s"$indexDir records key type '$recorded' in its __layout " +
            s"marker; writing '$declared'-typed keys would make reads " +
            "silently mismatch — use a fresh store dir")
    } else {
      val tmp = new org.apache.hadoop.fs.Path(indexDir + "__layout.tmp")
      val body = numBuckets.toString +
        cellType.map(t => s"\ncell:$t").getOrElse("")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      renameOrThrow(fs, tmp, dst)
    }
  }

  /** The recorded bucket count of a bucketed store — loud when absent
    * (reading with a guessed bucket count would silently prune away
    * live rows).
    */
  def readLayoutMarker(fs: org.apache.hadoop.fs.FileSystem,
                       indexDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(indexDir + "__layout")
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"no layout marker at ${indexDir}__layout — the store was not " +
          "built through a bucketed writer (reading with a guessed " +
          "bucket count would silently prune live rows)")
    // first line = bucket count (round-13 markers are exactly that);
    // later lines are optional contract fields (`cell:<type>`)
    readMarkerLines(fs, p).head.trim.toInt
  }

  /** The marker's bucket count, or None for an unmarked (flat-laid-out
    * or brand-new) store — the layout-dispatch probe readers and the
    * auto-dispatching writers share.
    */
  def layoutMarkerOpt(fs: org.apache.hadoop.fs.FileSystem,
                      indexDir: String): Option[Int] =
    if (fs.exists(new org.apache.hadoop.fs.Path(indexDir + "__layout")))
      Some(readLayoutMarker(fs, indexDir))
    else None

  /** The marker's recorded key type (`cell:<type>` line), if the store
    * was written by a type-recording writer; round-13 markers predate
    * the field and return None (no assert possible, documented).
    */
  def readLayoutCellType(fs: org.apache.hadoop.fs.FileSystem,
                         indexDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(indexDir + "__layout")
    if (!fs.exists(p)) None
    else readMarkerLines(fs, p).collectFirst {
      case l if l.startsWith("cell:") => l.stripPrefix("cell:").trim
    }
  }

  private def readMarkerLines(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64)
      val out = new java.io.ByteArrayOutputStream(64)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString(java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  /** ids whose generations were folded away by [[compactGenerations]]
    * — read from the sibling manifest (absent until the first
    * compaction, so uncompacted stores pay nothing beyond one exists
    * check on the replay path). The published manifest is CACHED per
    * (dir, modification time) — single-writer contract makes the mtime
    * check sufficient — so a compacted store's appends stay O(1)
    * instead of re-parsing the manifest per micro-batch.
    */
  private val foldedIdsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[Long])]()

  /** Manifest framing: ids one per line, terminated by `END:<count>`.
    * The terminator is what makes a TORN tmp write detectable — without
    * it, a crash mid-flush could truncate an id (\"123\" → \"12\") and
    * fabricate a batch id that was never committed, silently dropping
    * that future batch. A malformed tmp is ignored (torn write, by
    * design); a malformed PUBLISHED manifest throws (it was renamed
    * into place only after a full write+close, so damage means real
    * corruption and over-reading as empty could double-ingest).
    */
  private def parseManifest(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path,
                            tornOk: Boolean): Set[Long] = {
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toVector
      finally in.close()
    val ok = lines.nonEmpty && lines.last == s"END:${lines.length - 1}" &&
      lines.init.forall(_.forall(c => c.isDigit || c == '-'))
    if (ok) lines.init.map(_.toLong).toSet
    else if (tornOk) Set.empty
    else throw new IllegalStateException(
      s"corrupt committed-ids manifest at $p — refusing to guess " +
        "(reading it as empty could double-ingest a folded batch)")
  }

  /** Is `batchId` already committed into this generational store? Two
    * marker tiers: its gen dir (the append's atomic rename), or — once
    * compaction folded that dir away — the sibling `__committed`
    * manifest. The committed faces and their callers' replay fast
    * paths (KeepListStore.appendBatch) share this one definition.
    */
  private[graft] def isCommittedGen(fs: org.apache.hadoop.fs.FileSystem,
                                    indexDir: String,
                                    batchId: Long): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/gen=$batchId")) ||
      foldedIds(fs, indexDir).contains(batchId)

  /** Largest batch id folded into this store's manifest, if any — the
    * as-of read horizon (a compacted generation is not reconstructible,
    * so snapshot reads at or before it must refuse).
    */
  private[graft] def maxFoldedGen(fs: org.apache.hadoop.fs.FileSystem,
                                  indexDir: String): Option[Long] = {
    val ids = foldedIds(fs, indexDir)
    if (ids.isEmpty) None else Some(ids.max)
  }

  private def foldedIds(fs: org.apache.hadoop.fs.FileSystem,
                        indexDir: String): Set[Long] = {
    // union of the manifest and its tmp sibling: the tmp is written as
    // old ∪ new BEFORE the delete+rename publish, so the union is
    // complete inside every crash window of that publish — and a
    // well-formed stale tmp only ever lists ids that were committed at
    // some point, so unioning it is always safe (a skip of a committed
    // id is correct forever)
    val mainP = new org.apache.hadoop.fs.Path(indexDir + "__committed")
    val main =
      if (!fs.exists(mainP)) Set.empty[Long]
      else {
        val mtime = fs.getFileStatus(mainP).getModificationTime
        Option(foldedIdsCache.get(indexDir)) match {
          case Some((t, s)) if t == mtime => s
          case _ =>
            val s = parseManifest(fs, mainP, tornOk = false)
            foldedIdsCache.put(indexDir, (mtime, s))
            s
        }
      }
    val tmpP = new org.apache.hadoop.fs.Path(indexDir + "__committed.tmp")
    if (fs.exists(tmpP)) main ++ parseManifest(fs, tmpP, tornOk = true)
    else main
  }

  /** COMPACTION for the generational index layout
    * ([[committedPartitionedAppend]]/[[committedAppend]]): at streaming
    * cadence the store accumulates one `gen=<batchId>` dir per
    * micro-batch — the same listing-time kill `compact` fixes for flat
    * dirs, except here the gen dir IS the replay marker, so deleting it
    * naively would let a replayed batch re-ingest. The fix is a second
    * marker tier: the folded batch ids are recorded in the sibling
    * `<dir>__committed` manifest BEFORE the swap (ordering is
    * load-bearing — every manifest id is already committed, so a crash
    * after the manifest write over-skips nothing, while the reverse
    * order would let a replay of a folded id double-ingest), then all
    * generations fold into a single `gen=-1` with the inner partition
    * layout preserved (one file per partition value) and the dir swaps
    * via compact's rename-aside recovery. The `__layout` bucket-count
    * marker is a sibling and rides through untouched. Single-writer
    * contract, like every committed face.
    */
  def compactGenerations(spark: SparkSession, indexDir: String,
                         partitionCol: Option[String],
                         sortWithin: Seq[String] = Nil): Unit =
    rewriteGenerations(spark, indexDir, partitionCol, identity,
      skipIfFolded = true, sortWithin = sortWithin)

  /** [[compactGenerations]] with a row-level `transform` (the delete
    * path of a generational store: fold + filter in one rewrite). The
    * manifest still records every folded batch id — DELETING DATA DOES
    * NOT UN-COMMIT ITS BATCH: a replayed batch whose rows were since
    * deleted must stay a pure skip, or the delete would be silently
    * undone by redelivery. `skipIfFolded=false` (the default here)
    * applies the transform even when only gen=-1 remains.
    */
  def rewriteGenerations(spark: SparkSession, indexDir: String,
                         partitionCol: Option[String],
                         transform: DataFrame => DataFrame,
                         skipIfFolded: Boolean = false,
                         sortWithin: Seq[String] = Nil): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (!healSwap(fs, indexDir)) return // never written: nothing to fold
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .map(_.getPath.getName)
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong)
    if (skipIfFolded && !gens.exists(_ != -1L)) return
    // 1) manifest first (union with any previously folded ids), framed
    //    with the END terminator so a torn write is detectable; skipped
    //    when this rewrite folds no new generations
    val newFolds = gens.filter(_ != -1L)
    if (newFolds.nonEmpty) {
      val ids = foldedIds(fs, indexDir) ++ newFolds
      val payload = ids.toSeq.sorted.mkString("", "\n", s"\nEND:${ids.size}")
      val mTmp = new org.apache.hadoop.fs.Path(indexDir + "__committed.tmp")
      val out = fs.create(mTmp, true)
      try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(new org.apache.hadoop.fs.Path(indexDir + "__committed"), true)
      renameOrThrow(fs, mTmp,
        new org.apache.hadoop.fs.Path(indexDir + "__committed"))
    }
    // REFUSE a transform that drops every row — BEFORE anything
    // mutates: an empty partitioned gen=-1 has no data files, so every
    // later read of the store dies on schema inference ("unable to
    // infer schema"), wedging it until manual repair. Filtering a store
    // to nothing is a caller bug; a genuine full takedown means
    // deleting the store dir and backfilling fresh.
    val folded = transform(spark.read.parquet(indexDir).drop("gen"))
    if (folded.isEmpty)
      throw new IllegalArgumentException(
        s"refusing to rewrite $indexDir to an EMPTY store (the transform " +
          "dropped every row) — a full takedown deletes the store dir " +
          "and backfills fresh; an empty rewrite would leave an " +
          "unreadable schemaless dir")
    // 2) fold every generation into one gen=-1 (partition layout kept,
    //    transform applied) and 3) swap — the shared rename-aside
    //    state machine
    swapRewrite(fs, indexDir) { tmp =>
      val w = partitionCol match {
        case Some(c) =>
          // `sortWithin` re-clusters rows inside each rewritten file
          // (the bucketed-cell layout keeps rows cell-sorted so the
          // serve's cell filter stays a row-group skip after a fold).
          // EXPLICIT partition count (clusterByPartition's rationale):
          // an implicit repartition(col) is AQE-coalescible to one
          // task serially creating every partition dir.
          val rp = clusterByPartition(folded, c)
          val rs = if (sortWithin.nonEmpty)
            rp.sortWithinPartitions(sortWithin.map(col): _*) else rp
          rs.write.partitionBy(c)
        case None => folded.coalesce(1).write
      }
      w.parquet(s"$tmp/gen=-1")
    }
  }

  /** Write a table partitioned by a low-cardinality column (court/lang/
    * year in the reference's layout) so scans with a partition predicate
    * prune at planning time.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** High-watermark read: rows strictly newer than the stored watermark
    * (the reference's process_new_files_only / decision-id lists).
    */
  def newerThan(df: DataFrame, watermarkCol: String, watermark: Option[Long]): DataFrame =
    watermark match {
      case Some(w) => df.where(col(watermarkCol) > w)
      case None => df
    }
}
