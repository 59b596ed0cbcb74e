package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event/time-series pack over the `events` table: tumbling windows,
  * sessionization, funnel analysis, JSON-ish property extraction.
  *
  * These are the batch duals of the Structured Streaming operators in
  * graft.streaming (same window semantics; the streaming variant adds
  * watermarking). Comparisons run on raw epoch-micros (`ts_us`) — the
  * parquet nanos timestamp never round-trips through a double.
  *
  * Scale notes: tumbling windows are a plain hash-agg on the bucketed
  * time key (map-side partial agg); sessionization shuffles once on
  * user_id and runs two window passes over the same sort order (Spark
  * reuses the sort); the funnel is one conditional-agg pass, not three
  * self-joins.
  */
object EventQueries extends QueryPack {

  private val hourUs = 3600L * 1000000L

  // ---- shared scaffolding for the gated STREAMING queries (e9–e12) ----

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  /** Stage the events table into a fresh landing dir (`copies` > 1
    * models at-least-once redelivery). The Spark WRITE of the staged
    * bytes runs once per (session, dir, copies) and is memoized; each
    * gate then gets its own fresh landing dir via HARDLINKS to the
    * staged part files (metadata-only, no data copy) so gates that land
    * flush files never contaminate each other or a later bench
    * iteration. At production scale the landing dir already exists and
    * this fixture step has no analog — the memo only amortizes fixture
    * cost the per-gate times were charging repeatedly (~0.5 s × 4 gates
    * × bench iters). All files present before the stream starts land in
    * micro-batch 1 together.
    */
  private val stagedBase = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, Int), String]()

  private def stageEvents(s: org.apache.spark.sql.SparkSession, d: String,
                          copies: Int = 1): String = {
    val base = stagedBase.computeIfAbsent((s, d, copies), { _ =>
      // pinnedDir: this dir outlives any single gate (memoized per
      // session) — the per-gate Scratch.sweep must not reclaim it
      val dir = Scratch.pinnedDir("graft_stream_base_").toString
      val df = Tables.events(s, d).select(eventCols.map(col): _*)
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      for (_ <- 2 to copies) df.coalesce(1).write.mode("append").parquet(dir)
      dir
    })
    val dir = Scratch.dir("graft_stream_in_")
    val src = java.nio.file.Paths.get(base)
    val it = java.nio.file.Files.list(src).iterator()
    while (it.hasNext) {
      val f = it.next()
      val name = f.getFileName.toString
      if (!name.startsWith("_") && !name.startsWith(".")) { // skip _SUCCESS etc.
        try java.nio.file.Files.createLink(dir.resolve(name), f)
        catch { // filesystems without hardlinks (or cross-device): copy
          case _: UnsupportedOperationException | _: java.io.IOException =>
            java.nio.file.Files.copy(f, dir.resolve(name))
        }
      }
    }
    dir.toString
  }

  /** max event ts (µs) per (session, dir) — the flush-landing offset
    * base; one agg job, memoized like the staged bytes */
  private val maxUsCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), java.lang.Long]()

  private def eventsMaxUs(s: org.apache.spark.sql.SparkSession, d: String): Long =
    maxUsCache.computeIfAbsent((s, d), { _ =>
      Tables.events(s, d).agg(max(col("ts_us"))).head().getLong(0)
    })

  private def eventStream(s: org.apache.spark.sql.SparkSession,
                          stageDir: String): org.apache.spark.sql.DataFrame =
    graft.streaming.EventStreams.readEventStream(s, stageDir)
      .select(eventCols.map(col): _*)

  /** Land one far-future flush event as its own staged file → its own
    * micro-batch (hidden-file rules ignore _SUCCESS, so a plain append
    * lands one new visible part-file). user -1 marks it for filtering.
    */
  private def landFlush(s: org.apache.spark.sql.SparkSession, stageDir: String,
                        fid: Long, us: Long): Unit = {
    import s.implicits._
    Seq((fid, us)).toDF("event_id", "us")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
        lit(-1L).as("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"))
      .coalesce(1).write.mode("append").parquet(stageDir)
  }

  /** Run a gated stream: `out` appends every micro-batch to a fresh
    * parquet dir via foreachBatch; `drive` owns the query's lifetime
    * (processAllAvailable + any landings). Returns the output dir.
    *
    * Conf discipline: 8 state partitions — a per-stream deployment knob
    * BAKED INTO THE CHECKPOINT at query start, so it is restored right
    * after start without touching the session's batch setting. No-data
    * micro-batches off — every gated row is emitted inside a DATA batch
    * (flush batches carry the watermark past all real state; dedup/join
    * emit on arrival), so a trailing no-data batch could only close the
    * filtered flush artifacts; that conf is consulted live per trigger,
    * hence restored only after stop.
    */
  private def runGatedStream(s: org.apache.spark.sql.SparkSession,
                             out: org.apache.spark.sql.DataFrame)
      (drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): String =
    runGatedStreamWith(s, out, null)(drive)

  /** runGatedStream with a custom foreachBatch body (null = the default
    * append-to-outDir). One home for the conf save/restore discipline —
    * e18's index-dedup micro-batches run through here too. The body
    * receives Structured Streaming's REAL batchId (the replay-stable
    * key an idempotent sink must commit under), not a side counter.
    */
  private def runGatedStreamWith(s: org.apache.spark.sql.SparkSession,
                                 out: org.apache.spark.sql.DataFrame,
                                 body: (org.apache.spark.sql.DataFrame, String, Long) => Unit)
      (drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): String =
    runGatedStreamAt(s, out, Scratch.dir("graft_stream_ck_").toString,
      Scratch.dir("graft_stream_out_").toString, body)(drive)

  /** runGatedStreamWith with CALLER-OWNED checkpoint/output dirs — the
    * restart gates (e19) stop a query and start a new incarnation from
    * the same checkpoint, so the dirs must outlive one run.
    */
  private def runGatedStreamAt(s: org.apache.spark.sql.SparkSession,
                               out: org.apache.spark.sql.DataFrame,
                               ckptDir: String, outDir: String,
                               body: (org.apache.spark.sql.DataFrame, String, Long) => Unit)
      (drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): String = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // restore discipline: shuffle.partitions is only read at plan time →
    // restore right after start(); noDataMicroBatches is consulted live
    // per trigger → restore only after stop. If start() itself throws,
    // BOTH restore here — neither conf may leak into later queries.
    var started = false
    try {
      val q = out.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          if (body == null) batch.write.mode("append").parquet(outDir)
          else body(batch, outDir, bid)
        }
        .start()
      started = true
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try drive(q) finally {
        q.stop()
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      }
    } finally if (!started) {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    outDir
  }

  /** Streamed BM25 landing shared by e24/e33 (round-15): per-batch tf
    * persisted and materialized once (the four tables re-derived it),
    * the four exactly-once committed appends submitted CONCURRENTLY
    * (guide §2.6 — four independent stores, four independent jobs).
    * Returns whether ANY table actually wrote (e24's replay signal).
    */
  private def landBm25Committed(batch: org.apache.spark.sql.DataFrame,
                                idx: String, bid: Long): Boolean = {
    val tf = TextQueries.tfOf(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tf.count()
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val writes: Seq[() => Boolean] = Seq(
        () => graft.sources.Sinks.committedPartitionedAppend(
          tf.withColumn("tb", pmod(hash(col("token")), lit(64))),
          s"$idx/postings", bid, "tb"),
        () => graft.sources.Sinks.committedPartitionedAppend(
          tf.groupBy("token").agg(count(lit(1)).as("df"))
            .withColumn("tb", pmod(hash(col("token")), lit(64))),
          s"$idx/df", bid, "tb"),
        () => graft.sources.Sinks.committedAppend(dl, s"$idx/dl", bid),
        () => graft.sources.Sinks.committedAppend(
          dl.agg(sum("dl").as("sum_dl"), count(lit(1)).as("n")),
          s"$idx/stats", bid))
      // all-settled + sibling-cancel (ADVICE r15): the unpersist below
      // must never run while a failed batch's siblings still read tf
      graft.sources.Sinks.awaitAllWrites(batch.sparkSession, writes)
        .exists(identity)
    } finally tf.unpersist()
  }

  def all: Seq[Q] = Seq(

    // ---- Tumbling 1-hour window aggregate (streaming dual: groupBy
    // window(ts, '1 hour') with watermark).
    Q("e1_tumbling_window",
      (s, d) => Tables.events(s, d)
        .groupBy((expr(s"ts_us div $hourUs") * hourUs).as("window_start_us"))
        .agg(count(lit(1)).as("n_events"),
          // decimal accumulation (order-independent), double output — the
          // driver's exact-hash gate stringifies, and decimal trailing-zero
          // repr differs between engines (VERDICT r1)
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value")),
      Some(s"""SELECT (epoch_ns(ts) // 1000 // $hourUs) * $hourUs AS window_start_us,
              count(*) AS n_events,
              cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
              FROM events GROUP BY 1""")),

    // ---- Sessionization: 30-minute inactivity gap → session ids →
    // per-session stats. (The reference has no streams; this is the
    // training-pipeline op — e.g. grouping scraped pages into visits.)
    Q("e2_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val gapUs = 30L * 60L * 1000000L
        Tables.events(s, d)
          .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
              .otherwise(0L))
          .withColumn("sess_id",
            sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"),
            (max("ts_us") - min("ts_us")).as("dur_us"))
      },
      Some("""WITH t AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
              f AS (SELECT user_id, ts_us,
                CASE WHEN lag(ts_us) OVER w IS NULL
                          OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
              g AS (SELECT user_id, ts_us,
                cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS sess_id
                FROM f)
              SELECT user_id, sess_id, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS dur_us
              FROM g GROUP BY 1, 2""")),

    // ---- Funnel: users whose first view < first click < first purchase.
    // One conditional-agg pass per user — no self-joins.
    Q("e3_funnel",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts_us"))).as("tv"),
          min(when(col("event_type") === "click", col("ts_us"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts_us"))).as("tp"))
        .where(col("tv") < col("tc") && col("tc") < col("tp"))
        .select("user_id", "tv", "tc", "tp"),
      Some("""SELECT user_id, tv, tc, tp FROM (
                SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS tv,
                  min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS tc,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS tp
                FROM events GROUP BY 1)
              WHERE tv < tc AND tc < tp""")),

    // ---- F41-ish: JSON property extraction (regex path — engine-neutral;
    // Spark's get_json_object / from_json is the production path for real
    // nested JSON, exercised in the streaming module).
    Q("e4_props_extract",
      (s, d) => Tables.events(s, d)
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k")),
      // DuckDB sums BIGINT into HUGEINT (→ float64 in pandas); the outer
      // cast pins the oracle back to int64 to match Spark's sum(bigint)
      Some("""SELECT event_type, count(*) AS n,
                cast(sum(cast(regexp_extract(props, '"k": (\d+)', 1) as bigint)) as bigint) AS sum_k,
                max(cast(regexp_extract(props, '"k": (\d+)', 1) as bigint)) AS max_k
              FROM events GROUP BY 1""")),

    // ---- Click→purchase attribution: interval self-join (each click
    // joined to the same user's purchases within the following hour) —
    // the batch dual of the stream-stream interval join
    // (streaming.EventStreams.clickToPurchase; equivalence pinned in
    // EventStreamsSpec). Join keys carry user_id so the shuffle
    // co-locates per user; the time-range predicate prunes inside the
    // partition.
    Q("e8_click_attribution",
      (s, d) => {
        val hourUs = 3600L * 1000000L
        val e = Tables.events(s, d)
        val clicks = e.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("c_ts"),
            col("event_id").as("click_id"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("p_ts"),
            col("event_id").as("purchase_id"))
        clicks.join(purchases, Seq("user_id"))
          .where(col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + hourUs)
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            (col("p_ts") - col("c_ts")).as("lag_us"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type,
                epoch_ns(ts) // 1000 AS ts_us FROM events)
              SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                c.user_id, p.ts_us - c.ts_us AS lag_us
              FROM t c JOIN t p ON c.user_id = p.user_id
              WHERE c.event_type = 'click' AND p.event_type = 'purchase'
                AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000""")),

    // ---- Retention cohorts: users grouped by first-seen day, activity
    // counted per day-offset — two aggs over one shuffle on user_id
    // (the first agg), then a |users|-sized join.
    Q("e6_retention_cohorts",
      (s, d) => {
        val dayUs = 86400L * 1000000L
        val firstSeen = Tables.events(s, d)
          .groupBy("user_id")
          .agg((min(expr(s"ts_us div $dayUs"))).as("cohort_day"))
        Tables.events(s, d)
          .withColumn("day", expr(s"ts_us div $dayUs"))
          .join(firstSeen, "user_id")
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(countDistinct("user_id").as("n_active_users"))
      },
      Some(s"""WITH t AS (SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day
                          FROM events),
              f AS (SELECT user_id, min(day) AS cohort_day FROM t GROUP BY 1)
              SELECT cohort_day, day - cohort_day AS day_offset,
                count(DISTINCT t.user_id) AS n_active_users
              FROM t JOIN f ON t.user_id = f.user_id
              GROUP BY 1, 2""")),

    // ---- Native session_window (Spark's built-in gap-session operator,
    // batch form) cross-checked against the lag/cumsum formulation the
    // oracle states — two independent sessionization implementations
    // must agree exactly.
    Q("e7_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events")),
      // session_window merges an event iff it starts strictly before the
      // previous window's end ⇒ new session iff gap >= 30 min (note: e2's
      // hand gap rule is >, self-consistent there; here we mirror Spark)
      Some("""WITH t AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
              f AS (SELECT user_id, ts_us,
                CASE WHEN lag(ts_us) OVER w IS NULL
                          OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
              g AS (SELECT user_id, ts_us,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
                FROM f)
              SELECT user_id, min(ts_us) AS start_us, count(*) AS n_events
              FROM g GROUP BY user_id, sess_id""")),

    // ---- ACTUAL streaming execution, gated (not just the batch dual):
    // the events table lands as a file-source micro-batch, runs through
    // streaming.EventStreams.sessionize (flatMapGroupsWithState, event-
    // time timeout), and each batch's closed sessions append to parquet
    // via foreachBatch — the production ingest→state→sink shape. Two
    // far-future flush events (user -1, filtered out) land as separate
    // micro-batches to push the watermark past every real session's
    // timeout, so the emitted set is deterministic and equals the e2
    // lag/cumsum oracle exactly.
    Q("e9_stream_sessionize",
      (s, d) => {
        val stageDir = stageEvents(s, d)
        val maxUs = eventsMaxUs(s, d)
        import s.implicits._
        val sessions = graft.streaming.EventStreams.sessionize(
          eventStream(s, stageDir).as[graft.streaming.EventStreams.Event]).toDF()
        val outDir = runGatedStream(s, sessions) { q =>
          q.processAllAvailable()
          for ((fid, hours) <- Seq((-1L, 36L), (-2L, 72L))) {
            landFlush(s, stageDir, fid, maxUs + hours * 3600000000L)
            q.processAllAvailable()
          }
        }
        s.read.parquet(outDir)
          .where(col("closed") && col("user_id") >= 0)
          .select(col("user_id"), col("n_events"), col("start_us"),
            (col("end_us") - col("start_us")).as("dur_us"))
      },
      Some("""WITH t AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
              f AS (SELECT user_id, ts_us,
                CASE WHEN lag(ts_us) OVER w IS NULL
                          OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
                FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
              g AS (SELECT user_id, ts_us,
                cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS sess_id
                FROM f)
              SELECT user_id, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS dur_us
              FROM g GROUP BY user_id, sess_id""")),

    // ---- Streaming exactly-once ingest, gated: the whole events table
    // lands TWICE (two staged files — an at-least-once redelivery), runs
    // through dropDuplicatesWithinWatermark on event_id, and the
    // foreachBatch parquet read-back must equal the table exactly once.
    // Deterministic because redeliveries are byte-identical rows, so the
    // surviving copy is the same row either way.
    Q("e10_stream_dedup",
      (s, d) => {
        val stageDir = stageEvents(s, d, copies = 2) // redelivery
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.dedupEvents(eventStream(s, stageDir)))(
          _.processAllAvailable())
        s.read.parquet(outDir)
          .select(col("event_id"), col("user_id"), col("event_type"))
      },
      Some("SELECT event_id, user_id, event_type FROM events")),

    // ---- Streaming DOCUMENT dedup, gated (e13): documents land with a
    // re-crawl duplicate each (same text, shifted doc_id, later
    // doc_ts), flow through EventStreams.dedupDocs with the EXACT
    // content fingerprint (md5 — first-wins within the watermark), and
    // the surviving TEXT set equals the distinct corpus. Output
    // projects text only — which doc_id survives a fingerprint class
    // is scheduler-order dependent by design; the content is not. The
    // default simhash64 NEAR-dup fingerprint runs the same machinery
    // (EventStreamsSpec — its classes merge near-identical texts, so an
    // exact-SQL oracle cannot state them).
    Q("e13_stream_content_dedup",
      (s, d) => {
        val stage = Scratch.dir("graft_e13_").toString
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        docs.withColumn("doc_ts", expr("timestamp_micros(1700000000000000 + doc_id)"))
          .coalesce(1).write.mode("overwrite").parquet(stage)
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .withColumn("doc_ts", expr("timestamp_micros(1700000001000000 + doc_id)"))
          .coalesce(1).write.mode("append").parquet(stage) // the re-crawl
        val stream = s.readStream
          .schema("doc_id LONG, text STRING, doc_ts TIMESTAMP").parquet(stage)
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.dedupDocs(stream, md5(col("text"))))(
          _.processAllAvailable())
        s.read.parquet(outDir).select("text").distinct()
      },
      Some("SELECT DISTINCT text FROM documents")),

    // ---- Stream ⋈ STATIC dimension join, gated (e14): the ubiquitous
    // enrichment shape — a streaming fact joined to a broadcast static
    // dimension (no state, no watermark needed on the dim side), then a
    // keyed aggregate. Equals the batch dual exactly.
    Q("e14_stream_static_join",
      (s, d) => {
        val stageDir = stageEvents(s, d)
        val dim = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
        val joined = eventStream(s, stageDir)
          .withColumn("nk", pmod(col("user_id"), lit(25L)))
          .join(broadcast(dim), "nk")
        val outDir = runGatedStream(s, joined)(_.processAllAvailable())
        s.read.parquet(outDir)
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      },
      Some("""SELECT n_name, count(*) AS n_events,
                cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
              FROM events JOIN nation ON user_id % 25 = n_nationkey
              GROUP BY 1""")),

    // ---- Streaming DISTINCT-COUNT sketch (e15): the engine-neutral
    // HLL (operators/HllSketch) accumulated continuously. The register
    // derivation is a STATELESS per-row map — streaming-safe in append
    // mode with no state store — so each micro-batch appends PARTIAL
    // register rows (a log of mergeable sketches) and the read-side
    // max-merge IS sketch merge. Events are staged with copies=2 (full
    // redelivery): max is idempotent, so at-least-once delivery needs
    // no dedup — the summary equals the batch sketch over ONE copy,
    // which is exactly what the oracle restates.
    Q("e15_stream_hll",
      (s, d) => {
        val stageDir = stageEvents(s, d, copies = 2)
        val regs = graft.operators.HllSketch.withRegister(
            eventStream(s, stageDir), col("user_id"))
          .select(col("event_type"), col("__bucket"), col("__rho").as("register"))
        val outDir = runGatedStream(s, regs)(_.processAllAvailable())
        graft.operators.HllSketch.summarize(
          s.read.parquet(outDir), Seq("event_type"))
      },
      Some(Oracles.hllSummary("events", "CAST(user_id AS VARCHAR)", "event_type"))),

    // ---- (beyond ref) SEQUENTIAL FUNNEL (e16): view → click →
    // purchase, strictly ordered per user — each stage is a keyed
    // conditional-min over the previous stage's users (3 aggregates +
    // 2 equi-joins on user, no window, no per-user sort). Event-time
    // comparisons on raw epoch nanos (the j10 convention).
    Q("e16_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_ns").as("t1"))
        val c = ev.where(col("event_type") === "click").join(v, "user_id")
          .where(col("ts_ns") > col("t1"))
          .groupBy("user_id").agg(min("ts_ns").as("t2"))
        val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
          .where(col("ts_ns") > col("t2"))
          .groupBy("user_id").agg(min("ts_ns").as("t3"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
      },
      Some("""WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
                         WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e
                    JOIN v ON e.user_id = v.user_id
                    WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t1 GROUP BY 1),
              p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e
                    JOIN c ON e.user_id = c.user_id
                    WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t2 GROUP BY 1)
              SELECT (SELECT count(*) FROM v) AS n_view,
                     (SELECT count(*) FROM c) AS n_view_click,
                     (SELECT count(*) FROM p) AS n_view_click_purchase""")),

    // ---- (beyond ref) SEMI-STRUCTURED column (e17): the events table
    // carries a JSON `props` string — extract a field with the native
    // JSON path expression and aggregate it. At 100 TB the lesson is
    // the plan shape: get_json_object is a codegen'd per-row scalar
    // (one pass, no UDF, no schema inference job); a full from_json
    // with explicit schema is the move when many fields are needed.
    // ---- Streaming dedup against the PERSISTED index (e18): the
    // DURABLE sibling of e13 — e13's dropDuplicates state lives in the
    // state store and dies with the checkpoint; here every micro-batch
    // runs d13's incremental dedup entry
    // (MinHashLSH.committedIncrementalDedupBucketed) against the
    // on-disk band index, keyed by foreachBatch's REAL batchId:
    // verdicts commit atomically under batch=<id> BEFORE the admitted
    // bands land as the batch's generation, so a crash between the two
    // writes followed by Spark's batch replay can neither lose an
    // admitted doc nor double-ingest it (IncrementalDedupCrashSpec
    // drives the window). The dedup memory survives restarts and is
    // shared with the batch pipeline.
    // Two landings are driven explicitly: batch 0 is fresh docs, batch
    // 1 adds new docs PLUS A FULL REPLAY of landing 1's DATA
    // (at-least-once delivery upstream of the stream) — no redelivered
    // doc can be ADMITTED again (each hits its own appended bands or
    // whatever rejected it the first time). The oracle restates both
    // sequential batches, including the index state between them.
    Q("e18_stream_index_dedup",
      (s, d) => {
        val (docs, fileA, idxDir, stage) = indexDedupFixture(s, d, "e18", numBuckets = 1)
        val stream = s.readStream.schema("doc_id LONG, text STRING").parquet(stage)
        val resultDir = runGatedStreamWith(s, stream,
          indexDedupBody(idxDir)) { q =>
          q.processAllAvailable()
          // landing 2: new docs + full redelivery of landing 1
          docs.where(col("doc_id") % 10 === 5).unionByName(fileA)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        readIndexDedupVerdicts(s, resultDir)
      },
      indexDedupOracle),

    // ---- Stream RESTART from checkpoint (e19): the crash-recovery
    // story of e18 driven END-TO-END through an actual stop/restart
    // cycle — batch 0 runs in one query incarnation, the query STOPS
    // (planned shutdown or crash), landing 2 (new docs + a full
    // redelivery of landing 1's data) arrives while nothing is running,
    // and a NEW incarnation started from the SAME checkpoint processes
    // it as batch 1. The committed-verdict protocol makes the two
    // incarnations' outputs splice seamlessly: batchIds continue across
    // the restart, the persisted band index carries the dedup memory,
    // and the final verdicts are IDENTICAL to e18's single-incarnation
    // run — one oracle serves both gates. (The unplanned-kill windows
    // within a batch are IncrementalDedupCrashSpec's territory.)
    Q("e19_stream_restart_dedup",
      (s, d) => {
        val (docs, fileA, idxDir, stage) = indexDedupFixture(s, d, "e19", numBuckets = 1)
        val ckpt = Scratch.dir("graft_e19_ck_").toString
        val outDir = Scratch.dir("graft_e19_out_").toString
        def stream() = s.readStream.schema("doc_id LONG, text STRING").parquet(stage)
        // incarnation 1: processes landing 1, then stops cleanly
        runGatedStreamAt(s, stream(), ckpt, outDir, indexDedupBody(idxDir))(
          _.processAllAvailable())
        // the world moves while the stream is DOWN
        docs.where(col("doc_id") % 10 === 5).unionByName(fileA)
          .coalesce(1).write.mode("append").parquet(stage)
        // incarnation 2: same checkpoint — resumes at batch 1
        runGatedStreamAt(s, stream(), ckpt, outDir, indexDedupBody(idxDir))(
          _.processAllAvailable())
        readIndexDedupVerdicts(s, outDir)
      },
      indexDedupOracle),

    // ---- Streaming Count-Min heavy hitters (e21): the CMS counter
    // table accumulated continuously — the ADD-merged dual of e15's
    // max-merged HLL. The contrast is the point: HLL registers are
    // idempotent under redelivery (max), but CMS cells merge by SUM, so
    // at-least-once delivery WOULD double-count — every micro-batch's
    // partial counter table therefore lands EXACTLY-ONCE keyed by
    // batchId (Sinks.committedPartitionedAppend, partitioned by the
    // sketch row j), and the gate drives an explicit batch-0 REPLAY
    // whose skip is load-bearing: had it landed, every batch-0 count
    // would double and the oracle hash would fail. Events split across
    // the two landings by event_id parity, so the same user's counts
    // genuinely merge ACROSS batches (sum associativity = the sketch's
    // mergeability); the read side sums cells over all generations and
    // probes the exact top-20 users, a19-style.
    // ---- STREAMING maintenance of the BM25 inverted index (e24):
    // t28's additive layout driven from foreachBatch with the
    // committed-generation protocol — each micro-batch tokenizes ONLY
    // its docs and lands all four index tables (postings, df partials,
    // doc lengths, (sum_dl, n) stats partials) as gen=<batchId> dirs,
    // so at-least-once redelivery is a pure skip for every table (a
    // replayed batch that re-appended df partials or stats would shift
    // idf/avgdl and the oracle hash fails — the gate DRIVES that replay
    // and asserts all four skips in `exactly_once`). Serve = t27's
    // bm25Serve over the generational layout (tb still partition-prunes
    // as the second level; `served_pruned` joins `exactly_once`); the
    // oracle is the plain full-corpus BM25, blind to batching, replay,
    // and layout.
    Q("e24_stream_bm25_index",
      (s, d) => {
        val idx = Scratch.dir("graft_e24_idx_").toString
        val stage = Scratch.dir("graft_e24_stage_").toString
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        // persisted-tf, concurrent committed landing (round-15 helper)
        def land(batch: org.apache.spark.sql.DataFrame, bid: Long): Boolean =
          landBm25Committed(batch, idx, bid)
        docs.where(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("doc_id LONG, text STRING").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) { land(batch, bid); () }) { q =>
          q.processAllAvailable()
          docs.where(col("doc_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // at-least-once replay of batch 0's landing: every table must
        // skip (land returns true if ANY table actually wrote)
        val replayWrote = land(docs.where(col("doc_id") % 2 === 0), 0L)
        // the query: the five highest-df terms, served through bm25Serve
        val terms = graft.sources.Sinks.readGenerations(s, s"$idx/df")
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .collect().map(_.getString(0)).toSeq
        TextQueries.bm25Serve(s, idx, terms, 20)
          .withColumn("exactly_once", !lit(replayWrote) && col("served_pruned"))
          .drop("served_pruned")
      },
      Some(s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  ${TextQueries.bm25ContribSql} AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS exactly_once
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    Q("e21_stream_cms",
      (s, d) => {
        import graft.operators.CountMinSketch
        val dir = Scratch.dir("graft_e21_cms_").toString + "/sk"
        val stage = Scratch.dir("graft_e21_stage_").toString
        val ev = Tables.events(s, d).select("event_id", "user_id")
        def tokenCounts(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("user_id").cast("string").as("token"))
            .agg(count(lit(1)).as("cnt"))
        ev.where(col("event_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("event_id LONG, user_id LONG").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            graft.sources.Sinks.committedPartitionedAppend(
              CountMinSketch.counters(tokenCounts(batch), "token"),
              dir, bid, "j")
            ()
          }) { q =>
          q.processAllAvailable()
          ev.where(col("event_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // at-least-once REPLAY of batch 0's landing: the duplicate gen
        // id must be a pure skip or the sums double
        graft.sources.Sinks.committedPartitionedAppend(
          CountMinSketch.counters(
            tokenCounts(ev.where(col("event_id") % 2 === 0)), "token"),
          dir, 0L, "j")
        val merged = s.read.parquet(dir)
          .groupBy("j", "c").agg(sum("counter").as("counter"))
        val exact = tokenCounts(Tables.events(s, d))
        val top20 = exact.orderBy(col("cnt").desc, col("token")).limit(20)
        CountMinSketch.estimates(top20.select("token"), merged, "token")
          .join(top20.withColumnRenamed("cnt", "exact_cnt"), Seq("token"))
          .select("token", "exact_cnt", "cms_est")
      },
      Some("""WITH toks AS (
                SELECT CAST(user_id AS VARCHAR) AS token, count(*) AS cnt
                FROM events GROUP BY 1),
              cells AS (
                SELECT token, cnt, j,
                       (256 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 1)) - 1)
                        + 16 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || token), 2, 1)) - 1)
                        + (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || ':' || token), 3, 1)) - 1)) % 1024 AS c
                FROM toks CROSS JOIN (SELECT unnest(range(4)) AS j)),
              counters AS (
                SELECT j, c, sum(cnt) AS counter FROM cells GROUP BY 1, 2),
              top20 AS (
                SELECT token, cnt FROM toks ORDER BY cnt DESC, token LIMIT 20)
              SELECT t.token, t.cnt AS exact_cnt,
                     CAST(min(co.counter) AS BIGINT) AS cms_est
              FROM top20 t
              JOIN cells pc ON pc.token = t.token
              JOIN counters co ON co.j = pc.j AND co.c = pc.c
              GROUP BY 1, 2""")),

    // ---- Streaming HISTOGRAM QUANTILES (e22): the third sketch's
    // streaming face, completing the trio — HLL max-merges (e15,
    // redelivery-idempotent), CMS sum-merges behind exactly-once
    // landings (e21), and the mergeable histogram (a24) sum-merges the
    // same way: per-batch bin counters land exactly-once keyed by
    // batchId (Sinks.committedAppend — no inner partitioning, the
    // sketch is ~50 rows), a batch-0 replay is driven and must skip,
    // and the read side sum-merges bins across generations before the
    // a24 quantile selection (integer ceil targets, in-bin
    // interpolation). Oracle restates the whole sketch over events.
    Q("e22_stream_histogram",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val dir = Scratch.dir("graft_e22_hist_").toString + "/sk"
        val stage = Scratch.dir("graft_e22_stage_").toString
        val ev = Tables.events(s, d).select("event_id", "value")
        def bins(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(floor(col("value") / 10).cast("bigint").as("bin"))
            .agg(count(lit(1)).as("cnt"))
        ev.where(col("event_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("event_id LONG, value DOUBLE").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            graft.sources.Sinks.committedAppend(bins(batch), dir, bid)
            ()
          }) { q =>
          q.processAllAvailable()
          ev.where(col("event_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // replayed batch 0: must be a pure skip or every even-event
        // bin count doubles
        graft.sources.Sinks.committedAppend(
          bins(ev.where(col("event_id") % 2 === 0)), dir, 0L)
        val merged = s.read.parquet(dir)
          .groupBy("bin").agg(sum("cnt").as("cnt"))
        val cum = merged.withColumn("cum",
          sum("cnt").over(Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val total = merged.agg(sum("cnt").as("total"))
        val quant = Seq(500L, 900L, 990L).toDF("qm")
        cum.crossJoin(broadcast(total)).crossJoin(broadcast(quant))
          .withColumn("target", expr("(total * qm + 999) DIV 1000"))
          .where(col("cum") >= col("target"))
          .groupBy("qm")
          .agg(min(struct(col("bin"), col("cum"), col("cnt"), col("target"))).as("sel"))
          .select(col("qm"),
            col("sel.target").as("target_rank"),
            round(col("sel.bin") * 10 +
              lit(10) * (col("sel.target") - (col("sel.cum") - col("sel.cnt")))
                .cast("double") / col("sel.cnt"), 6).as("est"))
      },
      Some("""WITH b AS (SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
                       count(*) AS cnt
                     FROM events GROUP BY 1),
              c AS (SELECT bin, cnt,
                      sum(cnt) OVER (ORDER BY bin) AS cum,
                      sum(cnt) OVER () AS total
                    FROM b),
              t AS (SELECT c.*, q.qm,
                      CAST((total * qm + 999) // 1000 AS BIGINT) AS target
                    FROM c CROSS JOIN (SELECT unnest([500, 900, 990]) AS qm) q),
              sel AS (SELECT qm, target, bin, cum, cnt,
                        row_number() OVER (PARTITION BY qm ORDER BY bin) AS r
                      FROM t WHERE cum >= target)
              SELECT CAST(qm AS BIGINT) AS qm, target AS target_rank,
                round(bin * 10 +
                  10 * CAST(target - (cum - cnt) AS DOUBLE) / cnt, 6) AS est
              FROM sel WHERE r = 1""")),

    // ---- Streaming DSIR (e29): the selection tier joins the
    // incremental/matview family — the o15 model's bucket counts are
    // ADDITIVE (cr/ct are sums), so each micro-batch lands only its
    // own per-bucket partial under the committed-generation protocol
    // and the serve side merges #buckets×#gens tiny rows, never
    // re-scanning the corpus for the model. Batch 0's replay is DRIVEN
    // and must skip (a landed replay double-counts the even docs'
    // tokens, shifting every llr — hash-load-bearing exactly-once).
    // Scoring runs through THE SAME dsirSelect as o15, and the oracle
    // is o15's batch-blind restatement — incremental model maintenance
    // can never drift from the direct fit.
    Q("e29_stream_dsir",
      (s, d) => {
        val dir = Scratch.dir("graft_e29_dsir_").toString + "/counts"
        val stage = Scratch.dir("graft_e29_stage_").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
        docs.where(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("doc_id LONG, lang STRING, text STRING").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            graft.sources.Sinks.committedAppend(
              RelationalQueries.dsirCounts(batch), dir, bid)
            ()
          }) { q =>
          q.processAllAvailable()
          docs.where(col("doc_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // replayed batch 0: pure skip or every even doc's tokens count
        // twice in the model
        graft.sources.Sinks.committedAppend(
          RelationalQueries.dsirCounts(docs.where(col("doc_id") % 2 === 0)),
          dir, 0L)
        val merged = s.read.parquet(dir).groupBy("b")
          .agg(sum("cr").as("cr"), sum("ct").as("ct"))
        RelationalQueries.dsirSelect(s, d, merged)
      },
      Some("""WITH tok AS (SELECT doc_id, lang,
                CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                    FROM documents)),
              cr AS (SELECT b, count(*) AS cr FROM tok GROUP BY 1),
              ct AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'de' GROUP BY 1),
              n AS (SELECT count(*) AS nr,
                      count(*) FILTER (lang = 'de') AS nt FROM tok),
              model AS (SELECT cr.b,
                  round(ln((coalesce(ct.ct, 0) + 1) / (n.nt + 4096)), 6)::DECIMAL(18,6)
                - round(ln((cr.cr + 1) / (n.nr + 4096)), 6)::DECIMAL(18,6) AS llr
                FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN n),
              tf AS (SELECT doc_id, b, count(*) AS tf FROM tok GROUP BY 1, 2),
              w AS (SELECT doc_id, sum(llr * tf::DECIMAL(10,0)) AS wsum,
                      sum(tf) AS ntok
                    FROM tf JOIN model USING (b) GROUP BY 1)
              SELECT d.doc_id, d.lang,
                wsum::DOUBLE / ntok::DOUBLE AS weight
              FROM w JOIN documents d USING (doc_id)
              ORDER BY weight DESC, d.doc_id LIMIT 50""")),

    // ---- DSIR model DRIFT + gated refresh (e31): e29 proved the
    // streamed partials accumulate exactly; this gate closes the
    // staleness loop (the s15 discipline for the selection tier,
    // VERDICT r8 directive 4). Batch 0 = even docs as-is (the frozen
    // model's world); batch 1 = odd docs with text UPPERCASED — a
    // real target-distribution shift (every shifted token hashes to a
    // different bucket), exactly the case a frozen llr snapshot
    // silently mis-scores. The gate computes the drift metric between
    // the frozen (gen=0) and live (all gens) target distributions —
    // EXACT integer cross-multiplication, one terminal double division
    // (dsirDrift) — trips the rational threshold 1/10, refits from the
    // already-committed partials (merge of #buckets×#gens rows, never
    // a corpus re-scan — cost in PERF.md round 7, "DSIR staleness-loop
    // cost curve"), and
    // re-scores through the same dsirSelect. drift_after_refresh
    // re-evaluates the metric at the refreshed snapshot: exactly 0 /
    // fresh — the loop closes. Oracle restates the shifted-corpus
    // counts, the cross-multiplied drift, and the refreshed selection.
    Q("e31_dsir_drift_refresh",
      (s, d) => {
        val dir = Scratch.dir("graft_e31_dsir_").toString + "/counts"
        val stage = Scratch.dir("graft_e31_stage_").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
        val shifted = docs.withColumn("text",
          when(col("doc_id") % 2 === 1, upper(col("text")))
            .otherwise(col("text")))
        shifted.where(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("doc_id LONG, lang STRING, text STRING").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            graft.sources.Sinks.committedAppend(
              RelationalQueries.dsirCounts(batch), dir, bid)
            ()
          }) { q =>
          q.processAllAvailable()
          shifted.where(col("doc_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        val frozen = s.read.parquet(s"$dir/gen=0").groupBy("b")
          .agg(sum("cr").as("cr"), sum("ct").as("ct"))
        val live = s.read.parquet(dir).groupBy("b")
          .agg(sum("cr").as("cr"), sum("ct").as("ct"))
        val dRow = RelationalQueries.dsirDrift(frozen, live, 1, 10)
          .collect()(0)
        val (driftV, stale) = (dRow.getDouble(0), dRow.getBoolean(1))
        // the GATED decision: refresh from the committed partials only
        // when the metric trips; a fresh model keeps serving the
        // frozen snapshot (no re-fit churn on every batch)
        val model = if (stale) live else frozen
        val aRow = RelationalQueries.dsirDrift(model, live, 1, 10)
          .collect()(0)
        RelationalQueries.dsirSelect(s, d, model)
          .withColumn("drift", lit(driftV))
          .withColumn("stale", lit(stale))
          .withColumn("drift_after_refresh", lit(aRow.getDouble(0)))
          .withColumn("fresh_after", lit(!aRow.getBoolean(1)))
      },
      Some("""WITH tokb AS (SELECT doc_id, lang,
                CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, lang,
                      CASE WHEN doc_id % 2 = 1 THEN upper(token)
                           ELSE token END AS tok
                    FROM (SELECT doc_id, lang,
                            unnest(string_split(text, ' ')) AS token
                          FROM documents))),
              fro AS (SELECT b, count(*) FILTER (lang = 'de') AS ct
                      FROM tokb WHERE doc_id % 2 = 0 GROUP BY 1),
              liv AS (SELECT b, count(*) AS cr,
                        count(*) FILTER (lang = 'de') AS ct
                      FROM tokb GROUP BY 1),
              nn AS (SELECT (SELECT sum(ct) FROM fro) AS ntf,
                       (SELECT sum(ct) FROM liv) AS ntl),
              dev AS (SELECT abs(coalesce(f.ct, 0)::DECIMAL(38,0) * nn.ntl
                        - coalesce(l.ct, 0)::DECIMAL(38,0) * nn.ntf) AS dd
                      FROM fro f FULL JOIN liv l USING (b) CROSS JOIN nn),
              dr AS (SELECT (SELECT sum(dd) FROM dev)::DECIMAL(38,0) AS num,
                       ntf, ntl FROM nn),
              drift AS (SELECT
                  num::DOUBLE / (ntf::DECIMAL(38,0) * ntl * 2)::DOUBLE AS drift,
                  (num * 10 >= ntf::DECIMAL(38,0) * ntl * 2) AS stale FROM dr),
              n2 AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM liv),
              model AS (SELECT liv.b,
                  round(ln((coalesce(liv.ct, 0) + 1) / (n2.nt + 4096)), 6)::DECIMAL(18,6)
                - round(ln((liv.cr + 1) / (n2.nr + 4096)), 6)::DECIMAL(18,6) AS llr
                FROM liv CROSS JOIN n2),
              otok AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 4096 AS b
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents)),
              tf AS (SELECT doc_id, b, count(*) AS tf FROM otok GROUP BY 1, 2),
              w AS (SELECT doc_id, sum(llr * tf::DECIMAL(10,0)) AS wsum,
                      sum(tf) AS ntok
                    FROM tf JOIN model USING (b) GROUP BY 1)
              SELECT d.doc_id, d.lang,
                wsum::DOUBLE / ntok::DOUBLE AS weight,
                (SELECT drift FROM drift) AS drift,
                (SELECT stale FROM drift) AS stale,
                0.0::DOUBLE AS drift_after_refresh,
                TRUE AS fresh_after
              FROM w JOIN documents d USING (doc_id)
              ORDER BY weight DESC, d.doc_id LIMIT 50""")),

    // ---- LEFT OUTER stream-stream interval join (e28): e12's
    // attribution join with the unconverted clicks KEPT — the outer
    // path exercises state semantics the inner join never touches
    // (a left row emits null-padded exactly once, when the watermark
    // proves no future match and its state evicts; too early is a
    // missing-conversion bug, twice is a state-resurrection bug, both
    // fail the hash). Flush rows flow through BOTH legs so each leg's
    // watermark advances (a leg's watermark only sees rows surviving
    // its own filter); they self-join harmlessly under user −1 and
    // are filtered on read. Oracle = inner pairs UNION ALL clicks
    // with NOT EXISTS any in-window purchase.
    Q("e28_stream_outer_join",
      (s, d) => {
        val stageDir = stageEvents(s, d)
        val maxUs = eventsMaxUs(s, d)
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.clickToPurchaseOuter(
            eventStream(s, stageDir))) { q =>
          q.processAllAvailable()
          for ((fid, hours) <- Seq((-1L, 36L), (-2L, 72L))) {
            landFlush(s, stageDir, fid, maxUs + hours * 3600000000L)
            q.processAllAvailable()
          }
        }
        s.read.parquet(outDir)
          .where(col("user_id") =!= -1L)
          .select(col("click_id"), col("purchase_id"), col("user_id"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type,
                       epoch_ns(ts) // 1000 AS ts_us FROM events),
              c AS (SELECT * FROM t WHERE event_type = 'click'),
              p AS (SELECT * FROM t WHERE event_type = 'purchase')
              SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                     c.user_id
              FROM c JOIN p ON c.user_id = p.user_id
                AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000
              UNION ALL
              SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id FROM c
              WHERE NOT EXISTS (SELECT 1 FROM p
                WHERE p.user_id = c.user_id
                  AND p.ts_us >= c.ts_us
                  AND p.ts_us <= c.ts_us + 3600000000)""")),

    // ---- STREAMING quarantine in the unified schema (e32): x39 gave
    // the batch tiers ONE `struct<result, error>` envelope and one
    // normalized (tier, doc_id, error) sink; this gate wires the same
    // schema into the streaming tier (VERDICT r8 directive 8 —
    // reference analog: the log-and-skip channel,
    // `scrc/preprocessors/abstract_extractor.py:177-183`). Each
    // micro-batch decodes the m7 hostile-media fixture, envelopes the
    // result through sources.Quarantine, and lands BOTH channels under
    // the committed-generation protocol: clean rows to the output
    // store, quarantined rows to the shared sink — same exactly-once
    // discipline as every e-tier store, pinned by a DRIVEN replay of
    // batch 0 (a landed replay would double-count its quarantined
    // docs and fail the hash). Oracle restates the fixture's damage
    // rule (doc_id % 4 != 0 quarantines) batch-blind.
    Q("e32_stream_quarantine",
      (s, d) => {
        import graft.sources.Quarantine
        val stage = Scratch.dir("graft_e32_stage_").toString
        val qsink = Scratch.dir("graft_e32_q_").toString + "/quarantine"
        val cleanDir = Scratch.dir("graft_e32_c_").toString + "/clean"
        val docs = Tables.documents(s, d).select("doc_id")
        def landBoth(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
          val media = graft.multimodal.MediaPipeline.decodeMeta(
            graft.multimodal.MediaPipeline.withHostilePayload(batch)).toDF()
            .withColumn("q", Quarantine.envelope(
              struct(col("format"), col("width"), col("height")),
              when(col("quarantined"),
                lit("MediaQuarantined: undecodable payload"))))
          graft.sources.Sinks.committedAppend(
            Quarantine.quarantinedRows(media, "q", "media", "doc_id"),
            qsink, bid)
          graft.sources.Sinks.committedAppend(
            Quarantine.split(media, "q")._1
              .select(col("doc_id"), col("q.result.format").as("format")),
            cleanDir, bid)
        }
        docs.where(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream.schema("doc_id LONG").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) landBoth(batch, bid)) { q =>
          q.processAllAvailable()
          docs.where(col("doc_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // DRIVEN replay of batch 0: must be a pure skip on both stores
        landBoth(docs.where(col("doc_id") % 2 === 0), 0L)
        val nClean = s.read.parquet(cleanDir).count()
        s.read.parquet(qsink)
          .groupBy("tier")
          .agg(count(lit(1)).as("n_quarantined"),
            countDistinct("doc_id").as("n_docs"),
            sum(col("error").isNotNull.cast("long")).as("n_with_error"))
          .withColumn("n_clean", lit(nClean))
      },
      Some("""SELECT 'media' AS tier,
                count(*) FILTER (doc_id % 4 <> 0) AS n_quarantined,
                count(DISTINCT doc_id) FILTER (doc_id % 4 <> 0) AS n_docs,
                count(*) FILTER (doc_id % 4 <> 0) AS n_with_error,
                count(*) FILTER (doc_id % 4 = 0) AS n_clean
              FROM documents""")),

    // ---- FULL OUTER stream-stream interval join (e30): completes the
    // outer family (e12 inner, e28 left — VERDICT r8 directive 6).
    // Beyond e28, the RIGHT side's unmatched rows now carry state
    // semantics too: a purchase with no click in [-1h, 0] must emit
    // null-padded exactly once, when the watermark proves no EARLIER
    // click can still arrive and its state evicts (the e27/e11
    // eviction-flush protocol: two closing flushes drive both legs'
    // tails out). user_id coalesces across sides — a right-unmatched
    // row has no click leg. Oracle = inner pairs UNION ALL clicks with
    // no in-window purchase UNION ALL purchases with no in-window
    // click; a missing right tail, a double emission, or an outer row
    // for a matched key all fail the hash.
    Q("e30_stream_full_outer_join",
      (s, d) => {
        val stageDir = stageEvents(s, d)
        val maxUs = eventsMaxUs(s, d)
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.clickToPurchaseFull(
            eventStream(s, stageDir))) { q =>
          q.processAllAvailable()
          for ((fid, hours) <- Seq((-1L, 36L), (-2L, 72L))) {
            landFlush(s, stageDir, fid, maxUs + hours * 3600000000L)
            q.processAllAvailable()
          }
        }
        s.read.parquet(outDir)
          .where(col("user_id") =!= -1L)
          .select(col("click_id"), col("purchase_id"), col("user_id"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type,
                       epoch_ns(ts) // 1000 AS ts_us FROM events),
              c AS (SELECT * FROM t WHERE event_type = 'click'),
              p AS (SELECT * FROM t WHERE event_type = 'purchase')
              SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                     c.user_id
              FROM c JOIN p ON c.user_id = p.user_id
                AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000
              UNION ALL
              SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id FROM c
              WHERE NOT EXISTS (SELECT 1 FROM p
                WHERE p.user_id = c.user_id
                  AND p.ts_us >= c.ts_us
                  AND p.ts_us <= c.ts_us + 3600000000)
              UNION ALL
              SELECT CAST(NULL AS BIGINT), p.event_id, p.user_id FROM p
              WHERE NOT EXISTS (SELECT 1 FROM c
                WHERE c.user_id = p.user_id
                  AND p.ts_us >= c.ts_us
                  AND p.ts_us <= c.ts_us + 3600000000)""")),

    // ---- Forward as-of join (j21): for each click, the user's NEXT
    // purchase — joinBackward's mirror through the same union-sort
    // rewrite (one shuffle of |L|+|R| rows on the key, no pairwise
    // blowup; the window frame flips and first(ignoreNulls) picks the
    // nearest following payload). The right side pre-reduces to one
    // row per (user, ts) so the winner is total-order determined at
    // any SF. Oracle = the argmin-per-click restatement over the
    // directed pair join.
    Q("j21_asof_forward",
      (s, d) => {
        val t = Tables.events(s, d)
        val clicks = t.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
        val purchases = t.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(min("event_id").as("purchase_id"))
        graft.operators.AsOfJoin.joinForward(clicks, purchases,
          Seq("user_id"), "ts_us", "ts_us", Seq("purchase_id"), "next_")
          .select(col("click_id"), col("user_id"), col("ts_us"),
            col("next_purchase_id"), col("next_ord").as("next_ts_us"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type,
                       epoch_ns(ts) // 1000 AS ts_us FROM events),
              c AS (SELECT event_id AS click_id, user_id, ts_us FROM t
                    WHERE event_type = 'click'),
              p AS (SELECT user_id, ts_us, min(event_id) AS purchase_id
                    FROM t WHERE event_type = 'purchase' GROUP BY 1, 2),
              r AS (SELECT c.click_id, p.purchase_id, p.ts_us AS pts,
                      row_number() OVER (PARTITION BY c.click_id
                        ORDER BY p.ts_us) AS rn
                    FROM c JOIN p ON p.user_id = c.user_id
                      AND p.ts_us >= c.ts_us)
              SELECT c.click_id, c.user_id, c.ts_us,
                     r.purchase_id AS next_purchase_id,
                     r.pts AS next_ts_us
              FROM c LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
                ON c.click_id = r.click_id""")),

    // ---- LATE-DATA accounting (e27): the watermark's DROP discipline
    // gated explicitly — every other watermark gate feeds data in
    // event-time order, so the drop path never fires. The protocol
    // pins the REAL Spark semantics, as this gate observes them: a late
    // row is only guaranteed dropped once its window's state has been
    // EVICTED, and eviction happens at the end of a batch whose
    // watermark passed the window — so the early half (even event_id)
    // lands, a same-max flush batch evicts+emits every window ≤
    // max(ts)−2h, and THEN the odd half arrives late: rows for evicted
    // windows vanish (no re-emission, no state resurrection), rows for
    // the still-open tail merge. The oracle restates the admission
    // rule exactly — keep all early rows, keep a late row iff its
    // window END is above the eviction watermark (ms-floored, Spark's
    // watermark precision) — so an over-eager drop, unbounded lateness
    // tolerance, and duplicate re-emission all fail the hash.
    Q("e27_stream_late_data",
      (s, d) => {
        val stage = Scratch.dir("graft_e27_stage_").toString
        val ev = Tables.events(s, d).select(eventCols.map(col): _*)
        val maxUs = Tables.events(s, d)
          .where(col("event_id") % 2 === 0)
          .agg(max(col("ts_us"))).head().getLong(0)
        ev.where(col("event_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.tumblingCounts(eventStream(s, stage))) { q =>
          q.processAllAvailable()
          // eviction batch: same max event time (watermark unchanged),
          // but its end evicts+emits every window the watermark passed
          landFlush(s, stage, -1L, maxUs)
          q.processAllAvailable()
          ev.where(col("event_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
          // two closing flushes (e11's discipline): the first advances
          // the watermark, the second's batch evicts the tail
          landFlush(s, stage, -2L, maxUs + 720L * 3600000000L)
          q.processAllAvailable()
          landFlush(s, stage, -3L, maxUs + 1440L * 3600000000L)
          q.processAllAvailable()
        }
        s.read.parquet(outDir)
          .where(col("event_type") =!= "flush")
          .select(unix_micros(col("window_start")).as("window_start_us"),
            col("event_type"), col("n_events"),
            col("sum_value").cast("double").as("sum_value"))
      },
      Some("""WITH t AS (SELECT event_id, epoch_ns(ts) // 1000 AS ts_us,
                       event_type, value FROM events),
              a AS (SELECT * FROM t WHERE event_id % 2 = 0),
              wm AS (SELECT (max(ts_us) // 1000 - 7200000) * 1000 AS wm_us FROM a),
              kept AS (SELECT * FROM a
                       UNION ALL
                       SELECT t.* FROM t, wm
                       WHERE event_id % 2 = 1
                         AND ((ts_us // 3600000000) + 1) * 3600000000 > wm_us)
              SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us,
                event_type, count(*) AS n_events,
                cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
              FROM kept GROUP BY 1, 2""")),

    // ---- Streaming weighted lottery (e26): o14's draw maintained
    // incrementally — global top-k by ticket is a MERGEABLE sketch
    // (top-k of unioned per-batch top-ks = top-k of the union), so
    // each micro-batch lands only its own top-100 candidates under the
    // committed-generation protocol and the serve side merges the tiny
    // partials. The replayed batch 0 is DRIVEN and must be a pure
    // skip: a landed replay duplicates the even docs' ticket rows and
    // the duplicates crowd the merged top-100 — exactly-once is
    // hash-load-bearing, not asserted. Oracle = o14's batch-blind
    // recompute, so incremental maintenance can never drift from the
    // direct draw.
    Q("e26_stream_lottery",
      (s, d) => {
        val dir = Scratch.dir("graft_e26_lot_").toString + "/topk"
        val stage = Scratch.dir("graft_e26_stage_").toString
        val docs = Tables.documents(s, d).select("doc_id", "lang")
        def tickets(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), col("lang"),
            when(col("lang") === "de", 3L).when(col("lang") === "fr", 2L)
              .otherwise(1L).as("w"))
          .withColumn("ticket", array_min(expr(
            "transform(sequence(1L, w), j -> " +
              "md5(concat(cast(doc_id as string), ':', cast(j as string))))")))
          .orderBy(col("ticket")).limit(100)
        docs.where(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("doc_id LONG, lang STRING").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            graft.sources.Sinks.committedAppend(tickets(batch), dir, bid)
            ()
          }) { q =>
          q.processAllAvailable()
          docs.where(col("doc_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // replayed batch 0: pure skip, or the even docs' tickets land
        // twice and the duplicate rows displace true winners
        graft.sources.Sinks.committedAppend(
          tickets(docs.where(col("doc_id") % 2 === 0)), dir, 0L)
        s.read.parquet(dir).orderBy(col("ticket")).limit(100)
          .select("doc_id", "lang", "w", "ticket")
      },
      Some("""WITH base AS (SELECT doc_id, lang,
                CASE lang WHEN 'de' THEN 3 WHEN 'fr' THEN 2 ELSE 1 END
                  ::BIGINT AS w
              FROM documents),
              t AS (SELECT doc_id, lang, w,
                list_aggregate(list_transform(range(1, w + 1),
                  j -> md5(doc_id::VARCHAR || ':' || j::VARCHAR)), 'min')
                  AS ticket
              FROM base)
              SELECT doc_id, lang, w, ticket FROM t
              ORDER BY ticket LIMIT 100""")),

    // ---- Streaming dedup against the BUCKETED index (e20): e18's
    // stream over d16's 64-bucket layout, where e18/e19 use d13's one
    // bucket — every micro-batch probes ONLY its own hash buckets
    // (probe I/O tracks |batch|, never |corpus|). Same landings, same
    // redelivery, same oracle as e18/e19: layout can never change
    // verdicts.
    Q("e20_stream_bucketed_dedup",
      (s, d) => {
        val (docs, fileA, idxDir, stage) = indexDedupFixture(s, d, "e20", numBuckets = 64)
        val stream = s.readStream.schema("doc_id LONG, text STRING").parquet(stage)
        val resultDir = runGatedStreamWith(s, stream,
          indexDedupBody(idxDir)) { q =>
          q.processAllAvailable()
          docs.where(col("doc_id") % 10 === 5).unionByName(fileA)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        readIndexDedupVerdicts(s, resultDir)
      },
      indexDedupOracle),

    // ---- AS-OF serve over the STREAMED BM25 index (e33): e24 proved
    // the streamed generational landings; t32 proved as-of over a
    // batch-written generational index; this gate closes the square —
    // the gens a STREAM commits (keyed by real foreachBatch batchIds)
    // are addressable history. Serve as-of batch 0 goes through the
    // same bm25Serve: gen ≤ 0 is a second static prune on the same
    // scans (`served_pruned` still asserted from both executed plans),
    // and the contract column pins at-head ≡ generation-blind plus the
    // loud refusal once d19's compaction folds the streamed gens.
    // Oracle: BM25 over batch 0's world (even docs), blind to
    // streaming, batching, and layout.
    Q("e33_stream_bm25_asof",
      (s, d) => {
        val base = Scratch.dir("graft_e33_")
        val idx = base.resolve("idx").toString
        val stage = base.resolve("stage").toString
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        // persisted-tf, concurrent committed landing (round-15 helper)
        def land(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
          landBm25Committed(batch, idx, bid); ()
        }
        docs.where(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("doc_id LONG, text STRING").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) land(batch, bid)) { q =>
          q.processAllAvailable()
          docs.where(col("doc_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // query selection within the SNAPSHOT's world (gen 0 only)
        val terms = s.read.parquet(s"$idx/df").where(col("gen") <= 0)
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        val outDir = base.resolve("asof0").toString
        TextQueries.bm25Serve(s, idx, terms, 20, asOf = Some(0L))
          .write.parquet(outDir)
        val termsHead = s.read.parquet(s"$idx/df")
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        val headConsistent =
          TextQueries.bm25Serve(s, idx, termsHead, 20, asOf = Some(1L))
            .unionByName(TextQueries.bm25Serve(s, idx, termsHead, 20))
            .groupBy("doc_id", "bm25", "served_pruned").count()
            .where(col("count") =!= 2).isEmpty
        graft.sources.Sinks.compactGenerations(s, s"$idx/postings", Some("tb"))
        val loud =
          try { TextQueries.bm25Serve(s, idx, terms, 20, asOf = Some(0L)); false }
          catch { case _: IllegalStateException => true }
        s.read.parquet(outDir)
          .withColumn("asof_contract", lit(headConsistent && loud))
      },
      Some(s"""WITH surv AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
              words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM surv),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  ${TextQueries.bm25ContribSql} AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS served_pruned,
                TRUE AS asof_contract
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- Streaming AUTO-FOLD (e34): d31 proved the store folds
    // itself; this gate proves the risky composition — auto-fold
    // firing INSIDE a foreachBatch stream without breaking the
    // exactly-once replay protocol. e23's topology and oracle, with
    // the threshold forced low: batch 1's append auto-folds batch 0's
    // delta MID-STREAM, so the post-stream batch-0 redelivery must
    // take the FOLDED-replay path (bands gen committed, state delta
    // gone — current assignments back, no re-solve, no resurrection),
    // the exact path a replay-after-manual-fold takes in d18 but now
    // reached by the store's own decision. `stream_auto_folded`
    // asserts only batch 1's delta survived; the read applies it over
    // the auto-folded base with NO manual fold anywhere. Oracle:
    // e23's batch- and fold-blind recursive closure.
    Q("e34_stream_auto_fold",
      (s, d) => {
        import graft.operators.KeepListStore
        import graft.queries.DedupQueries.chainBands
        val ids = Tables.documents(s, d).select("doc_id")
        val dir = Scratch.dir("graft_e34_kl_").resolve("kl").toString
        KeepListStore.backfill(
          chainBands(
            ids.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)),
          "doc_id", dir)
        val stage = Scratch.dir("graft_e34_stage_").toString
        val fileA = ids.where(col("doc_id") % 5 === 0)
        fileA.coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream.schema("doc_id LONG").parquet(stage)
        withConf(s, "graft.keeplist.autoFoldBytes", "1") {
          runGatedStreamWith(s, stream,
            (batch, _, bid) => if (!batch.isEmpty) {
              KeepListStore.appendBatch(chainBands(batch), "doc_id", dir, bid)
              ()
            }) { q =>
            q.processAllAvailable()
            ids.where(col("doc_id") % 5 === 1)
              .coalesce(1).write.mode("append").parquet(stage)
            q.processAllAvailable()
          }
          // batch-0 redelivery AFTER its delta was auto-folded away:
          // the bands generation still knows it committed, so this must
          // be the folded-replay skip (assignments back, no new state)
          val replay = KeepListStore.appendBatch(
            chainBands(fileA), "doc_id", dir, 0L)
          // BOTH directions: replay ⊆ fileA (no foreign docs) AND
          // fileA ⊆ replay (a folded-replay that dropped docs — e.g. a
          // wrong read path returning an empty frame — must fail the
          // gate, not vacuously pass the one-sided anti-join)
          val replayOk =
            replay.join(fileA, Seq("doc_id"), "left_anti").isEmpty &&
            fileA.join(replay, Seq("doc_id"), "left_anti").isEmpty
          val fs = org.apache.hadoop.fs.FileSystem.get(
            s.sparkContext.hadoopConfiguration)
          val surviving = fs.listStatus(
              new org.apache.hadoop.fs.Path(s"$dir/state"))
            .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
          KeepListStore.read(s, dir, "doc_id")
            .withColumn("stream_auto_folded",
              lit(surviving == Seq("batch=1") && replayOk))
        }
      },
      Some("""WITH RECURSIVE
              edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
                        FROM documents a JOIN documents b
                          ON b.doc_id = a.doc_id + 1 AND b.doc_id % 8 <> 0),
              sym AS (SELECT src, dst FROM edges
                      UNION ALL SELECT dst, src FROM edges),
              reach(doc_id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.doc_id)
              SELECT doc_id, min(r) AS keep_id, TRUE AS stream_auto_folded
              FROM reach GROUP BY doc_id""")),

    // ---- Streaming KEEP-LIST maintenance (e23): d18's persisted
    // lifecycle driven from foreachBatch — the shape a 100 TB corpus
    // stream actually runs (connected-components assignment kept
    // current per micro-batch, not recomputed per query). Each batch
    // lands through KeepListStore.appendBatch keyed by the REAL
    // batchId: (assign, remap) commit as one atomic dir rename first,
    // bands append second, so any replay window heals (the state
    // commit is the marker — a replayed batch that tried to re-solve
    // would fail its rename onto the existing state dir, so the gate
    // structurally proves the skip). After the stream, a batch-0
    // redelivery is driven explicitly and must skip, then fold()
    // compacts remaps + deltas into base and the gate reads the folded
    // assignment. The second landing's docs chain-bridge the first's
    // fragments (%5=1 ids connect runs), so cross-batch remaps — and
    // their read-side closure — are on the gated path, not just in
    // d18. Oracle: the independent full recursive closure (d10/d17's).
    Q("e23_stream_keeplist",
      (s, d) => {
        import graft.operators.KeepListStore
        import graft.queries.DedupQueries.chainBands
        val ids = Tables.documents(s, d).select("doc_id")
        val dir = Scratch.dir("graft_e23_kl_").resolve("kl").toString
        KeepListStore.backfill(
          chainBands(
            ids.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)),
          "doc_id", dir)
        val stage = Scratch.dir("graft_e23_stage_").toString
        val fileA = ids.where(col("doc_id") % 5 === 0)
        fileA.coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream.schema("doc_id LONG").parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            KeepListStore.appendBatch(chainBands(batch), "doc_id", dir, bid)
            ()
          }) { q =>
          q.processAllAvailable()
          ids.where(col("doc_id") % 5 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        // batch-0 redelivery after the run: must be a pure skip (a
        // re-solve would rename onto the existing state dir and throw)
        KeepListStore.appendBatch(chainBands(fileA), "doc_id", dir, 0L)
        KeepListStore.fold(s, dir, "doc_id")
        KeepListStore.read(s, dir, "doc_id")
      },
      Some("""WITH RECURSIVE
              edges AS (SELECT a.doc_id AS src, b.doc_id AS dst
                        FROM documents a JOIN documents b
                          ON b.doc_id = a.doc_id + 1 AND b.doc_id % 8 <> 0),
              sym AS (SELECT src, dst FROM edges
                      UNION ALL SELECT dst, src FROM edges),
              reach(doc_id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.doc_id)
              SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id""")),
  ) ++ lateGates

  /** shared e18/e19/e20 fixture: corpus band index of `numBuckets`
    * hash buckets + staged landing 1
    */
  private def indexDedupFixture(s: org.apache.spark.sql.SparkSession, d: String,
                                tag: String, numBuckets: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, String, String) = {
    import graft.operators.MinHashLSH
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val idxDir = Scratch.dir(s"graft_${tag}_idx_").resolve("bands").toString
    MinHashLSH.buildBucketedIndex(
      MinHashLSH.bands(docs.where(col("doc_id") % 5 =!= 0)
          .withColumn("w", split(col("text"), " ")),
        "doc_id", col("w"), 4),
      idxDir, numBuckets)
    val stage = Scratch.dir(s"graft_${tag}_stage_").toString
    val fileA = docs.where(col("doc_id") % 10 === 0)
    fileA.coalesce(1).write.mode("append").parquet(stage)
    (docs, fileA, idxDir, stage)
  }

  /** shared e18/e19/e20 foreachBatch body: the dedup entry keyed by the
    * real batchId, its verdicts committed into the stream's output dir
    */
  private def indexDedupBody(idxDir: String)
      : (org.apache.spark.sql.DataFrame, String, Long) => Unit =
    (batch, oDir, bid) => if (!batch.isEmpty) {
      import graft.operators.MinHashLSH
      MinHashLSH.committedIncrementalDedupBucketed(
        MinHashLSH.bands(batch.withColumn("w", split(col("text"), " ")),
          "doc_id", col("w"), 4),
        "doc_id", idxDir, oDir, bid)
      ()
    }

  /** verdicts live under batch=<id> partition dirs; the partition
    * column comes back as int — renumber to the oracle's 1-based batch
    * and widen
    */
  private def readIndexDedupVerdicts(s: org.apache.spark.sql.SparkSession,
                                     dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(dir)
      .select((col("batch") + 1).cast("long").as("batch"), col("doc_id"),
        col("dup_of_corpus"), col("dup_in_batch"), col("admitted"))

  private val indexDedupOracle: Option[String] =
      Some(s"""${graft.queries.DedupQueries.duckBandsSql},
              corpus AS (SELECT * FROM bands WHERE doc_id % 5 <> 0 AND h IS NOT NULL),
              a AS (SELECT * FROM bands WHERE doc_id % 10 = 0 AND h IS NOT NULL),
              bset AS (SELECT * FROM bands WHERE doc_id % 10 = 5 AND h IS NOT NULL),
              hc1 AS (SELECT DISTINCT x.doc_id FROM a x
                      JOIN corpus c ON x.band = c.band AND x.h = c.h),
              hb1 AS (SELECT DISTINCT x.doc_id FROM a x
                      JOIN a y ON x.band = y.band AND x.h = y.h
                       AND y.doc_id < x.doc_id),
              r1 AS (SELECT i.doc_id,
                       (hc1.doc_id IS NOT NULL) AS dup_of_corpus,
                       (hb1.doc_id IS NOT NULL) AS dup_in_batch,
                       (hc1.doc_id IS NULL AND hb1.doc_id IS NULL) AS admitted
                     FROM (SELECT DISTINCT doc_id FROM a) i
                     LEFT JOIN hc1 ON i.doc_id = hc1.doc_id
                     LEFT JOIN hb1 ON i.doc_id = hb1.doc_id),
              idx2 AS (SELECT * FROM corpus
                       UNION ALL
                       SELECT a.* FROM a JOIN r1 ON a.doc_id = r1.doc_id
                       WHERE r1.admitted),
              u2 AS (SELECT * FROM a UNION ALL SELECT * FROM bset),
              hc2 AS (SELECT DISTINCT x.doc_id FROM u2 x
                      JOIN idx2 c ON x.band = c.band AND x.h = c.h),
              hb2 AS (SELECT DISTINCT x.doc_id FROM u2 x
                      JOIN u2 y ON x.band = y.band AND x.h = y.h
                       AND y.doc_id < x.doc_id),
              r2 AS (SELECT i.doc_id,
                       (hc2.doc_id IS NOT NULL) AS dup_of_corpus,
                       (hb2.doc_id IS NOT NULL) AS dup_in_batch,
                       (hc2.doc_id IS NULL AND hb2.doc_id IS NULL) AS admitted
                     FROM (SELECT DISTINCT doc_id FROM u2) i
                     LEFT JOIN hc2 ON i.doc_id = hc2.doc_id
                     LEFT JOIN hb2 ON i.doc_id = hb2.doc_id)
              SELECT CAST(1 AS BIGINT) AS batch, * FROM r1
              UNION ALL
              SELECT CAST(2 AS BIGINT) AS batch, * FROM r2""")

  private def lateGates: Seq[Q] = Seq(

    Q("e17_json_props",
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          min("k").as("min_k"),
          max("k").as("max_k")),
      Some("""SELECT event_type, count(*) AS n,
                     CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                     min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                     max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
              FROM events GROUP BY 1""")),

    // ---- Streaming WINDOWED AGGREGATION, gated: tumblingCounts in
    // append mode emits each 1-hour window exactly once, when the
    // watermark passes its end. Flush micro-batches finalize every real
    // window; flush rows are filtered by event_type. Equals the e1-style
    // per-window-per-type rollup.
    Q("e11_stream_tumbling",
      (s, d) => {
        val stageDir = stageEvents(s, d)
        val maxUs = eventsMaxUs(s, d)
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.tumblingCounts(eventStream(s, stageDir))) { q =>
          q.processAllAvailable()
          for ((fid, hours) <- Seq((-1L, 36L), (-2L, 72L))) {
            landFlush(s, stageDir, fid, maxUs + hours * 3600000000L)
            q.processAllAvailable()
          }
        }
        s.read.parquet(outDir)
          .where(col("event_type") =!= "flush")
          .select(unix_micros(col("window_start")).as("window_start_us"),
            col("event_type"), col("n_events"),
            col("sum_value").cast("double").as("sum_value"))
      },
      Some("""SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600000000 AS window_start_us,
                event_type, count(*) AS n_events,
                cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
              FROM events GROUP BY 1, 2""")),

    // ---- Stream-stream INTERVAL JOIN, gated: the attribution join of
    // clicks to same-user purchases within the following hour, running
    // as an actual watermarked stream-stream self-join (state on both
    // sides). Inner-join matches emit as soon as both rows are present,
    // so one staged batch suffices; equals the e8 batch dual.
    Q("e12_stream_join",
      (s, d) => {
        val stageDir = stageEvents(s, d)
        val outDir = runGatedStream(s,
          graft.streaming.EventStreams.clickToPurchase(eventStream(s, stageDir)))(
          _.processAllAvailable())
        s.read.parquet(outDir)
          .select(col("click_id"), col("purchase_id"), col("user_id"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, event_type,
                epoch_ns(ts) // 1000 AS ts_us FROM events)
              SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
              FROM t c JOIN t p ON c.user_id = p.user_id
              WHERE c.event_type = 'click' AND p.event_type = 'purchase'
                AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000""")),

    // ---- STREAMING materialized view (e25): k20's partial-fold loop
    // driven from foreachBatch — the matview family's streaming face,
    // completing the direct→incremental→streaming→retract symmetry the
    // BM25 tier has (t26→t28→e24→t29). Each micro-batch aggregates
    // ONLY its own rows to (custkey, sum, count) partials and lands
    // them under the committed-generation protocol, so at-least-once
    // redelivery is a pure skip — the gate DRIVES batch 0's replay and
    // folds the assert into `exactly_once` (sum/count partials merge
    // by ADDITION like e21's CMS cells, so a landed replay would
    // double every batch-0 customer's totals and fail the oracle
    // hash; contrast e15's HLL, whose max-merge tolerates redelivery
    // without any protocol). Read = merge of #keys × #gens partial
    // rows; the oracle is the batch-blind full recompute.
    Q("e25_stream_matview",
      (s, d) => {
        val mv = Scratch.dir("graft_e25_mv_").toString + "/mv"
        val stage = Scratch.dir("graft_e25_stage_").toString
        val orders = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("sp"),
            count(lit(1)).as("cnt"))
        orders.where(col("o_orderkey") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(stage)
        val stream = s.readStream
          .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE")
          .parquet(stage)
        runGatedStreamWith(s, stream,
          (batch, _, bid) => if (!batch.isEmpty) {
            graft.sources.Sinks.committedAppend(partial(batch), mv, bid)
            ()
          }) { q =>
          q.processAllAvailable()
          orders.where(col("o_orderkey") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stage)
          q.processAllAvailable()
        }
        val replayWrote = graft.sources.Sinks.committedAppend(
          partial(orders.where(col("o_orderkey") % 2 === 0)), mv, 0L)
        s.read.parquet(mv)
          .groupBy("o_custkey")
          .agg(sum("cnt").as("n_orders"),
            sum("sp").cast("double").as("sum_price"))
          .withColumn("exactly_once", lit(!replayWrote))
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
                     cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS sum_price,
                     TRUE AS exactly_once
              FROM orders GROUP BY 1""")),

    // ---- W6: time-series GAP FILL + LOCF — the resample step every
    // metrics/telemetry pipeline runs before ML featurization: per
    // user, the daily event series densified over [first, last] active
    // day (gap days materialized, count zero-filled) with
    // last-observation-carried-forward as the imputation column. The
    // spine is explode(sequence(min_day, max_day)) per user — bounded
    // by the OBSERVED span, never a global calendar cross-join — so
    // spine size tracks Σ per-user spans, not users × corpus lifetime.
    // LOCF is last(ignoreNulls) over the per-user day order: a
    // partition-parallel window (partitioned by user — no single-task
    // funnel). All integer arithmetic on epoch-micro day indexes
    // (ts_us div 86400000000), the t-series convention — no date-type
    // or float divergence surface; first-day LOCF is non-null by
    // construction (the spine starts at an observed day).
    Q("w6_gapfill_locf",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
          .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
        val spine = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        val w = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n"), lit(0L)).as("n_events"),
            last(col("n"), ignoreNulls = true).over(w).as("locf_events"),
            col("n").isNull.as("gap"))
      },
      Some("""WITH daily AS (SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day,
                       count(*) AS n
                     FROM events GROUP BY 1, 2),
              spine AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day
                        FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
                              FROM daily GROUP BY 1)),
              f AS (SELECT s.user_id, s.day, d.n
                    FROM spine s LEFT JOIN daily d USING (user_id, day))
              SELECT user_id, day, coalesce(n, 0) AS n_events,
                     last_value(n IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_events,
                     (n IS NULL) AS gap
              FROM f""")),

    // ---- W7: RUNNING DISTINCT USERS (cumulative reach) — the growth
    // metric every analytics product serves, and the classic window
    // trap: a naive count(DISTINCT) OVER (ORDER BY day) funnels the
    // corpus through one task and holds a growing distinct set per
    // row. The identity that makes it scale: cumulative distinct at
    // day d = #users whose FIRST day ≤ d — so it's a per-user min
    // (partial-aggregable), a per-day count (partial-aggregable), and
    // one running sum over the DAY spine (rows = #days, not #events;
    // at 100 TB this window sorts dozens of rows while the heavy
    // lifting stays in hash aggregates — GlobalRank's prefix sum is
    // the fallback if the spine itself ever grows).
    Q("w7_running_distinct_users",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select(expr("ts_us div 86400000000").as("day"), col("user_id"))
        val newPerDay = ev.groupBy("user_id").agg(min("day").as("fd"))
          .groupBy("fd").agg(count(lit(1)).as("new_users"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.select("day").distinct()
          .join(newPerDay, col("day") === col("fd"), "left")
          .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
          .withColumn("cum_users", sum("new_users").over(w))
      },
      Some("""WITH e AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day,
                       user_id FROM events),
              f AS (SELECT user_id, min(day) AS fd FROM e GROUP BY 1),
              npd AS (SELECT fd, count(*) AS new_users FROM f GROUP BY 1),
              days AS (SELECT DISTINCT day FROM e)
              SELECT d.day, coalesce(npd.new_users, 0) AS new_users,
                cast(sum(coalesce(npd.new_users, 0)) OVER (
                  ORDER BY d.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
                  AS cum_users
              FROM days d LEFT JOIN npd ON d.day = npd.fd""")),
  )
}
