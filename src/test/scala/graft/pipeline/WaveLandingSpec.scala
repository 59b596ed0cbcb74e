package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Sinks
import graft.tools.GenLayoutProbe.countJobs

/** The wave landing: `CorpusPipeline.run` lands its eight tables in one
  * concurrent pass keyed on the wave's decision ids. Pins the
  * reference's per-decision delete-then-insert for child tables, the
  * crash/replay behaviour of the concurrent writes, and the number of
  * Spark jobs a wave and a one-table upsert launch.
  */
class WaveLandingSpec extends SparkSpec {

  private val tables = Seq("documents", "sections", "citations", "judgments",
    "compositions", "participations", "lower_courts", "people")

  private def ruling(i: Int, outcome: String): String =
    s"""<html><body>
       |<p>Urteil vom 1$i. August 2020</p>
       |<p>Besetzung: Bundesrichter Meier, Präsident, Gerichtsschreiber S$i</p>
       |<p>Sachverhalt</p>
       |<p>A. Der Beschwerdeführer $i reichte Klage ein.</p>
       |<p>Erwägungen</p>
       |<p>1. Vgl. BGE 12$i II 45 zur Frage.</p>
       |<p>Demnach erkennt das Gericht</p>
       |<p>Die Beschwerde wird $outcome.</p>
       |<p>Rechtsmittelbelehrung</p>
       |</body></html>""".stripMargin

  /** the redelivered text: no citation, no composition header */
  private val bareRuling =
    """<html><body>
      |<p>Urteil vom 3. März 2021</p>
      |<p>Sachverhalt</p>
      |<p>A. Die Parteien haben sich verglichen, die Klage ist gegenstandslos.</p>
      |<p>Erwägungen</p>
      |<p>1. Das Verfahren wird als erledigt abgeschrieben.</p>
      |<p>Demnach erkennt das Gericht</p>
      |<p>Die Beschwerde wird abgewiesen.</p>
      |</body></html>""".stripMargin

  private def landing(docs: Seq[(String, String)]): String = {
    val dir = Files.createTempDirectory("wave_landing")
    def put(name: String, content: String): Path =
      Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))
    for (((stem, html), i) <- docs.zipWithIndex) {
      put(s"$stem.json", s"""{"id": $i}""")
      put(s"$stem.html", html)
    }
    dir.toString
  }

  private val wave1 = (0 until 6).map(i =>
    s"case_$i" -> ruling(i, if (i % 2 == 0) "abgewiesen" else "gutgeheissen"))
  /** two new rulings and one redelivery with a changed outcome */
  private val wave2 = Seq("case_6" -> ruling(6, "abgewiesen"),
    "case_7" -> ruling(7, "gutgeheissen"), "case_1" -> ruling(1, "abgewiesen"))

  private def bucketOf(id: String): Long =
    spark.range(1).select(pmod(xxhash64(lit(id)), lit(16))).head().getLong(0)

  /** a table's rows as sorted JSON lines, columns in name order */
  private def snapshot(out: String, t: String): Seq[String] = {
    val df = Sinks.readUpserted(spark, s"$out/$t")
    df.select(df.columns.sorted.map(col).toSeq: _*).toJSON.collect().sorted.toSeq
  }

  test("a redelivered ruling without citations or names keeps none of its old child rows") {
    val out = Files.createTempDirectory("wave_redeliver").toString
    val first = CorpusPipeline.run(spark, landing(wave1), out)
    assert(first.nIngested == 6 && first.nCitations == 6)
    val ids = spark.read.parquet(s"$out/documents").select("stem", "decision_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the redelivered ruling is alone in its bucket, so its redelivery
    // leaves that bucket of citations and people with no rows
    val byBucket = ids.values.groupBy(bucketOf)
    val (stem, id) = ids.toSeq.sorted.find { case (_, d) => byBucket(bucketOf(d)).size == 1 }
      .getOrElse(fail("fixture: no ruling sits alone in its bucket"))
    val bucket = bucketOf(id)
    def rowsOf(t: String) = spark.read.parquet(s"$out/$t").where(col("decision_id") === id).count()
    val peopleBefore = spark.read.parquet(s"$out/people").count()
    val ownPeople = rowsOf("people")
    assert(rowsOf("citations") == 1 && ownPeople > 0)

    val again = CorpusPipeline.run(spark, landing(Seq(stem -> bareRuling)), out)
    assert(again.nIngested == 1 && again.nCitations == 0)
    for (t <- Seq("citations", "people")) {
      assert(rowsOf(t) == 0, s"$t keeps stale rows of the redelivered ruling")
      assert(!Files.exists(java.nio.file.Paths.get(s"$out/$t/__bucket=$bucket")),
        s"$t: the emptied bucket $bucket must be retired")
    }
    // the other rulings keep their rows; the parent rows are replaced
    assert(spark.read.parquet(s"$out/citations").count() == 5)
    assert(spark.read.parquet(s"$out/people").count() == peopleBefore - ownPeople)
    assert(spark.read.parquet(s"$out/documents").count() == 6)
    assert(rowsOf("documents") == 1 && rowsOf("compositions") == 1)
    assert(spark.read.parquet(s"$out/documents").where(col("decision_id") === id)
      .where(col("text").contains("gegenstandslos")).count() == 1)
  }

  test("upsertKeyed removes a table whose every row it retires, and lands it again later") {
    import spark.implicits._
    val root = Files.createTempDirectory("keyed_empty").toString
    val (a, b) = (s"$root/a", s"$root/b")
    Sinks.upsertKeyed(Seq(1L, 2L).toDF("id"), "id", 4,
      Seq(a -> (() => Seq((1L, "a1"), (2L, "a2")).toDF("id", "v")),
        b -> (() => Seq((1L, "b1")).toDF("id", "v"))))
    // key 1 redelivered with no b rows: b is left with none, so it goes
    Sinks.upsertKeyed(Seq(1L).toDF("id"), "id", 4,
      Seq(a -> (() => Seq((1L, "A1")).toDF("id", "v")),
        b -> (() => Seq.empty[(Long, String)].toDF("id", "v"))))
    assert(!Files.exists(java.nio.file.Paths.get(b)), "an emptied table is removed")
    assert(Sinks.readUpserted(spark, a).as[(Long, String)].collect().toSet ==
      Set(1L -> "A1", 2L -> "a2"))
    Sinks.upsertKeyed(Seq(2L).toDF("id"), "id", 4,
      Seq(a -> (() => Seq((2L, "A2")).toDF("id", "v")),
        b -> (() => Seq((2L, "B2")).toDF("id", "v"))))
    assert(Sinks.readUpserted(spark, b).as[(Long, String)].collect().toSet == Set(2L -> "B2"))
  }

  test("a write failing mid-wave settles its siblings before the caches go; a replay equals a clean run") {
    val (l1, l2) = (landing(wave1), landing(wave2))
    val clean = Files.createTempDirectory("wave_clean").toString
    CorpusPipeline.run(spark, l1, clean)
    CorpusPipeline.run(spark, l2, clean)

    val out = Files.createTempDirectory("wave_crash").toString
    CorpusPipeline.run(spark, l1, out)
    // record, in bus order, the landing's write jobs (their own
    // `graft-cwrite-*` groups) and two marker jobs: one run just before
    // the caches are unpersisted, one that drains the bus afterwards
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (atUnpersist, drain) = (s"wave-crash-unpersist-${java.util.UUID.randomUUID()}",
      s"wave-crash-drain-${java.util.UUID.randomUUID()}")
    val drained = new java.util.concurrent.CountDownLatch(1)
    val writeJobs = scala.collection.concurrent.TrieMap.empty[Int, Unit]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val desc = p.map(_.getProperty("spark.job.description")).orNull
        if (desc == atUnpersist) events.add("unpersist")
        else if (desc == drain) drained.countDown()
        else if (p.exists(x => String.valueOf(x.getProperty("spark.jobGroup.id"))
            .startsWith("graft-cwrite-"))) {
          writeJobs.put(e.jobId, ()); events.add(s"start ${e.jobId}")
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (writeJobs.contains(e.jobId)) events.add(s"end ${e.jobId}")
    }
    val boom = udf { (s: String) => Thread.sleep(300); throw new IllegalStateException("injected"); s }
      .asNondeterministic()
    val sc = spark.sparkContext
    def marker(desc: String): Unit = {
      sc.setJobDescription(desc)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      ()
    }
    sc.addSparkListener(listener)
    try {
      // the wave's landing, as run makes it, with one table's write failing
      val docs = CorpusPipeline.ingest(spark, l2).persist()
      val sectioned = CorpusPipeline.splitSections(docs, "default").persist()
      val failure = try intercept[Exception] {
        Sinks.upsertKeyed(sectioned.select("decision_id"), "decision_id", 16,
          CorpusPipeline.waveTables(spark, docs, sectioned, "default",
              Observation(), Observation()).map {
            case ("people", df) => s"$out/people" -> (() => df().withColumn("name", boom(col("name"))))
            case (t, df) => s"$out/$t" -> df
          })
      } finally { marker(atUnpersist); sectioned.unpersist(); docs.unpersist() }
      assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected")), failure)
      marker(drain)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = events.asScala.toSeq
    val (before, after) = seen.splitAt(seen.indexOf("unpersist"))
    val started = before.filter(_.startsWith("start ")).map(_.stripPrefix("start "))
    val ended = before.filter(_.startsWith("end ")).map(_.stripPrefix("end ")).toSet
    assert(started.nonEmpty && started.forall(ended), s"a write was still running at unpersist: $seen")
    assert(after == Seq("unpersist"), s"a write job ran after unpersist: $seen")

    // the replay heals whatever the failed wave left half-landed
    CorpusPipeline.run(spark, l2, out)
    for (t <- tables) assert(snapshot(out, t) == snapshot(clean, t), s"$t differs from a clean run")
  }

  /** Spark jobs `f` launches, in any job group (the landing's concurrent
    * writes run under their own)
    */
  private def jobsOf[T](f: => T): Int = countJobs(spark)(_ => true)(f)._2

  test("job counts: an incremental wave and a one-table upsert") {
    val out = Files.createTempDirectory("wave_jobs").toString
    val (l1, l2) = (landing(wave1), landing(wave2))
    CorpusPipeline.run(spark, l1, out)
    val wave = jobsOf(CorpusPipeline.run(spark, l2, out))
    info(s"incremental wave: $wave jobs")
    assert(wave <= 45, s"an incremental wave launched $wave Spark jobs")

    import spark.implicits._
    val path = Files.createTempDirectory("upsert_jobs").resolve("t").toString
    Sinks.upsertBucketed((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), path, "id", 16)
    val batch: DataFrame = Seq((3L, "x"), (41L, "y")).toDF("id", "v")
    val one = jobsOf(Sinks.upsertBucketed(batch, path, "id", 16))
    info(s"one-table upsert: $one jobs")
    assert(one < 7, s"a one-table upsert launched $one Spark jobs")
  }

  /** Observations the session's manager holds for queries not yet run */
  private def registeredObservations(): Int = {
    val manager = spark.getClass.getMethod("observationManager").invoke(spark)
    val field = manager.getClass.getDeclaredField("observations")
    field.setAccessible(true)
    field.get(manager).asInstanceOf[java.util.Map[_, _]].size
  }

  test("empty waves register no Observation with the session") {
    val docs = CorpusPipeline.ingest(spark, landing(wave1)).where(lit(false)).persist()
    val sectioned = CorpusPipeline.splitSections(docs, "default").persist()
    val out = Files.createTempDirectory("wave_empty").toString
    try {
      val before = registeredObservations()
      for (_ <- 1 to 20)
        assert(CorpusPipeline.landWave(spark, docs, sectioned, out, "default") ==
          CorpusPipeline.Landed(0L, 0L, 0L))
      // (≤: a query of an earlier test may still be completing its own)
      assert(registeredObservations() <= before,
        "an empty wave left its observations registered")
    } finally { sectioned.unpersist(); docs.unpersist() }
    // a landing wave still reports what it observed, and leaves none behind
    val before = registeredObservations()
    val w = CorpusPipeline.run(spark, landing(wave1), out)
    assert(w.nIngested == 6 && w.nCitations == 6)
    assert(registeredObservations() <= before)
  }
}
