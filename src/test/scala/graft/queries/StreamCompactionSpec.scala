package graft.queries

import java.io.File

import graft.SparkSpec
import graft.pipeline.CorpusPipeline

/** x36_stream_compacted: after the corpus stream's two waves, the gate
  * rewrites every table the stream landed, leaves at most one data file
  * per `__bucket` dir, and the compacted corpus join still gives the x35
  * answer.
  */
class StreamCompactionSpec extends SparkSpec {

  /** data file names per `__bucket` dir of an upserted table */
  private def bucketFiles(table: File): Map[String, Set[String]] =
    table.listFiles().filter(_.getName.startsWith("__bucket=")).map { b =>
      b.getName -> b.listFiles().map(_.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    }.toMap

  test("x36 compacts every table the corpus stream lands") {
    val out = ExtractQueries.corpusStreamFixture(spark)
    val landed = CorpusPipeline.waveTableNames.map(t => new File(s"$out/$t"))
      .filter(_.isDirectory)
    assert(landed.map(_.getName).toSet.contains("compositions"))
    val before = landed.map(t => t.getName -> bucketFiles(t)).toMap

    val x36 = ExtractQueries.all.find(_.name == "x36_stream_compacted").get
    val rows = x36.fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("stem"), r.getAs[String]("outcomes"))).toSet
    assert(rows == Set("d0" -> "dismissal", "d1" -> "partial_approval",
      "d2" -> "approval", "d3" -> "dismissal"))

    for (table <- landed) {
      val after = bucketFiles(table)
      val t = table.getName
      assert(after.keySet == before(t).keySet, s"$t changed its bucket dirs")
      for ((bucket, files) <- after) {
        assert(files.size <= 1, s"$t/$bucket holds ${files.size} data files")
        assert((files intersect before(t)(bucket)).isEmpty, s"$t/$bucket was not compacted")
      }
    }
  }
}
