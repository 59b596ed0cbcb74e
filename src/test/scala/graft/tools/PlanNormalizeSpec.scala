package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump.normalize`: two dumps of the same plan from different runs
  * read the same, and two different plans still differ. No Spark.
  */
class PlanNormalizeSpec extends AnyFunSuite {

  private val run1 =
    """(3) Project [codegen id : 1]
      |Output [2]: [doc_id#10696L, rep#10694L]
      |Input [3]: [doc_id#10696L, rep#10694L, band#17]
      |Arguments: hashpartitioning(doc_id#10696L, 4), ENSURE_REQUIREMENTS, [plan_id=1192]
      |Arguments: [doc_id#10696L], MapPartitionsRDD[1181] at createDataFrame at MinHashLSH.scala:283
      |Location: InMemoryFileIndex [file:/tmp/graft_x22_landing_3744326609348307725/documents]
      |Arguments: graft.multimodal.MediaPipeline$$$Lambda$5597/0x00007fb8794ee010@1df17415, obj#11895
      |Arguments: IdentityBroadcastMode, [plan_id=1201]
      |""".stripMargin

  private val run2 =
    """(3) Project [codegen id : 1]
      |Output [2]: [doc_id#3L, rep#1L]
      |Input [3]: [doc_id#3L, rep#1L, band#9]
      |Arguments: hashpartitioning(doc_id#3L, 4), ENSURE_REQUIREMENTS, [plan_id=15]
      |Arguments: [doc_id#3L], MapPartitionsRDD[7] at createDataFrame at MinHashLSH.scala:283
      |Location: InMemoryFileIndex [file:/tmp/graft_x22_landing_118/documents]
      |Arguments: graft.multimodal.MediaPipeline$$$Lambda$88/0x0000000800e1c440@5d394592, obj#40
      |Arguments: IdentityBroadcastMode, [plan_id=16]
      |""".stripMargin

  test("ids, scratch suffixes and lambda names renumber to the same text") {
    val a = PlanDump.normalize(run1)
    assert(a == PlanDump.normalize(run2.replace("_118/", "_4242424242/")))
    assert(a.contains("[doc_id#1L, rep#2L]") && a.contains("band#3]"))
    assert(a.contains("[plan_id=1]") && a.contains("[plan_id=2]"))
    assert(a.contains("MapPartitionsRDD[1] at"))
    assert(a.contains("/tmp/graft_x22_landing_<n>/documents"))
    assert(a.contains("MediaPipeline$$$Lambda, obj#4\n"))
  }

  test("first-seen order keeps which ids are equal, and the type suffix") {
    val a = PlanDump.normalize("x#50L = y#7 AND z#50L AND w#7\n")
    assert(a == "x#1L = y#2 AND z#1L AND w#2\n")
    // a plan that references a different attribute stays different
    assert(PlanDump.normalize("x#50L = y#7 AND z#7\n") != PlanDump.normalize("x#50L = y#7 AND z#50L\n"))
  }

  test("AQE query-stage statistics read the same across runs") {
    def stage(size: String, rows: String) =
      s"+- ShuffleQueryStage (6), Statistics(sizeInBytes=$size, rowCount=$rows)\n" +
        s"+- BroadcastQueryStage (9), Statistics(sizeInBytes=$size)\n"
    val a = PlanDump.normalize(stage("228.2 KiB", "1.91E+3"))
    assert(a == PlanDump.normalize(stage("64.5 MiB", "1.92E+3")))
    assert(a == "+- ShuffleQueryStage (6), Statistics(sizeInBytes=<n>, rowCount=<n>)\n" +
      "+- BroadcastQueryStage (9), Statistics(sizeInBytes=<n>)\n")
    // the stage kind and its number are the plan's shape: they stay
    assert(a != PlanDump.normalize(stage("1 B", "1").replace("(6)", "(7)")))
  }

  test("short numbers and plain text are left alone") {
    val text = "Arguments: hashpartitioning(l_partkey, 4), Input [3], /tmp/graft_k12_b/orders\n"
    assert(PlanDump.normalize(text) == text)
  }
}
