package graft

import graft.tools.Profile

/** `Profile.profile` over a real entry that needs no sf data and a fake
  * entry that throws: one record each, failures isolated, counters drawn
  * from this profile's own events only.
  */
class ProfileSpec extends SparkSuite {

  private val crm = "q_crm_replay"
  private def entries: Seq[(String, Profile.Entry)] = Seq(
    "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
    crm -> SparkEntry.queries(crm))

  private lazy val first = Profile.profile(spark, "", entries, reps = 1)

  test("one record per entry; a throwing entry is recorded and the next still runs") {
    assert(first.map(_.query) == Seq("q_boom", crm))
    assert(first.head.error.exists(_.contains("boom")))
    assert(first.head.json.contains("\"error\""))
    assert(first(1).error.isEmpty)
    assert(!first(1).json.contains("\"error\""))
  }

  test("rows, jobs, tasks, CPU and per-stage skew are consistent") {
    val p = first(1)
    assert(p.rows == SparkEntry.queries(crm)(spark, "").count())
    assert(p.jobs >= 1)
    assert(p.tasks >= p.jobs)
    assert(p.cpuS > 0)
    assert(p.topStages.nonEmpty && p.topStages.size <= 10)
    p.topStages.foreach(s => assert(s.taskMsMax >= s.taskMsMedian, s))
    assert(p.operators.nonEmpty)
  }

  test("a second profile counts only its own jobs and tasks") {
    val again = Profile.profile(spark, "", entries.drop(1), reps = 1).head
    assert(again.error.isEmpty)
    assert((again.jobs, again.tasks) == ((first(1).jobs, first(1).tasks)))
  }
}
