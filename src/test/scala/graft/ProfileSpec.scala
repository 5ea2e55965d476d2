package graft

import graft.tools.{CoreScale, Profile, TimingSink}

/** The query profiler's job table is on one clock (listener epoch ms,
  * run start from currentTimeMillis): a gap measured from a nanoTime
  * origin would be off by the epoch, so the first gap would exceed the
  * run's wall by decades. */
class ProfileSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("Profile.measure: gaps on one clock, jobs within the run, rows as TimingSink") {
    val r = Profile.measure(spark, dir, "a13_pbsi", 1)
    assert(r.jobs.nonEmpty)
    r.jobs.foreach(j => assert(j.gapBefore >= 0.0, j))
    assert(r.jobs.head.gapBefore < r.wall, (r.jobs.head, r.wall))
    assert(r.jobs.map(_.seconds).sum <= r.construct + r.sink, (r.jobs, r))
    assert(r.rows === TimingSink.rows(SparkEntry.queries("a13_pbsi")(spark, dir)))
    assert(r.plan.contains("AdaptiveSparkPlan"))
    assert(spark.sparkContext.getLocalProperty("graft.profile.drain") === null)
  }

  test("CoreScale's query lists name only queries SparkEntry has") {
    assert((CoreScale.Heavy ++ CoreScale.DeepHeavy).toSet
      .subsetOf(SparkEntry.queries.keySet))
  }
}
