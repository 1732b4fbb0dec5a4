package graft

import graft.sources.Derived

/** Spark jobs as a budget for the connected-components consumers: at
  * sf0.001 each runs at most its committed number of jobs, counted by
  * a job-start listener over a warm run (the first run also infers
  * table schemas). Every job costs driver time at this size, and a new
  * `count()` inside an operator passes every other test. A change may
  * lower a ceiling freely; raising one is a check change and says why.
  */
class JobBudgetSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val budgets: Seq[(String, Int, () => Unit)] = Seq(
    ("q_dedup_groups", 6,
      () => Session.consume(SparkEntry.queries("q_dedup_groups")(spark, sfDir))),
    ("Derived.minhashStoreRebuilt", 4,
      () => { Derived.minhashStoreRebuilt(spark, sfDir); () }))

  budgets.foreach { case (name, ceiling, run) =>
    test(s"$name stays within its Spark job budget at sf0.001") {
      run()
      val jobs = jobsDuring(run())
      assert(jobs <= ceiling, s"$name ran $jobs jobs, budget $ceiling")
    }
  }
}
