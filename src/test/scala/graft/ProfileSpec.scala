package graft

class ProfileSpec extends SparkSpec {

  test("Profile.during counts labelled jobs, keys stages by attempt and drains") {
    val sc = spark.sparkContext
    val (n, prof) = Profile.during(spark) {
      val a = Profile.labeled(spark, "spec: count")(sc.parallelize(1 to 100, 4).count())
      // a shuffle: two stages in one job
      val b = Profile.labeled(spark, "spec: shuffle")(
        sc.parallelize(1 to 100, 4).map(i => (i % 3, i)).reduceByKey(_ + _, 2).count())
      sc.parallelize(1 to 10, 2).count()
      a + b
    }
    assert(n === 103)
    assert(prof.drained, "the bus drained inside the bound")
    val byLabel = prof.byLabel
    assert(byLabel("spec: count")._1 === 1)
    assert(byLabel("spec: shuffle")._1 === 1)
    assert(byLabel(Profile.Unlabeled)._1 >= 1, "an unlabelled job keys under unlabeled")
    assert(byLabel.values.map(_._1).sum === prof.jobs, "every started job has one key")
    assert(byLabel.values.forall(_._2 >= 0))
    assert(prof.jobs >= 3 && prof.stages >= 4)
    val stats = prof.stageStats
    assert(stats.map(s => (s.stageId, s.attempt)).distinct.size === stats.size,
      "one entry per (stage, attempt)")
    assert(stats.exists(s => s.tasks == 4 && s.sumTaskSec >= s.maxTaskSec))
    assert(stats.exists(_.tasks == 2), "the reduce stage")
    // detached: later jobs do not reach it
    val before = prof.jobs
    sc.parallelize(1 to 10).count()
    org.apache.spark.GraftListenerBus.drain(sc, 10000L)
    assert(prof.jobs === before)
  }
}
