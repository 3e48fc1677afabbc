package graft

import org.scalatest.funsuite.AnyFunSuite

/** Building a query (calling its builder, with no action) must launch
  * no Spark job: table reads use declared schemas, so no schema
  * inference runs on the driver. The one listed exception is q37,
  * whose builder trains the IVF codebook on a collected sample (one
  * job) before it can bind the bucket kernel.
  *
  * Jobs are counted through public API: each build runs under its own
  * job group, and a sentinel job in a second group is run after it.
  * The status store sees job starts in order, so once it lists the
  * sentinel it has seen every job the build launched.
  */
class BuildJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  private val expected: Map[String, Int] =
    Map("q37_ann_ivf" -> 1).withDefaultValue(0)

  private def jobsLaunchedBy(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    val sentinel = s"$group-sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(sentinel).isEmpty) {
      assert(System.nanoTime() < deadline, s"status store never listed $sentinel")
      Thread.sleep(5)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("building each of the 40 inventory queries launches no Spark job (q37: one)") {
    assert(SparkEntry.inventory.length == 40)
    assert(SparkEntry.inventory.exists(_.name == "q37_ann_ivf"))
    val wrong = SparkEntry.inventory.flatMap { q =>
      val n = jobsLaunchedBy(s"build-${q.name}")(q.fn(spark, sf))
      if (n == expected(q.name)) None
      else Some(s"${q.name}: $n jobs, expected ${expected(q.name)}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
