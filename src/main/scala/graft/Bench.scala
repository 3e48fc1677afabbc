package graft

import graft.core.{GQuery, GraftSession}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...}. Each query is executed fully
  * through a noop sink (count() would let Catalyst prune the plan to a
  * row-count over the scan, which is not the work being measured).
  *
  * Per query: one untimed warmup (JIT/codegen/scan cache), then REPS
  * timed runs; the reported per-query number is the MEDIAN, with the
  * min alongside in `queries_min`, every rep in `queries_reps`, and
  * the GC wall-clock charged to the timed reps in `queries_gc_ms` — so
  * a one-off rep swing is attributable (GC vs plan) from the artifact
  * alone. The cache is cleared after every run so one query's
  * persisted frames can't tax the next. A query that fails in any run
  * lands in `errors`, skips its remaining runs, and reports no timing.
  *
  * Interleaved A/B mode (measurement tooling; the driver never sets
  * it, so its contract run is byte-identical): when `SPARK_GRAFT_AB`
  * is a comma-separated subset of query names, ONLY those queries run,
  * and their timed reps are interleaved round-robin (a,b,a,b,…,
  * `SPARK_GRAFT_AB_REPS` rounds, default 7) within the one session —
  * the only per-query comparison that survives this host's ±25%
  * cross-run drift. Same one-line JSON, plus an `"ab":true` marker;
  * `"reps"` is the number of timed reps actually run in either mode.
  */
object Bench {
  private val Reps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val abSel = sys.env.get("SPARK_GRAFT_AB")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val headline = abSel.fold(SparkEntry.inventory)(sel =>
      SparkEntry.inventory.filter(q => sel(q.name)))
    val reps = abSel.fold(Reps)(_ => sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "7").toInt)
    // rep 0 is the untimed warmup (JIT/codegen/scan cache). Default:
    // each query's reps run back to back. A/B: round r runs every query
    // once (a,b,…,a,b,…), so host drift hits every query equally.
    val schedule: Seq[(GQuery, Int)] =
      if (abSel.isEmpty) headline.flatMap(q => (0 to reps).map(q -> _))
      else (0 to reps).flatMap(r => headline.map(_ -> r))

    val times = headline.map(q => q.name ->
      scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val gcTotal = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    schedule.foreach { case (q, r) =>
      if (!errors.contains(q.name)) {
        try {
          if (r > 0) spark.sparkContext.setJobDescription(s"bench:${q.name}:$r")
          val gc0 = gcMillis()
          val t0 = System.nanoTime()
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          if (r > 0) {
            times(q.name) += (System.nanoTime() - t0) / 1e9
            gcTotal(q.name) += (gcMillis() - gc0).toDouble
          }
        } catch {
          case e: Throwable => // the query drops out of the remaining reps
            errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            System.err.println(s"[bench] ${q.name} failed: ${errors(q.name)}")
        }
        spark.sparkContext.setJobDescription(null)
        // a query that persists frames must not bill the next run
        spark.catalog.clearCache()
      }
    }

    val ok = headline.filterNot(q => errors.contains(q.name))
    val medians = ok.map(q => q.name -> median(times(q.name).toSeq))
    val mins = ok.map(q => q.name -> times(q.name).min)
    val repTimes = ok.map(q => q.name -> times(q.name).toSeq)
    val gcMs = ok.map(q => q.name -> gcTotal(q.name))

    def jnum(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    def jarr(m: Seq[(String, Seq[Double])]): String =
      m.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    def jstr(m: collection.Map[String, String]): String =
      m.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(120) + "\""
      }.mkString("{", ",", "}")

    val total = medians.map(_._2).sum
    val abMarker = if (abSel.isDefined) """"ab":true,""" else ""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
        s"""$abMarker"queries":${jnum(medians)},"queries_min":${jnum(mins)},""" +
        s""""queries_reps":${jarr(repTimes)},"queries_gc_ms":${jnum(gcMs)},""" +
        s""""errors":${jstr(errors)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
