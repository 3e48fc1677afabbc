package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.core.{GQuery, GraftSession, QueryUtils, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JVM side. It drives the program only through its
  * public surface (`SparkEntry.inventory`, `GQuery.fn`, `Tables.load`,
  * the column kernels and `CodebookKMeans.train`) and through Spark's
  * listener hooks, and writes one JSON result file for `run.py`.
  *
  * One closed-loop client: each query starts after the previous one
  * finished, in the fixed workload order, and runs into a `noop` sink
  * the way `graft.Bench` runs it.
  *
  * Modes (arguments are key=value):
  *   - run:   setup, one checked pass (results to parquet for the
  *            oracle compare), then timed passes for `seconds`.
  *   - trace: setup, checked pass, traced passes with an untraced one
  *            between each two, then the direct per-layer probes.
  */
object Harness {

  final case class Opts(mode: String, data: String, out: String,
                        queries: Seq[GQuery], seconds: Double, passes: Int,
                        cpus: Int, seed: Long)

  // ---- small JSON writer ------------------------------------------------

  private def js(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case o => js(o.toString)
  }

  // ---- process-level readings ---------------------------------------------

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** CPU time the hypervisor gave to other guests, summed over all
    * CPUs (the `steal` column of /proc/stat): context for timings taken
    * on a shared host. */
  private def stealSeconds(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
    if (f.length > 8) f(8).toDouble / 100.0 else 0.0
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build plus execute one query; Left(message) when it throws. */
  private def timed(spark: SparkSession, dir: String, q: GQuery): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { noop(q.fn(spark, dir)); Right(ms(t0) / 1e3) }
    catch { case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
  }

  // ---- listeners (traced mode only) ---------------------------------------

  /** Counters fed by the listener bus; read only after waitUntilEmpty. */
  final class Counters extends SparkListener with QueryExecutionListener {
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    private def add(k: String, v: Double): Unit = c(k) = c(k) + v

    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add("analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)
      add("optimize_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
      add("physical_ms", ph.get("planning").map(_.durationMs).getOrElse(0L).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    def snap(): Map[String, Double] = c.toMap
  }

  private def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0)))
      .toMap.withDefaultValue(0.0)

  /** Janino compile count and summed compile ms so far. The histogram's
    * reservoir holds the last 1028 samples, enough for a run's total. */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  // ---- passes -------------------------------------------------------------

  final case class Setup(spark: SparkSession, seconds: Double,
                         sessionS: Double, coldS: collection.Map[String, Double],
                         errors: Map[String, String])

  /** Session creation through the end of one cold pass. */
  private def setup(o: Opts): Setup = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[${o.cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ms(t0) / 1e3
    val errors = mutable.LinkedHashMap.empty[String, String]
    val cold = mutable.LinkedHashMap.empty[String, Double]
    o.queries.foreach(q => timed(spark, o.data, q) match {
      case Right(s) => cold(q.name) = s
      case Left(m) => errors(q.name) = m
    })
    Setup(spark, ms(t0) / 1e3, sessionS, cold, errors.toMap)
  }

  /** One untimed execution per query, results to parquet for the oracle
    * compare, plus the exact pair set q34's banding must reproduce. */
  private def checkPass(spark: SparkSession, o: Opts): Map[String, String] = {
    val errors = mutable.LinkedHashMap.empty[String, String]
    val dir = s"${o.out}/check"
    o.queries.foreach { q =>
      try q.fn(spark, o.data).write.mode("overwrite").parquet(s"$dir/${q.name}")
      catch { case e: Throwable => errors(q.name) = Option(e.getMessage).getOrElse(e.toString) }
    }
    // when the reference cannot be built, its absence fails q34's check
    if (o.queries.exists(_.name == "q34_simhash_pairs")) try {
      val sig = Dedup.simhashSignatures(spark, o.data)
      sig.as("a").crossJoin(sig.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .filter(col("hamming") <= 6)
        .write.mode("overwrite").parquet(s"$dir/_q34_exact")
    } catch { case e: Throwable => System.err.println(s"q34 reference failed: $e") }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => o.queries.exists(_.name == k) }
    val q32 = SparkEntry.oracleSql.get("q32_ngram_jaccard_pairs").map("q32_ngram_jaccard_pairs" -> _)
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), js(oracle ++ q32))
    errors.toMap
  }

  private def runMode(o: Opts): Map[String, Any] = {
    val su = setup(o)
    val spark = su.spark
    val tc = System.nanoTime()
    val checkErr = checkPass(spark, o)
    val checkS = ms(tc) / 1e3
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    o.queries.foreach(q => samples(q.name) = mutable.ArrayBuffer.empty)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val passS, passCpuS = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val steal0 = stealSeconds()
    val tEnd = System.nanoTime() + (o.seconds * 1e9).toLong
    while (passS.length < o.passes || System.nanoTime() < tEnd) {
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      o.queries.foreach { q =>
        timed(spark, o.data, q) match {
          case Right(s) => samples(q.name) += s
          case Left(m) => errors(q.name) = m; failed += 1
        }
      }
      passS += ms(t0) / 1e3
      passCpuS += (cpuNanos() - c0) / 1e9
    }
    val stealS = stealSeconds() - steal0
    spark.stop()
    Map("setup_s" -> su.seconds, "session_s" -> su.sessionS, "cold_query_s" -> su.coldS,
      "check_s" -> checkS, "pass_s" -> passS, "pass_cpu_s" -> passCpuS,
      "steal_s" -> stealS, "query_s" -> samples, "peak_rss_mb" -> peakRssMb(),
      "attempted" -> (2 + passS.length) * o.queries.length,
      "failed" -> (su.errors.size + checkErr.size + failed),
      "errors" -> (su.errors ++ checkErr ++ errors))
  }

  // ---- traced mode ----------------------------------------------------------

  private val Modules: Seq[(String, Seq[GQuery])] = Seq(
    "Relational" -> Relational.all, "TextQueries" -> TextQueries.all,
    "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
    "WindowQueries" -> WindowQueries.all, "MlQueries" -> MlQueries.all)

  private def traceMode(o: Opts): Map[String, Any] = {
    val (cc0, cms0) = codegen()
    val su = setup(o)
    val spark = su.spark
    val (cc1, cms1) = codegen()
    val checkErr = checkPass(spark, o)
    val bus = spark.sparkContext.listenerBus
    val errors = mutable.LinkedHashMap.empty[String, String]
    var failed = 0

    val ctr = new Counters
    def settle(): Map[String, Double] = { bus.waitUntilEmpty(); ctr.snap() }
    def listen(on: Boolean): Unit =
      if (on) { spark.sparkContext.addSparkListener(ctr); spark.listenerManager.register(ctr) }
      else { spark.sparkContext.removeSparkListener(ctr); spark.listenerManager.unregister(ctr) }

    /** One traced pass: per query, the build and the sink write apart,
      * with the listener bus drained at each boundary (untimed). */
    def tracedPass(): Map[String, Map[String, Double]] = {
      listen(true)
      val rows = o.queries.map { q =>
        val s0 = settle()
        val t0 = System.nanoTime()
        val r = try {
          val df = q.fn(spark, o.data)
          val buildMs = ms(t0)
          val s1 = settle()
          val t1 = System.nanoTime()
          noop(df)
          val writeMs = ms(t1)
          val w = diff(s1, settle())
          val plan = w("analysis_ms") + w("optimize_ms") + w("physical_ms")
          w ++ Map("build_ms" -> buildMs, "build_jobs" -> diff(s0, s1)("jobs"),
            "write_ms" -> writeMs, "execution_ms" -> (writeMs - plan))
        } catch { case e: Throwable =>
          errors(q.name) = Option(e.getMessage).getOrElse(e.toString); failed += 1
          Map.empty[String, Double]
        }
        q.name -> r
      }
      listen(false)
      rows.toMap
    }

    /** One untraced pass: the baseline for the tracing overhead. */
    def plainPass(): Double = {
      val t0 = System.nanoTime()
      o.queries.foreach(q => timed(spark, o.data, q).left.foreach { m =>
        errors(q.name) = m; failed += 1 })
      ms(t0) / 1e3
    }

    // traced passes with an untraced one between each two (T, U, T):
    // drift over the run falls on both sides alike
    val (wc0, _) = codegen()
    val perPass = mutable.ArrayBuffer.empty[Map[String, Map[String, Double]]]
    val plain = mutable.ArrayBuffer.empty[Double]
    (1 to o.passes).foreach { i =>
      if (i > 1) plain += plainPass()
      perPass += tracedPass()
    }
    val (wc1, _) = codegen()

    listen(true)
    val probes = probeLayers(spark, o, () => settle())
    spark.stop()

    Map("setup_s" -> su.seconds, "session_s" -> su.sessionS, "cold_query_s" -> su.coldS,
      "plain_pass_s" -> plain,
      "cold_codegen_compiles" -> (cc1 - cc0), "cold_codegen_ms" -> (cms1 - cms0),
      "warm_codegen_compiles" -> (wc1 - wc0),
      "queries" -> o.queries.map(_.name), "traced" -> perPass, "probes" -> probes,
      "cpus" -> o.cpus, "peak_rss_mb" -> peakRssMb(),
      "attempted" -> (1 + 2 * o.passes) * o.queries.length,
      "failed" -> (su.errors.size + checkErr.size + failed),
      "errors" -> (su.errors ++ checkErr ++ errors))
  }

  /** Direct calls into single layers, each repeated and reduced to a
    * median (the module builds: the faster of two rounds) so the first,
    * cold call does not dominate. */
  private def probeLayers(spark: SparkSession, o: Opts,
                          settle: () => Map[String, Double]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val reps = 3

    // core: Tables.load for each table, with the jobs each call launches
    val loads = (1 to reps).map { _ =>
      val s0 = settle()
      val t0 = System.nanoTime()
      Tables.names.foreach(t => Tables.load(spark, o.data, t))
      val dt = ms(t0)
      (dt, diff(s0, settle())("jobs"))
    }
    out("core.tables.load_ms") = median(loads.map(_._1))
    out("core.tables.load_jobs") = loads.map(_._2).sum / (reps * Tables.names.length)

    // operators: build every query of each module's .all list; the
    // faster of two rounds, since the first builds cold code paths
    Modules.foreach { case (mod, qs) =>
      out(s"operators.$mod.build_ms") = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        qs.foreach(q => q.fn(spark, o.data))
        ms(t0)
      }.min
    }

    // functions: kernel projection into noop, net of the bare scan
    val docs = Tables.load(spark, o.data, "documents")
    val line = Tables.load(spark, o.data, "lineitem")
    val emb = Tables.load(spark, o.data, "embeddings")
    val text = col("text")
    val price = col("l_extendedprice")
    val vec = VectorFunctions.toDoubleArray(col("embedding"))
    val kernels: Seq[(String, DataFrame, String, DataFrame)] = Seq(
      ("clean_text", docs, "text", docs.select(TextFunctions.cleanText(text))),
      ("token_stats", docs, "text", docs.select(TextFunctions.tokenStats3(text))),
      ("fingerprint", docs, "text", docs.select(TextFunctions.fingerprint(text))),
      ("word_shingles", docs, "text",
        docs.select(TextFunctions.wordShingles(TextFunctions.tokens(text), 3))),
      ("sum_dec", line, "l_extendedprice",
        line.select(price, QueryUtils.unscaled18(price).as("u"))
          .agg(QueryUtils.sumDec(col("u"), price))),
      ("dot", emb, "embedding", emb.select(VectorFunctions.dot(vec, vec))))
    kernels.foreach { case (name, table, column, kernel) =>
      val bare = table.select(col(column))
      noop(bare); noop(kernel) // warm
      val pairs = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); noop(bare); val b = ms(t0)
        val t1 = System.nanoTime(); noop(kernel); val k = ms(t1)
        (b, k)
      }
      out(s"functions.$name.ns_per_row") =
        (median(pairs.map(_._2)) - median(pairs.map(_._1))) * 1e6 / table.count()
    }

    // ml: q37's codebook training on a seeded 512 x 64 sample
    val rnd = new java.util.Random(o.seed)
    val sample = Array.fill(512, 64)(rnd.nextGaussian())
    graft.ml.CodebookKMeans.train(sample, 8, 10)
    out("ml.codebook_train_ms") = median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      graft.ml.CodebookKMeans.train(sample, 8, 10)
      ms(t0)
    })
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val byName = SparkEntry.inventory.map(q => q.name -> q).toMap
    val o = Opts(kv("mode"), kv("data"), kv("out"),
      kv("queries").split(",").toSeq.map(n => byName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))),
      kv("seconds").toDouble, kv("passes").toInt, kv("cpus").toInt, kv("seed").toLong)
    Files.createDirectories(Paths.get(o.out))
    val result: Map[String, Any] = o.mode match {
      case "run" => runMode(o)
      case "trace" => traceMode(o)
    }
    Files.writeString(Paths.get(s"${o.out}/${o.mode}.json"), js(result))
  }
}
