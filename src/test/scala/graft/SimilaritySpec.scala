package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  test("codegen dot product matches the interpreted HOF fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.4, 0.5, 0.6)),
      (Seq.empty[Double], Seq.empty[Double])
    ).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(VectorFunctions.dot(col("a"), col("b")).as("fast"),
      hof.as("slow")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("dot product is null on unequal lengths, matching the HOF null-pad") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)),
      (Seq(1.0), Seq.empty[Double])
    ).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(VectorFunctions.dot(col("a"), col("b")).as("fast"),
      hof.as("slow")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), "expression must null out on length mismatch")
      assert(r.isNullAt(1), "HOF reference semantics: null-padded product")
    }
  }

  test("IVF ANN recall@5 >= 0.8 against the brute-force baseline") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val brute = topSets(Similarity.knnBruteForce(spark, sf))
    val ivf = topSets(Similarity.annIvf(spark, sf))
    val recalls = brute.map { case (q, trueTop) =>
      ivf.getOrElse(q, Set.empty).intersect(trueTop).size.toDouble / trueTop.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 = $mean")
  }

  test("near-dup join plans broadcast the small side, never nested-loop over pairs") {
    val plan = Similarity.knnBruteForce(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("blocked near-dup plan contains no cartesian product") {
    val plan = Similarity.embeddingNearDup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("blocked near-dup self-join computes the embedding pipeline once (reused exchange)") {
    val df = Similarity.embeddingNearDup(spark, sf)
    df.collect() // materialize so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      "label self-join must share one exchange: " + plan.take(4000))
  }

  test("trained IVF codebook yields non-degenerate buckets (no bucket > 40% of vectors)") {
    val buckets = Similarity.ivfBucketsForSpec(spark, sf)
    val counts = buckets.groupBy("bucket").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val total = counts.values.sum.toDouble
    assert(total > 0)
    val maxShare = counts.values.max / total
    assert(counts.size >= 4, s"degenerate codebook: only ${counts.size} buckets used")
    assert(maxShare <= 0.40, s"hot bucket holds ${maxShare * 100}%: $counts")
  }

  test("trained IVF codebook is deterministic across invocations") {
    def snap() = Similarity.ivfBucketsForSpec(spark, sf)
      .orderBy("c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(snap() === snap())
  }

  test("IVF top-bucket binding equals a driver-side brute-force cosine sort") {
    import spark.implicits._
    val vecs = core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // eight corpus vectors plus an exact tie: centroid 8 is 2 × centroid
    // 3, so both unit-normalise to the same row and every ranking that
    // reaches one must list 3 before 8
    val book = VectorFunctions.unitCodebook(vecs.take(8).map(_._2) :+ vecs(3)._2.map(_ * 2))
    assert(book(3) sameElements book(8))
    val top = 3
    // cosine ranks as the dot with the unit centroid (|v| is a positive
    // per-row constant); descending, ties to the smaller centroid id
    def brute(v: Array[Double]): Seq[Long] = {
      val sims = book.map(c => v.indices.foldLeft(0.0)((s, i) => s + v(i) * c(i)))
      book.indices.sortWith((a, b) => sims(a) > sims(b) || (sims(a) == sims(b) && a < b))
        .take(top).map(_.toLong)
    }
    val input = (vecs.toSeq.map { case (id, v) => (id, Option(v.toSeq)) } ++
      Seq((-1L, Some(Seq(1.0, 2.0, 3.0))), (-2L, None))).toDF("id", "v")
    val got = input.select(col("id"), VectorFunctions.ivfTopBuckets(col("v"), book, top))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    vecs.foreach { case (id, v) => assert(got(id) === Some(brute(v)), s"vec_id $id") }
    assert(vecs.exists { case (_, v) => brute(v).take(2) == Seq(3L, 8L) }, "tie never reached")
    assert(got(-1L) === Some(Seq.empty), "a wrong-dimension vector must give an empty array")
    assert(got(-2L) === None, "a NULL vector must give NULL")
  }

}
