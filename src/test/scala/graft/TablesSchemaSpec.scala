package graft

import graft.core.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift check: the schemas Tables declares must equal what
  * parquet schema inference reads from the footers (names, types,
  * nullability, the array element's containsNull), at every test scale.
  * Queries never infer, so a generator that changed a column would
  * otherwise surface as a wrong answer or a scan error at query time.
  * This spec is the one place that infers.
  */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dataRoot = new java.io.File(TestSpark.sfDir).getParent

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"declared schemas equal the inferred parquet footers at $sf") {
      val drift = Tables.names.flatMap { name =>
        val inferred = spark.read.parquet(s"$dataRoot/$sf/$name.parquet").schema
        val declared = Tables.schemas(name)
        if (inferred == declared) None
        else Some(s"$name:\n  declared ${declared.treeString}\n  inferred ${inferred.treeString}")
      }
      assert(drift.isEmpty, drift.mkString("\n"))
    }
  }
}
