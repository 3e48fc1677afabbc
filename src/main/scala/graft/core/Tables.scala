package graft.core

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the synthetic test tables (TESTDATA.md). Plain parquet
  * scans so Catalyst's V2ScanRelationPushDown can prune columns and
  * push predicates down to the scan; no caching, no inference.
  *
  * The ten schemas are declared here, transcribed from FIXTURES.md §3
  * (every column nullable, as the parquet footers carry them). Reading
  * with a declared schema skips the footer read that schema inference
  * runs as a Spark job, so no table read launches a job: building a
  * query costs driver-side analysis only. TablesSchemaSpec compares
  * each declared schema with what inference reads from the footers at
  * every test scale, so a generator change fails there, not at query
  * time.
  */
object Tables {
  private def table(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> table("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> table("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> table("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> table("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> table("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> table("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> table("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> table("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> table("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  val names: Seq[String] = schemas.keys.toSeq

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
