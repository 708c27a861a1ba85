package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders.
  *
  * Scale design: at 100 TB the fact tables (`lineitem`, `events`) are
  * date-partitioned parquet; we keep loaders as plain declarative
  * parquet reads so Catalyst pushes filters/projections into the
  * scan (visible as PushedFilters / ReadSchema in explain) and prunes
  * partitions — no imperative pre-filtering here.  A table that is one
  * parquet file is resolved once per session (`Relations.parquet`); a
  * table directory is resolved on every read.
  *
  * Dimension tables (`region nation supplier part customer`) are small
  * relative to facts; query code wraps them in `broadcast()` at join
  * sites so fact tables never shuffle for dim joins.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  def table(name: String): DataFrame = Relations.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  /** `events.ts` has shipped as two physical types across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as epoch-nanos LONG
    * under spark.sql.legacy.parquet.nanosAsLong=true, see
    * graft.GraftSession) and plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ).  Normalize both to a session-tz µs TIMESTAMP so
    * every downstream plan sees one type: the LONG form via exact
    * integer `div` (a double division would lose precision above 2^53
    * ns), the NTZ form via cast (wall time == instant under the UTC
    * session tz, matching what the DuckDB oracle reads). */
  def events: DataFrame = {
    val t = table("events")
    t.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        t.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => t.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}
