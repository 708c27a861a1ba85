package graft.sources

import org.apache.spark.sql.SparkSession

/** Bucketed-table warehouse: the co-located-join layout for the big
  * fact⋈fact joins (lineitem⋈orders on orderkey is the one join in
  * this engine where neither side broadcasts at 100 TB).
  *
  * Writing both tables bucketed by the join key into the same number
  * of buckets lets Spark plan a SortMergeJoin with NO Exchange on
  * either side — at 100 TB that's the difference between re-shuffling
  * two fact tables per query and reading pre-partitioned files.
  * ScaleSpec "bucketed fact-fact join plans without Exchange" asserts
  * the Exchange-free plan.
  */
object Warehouse {

  /** Write lineitem + orders from `dir` as bucketed managed tables
    * (idempotent; tables land in spark.sql.warehouse.dir). */
  def bucketize(spark: SparkSession, dir: String, buckets: Int): Unit = {
    val t = Tables(spark, dir)
    // drop stale tables AND their locations — a dead session leaves the
    // warehouse directory behind, and CREATE TABLE refuses to reuse it.
    // Hadoop FS API, NOT java.io (local-FS deletes silently no-op on
    // hdfs:///object-store warehouse dirs, and the subsequent CREATE
    // TABLE then fails on the stale location).  ScaleSpec "bucketize
    // survives a stale table location…" drives the stale-location path.
    Seq("lineitem_b", "orders_b").foreach { name =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    t.lineitem.write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    t.orders.write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
  }

  /** The co-located join over the bucketed tables: per-order revenue
    * rollup joined to the order header, no shuffle on either side. */
  def colocatedOrderRevenue(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.Exact.{sumx, roundx}
    val li = spark.table("lineitem_b")
    // merge hint: at test scale the tiny header side would broadcast;
    // at fact×fact scale SortMergeJoin is what the planner picks, and
    // bucketing makes it Exchange-free on both sides
    val ord = spark.table("orders_b").hint("merge")
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(roundx(sumx(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }
}
