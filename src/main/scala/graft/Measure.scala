package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing core of the graft mains.  Every timed run forces its
  * result through Spark's noop sink: unlike count(), which lets
  * Catalyst prune the aggregates away, noop materializes every output
  * column.  A registered query is rebuilt on every run, so eager
  * construction (trainer loops, warehouse builds) is timed as well. */
object Measure {

  /** The smallest generated SF, used to warm the JVM off the clock. */
  val WarmDir = "/root/testdata/sf0.001"

  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `f`'s value and its wall time in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One run of each query at `WarmDir`, so classloading and codegen
    * land outside the measured runs.  Failures are ignored. */
  def warm(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach { n =>
      try sink(SparkEntry.queries(n)(spark, WarmDir)) catch { case _: Throwable => () }
    }

  /** `n` interleaved rounds over `names` at `sfDir`.  A shared host can
    * stall for tens of seconds, and back-to-back repeats of one query
    * can all land inside one stall; full-set rounds spread each query's
    * runs apart.  Returns each name's successful run times in
    * seconds, in round order; a failed run is logged under `tag` and
    * left out, so a query that fails every round has no entry. */
  def rounds(spark: SparkSession, sfDir: String, names: Seq[String], n: Int,
      tag: String): Map[String, Vector[Double]] = {
    val runs = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (_ <- 1 to n; name <- names) {
      val (ok, t) = timed {
        try { sink(SparkEntry.queries(name)(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"$tag $name failed: ${e.getMessage}")
          false
        }
      }
      if (ok) runs(name) = runs.getOrElse(name, Vector.empty) :+ t
    }
    runs.toMap
  }
}
