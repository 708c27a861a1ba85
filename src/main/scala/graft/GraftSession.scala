package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configs every graft entrypoint needs. */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); Spark 4 otherwise refuses
      // the file (PARQUET_TYPE_ILLEGAL).  Tables.events converts the
      // resulting long to a µs timestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark keeps 100 compiled codegen classes by default.  One pass
      // over the ten dashboard queries needs about 170, so under its
      // least-recently-used eviction a repeated query mix recompiled
      // 64–104 classes per pass, and how many depended on the order
      // of the queries.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Without native libhadoop the stock local file system forks a
      // chmod for every file and directory it creates; a warehouse
      // commit creates dozens.  LocalFs sets the same modes in-process,
      // for the FileSystem API and for the FileContext API that the
      // streaming checkpoint files go through.
      .config("spark.hadoop.fs.file.impl", classOf[sources.LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.LocalFs.Afs].getName)
}
