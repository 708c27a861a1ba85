package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A seeded wide-vocabulary corpus for the term-bucketed warehouses
  * (the RelationsSpec pattern): 400 documents of 8–24 words over 1,000
  * terms `w0`…`w999`, so that the 100-document batch `doc_id >= 300`
  * touches every one of the 64 term buckets.  The sf0.001 documents
  * use 31 words, which fill 22. */
object WideCorpus {

  def docs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    (0L until 400L).map { id =>
      id -> Seq.fill(8 + rnd.nextInt(17))(s"w${rnd.nextInt(1000)}").mkString(" ")
    }.toDF("doc_id", "text")
  }

  /** 40 seeded probe documents of 6 words over `w0`…`w1099`, so about
    * one word in eleven is out of vocabulary. */
  def probeDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    (0L until 40L).map { id =>
      id -> Seq.fill(6)(s"w${rnd.nextInt(1100)}").mkString(" ")
    }.toDF("doc_id", "text")
  }

  def path(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-wide-$tag-").toString + "/index"

  /** The number of `<col>=` partition directories of a generation. */
  def bucketDirs(genDir: String, col: String): Int =
    new java.io.File(genDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith(s"$col="))

  /** (scans, partitions at rest, partitions listed after pruning) over
    * the plan's file scans whose root contains `root` and whose schema
    * has `field`. */
  def listing(df: DataFrame, root: String, field: String): (Int, Int, Int) = {
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(root)) &&
          f.schema.fieldNames.contains(field) => f
    }
    (scans.length,
      scans.map(_.relation.location.listFiles(Nil, Nil).length).sum,
      scans.map(f => f.relation.location.listFiles(f.partitionFilters, f.dataFilters).length).sum)
  }
}
