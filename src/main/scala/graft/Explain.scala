package graft

/** Dev loop for plan work on registered queries:
  *   runMain graft.Explain <sfDir> <name> [name ...]
  * For each name, prints the formatted physical plan and the time of
  * its first run (cold: warehouse materializations land here, as in
  * Bench's build pass); then times every name in 3 interleaved
  * rounds and prints the min of each (`TIME <name> <sec>`, -1 if
  * every round failed). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val (_, t) = Measure.timed(Measure.sink(df))
      println(f"[explain] $name first run $t%.2f s")
    }
    val runs = Measure.rounds(spark, sfDir, names, 3, "[explain]")
    names.foreach(n => println(f"TIME $n ${runs.get(n).map(_.min).getOrElse(-1.0)}%.3f"))
    spark.stop()
  }
}
