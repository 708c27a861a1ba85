package perfbench

/** The per-layer metrics of a traced run, derived from its spans (the
  * traced rounds) and its ops (the untraced rounds, for module wall
  * times).  A metric whose layer the workload never called is left
  * out. */
object Layers {
  private val Members = Seq("TsWarehouse", "HllWarehouse", "Bm25Warehouse",
    "MinHashWarehouse")
  private val Module = Map("TsWarehouse" -> "operators", "HllWarehouse" -> "operators",
    "Bm25Warehouse" -> "similarity", "MinHashWarehouse" -> "dedup")

  def summarize(env: Env, out: Outcome): Seq[(String, Double, String)] = {
    val spans = env.trace.spans
    def named(n: String) = spans.filter(_.name == n).toSeq
    def ms(ss: Seq[Span]) = Stats.median(ss.map(_.durNs / 1e6))
    def perSpan(ss: Seq[Span], counter: String) =
      Stats.mean(ss.map(_.counters(Counters.Names.indexOf(counter)).toDouble))
    def sample(n: String) = out.samples.getOrElse(n, Nil).toSeq
    val build = named("SparkEntry.build")
    val plan = named("GraftSession.plan")
    val exec = named("GraftSession.exec")
    val snap = named("sources.snapshot")
    // median wall time of the untraced reads each module owns: the
    // dashboard's roster rows (all graft.operators) and the collector's
    // fresh probes
    val reads = out.ops.filter(o => !o.traced && (o.kind == "query" || o.kind == "probe"))
    val modules = reads.groupBy(o => if (o.kind == "query") "operators" else Module(o.name))
      .toSeq.sortBy(_._1).map { case (mod, os) =>
        (s"$mod.query_ms", Stats.median(os.map(_.ms).toSeq), "ms") }
    val members = for {
      m <- Members; verb <- Seq("refresh", "retract", "compact", "probe", "settled_probe")
      ss = named(s"$m.$verb") if ss.nonEmpty
    } yield (s"$m.${verb}_ms", ms(ss), "ms")
    val memberFiles = for {
      m <- Members; files = sample(s"$m.refresh.files") if files.nonEmpty
    } yield (s"$m.files_per_commit", Stats.mean(files), "count")
    val commits = sample("refresh.files")
    val commitBytes = sample("refresh.bytes")
    // one maintenance pass per run
    val compacts = Members.flatMap(m => named(s"$m.compact"))
    val rounds = out.rounds.toSeq
    val overhead = Stats.median(rounds.filter(_.traced).map(_.ms)) /
      Stats.median(rounds.filterNot(_.traced).map(_.ms)) - 1
    val execMs = exec.map(_.durNs / 1e6).sum
    Seq(
      Option.when(build.nonEmpty)(("SparkEntry.build_ms", ms(build), "ms")),
      Option.when(build.nonEmpty)(("SparkEntry.eager_jobs", perSpan(build, "jobs"), "count")),
      Some(("GraftSession.plan_ms", ms(plan), "ms")),
      Some(("GraftSession.exec_ms", ms(exec), "ms")),
      Some(("GraftSession.jobs", perSpan(exec, "jobs"), "count")),
      Some(("GraftSession.stages", perSpan(exec, "stages"), "count")),
      Some(("GraftSession.tasks", perSpan(exec, "tasks"), "count")),
      Some(("GraftSession.busy_ratio",
        exec.map(_.counters(Counters.Names.indexOf("run_ms"))).sum / (execMs * env.cores), "ratio")),
      Some(("GraftSession.shuffle_bytes", perSpan(exec, "shuffle_bytes"), "bytes")),
      Some(("GraftSession.spill_bytes", perSpan(exec, "spill_bytes"), "bytes")),
      Some(("GraftSession.input_bytes", perSpan(exec, "input_bytes"), "bytes")),
      Some(("GraftSession.gc_ms", Stats.mean(exec.map(_.gcMs.toDouble)), "ms")),
      Option.when(snap.nonEmpty)(("sources.snapshot_ms", ms(snap), "ms")),
      Option.when(snap.nonEmpty)(("sources.live_generations",
        Stats.mean(sample("generations")), "count")),
      Option.when(commits.nonEmpty)(("sources.files_per_commit", Stats.mean(commits), "count")),
      Option.when(commits.nonEmpty)(("sources.bytes_per_commit", Stats.mean(commitBytes), "bytes")),
      Option.when(compacts.nonEmpty)(("sources.compact_ms", compacts.map(_.durNs / 1e6).sum, "ms")),
      Option.when(compacts.nonEmpty)(("sources.compact_bytes_rewritten",
        sample("compact.bytes").sum, "bytes")),
    ).flatten ++ members ++ memberFiles ++ modules ++
      Kernels.run(env).map { case (k, v) => (k, v, "ns") } :+
      (("tracing.overhead", overhead, "ratio"))
  }
}
