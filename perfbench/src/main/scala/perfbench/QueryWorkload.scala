package perfbench

/** The dashboard workload: rounds over a fixed roster of registered
  * queries, each round in a seeded order, one client, closed loop.
  * A query is one operation: the builder call, forcing the physical
  * plan, and the noop write that runs it. */
object QueryWorkload {
  /** The fcd REST read side: dashboard shapes plus at-rest probes,
    * all owned by graft.operators. */
  val Roster: Seq[String] = Seq(
    "q_active_accounts_probe", "q_price_hourly", "q_richlist",
    "q_richlist_probe", "q_ts_anomaly_probe", "q_ts_recent_window",
    "q_tx_point_lookup", "q_txvol_cumulative", "q_txvol_daily",
    "q_vote_tally")

  /** Warm-up runs untimed rounds of the timed path until a round is
    * not WarmGain faster than the best round before it, and at least
    * MinWarm and at most MaxWarm rounds. */
  val MinWarm = 2
  val MaxWarm = 3
  val WarmGain = 0.05

  /** One query through the three layers it crosses. */
  def runQuery(env: Env, name: String): Unit = {
    val t = env.trace
    t.span(s"query:$name") {
      val df = t.span("SparkEntry.build") {
        graft.SparkEntry.queries(name)(env.spark, env.data)
      }
      t.span("GraftSession.plan")(df.queryExecution.executedPlan)
      t.span("GraftSession.exec")(env.noop(df))
    }
  }

  /** The set-up round: writes each roster result once, for run.py's
    * oracle check, plus the oracle SQL of the rows that have one.  The
    * first call of each query also builds the warehouses it reads. */
  private def dump(env: Env, out: Outcome): Unit = {
    Roster.foreach { q =>
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(q)(env.spark, env.data)
        .coalesce(1).write.mode("overwrite").parquet(s"${env.root}/dump/$q")
      catch { case e: Throwable => out.errors += s"$q: ${e.getMessage}" }
      out.figures(s"setup_ms.$q") = (System.nanoTime() - t0) / 1e6
    }
    Main.writeJson(s"${env.root}/dump/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (k, _) => Roster.contains(k) })
  }

  /** One pass over `order`; returns its wall time in ms and, when
    * `round` >= 0, records each query as a timed op. */
  private def pass(env: Env, out: Outcome, order: Seq[String], round: Int): Double = {
    val r0 = System.nanoTime()
    order.foreach { q =>
      val t0 = System.nanoTime()
      val ok =
        try { runQuery(env, q); true }
        catch { case e: Throwable => out.errors += s"$q: ${e.getMessage}"; false }
      if (round >= 0)
        out.ops += Op("query", q, round, (System.nanoTime() - t0) / 1e6, ok, env.trace.on)
    }
    (System.nanoTime() - r0) / 1e6
  }

  def run(env: Env): Outcome = {
    val out = new Outcome
    dump(env, out)
    var best = Double.MaxValue
    var falling = true
    while (out.warmupMs.size < MaxWarm && (out.warmupMs.size < MinWarm || falling)) {
      val ms = pass(env, out, Roster, -1)
      falling = ms < best * (1 - WarmGain)
      best = math.min(best, ms)
      out.warmupMs += ms
    }
    val rng = new scala.util.Random(env.seed)
    out.firstOpEpochMs = System.currentTimeMillis()
    for (round <- 0 until env.rounds) {
      val traced = env.traceRound(round)
      out.rounds += Round(pass(env, out, rng.shuffle(Roster), round), traced)
    }
    env.trace.on = false
    out
  }
}
