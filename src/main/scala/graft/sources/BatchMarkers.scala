package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The shared EXACTLY-ONCE mechanics for foreachBatch maintenance
  * loops: every streaming twin that folds batches into a warehouse
  * uses this ONE implementation (through `StreamTwin.exactlyOnce`).
  *
  * foreachBatch is AT-LEAST-ONCE: after a crash the engine re-delivers
  * the last unacknowledged micro-batch with the same batchId.  The
  * warehouse therefore records each FOLDED id as its own marker file
  * (temp + atomic rename — the CommitLog primitive), and the
  * per-trigger check `id <= lastBatchId` skips a replay with one
  * driver FS listing BEFORE any Spark action.  `record` then PRUNES
  * markers below the new max: the max lands by rename FIRST, so
  * `lastBatchId` can never observe a value lower than one it already
  * served — a crash mid-prune just leaves extra lower markers, never
  * a missing max (this replaces the earlier strictly-append-only
  * form, whose directory grew one file per micro-batch ever).
  *
  * LINEAGE GUARD: the marker ids are only meaningful
  * in the ONE checkpoint lineage that produced them — if the stream's
  * checkpoint directory is deleted or recreated while the markers
  * survive, engine batch ids restart at 0 and every fresh batch would
  * silently skip (id <= marker): silent data loss, the inverse of the
  * loud-failure stance the warehouses take everywhere else.  So a
  * shared run id is stamped INSIDE the checkpoint directory (it dies
  * with the checkpoint) and inside the marker directory (it survives
  * with the markers), and stream start FAILS LOUDLY on any state the
  * markers cannot be trusted in:
  *  - both stamps present and equal  -> proceed (the normal restart);
  *  - both absent, no markers        -> fresh lineage: stamp both;
  *  - checkpoint stamp lost but markers survive (also legacy
  *    unstamped markers) -> THROW — the operator must
  *    either restore the checkpoint or clear the marker directory;
  *  - marker stamp lost but checkpoint survives: if the marker dir is
  *    EMPTY of ids (markers wiped in full) re-stamp and proceed —
  *    lastBatchId is -1, so re-delivered batches re-run WITH the
  *    member's own loud guards (e.g. Edge's re-crawl check) instead
  *    of silently skipping; if .done ids SURVIVE without their stamp
  *    (partial restore) those ids belong to an unknown lineage ->
  *    THROW.
  */
object BatchMarkers {

  private val LineageFile = "graft-lineage"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest recorded batch id, or -1 — one driver FS listing, zero
    * Spark jobs (safe as the FIRST operand of the per-trigger
    * short-circuit). */
  def lastBatchId(spark: SparkSession, markerDir: String): Long = {
    val dir = new Path(markerDir)
    val f = fs(spark, markerDir)
    if (!f.exists(dir)) -1L
    else f.listStatus(dir).iterator
      .map(_.getPath.getName).filter(_.endsWith(".done"))
      .map(_.stripSuffix(".done").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Record `id` as folded: temp write + atomic rename, then PRUNE
    * markers below it — the new max lands first, so `lastBatchId`
    * never observes a gap, and the directory stays O(1) files instead
    * of one per micro-batch ever (the same unbounded-listing growth
    * CommitLog.checkpoint kills for the commit log).
    * Engine batch ids are monotonic within the lineage the guard
    * pins, so a pruned lower id can never be needed again. */
  def record(spark: SparkSession, markerDir: String, id: Long): Unit = {
    writeFile(spark, markerDir, s"_tmp-$id", s"$id.done", "1")
    val dir = new Path(markerDir)
    val f = fs(spark, markerDir)
    f.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".done") && n.stripSuffix(".done").toLong < id)
        f.delete(st.getPath, false)
    }
  }

  private def writeFile(spark: SparkSession, dir0: String, tmpName: String,
      dstName: String, content: String): Unit = {
    val dir = new Path(dir0)
    val f = fs(spark, dir0)
    f.mkdirs(dir)
    val tmp = new Path(dir, tmpName)
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val dst = new Path(dir, dstName)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"marker rename failed: $tmp -> $dst")
  }

  private def readOpt(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(dir, LineageFile)
    val f = fs(spark, dir)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val len = f.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        Some(new String(buf, "UTF-8").trim)
      } finally in.close()
    }
  }

  /** Run at STREAM START, before the query launches (see the object
    * Scaladoc for the full case table). */
  def ensureLineage(spark: SparkSession, checkpointDir: String,
      markerDir: String): Unit = {
    val ck = readOpt(spark, checkpointDir)
    val mk = readOpt(spark, markerDir)
    (ck, mk) match {
      case (Some(a), Some(b)) =>
        if (a != b) throw new IllegalStateException(
          s"BatchMarkers: checkpoint lineage '$a' != marker lineage '$b' — " +
            s"the batchId markers in $markerDir belong to a different " +
            s"checkpoint than $checkpointDir; restore the matching " +
            "checkpoint or clear the marker directory before restarting")
      case (None, Some(b)) =>
        throw new IllegalStateException(
          s"BatchMarkers: checkpoint $checkpointDir carries no lineage stamp " +
            s"but marker directory $markerDir does ('$b') — the checkpoint " +
            "was deleted or recreated, so engine batch ids will restart at 0 " +
            "and every fresh batch would silently skip against the surviving " +
            "markers; restore the checkpoint or clear the marker directory")
      case (Some(a), None) =>
        // the marker-side stamp can only legitimately be absent BEFORE
        // any .done marker exists (ensureLineage stamps before the
        // stream starts) — if batch ids survive without their stamp
        // (partial restore, selective copy), those ids belong to an
        // UNKNOWN lineage and adopting them would re-enable the silent
        // skip this guard exists to prevent
        if (lastBatchId(spark, markerDir) >= 0)
          throw new IllegalStateException(
            s"BatchMarkers: marker directory $markerDir holds batch ids but " +
              "no lineage stamp while the checkpoint carries one — the " +
              "surviving ids cannot be matched to this checkpoint's lineage; " +
              "clear the marker directory or restore it in full")
        writeFile(spark, markerDir, s"_tmp-$LineageFile", LineageFile, a)
      case (None, None) =>
        if (lastBatchId(spark, markerDir) >= 0)
          throw new IllegalStateException(
            s"BatchMarkers: marker directory $markerDir holds batch ids but " +
              "neither side carries a lineage stamp — these markers cannot be " +
              "matched to the (new) checkpoint; clear them or restore the " +
              "original checkpoint")
        val id = java.util.UUID.randomUUID().toString
        writeFile(spark, checkpointDir, s"_tmp-$LineageFile", LineageFile, id)
        writeFile(spark, markerDir, s"_tmp-$LineageFile", LineageFile, id)
    }
  }
}
