package graft.storage

import org.apache.spark.sql.SparkSession

/** The ONE job a deployment crons against the events lifecycle — the
  * operational composition of the pieces, in their safe order:
  *
  *  1. [[VersionedServing.sealTouched]]: re-seal exactly the days the
  *     ingest touched since the last close-out (derived from the sink's
  *     commit log — nobody names the days), publish one manifest.
  *  2. [[VersionedServing.expire]] (when a horizon is given): drop
  *     days strictly older than `keepFrom` from the manifest —
  *     metadata-only; bytes follow when old manifests age out of the
  *     grace window.
  *  3. [[graft.streaming.PartitionedIngest.vacuumOrphans]] (opt-in):
  *     sweep crashed-task leftovers from the live sink. Last, and only
  *     when asked — it refuses under an in-session writer, and its
  *     mtime grace is the only guard against writers this JVM cannot
  *     see, so a deployment co-scheduling ingest restarts should run it
  *     in the ingest job's own maintenance slot instead.
  *
  * The summary is the operator's alert surface: `beyondHorizon`
  * non-empty means a late event targeted an expired day and was
  * REFUSED (never resurrected). The refusal is DURABLE: the publish
  * that advances the bookmark past a refused day records it in the
  * manifest (`#refused`), so `refusedOutstanding` — sourced from
  * [[VersionedServing.refusedLates]], not from this run's observation —
  * stays non-empty at every close-out until someone acts
  * ([[VersionedServing.acknowledgeRefusals]] after extending retention
  * or accepting the drop). Losing a cron log no longer loses the only
  * record that rows were refused.
  *
  * Usage: `runMain graft.storage.NightlyCloseout <sinkPath> <servingRoot>
  *   [keepFrom|-] [zorderColA zorderColB | - -] [bloomSpec|-] [vacuum]
  *   [targetBytes=<n>]`
  * — `-` skips an optional position (same sentinel convention as
  * [[ServingBootstrap]]); `bloomSpec` is `col:expectedNdv[,...]`;
  * a literal `vacuum` anywhere enables step 3; `targetBytes=<n>`
  * overrides the 128 MB per-file sizing target a non-default
  * deployment needs. SCALING.md's
  * recommendation for a dense events table: `zorder user_id ts` +
  * bloom on the point-lookup id columns — measured CHEAPER to write
  * than a plain seal at production density (SCALEPROBE_r18 §2). */
object NightlyCloseout {

  /** What one close-out did — the fields an operator pages on.
    * `beyondHorizon` is THIS run's fresh refusals; `refusedOutstanding`
    * is the standing durable record (manifest `#refused` entries, this
    * run's included) — the field to page on. */
  final case class Summary(
      sealedDays: Seq[String], rowsSealed: Long, sealedThrough: Option[Long],
      beyondHorizon: Seq[String], expiredDays: Seq[String],
      vacuumedOrphans: Seq[String],
      refusedOutstanding: Map[String, Long])

  /** The composition, testable without a session of its own. */
  def run(spark: SparkSession, sinkPath: String, root: String,
      keepFrom: Option[String] = None,
      zorder: Option[(String, String)] = None,
      writeOptions: Map[String, String] = Map.empty,
      parallelism: Int = 1,
      vacuum: Boolean = false,
      vacuumGraceMs: Long = 15 * 60 * 1000L,
      targetBytes: Long = 128L * 1024 * 1024): Summary = {
    val t = VersionedServing.sealTouched(spark, sinkPath, root,
      keepFrom = keepFrom, targetBytes = targetBytes,
      parallelism = parallelism,
      zorder = zorder, writeOptions = writeOptions)
    val expired = keepFrom.map(VersionedServing.expire(spark, root, _))
      .getOrElse(Nil)
    val vacuumed =
      if (vacuum)
        graft.streaming.PartitionedIngest.vacuumOrphans(spark, sinkPath, vacuumGraceMs)
      else Nil
    Summary(t.days, t.rowsSealed, t.sealedThrough, t.beyondHorizon,
      expired, vacuumed,
      // the durable alert: manifest #refused entries (which include any
      // this close-out just recorded), surviving the cron log
      refusedOutstanding = VersionedServing.refusedLates(spark, root))
  }

  def main(args: Array[String]): Unit = {
    val Array(sink, root) = args.take(2)
    // flag-like args are non-positional EVERYWHERE: a `vacuum` or
    // `targetBytes=` sitting where keepFrom belongs must never be
    // consumed as a day horizon — expire compares day strings
    // lexicographically, so a stray flag read as keepFrom would sort
    // above every date and expire ALL served days in one close-out
    val (flags, positional) = args.drop(2)
      .partition(a => a == "vacuum" || a.startsWith("targetBytes="))
    val keepFrom = positional.lift(0).filter(_ != "-")
    keepFrom.foreach { k =>
      require(k.matches("""\d{4}-\d{2}-\d{2}"""),
        s"keepFrom must be YYYY-MM-DD (or '-'), got '$k'")
    }
    val zorder = (positional.lift(1).filter(_ != "-"),
        positional.lift(2).filter(_ != "-")) match {
      case (Some(a), Some(b)) => Some((a, b))
      case _ => None
    }
    val bloom = positional.lift(3).filter(_ != "-").map { spec =>
      Layout.bloomOptions(spec.split(',').map { s =>
        val Array(c, n) = s.split(':'); c -> n.toLong
      }.toMap)
    }.getOrElse(Map.empty[String, String])
    require(positional.length <= 4,
      s"unrecognized positional args: ${positional.drop(4).mkString(" ")}")
    val vacuum = flags.contains("vacuum")
    val targetBytes = flags.collectFirst {
      case a if a.startsWith("targetBytes=") =>
        a.stripPrefix("targetBytes=").toLong
    }.getOrElse(128L * 1024 * 1024)
    val cpus = graft.GraftSession.envCpus
    val spark = graft.GraftSession(cpus)
    val s = run(spark, sink, root, keepFrom, zorder, bloom,
      parallelism = cpus, vacuum = vacuum, targetBytes = targetBytes)
    println(s"close-out: sealed ${s.sealedDays.size} days " +
      s"(${s.sealedDays.mkString(", ")}), ${s.rowsSealed} rows, " +
      s"bookmark ${s.sealedThrough.getOrElse("-")}; " +
      s"expired ${s.expiredDays.size}; vacuumed ${s.vacuumedOrphans.size} orphans" +
      (if (s.beyondHorizon.nonEmpty)
        s"; ALERT beyond-horizon days refused: ${s.beyondHorizon.mkString(", ")}"
      else "") +
      (if (s.refusedOutstanding.nonEmpty)
        s"; OUTSTANDING refusals (acknowledgeRefusals to clear): " +
          s.refusedOutstanding.toSeq.sorted
            .map { case (d, b) => s"$d@batch$b" }.mkString(", ")
      else ""))
    spark.stop()
  }
}
