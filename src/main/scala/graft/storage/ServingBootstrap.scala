package graft.storage

import org.apache.spark.sql.functions._

/** Deployment bootstrap CLI for the versioned events serving copy:
  * seal an existing batch events table into a [[VersionedServing]]
  * root, after which the query surface serves it via
  * {{{
  *   spark.graft.layout.events.enabled=true
  *   spark.graft.layout.events.servingDir=<root>
  * }}}
  * and the streaming lifecycle takes over (ingest via
  * [[graft.streaming.PartitionedIngest.start]], nightly
  * [[VersionedServing.sealDays]], [[VersionedServing.expire]]).
  *
  * Usage: `runMain graft.storage.ServingBootstrap <sfDir> <servingRoot>
  *         [zorderColA zorderColB [bloomSpec]]` — the optional column
  * pair lays every day out on the Morton curve
  * ([[VersionedServing.sealFrame]]'s `zorder`), e.g. `user_id ts` for
  * user-and-time-sliced dashboards; `bloomSpec` is
  * `col:expectedNdv[,col:expectedNdv...]` ([[Layout.bloomOptions]]).
  * Pass `- -` for the pair to enable bloom WITHOUT z-order — the two
  * layers are independent and a bloom-only bootstrap is a legitimate
  * deployment (point lookups without the range-exchange premium).
  *
  * This is also the harness hook for the serving-deployment identity
  * proof: bootstrap a root from a testdata dir, then run the FULL
  * `graft.Verify` oracle surface with the two confs above
  * (`SPARK_GRAFT_CONF`) — every events consumer answers from the
  * sealed copy and must hash-match DuckDB over the raw table. */
object ServingBootstrap {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, root) = args.take(2)
    val spark = graft.GraftSession()
    // "- -" is the explicit no-z-order sentinel, so the bloom spec at
    // args(4) is reachable without also opting into the curve
    val zorder = if (args.length >= 4 && args(2) != "-") Some((args(2), args(3))) else None
    // args(4): optional bloom spec "col:expectedNdv,col:expectedNdv"
    val bloom = if (args.length >= 5)
      Layout.bloomOptions(args(4).split(',').map { s =>
        val Array(c, n) = s.split(':'); c -> n.toLong
      }.toMap)
    else Map.empty[String, String]
    val events = graft.Tables.eventsNormalized(spark, sfDir)
      .withColumn("ts_date", Layout.utcDate(col("ts")))
    val stats = VersionedServing.sealFrame(spark, events, root, zorder = zorder,
      writeOptions = bloom)
    println(s"sealed ${stats.rowsSealed} rows into $root " +
      s"(${VersionedServing.servedDays(spark, root).length} days, " +
      s"beyondHorizon=${stats.rowsBeyondHorizon})")
    spark.stop()
  }
}
