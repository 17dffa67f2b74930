package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The at-scale state-store posture: the default
  * HDFSBackedStateStoreProvider keeps ALL keyed state on the executor
  * heap — the per-key bounds our machines enforce don't bound the SUM
  * across keys, so a 100 TB key space eventually OOMs the executors.
  * RocksDBStateStoreProvider spills state to local disk with a bounded
  * block cache, and changelog checkpointing ships per-batch deltas
  * instead of full snapshots. This suite proves the graft state
  * machines are provider-agnostic: identical output under RocksDB (vs
  * the heap runs every other spec pins), and kill-restart recovery from
  * a RocksDB + changelog checkpoint. Throughput comparison lives in
  * docs/STREAMBENCH_r13.md (StreamBench with this suite's two confs
  * set through SPARK_GRAFT_CONF).
  */
class RocksDbStateStoreSpec extends SparkSpec {

  private val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private def withRocksDb[T](body: => T): T = {
    // provider is read from the session conf when a query STARTS, so a
    // scoped set/unset flips only the queries inside `body`
    spark.conf.set(ProviderKey, Provider)
    spark.conf.set(ChangelogKey, "true")
    try body finally { spark.conf.unset(ProviderKey); spark.conf.unset(ChangelogKey) }
  }

  private val M = 1000000L
  private def ts(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L))

  /** Run `batches` through `build`, collecting the union of micro-batch
    * outputs; optionally kill/restart after `interruptAfter` batches. */
  private def run[I: Encoder](batches: Seq[Seq[I]], mode: String,
      interruptAfter: Int = 0)(build: Dataset[I] => DataFrame): Set[String] = {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    val base = java.nio.file.Files.createTempDirectory("rocksdb_spec").toString
    val input = MemoryStream[I]
    def start() = build(input.toDS()).writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$base/cp")
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$base/out/b$id")
      }
      .start()
    var q = start()
    try {
      batches.zipWithIndex.foreach { case (rows, i) =>
        input.addData(rows: _*)
        q.processAllAvailable()
        if (i + 1 == interruptAfter) { q.stop(); q = start() }
      }
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(s"$base/out/b*").toJSON.collect().toSet
  }

  test("TopKState: RocksDB output identical to the heap provider") {
    val s = spark
    import s.implicits._
    import TopKState._
    val batches = Seq(
      (1 to 10).flatMap(i => Seq.fill(11 - i)(In("k", s"w$i"))),
      Seq.fill(6)(In("k", "w1")) ++ Seq.fill(4)(In("k", "fresh")))
    val heap = run(batches, "update")(ds => TopKState(ds).toDF())
    val rocks = withRocksDb { run(batches, "update")(ds => TopKState(ds).toDF()) }
    assert(heap == rocks,
      s"provider changed results:\n H-R=${(heap diff rocks).take(3)}\n R-H=${(rocks diff heap).take(3)}")
    assert(heap.nonEmpty, "vacuous")
  }

  test("SessionTopKState under RocksDB: kill-restart recovers sessions from the changelog checkpoint") {
    val s = spark
    import s.implicits._
    import SessionTopKState._
    val batches = Seq(
      Seq(In("k", "a", ts(100 * M)), In("k", "a", ts(105 * M)), In("k", "b", ts(105 * M))),
      Seq(In("k", "c", ts(120 * M)), In("k", "c", ts(121 * M))),
      Seq(In("k", "b", ts(112 * M))),   // bridge: needs recovered S1 table
      Seq(In("k", "z", ts(165 * M))),
      Seq(In("k", "z2", ts(170 * M))))
    def build(ds: Dataset[In]) =
      SessionTopKState(ds.withWatermark("ts", "30 seconds"), gapMs = 10000L).toDF()
    val (clean, restarted) = withRocksDb {
      (run(batches, "append")(build),
       run(batches, "append", interruptAfter = 1)(build))
    }
    assert(clean == restarted,
      s"RocksDB restart diverged:\n A-B=${(clean diff restarted).take(3)}\n B-A=${(restarted diff clean).take(3)}")
    assert(clean.exists(r => r.contains("\"sessionStart\":100000")
      && r.contains("\"item\":\"a\"") && r.contains("\"count\":2") && r.contains("\"n\":6")),
      s"fused session fire missing under RocksDB: $clean")
  }

  test("EventWindowState.tumblingCarrier under RocksDB matches the heap provider") {
    val s = spark
    import s.implicits._
    import EventWindowState._
    val batches = Seq(
      Seq(EvW("k", 5L, ts(1001 * M), ts(1000 * M)), EvW("k", 7L, ts(1003 * M), ts(1000 * M))),
      Seq(EvW("drv", 1L, ts(1020 * M), ts(1020 * M))),
      Seq(EvW("k", 9L, ts(1002 * M), ts(1021 * M))), // allowed-late re-fire
      Seq(EvW("drv", 1L, ts(1100 * M), ts(1100 * M))))
    def build(ds: Dataset[EvW]) = EventWindowState.tumblingCarrier(
      ds.withWatermark("wmTs", "0 seconds"), sizeMs = 4000L,
      allowedLatenessMs = 10000L).toDF()
    val heap = run(batches, "append")(build)
    val rocks = withRocksDb { run(batches, "append")(build) }
    assert(heap == rocks,
      s"provider changed results:\n H-R=${(heap diff rocks).take(3)}\n R-H=${(rocks diff heap).take(3)}")
    assert(heap.exists(_.contains("\"kind\":\"fire\"")), "vacuous: nothing fired")
  }
}
