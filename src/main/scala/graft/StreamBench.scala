package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming throughput bench: drive representative stateful operators
  * with a MemoryStream and report sustained rows/sec over micro-batches.
  *
  * Context for the numbers: the reference's sources emit 1 element/sec
  * per subtask by design (`func/source/AbstractSourceFunction.java:22-40`
  * — a teaching workbench, not a load generator), so any real
  * throughput figure beats it; this bench exists to put an order of
  * magnitude on the engine's stateful cores rather than to win that
  * comparison. Batches of [[ChunkRows]] approximate a healthy
  * micro-batch size; the measured window EXCLUDES stream start-up
  * (first batch warms codegen + state stores).
  *
  * Usage: `sbt "runMain graft.StreamBench [totalRows]"` → one JSON line
  * `{"metric":"stream_rows_per_sec","ops":{...}}`. For the RocksDB
  * store, set
  * {{{
  * SPARK_GRAFT_CONF="spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider;spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true"
  * }}}
  */
object StreamBench {
  private val ChunkRows = 20000

  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toInt).getOrElse(200000)
    require(total > ChunkRows,
      s"totalRows must exceed the $ChunkRows-row warm-up batch " +
        "(the measured window excludes it; nothing would be timed)")
    val spark = GraftSession()
    // the RocksDB arm (docs/STREAMBENCH_r13.md) is set through
    // SPARK_GRAFT_CONF; the record names the provider it ran on
    val stateStore =
      if (spark.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
        "rocksdb" else "heap"
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // sink path handoff from the partitioned_ingest row to its seal row
    // (the Seq's blocks evaluate in order)
    var ingestBase: String = null

    def measure[T](name: String, rows: Int)(run: (Int, Int) => Unit): (String, Long) = {
      // run(chunkStart, chunkEnd) feeds one chunk and drains it
      run(0, ChunkRows) // warm-up batch: codegen + state store init
      val t0 = System.nanoTime()
      var fed = ChunkRows
      while (fed < rows) {
        val end = math.min(fed + ChunkRows, rows)
        run(fed, end)
        fed = end
      }
      val sec = (System.nanoTime() - t0) / 1e9
      (name, math.round((rows - ChunkRows) / sec))
    }

    val results = Seq(
      {
        val in = MemoryStream[streaming.TopKState.In]
        val q = streaming.TopKState(in.toDS())
          .writeStream.format("noop").outputMode("update").start()
        val r = measure("topk_spacesaving", total) { (a, b) =>
          in.addData((a until b).map(i =>
            streaming.TopKState.In(s"k${i % 64}", s"it${i % 1000}")): _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.SketchState.In]
        val q = streaming.SketchState(in.toDS())
          .writeStream.format("noop").outputMode("update").start()
        val r = measure("hll_cardinality", total) { (a, b) =>
          in.addData((a until b).map(i =>
            streaming.SketchState.In(s"k${i % 64}", i.toLong * 2654435761L)): _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.AnomalyState.In]
        val q = streaming.AnomalyState(in.toDS())
          .writeStream.format("noop").outputMode("append").start()
        val r = measure("welford_anomaly", total) { (a, b) =>
          in.addData((a until b).map(i =>
            streaming.AnomalyState.In(s"k${i % 64}", i.toLong, (i % 97).toDouble)): _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.PatternState.Ev]
        val q = streaming.PatternState(in.toDS().withWatermark("ts", "1 hour"))
          .writeStream.format("noop").outputMode("append").start()
        val types = Array("view", "click", "purchase", "error", "signup")
        val r = measure("cep_pattern", total) { (a, b) =>
          in.addData((a until b).map { i =>
            streaming.PatternState.Ev(i.toLong, (i % 64).toLong, types(i % 5),
              java.sql.Timestamp.from(java.time.Instant.EPOCH.plusSeconds(i.toLong)))
          }: _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.WindowedTopKState.In]
        val q = streaming.WindowedTopKState(
            in.toDS().withWatermark("ts", "10 seconds"), sizeMs = 60000L)
          .writeStream.format("noop").outputMode("append").start()
        val r = measure("windowed_topk", total) { (a, b) =>
          // row i lands at second i/1000 → windows roll over as the
          // stream advances, so fires + purges are part of the cost
          in.addData((a until b).map(i =>
            streaming.WindowedTopKState.In(s"k${i % 64}", s"it${i % 1000}",
              java.sql.Timestamp.from(
                java.time.Instant.EPOCH.plusMillis(1000L + i.toLong)))): _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.WindowedSketchState.In]
        val q = streaming.WindowedSketchState(
            in.toDS().withWatermark("ts", "10 seconds"), sizeMs = 60000L)
          .writeStream.format("noop").outputMode("append").start()
        val r = measure("windowed_hll", total) { (a, b) =>
          in.addData((a until b).map(i =>
            streaming.WindowedSketchState.In(s"k${i % 64}", i.toLong * 2654435761L,
              java.sql.Timestamp.from(
                java.time.Instant.EPOCH.plusMillis(1000L + i.toLong)))): _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.WindowedTopKState.InW]
        val q = streaming.WindowedTopKState.lateCarrier(
            in.toDS().withWatermark("wmTs", "10 seconds"),
            sizeMs = 60000L, allowedLatenessMs = 30000L)
          .writeStream.format("noop").outputMode("update").start()
        // same roll-over shape as windowed_topk, with the lateness
        // lifecycle active (windows linger 30 s past end before purge)
        val r = measure("windowed_topk_late", total) { (a, b) =>
          in.addData((a until b).map { i =>
            val t = java.sql.Timestamp.from(
              java.time.Instant.EPOCH.plusMillis(1000L + i.toLong))
            streaming.WindowedTopKState.InW(s"k${i % 64}", s"it${i % 1000}", t, t)
          }: _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        val in = MemoryStream[streaming.SessionTopKState.In]
        val q = streaming.SessionTopKState(
            in.toDS().withWatermark("ts", "10 seconds"), gapMs = 5000L)
          .writeStream.format("noop").outputMode("append").start()
        // per-key inter-arrival 64 ms < gap → one live session per key
        // inside a chunk; each chunk jumps the clock 1 h so the previous
        // chunk's 64 sessions fire and purge — full session lifecycle
        // (extend, fire on watermark, purge) is inside the measurement
        val r = measure("session_topk", total) { (a, b) =>
          in.addData((a until b).map { i =>
            val t = java.sql.Timestamp.from(java.time.Instant.EPOCH.plusMillis(
              1000L + i.toLong + (i / ChunkRows).toLong * 3600000L))
            streaming.SessionTopKState.In(s"k${i % 64}", s"it${i % 1000}", t)
          }: _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        // the session machine WITH allowedLateness on merging windows
        // (SessionTopKState.lateCarrier): same key/clock shape as
        // session_topk, but 1/16 of events arrive with ts 15 s behind
        // the carrier watermark — inside the 30 s lateness horizon, so
        // they fold into retained (open or fired) sessions and trigger
        // the batched re-fire path; events landing just after a chunk's
        // 1 h clock jump fall BEYOND lateness and exit as kind='late'
        // side-output rows. The delta vs session_topk prices the
        // retained-session bookkeeping + late-fold machinery.
        val in = MemoryStream[streaming.SessionTopKState.InL]
        val q = streaming.SessionTopKState.lateCarrier(
            in.toDS().withWatermark("wmTs", "10 seconds"),
            gapMs = 5000L, allowedLatenessMs = 30000L)
          .writeStream.format("noop").outputMode("update").start()
        val r = measure("session_topk_late", total) { (a, b) =>
          in.addData((a until b).map { i =>
            val base = 1000L + i.toLong + (i / ChunkRows).toLong * 3600000L
            val ts = if (i % 16 == 0) base - 15000L else base
            streaming.SessionTopKState.InL(s"k${i % 64}", s"it${i % 1000}",
              java.sql.Timestamp.from(java.time.Instant.EPOCH.plusMillis(ts)),
              java.sql.Timestamp.from(java.time.Instant.EPOCH.plusMillis(base)))
          }: _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        // streaming ingest into the date-partitioned parquet layout
        // (PartitionedIngest.start): every micro-batch commits real
        // parquet files across 4 day directories behind the
        // FileStreamSink metadata log — the path a 100 TB events table
        // is ingested through. Prices the end-to-end sink (encode +
        // file write + log commit), not just state machinery.
        val base = java.nio.file.Files.createTempDirectory("sb_ingest").toString
        ingestBase = base // the seal row below closes out this sink
        val in = MemoryStream[(Long, java.sql.Timestamp)]
        val q = streaming.PartitionedIngest.start(
          in.toDF().select($"_1".as("event_id"), $"_2".as("ts")),
          s"$base/sink", s"$base/ckpt")
        val r = measure("partitioned_ingest", total) { (a, b) =>
          in.addData((a until b).map { i =>
            (i.toLong, java.sql.Timestamp.from(java.time.Instant.EPOCH
              .plusMillis((i % 4).toLong * 86400000L + i.toLong)))
          }: _*)
          q.processAllAvailable()
        }
        q.stop(); r
      },
      {
        // seal cost over the sink the previous row just ingested: the
        // nightly close-out rewrite (read through the commit log,
        // coalesce each day's accumulated micro-batch files, rewrite as
        // a plain partitioned serving copy). Rows/s of the REWRITE —
        // the capacity-plan number for the maintenance window, priced
        // on the real fragmented shape a day of micro-batches leaves.
        val t0 = System.nanoTime()
        val stats = streaming.PartitionedIngest.seal(
          spark, s"$ingestBase/sink", s"$ingestBase/serving")
        val sec = (System.nanoTime() - t0) / 1e9
        ("ingest_seal", math.round(stats.rowsSealed / sec))
      },
      {
        // the snapshot-isolated counterpart over the SAME sink
        // (storage.VersionedServing.seal): fresh generation + manifest
        // publish instead of the in-place overwrite — the re-seal form
        // that is safe under live readers. Same capacity question,
        // isolation included.
        val t0 = System.nanoTime()
        val stats = graft.storage.VersionedServing.seal(
          spark, s"$ingestBase/sink", s"$ingestBase/serving_v")
        val sec = (System.nanoTime() - t0) / 1e9
        ("ingest_seal_versioned", math.round(stats.rowsSealed / sec))
      },
      {
        // the versioned seal with the Morton-curve layout on
        // (event_id, ts): the same capacity question with within-day
        // clustering included — what the bound pass + range exchange
        // cost at close-out (SCALEPROBE_r17 §7 prices the read side).
        val t0 = System.nanoTime()
        val stats = graft.storage.VersionedServing.seal(
          spark, s"$ingestBase/sink", s"$ingestBase/serving_z",
          zorder = Some(("event_id", "ts")))
        val sec = (System.nanoTime() - t0) / 1e9
        ("ingest_seal_zorder", math.round(stats.rowsSealed / sec))
      },
      {
        // the versioned seal with a bloom filter on the id column: the
        // same capacity question with point-lookup row-group skipping
        // included — what the filter build costs at close-out
        // (SCALEPROBE_r17 §12 prices the read side). The expected-ndv
        // hint is derived from the fixture, not hard-coded: the ingest
        // row above wrote `total` unique event_ids round-robin across 4
        // day directories, so each sealed day holds total/4 distinct
        // ids — a mis-sized hint distorts fpp/footprint (§13), so the
        // hint must track the fixture if its shape ever drifts.
        val t0 = System.nanoTime()
        val stats = graft.storage.VersionedServing.seal(
          spark, s"$ingestBase/sink", s"$ingestBase/serving_b",
          writeOptions = graft.storage.Layout.bloomOptions(
            Map("event_id" -> math.max(1L, total / 4L))))
        val sec = (System.nanoTime() - t0) / 1e9
        ("ingest_seal_bloom", math.round(stats.rowsSealed / sec))
      },
      {
        // the SELF-DRIVING close-out over the same sink: sealTouched
        // derives its day list from the sink's commit log before
        // sealing — this row prices discovery (a metadata-only log
        // read) + the seal together, against ingest_seal_versioned
        // (the told-its-days form of the same write).
        val t0 = System.nanoTime()
        val stats = graft.storage.VersionedServing.sealTouched(
          spark, s"$ingestBase/sink", s"$ingestBase/serving_t")
        val sec = (System.nanoTime() - t0) / 1e9
        ("ingest_seal_touched", math.round(stats.rowsSealed / sec))
      },
      {
        // the manifest-log CONSUMER over the root the previous row
        // sealed: one re-seal publishes a one-day delta, and the
        // follower's poll resolves + delivers exactly that slice.
        // Rows/s of the DELIVERED slice (feed resolution, metadata-only,
        // rides inside) — the index-refresh consumer's capacity number.
        val root = s"$ingestBase/serving_t"
        val v1 = graft.storage.VersionedServing.currentVersion(spark, root)
        val follower = new graft.storage.ServingFollower(spark, root,
          startAfter = Some(v1))
        val day = graft.storage.VersionedServing.servedDays(spark, root).head
        graft.storage.VersionedServing.sealDays(
          spark, s"$ingestBase/sink", root, Seq(day))
        var fed = 0L
        val t0 = System.nanoTime()
        follower.poll() { (_, _, df) => fed = df.count() }
        val sec = (System.nanoTime() - t0) / 1e9
        ("serving_feed", math.round(fed / sec))
      },
      {
        // the COMPOSED nightly dedup-index leg over a versioned
        // DOCUMENTS root: follower poll → sketch the delivered batch
        // ONCE → disposition it against the persisted sketch artifact
        // (semi-join key probes only) → fold the batch sketch in
        // per-day-replace. The corpus index is 10× the batch, but
        // corpus text is never re-read inside the measured window —
        // the leg's cost is bounded by sketching the BATCH plus key
        // probes, the ratio-independence the artifact exists to buy
        // (SCALEPROBE_r19 §3 priced the re-sketch alternative at 4.3×).
        // Rows/s of the delivered batch DOCUMENTS, beside serving_feed;
        // ServingFollowerSpec pins the loop's correctness.
        import org.apache.spark.sql.functions.{col, lit}
        val base = java.nio.file.Files.createTempDirectory("sb_docfeed").toString
        val (sink, root, sketchRoot) = (s"$base/sink", s"$base/serving", s"$base/sketch")
        val lex = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
          "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
          "november", "oscar", "papa")
        def dtext(seed: Int) =
          (0 until 24).map(j => lex((seed * 7 + j * 3) % lex.length) + (seed % 97))
            .mkString(" ")
        val corpusN = math.max(2000, total / 10)
        val batchN = math.max(200, corpusN / 10)
        def writeDay(day: String, rows: Seq[(Long, String)], mode: String): Unit =
          rows.toDF("doc_id", "text")
            .withColumn("ts_date", lit(day).cast("date"))
            .write.mode(mode).partitionBy("ts_date").parquet(sink)
        def sketchTo(days: Seq[String], df: org.apache.spark.sql.DataFrame): Unit =
          days.foreach { d =>
            graft.ops.Dedup.sketchOf(
                df.filter(col("ts_date") === lit(d).cast("date"))
                  .select("doc_id", "text"))
              .write.mode("overwrite").parquet(s"$sketchRoot/ts_date=$d")
          }
        writeDay("2024-03-01", (0 until corpusN).map(i => (i.toLong, dtext(i))),
          "overwrite")
        graft.storage.VersionedServing.sealDays(spark, sink, root, Seq("2024-03-01"))
        val follower = new graft.storage.ServingFollower(spark, root)
        // bootstrap feed batch builds the persisted corpus sketch — the
        // one-time index build, outside the measured window
        follower.poll() { (_, days, df) => sketchTo(days, df) }
        // the nightly batch: 1-in-10 an exact copy of a corpus doc
        writeDay("2024-03-02", (0 until batchN).map { i =>
          ((corpusN + i).toLong, if (i % 10 == 0) dtext(i) else dtext(corpusN + i))
        }, "append")
        graft.storage.VersionedServing.sealDays(spark, sink, root, Seq("2024-03-02"))
        var dispositioned = 0L
        val t0 = System.nanoTime()
        follower.poll() { (_, days, df) =>
          val byDay = days.map { d =>
            d -> graft.ops.Dedup.sketchOf(
              df.filter(col("ts_date") === lit(d).cast("date"))
                .select("doc_id", "text")).localCheckpoint()
          }
          val idxDays = new java.io.File(sketchRoot).listFiles()
            .map(_.getName).filter(_.startsWith("ts_date="))
            .map(_.stripPrefix("ts_date=")).filterNot(days.contains).sorted
          val idx = spark.read.parquet(idxDays.map(d => s"$sketchRoot/ts_date=$d"): _*)
          dispositioned = graft.ops.Dedup.sketchedDispositions(idx,
            byDay.map(_._2).reduce(_ unionByName _)).count()
          byDay.foreach { case (d, sk) =>
            sk.write.mode("overwrite").parquet(s"$sketchRoot/ts_date=$d") }
        }
        val sec = (System.nanoTime() - t0) / 1e9
        require(dispositioned == batchN,
          s"nightly leg dispositioned $dispositioned of $batchN batch docs")
        ("nightly_dedup_leg", math.round(batchN / sec))
      },
      {
        // ingest-time BPE encode (StreamingBpe): per-batch published-chain
        // re-read + the one-projection literal-replace encode. Rows here
        // are DOCUMENTS (8 words each), so tokens/s ≈ 8× the figure.
        // Training runs once, before the measured window, as in production.
        val base = java.nio.file.Files.createTempDirectory("sb_bpe").toString
        val words = Array("alpha", "bravo", "charlie", "delta",
          "echo", "foxtrot", "golf", "hotel")
        def text(i: Int) =
          (0 until 8).map(j => words((i + j * 3) % words.length)).mkString(" ")
        val corpus = (0 until 2000).map(i => (i.toLong, text(i)))
          .toDF("doc_id", "text")
        streaming.StreamingBpe.trainAndPublish(spark, s"$base/merges", corpus)
        val in = MemoryStream[(Long, String)]
        val docs = in.toDF().select($"_1".as("doc_id"), $"_2".as("text"))
        val q = streaming.StreamingBpe.start(docs, s"$base/merges") { (batch, _) =>
          batch.write.format("noop").mode("overwrite").save()
        }
        val r = measure("bpe_encode_docs", total) { (a, b) =>
          in.addData((a until b).map(i => (i.toLong, text(i))): _*)
          q.processAllAvailable()
        }
        q.stop(); r
      }
    )

    val js = results.map { case (n, r) => s""""$n":$r""" }.mkString(",")
    println(s"""{"metric":"stream_rows_per_sec","state_store":"$stateStore","total_rows":$total,"ops":{$js}}""")
    spark.stop()
  }
}
