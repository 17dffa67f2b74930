package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent storage layouts — the write-side half of the 100 TB
  * contract. Every read-side operator in graft assumes its inputs can be
  * laid out so the heavy exchanges disappear; this is the module that
  * produces those layouts.
  *
  * Two layouts, each matching a Spark planner capability:
  *
  *  - '''Bucketed tables''' (hash-partitioned files + catalog metadata):
  *    a join or aggregation keyed on the bucket column reads co-located
  *    buckets and plans with NO shuffle Exchange on the bucketed side.
  *    At 100 TB this converts the nightly fact⋈fact join from "shuffle
  *    both tables every run" to "shuffle once at write time, never at
  *    read time" — the single biggest recurring-cost lever a warehouse
  *    layout owns. `sortBy` additionally pre-sorts within each bucket
  *    file, which removes the per-run Sort under SortMergeJoin when
  *    there is one file per bucket.
  *
  *  - '''Hive-style partitioned directories''' (`partitionBy` columns in
  *    the path): a filter on the partition column prunes whole
  *    directories at PLANNING time — the scan never lists, opens, or
  *    reads a pruned partition. This is the layout for time-ranged fact
  *    data (`events` by day): an incremental job touching yesterday
  *    reads one directory of thousands regardless of total table size.
  *
  * The two compose (`writePartitionedBucketed`): partition directories
  * prune the time range, buckets inside each directory co-locate the
  * join key — the standard lakehouse fact layout.
  *
  * Bucketed writes go through `saveAsTable` (bucketing lives in catalog
  * metadata, not in the files), with an explicit `path` so the data
  * lands where the caller says (external table) rather than in the
  * session warehouse. Reads go through `spark.table(name)` — reading
  * the path directly sees plain parquet and silently loses the
  * exchange-free plans; LayoutSpec pins both directions.
  */
object Layout {

  /** Write `df` as an external bucketed parquet table: `buckets` hash
    * buckets on `key`, each bucket file sorted by `key` (plus any
    * `alsoSortBy` tiebreaks). Equi-joins and aggregations on `key`
    * against this table plan without a shuffle Exchange; matching
    * bucket counts on both join sides remove BOTH exchanges.
    *
    * The pre-write `repartition(buckets, key)` matters twice over: it
    * yields exactly ONE file per bucket (each writer task owns one
    * bucket id — repartition and bucketing share the same Murmur3
    * hash), which (a) lets the planner trust the per-bucket sort order
    * and drop the SortMergeJoin re-sort entirely, and (b) prevents the
    * tasks×buckets small-file explosion a naive bucketed write produces
    * at cluster parallelism. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int, alsoSortBy: Seq[String] = Nil): Unit =
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key, alsoSortBy: _*)
      .option("path", path)
      .saveAsTable(table)

  /** Write `df` as Hive-style partitioned parquet directories. Callers
    * pick LOW-cardinality columns (a date, a source tag): each distinct
    * value is one directory, and at 100 TB a high-cardinality partition
    * column is death by small files. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** The composed lakehouse fact layout: partition directories for
    * pruning + buckets inside each for co-located joins. */
  def writePartitionedBucketed(df: DataFrame, table: String, path: String,
      partitionCols: Seq[String], key: String, buckets: Int): Unit =
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite").format("parquet")
      .partitionBy(partitionCols: _*)
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Catalog read — the ONLY read that sees bucket metadata. */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Conf key switching `Tables.documents` onto the bucketed layout. */
  val EnabledKey = "spark.graft.layout.enabled"
  /** Root directory for serve-side layout copies (local/tmp by default;
    * a cluster deployment points it at shared storage). */
  val DirKey = "spark.graft.layout.dir"

  /** Bucket-count sizing: one bucket per ~[[targetBucketBytes]] of
    * source bytes, clamped to [4, 4096]. The count is a LAYOUT-JOB
    * parameter, not a constant: the r13 bench record proved that a
    * fixed 32 buckets on a 5,000-row sf0.1 corpus pins 32 single-file
    * scan tasks where the raw scan is ONE — and because the dedup
    * family's `.materialized` pins preserve partitioning (AQE never
    * coalesces a checkpoint read), every downstream stage inherited the
    * 32-way shape: ~24× the task count per query and a map-side combine
    * so degraded that shuffle bytes went UP on the fingerprint-keyed
    * aggregations. Sizing by bytes gives the tiny test corpus 4 buckets
    * (task overhead at noise level, combining near-raw) and a 100 TB
    * corpus thousands — the same property, "bucket files around a
    * healthy parquet size", at both ends. */
  def autoBuckets(sourceBytes: Long): Int =
    math.min(4096L, math.max(4L,
      (sourceBytes + targetBucketBytes - 1) / targetBucketBytes)).toInt

  /** ~128 MB of source bytes per bucket — parquet's happy file size. */
  val targetBucketBytes: Long = 128L * 1024 * 1024

  /** The SERVING-PATH bucketed `documents` (SCALEPROBE_r12 §3 proved the
    * layout; this wires it in): [[autoBuckets]]-sized buckets on doc_id,
    * built once per source-corpus CONTENT under [[DirKey]] and
    * registered in the session catalog, then every doc_id-keyed
    * aggregation/join in the dedup family's front half (shingle index,
    * minhash signatures, tokenize passes) plans WITHOUT its leading
    * corpus-sized exchange. Reads return the catalog table (bucket
    * metadata lives there, not in the files).
    *
    * Cache key is a SHA-256 fingerprint of the source listing (every
    * file's name + length + mtime, resolved through the Hadoop
    * FileSystem so hdfs://-style dirs work) plus the bucket count: a
    * regenerated documents.parquet, a changed sizing, or two dirs that
    * merely collide on String.hashCode all get distinct tables instead
    * of silently sharing a stale one. A vanished output path (tmp
    * cleanup) or missing catalog entry rebuilds; superseded copies are
    * dead weight under [[DirKey]], never served. The one-time write
    * cost is the recurring-vs-once arithmetic of the 100 TB layout
    * decision — at cluster scale this is the nightly ingest job, not a
    * lazy build. `buckets = 0` (default) means size from the data. */
  def bucketedDocuments(spark: SparkSession, dir: String, buckets: Int = 0): DataFrame =
    this.synchronized {
      served(spark, s"docs|$dir|$buckets", Seq(s"$dir/documents.parquet")) {
        val (files, srcBytes) = sourceListing(spark, s"$dir/documents.parquet")
        val n = if (buckets > 0) buckets else autoBuckets(srcBytes)
        Seq(serveBucketed(spark, s"$dir/documents.parquet", "docs", "doc_id", n, files))
      } match { case Seq((name, _)) => spark.table(name) }
    }

  /** Per-session cache of serve-side resolutions: the full recursive
    * source listing + SHA-256 fingerprint is an O(files) driver cost
    * that used to run on EVERY `Tables.documents`/`lineitem`/`orders`
    * access under this object's global lock — per query CONSTRUCTION,
    * inside Bench's timed samples (where the raw arm has no
    * equivalent), and serializing concurrent readers. Steady-state
    * serving is now a map lookup guarded by a cheap per-access
    * signature ([[quickSig]]: root mtime + direct-child names/lens/
    * mtimes from ONE listStatus call), catalog presence, and
    * output-path existence (tmp cleanup → rebuild). Values are
    * names/paths only — driver metadata, never DataFrames (the
    * Bpe-memo contract), and nothing in the value retains the session,
    * so weak eviction works. */
  private val serveCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[String, (Seq[String], Seq[(String, String)])]]()

  /** Cheap per-access change signature of a source dir: root mtime,
    * direct-child count, and a hash of every direct child's
    * (name, len, mtime) — one non-recursive listStatus call, no
    * SHA-over-recursive-walk. The child-name term closes the
    * mtime-granularity hole a bare dir-mtime check leaves: a source
    * regenerated within the SAME filesystem mtime tick as the cached
    * stat still flips the part-file UUID names, so the signature
    * changes even when the root mtime cannot. (The remaining
    * out-of-contract case is an in-place byte overwrite preserving
    * name+len+mtime — no writer graft runs does that.)
    *
    * DEPTH CONTRACT: the signature sees the root and its DIRECT
    * children only. Flat dirs (files as children) and two-level dirs
    * (partition dirs as children — adding/removing a file flips the
    * partition dir's own mtime, a direct child) are fully covered;
    * a content change at depth ≥ 3 (e.g. day/bucket/files) is NOT —
    * every graft source this guards is flat or two-level, and callers
    * adding deeper layouts must extend the signature, not this doc. */
  private def quickSig(spark: SparkSession, d: String): String = {
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val rootMtime = fs.getFileStatus(p).getModificationTime
      val kids = fs.listStatus(p).map(k =>
        s"${k.getPath.getName} ${k.getLen} ${k.getModificationTime}").sorted
      s"$rootMtime|${kids.length}|${kids.mkString("\n").hashCode}"
    }
  }

  /** Cache-or-build: returns (tableName, outputPath) pairs for `key`,
    * running `build` only when the quick checks fail. Callers hold the
    * [[Layout]] lock. */
  private def served(spark: SparkSession, key: String, srcDirs: Seq[String])(
      build: => Seq[(String, String)]): Seq[(String, String)] = {
    val m = Option(serveCache.get(spark)).getOrElse {
      val fresh = scala.collection.mutable.HashMap.empty[String, (Seq[String], Seq[(String, String)])]
      serveCache.put(spark, fresh)
      fresh
    }
    val hc = spark.sparkContext.hadoopConfiguration
    val sigs = srcDirs.map(quickSig(spark, _))
    m.get(key) match {
      case Some((cachedSigs, tables)) if cachedSigs == sigs &&
          tables.forall { case (name, path) =>
            // name is empty for path-only (non-catalog) layouts
            (name.isEmpty || spark.catalog.tableExists(name)) && {
              val p = new org.apache.hadoop.fs.Path(path)
              p.getFileSystem(hc).exists(p)
            }
          } => tables
      case _ =>
        val built = build
        m.put(key, (sigs, built))
        built
    }
  }

  /** Observability hook for the serve-cache spec: counts full recursive
    * listings (the O(files) cost the [[served]] cache exists to avoid).
    * Atomic — incremented under the [[Layout]] lock from serve builds
    * AND under the Bpe memo lock from [[listingFingerprint]]. */
  private[graft] val relistings = new java.util.concurrent.atomic.AtomicInteger

  /** (sorted (path, len, mtime) listing, total bytes) of a source parquet
    * dir — the content identity every serve-side copy is keyed on. */
  private def sourceListing(spark: SparkSession,
      srcDir: String): (Seq[(String, Long, Long)], Long) = {
    relistings.incrementAndGet()
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val it = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(src, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val files = b.result().sortBy(_._1)
    (files, files.map(_._2).sum)
  }

  /** Build-or-serve one bucketed copy keyed on the source CONTENT
    * fingerprint (bucketedDocuments' caching rules, factored for every
    * serve-side table). Returns (tableName, outputPath) — driver
    * metadata the [[served]] cache can hold without pinning plans. */
  private def serveBucketed(spark: SparkSession, srcDir: String,
      prefix: String, key: String, buckets: Int,
      files: Seq[(String, Long, Long)]): (String, String) = {
    val tag = listingTag(s"$srcDir b=$buckets", files)
    val tableName = s"graft_${prefix}_$tag"
    val path = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get(DirKey, "/tmp/graft_layout")}/${prefix}_$tag")
    if (!spark.catalog.tableExists(tableName) ||
        !path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) {
      writeBucketed(spark.read.parquet(srcDir), tableName, path.toString,
        key, buckets)
    }
    (tableName, path.toString)
  }

  /** 16-hex-char SHA-256 tag of a source listing (+ a caller salt) —
    * the content identity serve-side copies and memo keys hang off. */
  private[graft] def listingTag(salt: String,
      files: Seq[(String, Long, Long)]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest((salt +: files.map { case (p, len, mt) => s"$p $len $mt" })
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** Content fingerprint of a parquet dir for MEMO KEYS (Bpe's trained
    * chain): name+len+mtime of every file, hashed. A path that does not
    * exist fingerprints as "absent" rather than throwing — callers key
    * plans whose sources may be non-file (LocalRelation tests).
    *
    * Cached per dir behind the same [[quickSig]] cheap check the serve
    * cache uses: `Bpe.corpusKey` calls this on every BPE query access
    * (under the trainedMemo lock), and an uncached form re-ran the full
    * recursive listing + SHA per access — reintroducing on the BPE path
    * exactly the O(files) driver cost the serve cache was added to
    * eliminate. The signature's child-name term keeps the one-mtime-tick
    * regeneration defense the memo key relies on (fresh part-file UUIDs
    * flip the signature even inside one mtime tick). Inherits
    * [[quickSig]]'s depth contract: valid for flat or two-level source
    * dirs (all current callers), NOT for layouts nesting content at
    * depth ≥ 3. */
  private val fingerprintCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def listingFingerprint(spark: SparkSession, dir: String): String = {
    val sig = quickSig(spark, dir)
    if (sig == "absent") return "absent"
    Option(fingerprintCache.get(dir)) match {
      case Some((cachedSig, fp)) if cachedSig == sig => fp
      case _ =>
        val fp = listingTag(dir, sourceListing(spark, dir)._1)
        fingerprintCache.put(dir, (sig, fp))
        fp
    }
  }

  /** Conf key switching `Tables.lineitem`/`Tables.orders` onto the
    * CO-BUCKETED fact layout. Separate from [[EnabledKey]]: the two
    * layouts serve different query families and a deployment opts into
    * each by its own access patterns. */
  val TpchEnabledKey = "spark.graft.layout.tpch.enabled"

  /** The co-bucketed TPC-H fact pair: `lineitem` and `orders`, SAME
    * bucket count, both on the order key, each bucket file sorted by it.
    * This is the classic warehouse fact layout — the lineitem⋈orders
    * equi-join and every orderkey-clustered aggregation (the q3/q4/q12/
    * q18/q21 family's fact shuffle) plan with NO exchange on either
    * side, and one file per bucket lets SortMergeJoin skip its per-run
    * sorts too: "shuffle both facts every run" becomes "shuffle once at
    * write time".
    *
    * Bucket count: `max(autoBuckets(larger side), defaultParallelism)`.
    * The bytes term keeps bucket files parquet-healthy at warehouse
    * scale (at 100 TB it is thousands, and the floor is irrelevant); the
    * defaultParallelism FLOOR is the lesson of the ngram_jaccard layout
    * probe (SCALEPROBE_r14 §1): exchange-free stages inherit bucket-count
    * parallelism, so a bucketed fact table must never be narrower than
    * the cluster, or every downstream orderkey stage starves. The floor
    * differs from [[bucketedDocuments]] deliberately — the doc corpus at
    * toy scale measured FASTER at 4 buckets (its raw scan is 1 task
    * anyway), while the fact tables are row-heavy enough that narrow
    * aggregation loses what the removed exchange saves.
    *
    * Returns (lineitem, orders). Cache identity covers BOTH sources'
    * content plus the shared bucket count, so regenerating either side
    * rebuilds the pair consistently. */
  def bucketedFacts(spark: SparkSession, dir: String,
      buckets: Int = 0): (DataFrame, DataFrame) = this.synchronized {
    served(spark, s"facts|$dir|$buckets",
        Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet")) {
      val (lf, lBytes) = sourceListing(spark, s"$dir/lineitem.parquet")
      val (of, oBytes) = sourceListing(spark, s"$dir/orders.parquet")
      val n = if (buckets > 0) buckets
        else math.max(autoBuckets(math.max(lBytes, oBytes)),
          spark.sparkContext.defaultParallelism)
      // each side's fingerprint includes the OTHER side's listing: the
      // pair is one layout decision, never half-rebuilt
      val joint = lf ++ of
      Seq(serveBucketed(spark, s"$dir/lineitem.parquet", "lineitem", "l_orderkey", n, joint),
        serveBucketed(spark, s"$dir/orders.parquet", "orders", "o_orderkey", n, joint))
    } match { case Seq((l, _), (o, _)) => (spark.table(l), spark.table(o)) }
  }

  /** Conf key switching `Tables.events` onto the date-partitioned
    * serving layout. The third leg of the layout story: documents get
    * buckets (key co-location), the TPC-H facts get co-buckets (join
    * co-location), and the time-series table gets partition DIRECTORIES
    * — the layout whose win is planning-time pruning on time ranges,
    * the dominant access pattern for event data at 100 TB (an
    * incremental job touching yesterday reads one directory of
    * thousands). */
  val EventsEnabledKey = "spark.graft.layout.events.enabled"

  /** Bucket count for the COMPOSED events layout (date directories +
    * user_id buckets inside each, [[writePartitionedBucketed]]): 0 —
    * the default — serves date-only directories. The composed form
    * additionally removes the user_id exchange from the
    * funnel/sessionize/cohort family (their aggregations and windows
    * are user-keyed, and a partitioned+bucketed scan still reports
    * HashPartitioning on the bucket column), at the cost of
    * dirs × buckets files — which is why it is an explicit per-
    * deployment choice rather than the default: at fixture scale the
    * fragmentation costs more than the exchange (the crossover is in
    * docs/SCALEPROBE_r15.md §2b and docs/SCALEPROBE_r16.md §2; probe
    * code in commit 5af66b2), at warehouse scale both
    * terms grow but the removed exchange is corpus-sized while the
    * file count stays days × buckets. */
  val EventsBucketsKey = "spark.graft.layout.events.buckets"

  /** Conf key pointing `Tables.events` at an EXISTING date-partitioned
    * serving directory — the production deployment seam: a streaming
    * pipeline lands micro-batches via
    * [[graft.streaming.PartitionedIngest.start]], `seal`s them into a
    * serving copy nightly, `expirePartitions` enforces the horizon, and
    * the query surface reads THAT copy through the same accessor (and
    * the same [[graft.plans.PartitionDateInference]] pruning — seal
    * marks the copy with [[UtcDaysMarker]]) instead of rebuilding a
    * layout from a batch source. Takes precedence over the
    * build-from-source path when [[EventsEnabledKey]] is on.
    *
    * Accepts EITHER serving form: a plain `ts_date=` directory (the
    * in-place [[graft.streaming.PartitionedIngest.seal]] output, whose
    * re-seal requires a reader maintenance window) or a
    * [[VersionedServing]] root (snapshot-isolated — re-seal safe under
    * live readers); [[servingEvents]] dispatches on the root's
    * manifest log. */
  val EventsServingDirKey = "spark.graft.layout.events.servingDir"

  /** Pin every events consumer to ONE retained snapshot VERSION of a
    * [[VersionedServing]] root (empty = newest): the reproducibility
    * seam — record `VersionedServing.currentVersion` when a training
    * run starts, set this conf in any job that must re-read the exact
    * corpus that run saw, bit-identical regardless of re-seals since
    * (within the retention window; beyond it the read fails loudly).
    * Ignored for a plain (non-versioned) serving directory. */
  val EventsServingVersionKey = "spark.graft.layout.events.servingVersion"

  /** The serving-copy read behind [[EventsServingDirKey]], shared by
    * EVERY events accessor (`Tables.events` through
    * [[partitionedEvents]], and `Tables.eventsRaw` directly): when a
    * deployment serves a sealed copy, all events consumers must see ONE
    * dataset — a raw-vs-serving split across queries would silently
    * answer over different data (the r16 advice finding). Serves the
    * raw schema: partition columns are the layout's business, not the
    * consumer's. [[EventsServingVersionKey]] pins a snapshot version. */
  def servingEvents(spark: SparkSession, servingDir: String): DataFrame =
    servingTable(spark, servingDir, EventsServingVersionKey)

  /** Point every documents consumer at a [[VersionedServing]] root (or
    * a plain `ts_date=` seal output) instead of the batch parquet —
    * the DOCUMENTS twin of [[EventsServingDirKey]], giving the corpus
    * the dedup index actually tracks the same snapshot isolation, time
    * travel, and archive pin the events table has. The root partitions
    * on an INGEST date (`ts_date` — the day the document entered the
    * corpus; [[docsWithIngestDate]] assigns one deterministically when
    * the source has none), which is exactly the granularity the feed
    * loop maintains its sketch index at
    * ([[graft.ops.Dedup.sketchOf]]'s per-day replace). Non-empty ⇒
    * BOTH `Tables.documents` and `Tables.documentsRaw` serve it — the
    * one-dataset rule, same as events. */
  val DocsServingDirKey = "spark.graft.layout.documents.servingDir"

  /** Pin every documents consumer to one retained snapshot version of
    * the [[DocsServingDirKey]] root (empty = newest) — "which exact
    * corpus did training run X read": record
    * `VersionedServing.currentVersion` when the run starts, set this
    * conf to re-read that corpus bit-identically regardless of
    * re-seals since (within retention; beyond it, archive the pin). */
  val DocsServingVersionKey = "spark.graft.layout.documents.servingVersion"

  /** The serving-copy read behind [[DocsServingDirKey]] — raw document
    * schema (ingest-date and generation partition columns dropped). */
  def servingDocuments(spark: SparkSession, servingDir: String): DataFrame =
    servingTable(spark, servingDir, DocsServingVersionKey)

  private def servingTable(spark: SparkSession, servingDir: String,
      versionKey: String): DataFrame =
    if (VersionedServing.isVersioned(spark, servingDir)) {
      val pinned = spark.conf.get(versionKey, "")
      (if (pinned.isEmpty) VersionedServing.read(spark, servingDir)
       else VersionedServing.readAt(spark, servingDir, pinned.toLong))
        .drop(VersionedServing.GenCol).drop("ts_date")
    } else spark.read.parquet(servingDir).drop("ts_date")

  /** Deterministic ingest-date assignment for a corpus whose source
    * carries none (the synthetic documents table): day =
    * `startDay + (doc_id mod days)`. A REAL deployment's ingest date is
    * the arrival day; this stand-in exists so the versioned-serving
    * lifecycle (seal / expire / time travel / follower feed) can be
    * driven and identity-proven over the documents corpus. DateType,
    * named `ts_date` — the column every seal form requires. */
  def docsWithIngestDate(docs: DataFrame, startDay: String = "2024-03-01",
      days: Int = 30): DataFrame = {
    import org.apache.spark.sql.functions.{col, date_add, lit, pmod}
    docs.withColumn("ts_date",
      date_add(lit(startDay).cast("date"),
        pmod(col("doc_id"), lit(days.toLong)).cast("int")))
  }

  /** Provenance marker file for date-partitioned layouts whose
    * `<col>_date` partition values honor the UTC-day write contract
    * ([[utcDate]]). [[graft.plans.PartitionDateInference]] derives
    * partition bounds ONLY for relations whose root paths carry this
    * marker (or under its explicit trust-convention conf): the naming
    * convention alone is not proof — an external table partitioned by
    * session-tz `to_date(ts)` read under a non-UTC session would get
    * UTC bounds derived against session-tz directories and silently
    * drop rows. Underscore-prefixed, so Spark/parquet file discovery
    * ignores it. */
  val UtcDaysMarker = "_graft_utc_days"

  /** Assert the UTC-day contract for a date-partitioned directory by
    * dropping [[UtcDaysMarker]] at its root. Called by every graft
    * layout/ingest writer; public so a user whose OWN table honors the
    * contract (partition values derived tz-independently, e.g. via
    * [[utcDate]]) can opt it into [[graft.plans.PartitionDateInference]]
    * pruning. Idempotent. */
  def markUtcDays(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, UtcDaysMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  /** The UTC calendar day of a TimestampType instant, as a DateType
    * column — SESSION-TZ-INDEPENDENT, unlike `to_date`. This is the
    * `<col>_date` naming-convention CONTRACT: partition values written
    * by graft layouts are UTC days, and
    * [[graft.plans.PartitionDateInference]] derives bounds as UTC days,
    * so a session running under any time zone writes and prunes
    * consistently. (A session-tz derivation on either side would make a
    * writer-UTC/reader-PST pair silently DROP qualifying rows — worse
    * than no pruning.) Arithmetic is exact: `m - pmod(m, day)` is an
    * exact multiple of a day (pmod is non-negative, so this is FLOOR
    * even for pre-1970 instants), and integer `div` of an exact
    * multiple is exact. */
  def utcDate(tsCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val day = lit(86400000000L)
    val m = unix_micros(tsCol)
    date_add(to_date(lit("1970-01-01")),
      call_function("div", m - pmod(m, day), day).cast("int"))
  }

  /** The SERVING-PATH date-partitioned `events`: one directory per day
    * (`ts_date=YYYY-MM-DD`), built once per source CONTENT under
    * [[DirKey]] (same fingerprint caching as [[bucketedDocuments]],
    * path-only — no catalog entry needed for directory pruning). The
    * served frame drops the derived `ts_date` so consumers see exactly
    * the raw schema; queries keep filtering on `ts`, and
    * [[graft.plans.PartitionDateInference]] derives the `ts_date`
    * bounds that make `FileSourceStrategy` skip whole directories at
    * listing time. Day cardinality is bounded by the time span — the
    * low-cardinality requirement [[writePartitioned]] documents. */
  def partitionedEvents(spark: SparkSession, dir: String): DataFrame =
    this.synchronized {
      // deployment seam: an ingest-sealed serving copy, if configured,
      // IS the layout — no build-from-source (see EventsServingDirKey)
      val servingDir = spark.conf.get(EventsServingDirKey, "")
      if (servingDir.nonEmpty)
        return servingEvents(spark, servingDir)
      val buckets = spark.conf.get(EventsBucketsKey, "0").toInt
      def withDate(df: DataFrame): DataFrame =
        df.withColumn("ts_date",
          utcDate(org.apache.spark.sql.functions.col("ts")))
      if (buckets > 0) {
        // composed: date directories + user_id buckets (catalog table —
        // bucket metadata lives there, not in the files)
        served(spark, s"events|$dir|b=$buckets", Seq(s"$dir/events.parquet")) {
          val (files, _) = sourceListing(spark, s"$dir/events.parquet")
          val tag = listingTag(s"$dir/events.parquet b=$buckets", files)
          val tableName = s"graft_events_$tag"
          val path = new org.apache.hadoop.fs.Path(
            s"${spark.conf.get(DirKey, "/tmp/graft_layout")}/events_$tag")
          if (!spark.catalog.tableExists(tableName) ||
              !path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) {
            writePartitionedBucketed(withDate(graft.Tables.eventsNormalized(spark, dir)),
              tableName, path.toString, Seq("ts_date"), "user_id", buckets)
          }
          markUtcDays(spark, path.toString) // provenance for the inference rule
          Seq((tableName, path.toString))
        } match { case Seq((name, _)) => spark.table(name).drop("ts_date") }
      } else {
        served(spark, s"events|$dir", Seq(s"$dir/events.parquet")) {
          val (files, _) = sourceListing(spark, s"$dir/events.parquet")
          val tag = listingTag(s"$dir/events.parquet partitioned", files)
          val path = new org.apache.hadoop.fs.Path(
            s"${spark.conf.get(DirKey, "/tmp/graft_layout")}/events_$tag")
          if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) {
            writePartitioned(withDate(graft.Tables.eventsNormalized(spark, dir)),
              path.toString, Seq("ts_date"))
          }
          markUtcDays(spark, path.toString) // provenance for the inference rule
          Seq(("", path.toString))
        } match { case Seq((_, p)) => spark.read.parquet(p).drop("ts_date") }
      }
    }

  /** Incremental re-ingest into a partitioned layout: replace ONLY the
    * partitions present in `df`, leaving every other directory's files
    * physically untouched. This is Spark's dynamic partition-overwrite
    * mode, scoped to this one write (the session conf is restored):
    * static mode — the default — would DELETE the whole table first,
    * which at 100 TB turns "re-run yesterday" into "rewrite three
    * years". The daily-correction workflow this exists for: recompute
    * one day, overwrite one directory. */
  def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "DYNAMIC")
    try df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    finally spark.conf.set(key, prev)
  }

  /** Bits per dimension for [[zValue]] — 256 equal-width cells per
    * column; two interleaved columns span a 16-bit curve. */
  val ZBits = 8

  /** Morton (Z-order) value of two columns, each first mapped to a
    * [[ZBits]]-bit cell id by equal-width bucketing over its observed
    * [lo, hi] range, then bit-interleaved — a pure codegen projection
    * (shift/mask chains, no UDF, no window).
    *
    * Why this exists: min/max-based data skipping (parquet footers,
    * file pruning) only prunes on the columns the data is SORTED by. A
    * linear sort gives one column perfect locality and the others none;
    * interleaving bits makes file ranges tight on BOTH columns at once,
    * so a two-sided box predicate prunes multiplicatively. This is the
    * layout decision for the second-most-selective access path at
    * 100 TB — the first gets the partition directories. Equal-width
    * cells keep the mapping a literal-only expression; heavily skewed
    * columns want quantile boundaries instead (the same interleave
    * applies downstream). */
  def zValue(a: org.apache.spark.sql.Column, aLo: Long, aHi: Long,
             b: org.apache.spark.sql.Column, bLo: Long, bHi: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val cells = (1L << ZBits) - 1
    // Integer floor division (`div`), not Column./ — double division
    // can misplace boundary values into the wrong cell once the scaled
    // numerator exceeds 2^53. The supported range is |hi-lo| < 2^55
    // (so (c-lo)*(cells+1) stays inside Long), which covers any
    // integer-like layout column; wider demands a pre-scale.
    def cell(c: org.apache.spark.sql.Column, lo: Long, hi: Long) = {
      val span = math.max(1L, hi - lo + 1)
      require(span - 1 <= (Long.MaxValue >> ZBits),
        s"zValue column range too wide for ${ZBits}-bit cells: [$lo, $hi]")
      least(lit(cells), greatest(lit(0L),
        call_function("div", (c.cast("long") - lit(lo)) * lit(cells + 1), lit(span))))
    }
    interleave(cell(a, aLo, aHi), cell(b, bLo, bHi))
  }

  /** Morton value with QUANTILE cell boundaries — the skew-robust form.
    * Equal-width cells collapse on long-tailed columns (99% of a
    * power-law column lands in cell 0, so the curve degenerates to a
    * linear sort on the other dimension and two-sided pruning dies);
    * equal-frequency boundaries give every cell the same row mass
    * regardless of the value distribution. `aBounds`/`bBounds` are the
    * 2^ZBits−1 interior cell edges (from `df.stat.approxQuantile` at
    * write time); the cell id is the count of edges ≤ value, evaluated
    * as a fold over the boundary literal — a write-path-only projection
    * (the layout job), so the lambda's interpreted evaluation is paid
    * once per ingested row, never at read time. */
  def zValueQuantile(a: org.apache.spark.sql.Column, aBounds: Seq[Long],
                     b: org.apache.spark.sql.Column, bBounds: Seq[Long]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val cells = (1L << ZBits) - 1
    def cell(c: org.apache.spark.sql.Column, bounds: Seq[Long]) = {
      require(bounds.length == cells, s"need $cells interior edges, got ${bounds.length}")
      least(lit(cells), aggregate(typedLit(bounds), lit(0L),
        (acc, edge) => acc + when(c.cast("long") >= edge, 1L).otherwise(0L)))
    }
    interleave(cell(a, aBounds), cell(b, bBounds))
  }

  private def interleave(ca: org.apache.spark.sql.Column,
                         cb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (0 until ZBits).map { i =>
      shiftleft(shiftright(ca, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(cb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` Z-ordered on two integer-like columns into `files`
    * parquet files: one bounded stats pass pins each column's [lo, hi],
    * the Morton value is appended as a narrow projection, and a range
    * repartition + within-partition sort on it clusters rows so every
    * output file covers a tight rectangle of the (a, b) space. The
    * curve column itself is dropped before writing — the layout IS the
    * artifact. Returns ((aLo, aHi), (bLo, bHi)) for the caller's probe. */
  def writeZOrdered(df: DataFrame, path: String, aCol: String, bCol: String,
      files: Int): ((Long, Long), (Long, Long)) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(min(col(aCol)).cast("long"), max(col(aCol)).cast("long"),
      min(col(bCol)).cast("long"), max(col(bCol)).cast("long")).head
    val (aLo, aHi, bLo, bHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    df.withColumn("__zv", zValue(col(aCol), aLo, aHi, col(bCol), bLo, bHi))
      .repartitionByRange(files, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(path)
    ((aLo, aHi), (bLo, bHi))
  }

  /** [[writeZOrdered]] with quantile cell boundaries ([[zValueQuantile]])
    * — the variant for long-tailed clustering columns. One
    * approxQuantile pass pins equal-frequency edges for both columns,
    * then the same curve-sort layout. */
  def writeZOrderedQuantile(df: DataFrame, path: String, aCol: String,
      bCol: String, files: Int): Unit = {
    import org.apache.spark.sql.functions._
    val cells = (1 << ZBits) - 1
    val probs = (1 to cells).map(_.toDouble / (cells + 1)).toArray
    def edges(c: String): Seq[Long] =
      df.select(col(c).cast("double").as(c))
        .stat.approxQuantile(c, probs, 0.001).map(_.toLong).toSeq
    df.withColumn("__zv", zValueQuantile(col(aCol), edges(aCol), col(bCol), edges(bCol)))
      .repartitionByRange(files, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(path)
  }

  /** Data-skipping probe: how many files of `path` MUST a reader touch
    * for a box predicate, judging by per-file min/max ranges — the same
    * decision a parquet footer-pruning scan makes. One aggregation over
    * `input_file_name()`; returns (touched, total). */
  def filesTouched(spark: SparkSession, path: String,
      box: Seq[(String, Long, Long)]): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val aggs = box.flatMap { case (c, _, _) =>
      Seq(min(col(c)).cast("long").as(s"lo_$c"), max(col(c)).cast("long").as(s"hi_$c")) }
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val touched = stats.count { row =>
      box.forall { case (c, lo, hi) =>
        row.getAs[Long](s"lo_$c") <= hi && row.getAs[Long](s"hi_$c") >= lo }
    }
    (touched, stats.length)
  }

  /** Parquet write options enabling a bloom filter on each column, sized
    * to the expected per-FILE distinct count (parquet-mr sizes the filter
    * per column chunk from this hint; an over-estimate wastes footer
    * bytes, an under-estimate inflates the false-positive rate — size
    * from rows-per-file ÷ expected repeats). Pass through a seal's
    * `writeOptions`. The bloom layer is the POINT-LOOKUP complement of
    * the Z-order curve: min/max stats prune RANGES a sort made
    * contiguous, a bloom filter prunes `col = x` row groups regardless
    * of layout — and it is the only skip left once a column's per-chunk
    * cardinality defeats dictionary encoding (the universal case for id
    * columns at warehouse scale: a 128 MB row group of int64 ids blows
    * the 1 MB dictionary page and falls back to plain encoding, where
    * dictionary filtering cannot act). Self-contained in the footers
    * like the curve — no catalog state, safe on every generation. */
  def bloomOptions(ndv: Map[String, Long]): Map[String, String] = {
    // parquet sizes each filter from the ndv hint for ~1% fpp (~1.25
    // bytes per distinct value) but CAPS it at
    // parquet.bloom.filter.max.bytes — default 1 MB, i.e. ~800k
    // distinct values. A 128 MB row group of unique int64 ids holds
    // ~5–16M: under the default cap the filter is silently built
    // 5–20× too small and the fpp quietly collapses toward
    // always-maybe — the failure is invisible (no error, just no
    // skipping). Raise the global cap to cover the largest hint
    // (power-of-two, ≥1 MB; the per-chunk filters still size
    // themselves from their own column's ndv).
    require(ndv.nonEmpty,
      "bloomOptions needs at least one column -> expected-ndv hint")
    val maxNdv = ndv.values.max
    val needBytes = math.max(1L << 20,
      java.lang.Long.highestOneBit(maxNdv * 2L) * 2L)
    ndv.flatMap { case (c, n) =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> n.toString)
    } + ("parquet.bloom.filter.max.bytes" -> needBytes.toString)
  }

  /** (rowGroupsTouched, rowGroupsTotal) for the point predicate
    * `column = value` over every parquet file under `path`, decided by
    * parquet-mr's OWN row-group filter (column stats + dictionary +
    * bloom — the same three levels a Spark scan's reader applies before
    * decoding a row group) — the row-group-granular sibling of
    * [[filesTouched]], and the honest local metric for bloom skipping:
    * wall clock on a day that fits in page cache under-reports a win
    * that is I/O-bound at 100 TB, but the per-row-group touch/skip
    * decision here is byte-identical to the one the warehouse-scale
    * scan makes. */
  def rowGroupsTouched(spark: SparkSession, path: String, column: String,
      value: Long): (Int, Int) = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = {
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath
      }
      b.result()
    }
    val pred = FilterCompat.get(
      FilterApi.eq(FilterApi.longColumn(column), java.lang.Long.valueOf(value)))
    files.foldLeft((0, 0)) { case ((touched, total), f) =>
      val in = HadoopInputFile.fromPath(f, conf)
      def groups(b: org.apache.parquet.ParquetReadOptions.Builder): Int = {
        val r = ParquetFileReader.open(in, b.build())
        try r.getRowGroups.size finally r.close()
      }
      val all = groups(org.apache.parquet.HadoopReadOptions.builder(conf, f))
      val kept = groups(org.apache.parquet.HadoopReadOptions.builder(conf, f)
        .withRecordFilter(pred)
        .useStatsFilter(true).useDictionaryFilter(true).useBloomFilter(true))
      (touched + kept, total + all)
    }
  }

  /** Compact a parquet directory to approximately `targetBytes` files —
    * the small-file repair pass every long-lived ingest needs (streaming
    * sinks and fine-grained partition writes accumulate KB-sized files;
    * at 100 TB the scan's task-scheduling overhead becomes the
    * bottleneck long before the bytes do). Sizes the output file count
    * from the directory's actual on-disk bytes and rewrites to a
    * STAGING path: a compaction that rewrote in place would destroy the
    * source on a mid-job failure, so the atomic swap is left to the
    * caller's rename. Returns the file count written. */
  def compact(spark: SparkSession, path: String, stagingPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(path)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(stagingPath)
    nFiles
  }
}
