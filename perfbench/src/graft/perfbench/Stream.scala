package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming._

/** One generated event of the stream workload. `idx` is the arrival order,
  * `ts` the event time in ms, `late` whether it is beyond the watermark
  * by construction (always dropped by an event-time operator). */
final case class GenEvent(idx: Int, key: String, ts: Long, value: Long, late: Boolean)

/** Seeded single-threaded load generator. Event time advances [[StepMs]]
  * per event; keys are Zipf-skewed; [[OooShare]] of events arrive out of
  * order within the watermark delay, and [[LateShare]] arrive so far
  * behind that every batching drops them. All times are multiples of
  * [[StepMs]], so no event can land exactly on a watermark boundary. */
final class Generator(seed: Long, keys: Int = 200, zipfS: Double = 1.1) {
  import Generator._
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k, zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private var next = 0

  def key(): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    s"k${if (i >= 0) i else math.min(-i - 1, keys - 1)}"
  }

  def events(n: Int): IndexedSeq[GenEvent] = (0 until n).map { _ =>
    val i = next
    next += 1
    val base = T0 + i.toLong * StepMs
    val u = rnd.nextDouble()
    val (ts, late) =
      if (i >= LateFrom && u < LateShare)
        (base - StepMs * (LateMinSteps + rnd.nextInt(LateMinSteps)), true)
      else if (u < LateShare + OooShare) (base - StepMs * (1 + rnd.nextInt(DelaySteps - 1)), false)
      else (base, false)
    GenEvent(i, key(), ts, 1 + rnd.nextInt(100).toLong, late)
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Generator {
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val StepMs = 10L
  val DelaySteps = 200 // watermark delay: 2 s of event time
  val DelayMs: Long = DelaySteps * StepMs
  val OooShare = 0.10
  val LateShare = 0.02
  /** Beyond-lateness offset, larger than the watermark delay plus the event
    * time any one micro-batch can span (10 000 events). */
  val LateMinSteps = 12000
  /** No late events before the first batches have set a watermark. */
  val LateFrom = 2000
  val FlushTs = T0 + 30L * 86400000L
}

/** Feeds one streaming query: warm-up batches, an open-loop phase at a
  * fixed offered rate (latency), then a closed-loop phase (capacity). */
final class Phase(spark: SparkSession, val name: String, rate: Double,
                  openSeconds: Double, tracer: Option[Tracer]) {
  private val WarmBatches = 2
  /** Send interval: each send is one source offset, and a micro-batch
    * plans one relation per offset it reads. */
  private val TickMs = 25L
  val untracedLat = mutable.ArrayBuffer[Double]()
  val tracedLat = mutable.ArrayBuffer[Double]()
  val genLateMs = mutable.ArrayBuffer[Double]()
  var backlog = 0L
  var closedRows = 0L
  var closedSec = 0.0
  var wallSec = 0.0
  /** Where the phase's wall time went: warm-up, open loop, closed loop. */
  val steps = mutable.LinkedHashMap[String, Double]()
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  /** Runs the phases. `nextEvents(n)` generates n events and returns the
    * input rows they make; `add` appends them to the sources and returns the
    * source offset a batch must reach to have consumed them. */
  def run(q: StreamingQuery, warm: () => Unit, nextEvents: Int => Int,
          add: Int => Long, closedBatches: Int, closedRowsPer: Int): Unit = {
    val w0 = Clock.ms()
    (1 to WarmBatches).foreach { _ => warm(); q.processAllAvailable() }
    steps("warm_s") = (Clock.ms() - w0) / 1000.0
    // open loop: send at the scheduled instants, never waiting on the query
    val sent = mutable.ArrayBuffer[(Long, Double, Boolean)]() // offset, due, traced
    val start = Clock.ms()
    val total = (rate * openSeconds).toInt
    var due = 0
    var listener: StreamingQueryListener = null
    while (due < total) {
      val now = Clock.ms()
      val traced = tracer.isDefined && (now - start) >= openSeconds * 500.0
      if (traced && listener == null) listener = Stream.attachTrace(spark, tracer.get, name)
      val shouldHave = math.min(total, ((now - start) / 1000.0 * rate).toInt + 1)
      if (shouldHave > due) {
        val n = shouldHave - due
        val firstDue = start + due * 1000.0 / rate
        genLateMs += now - firstDue
        val off = add(nextEvents(n))
        (0 until n).foreach(k => sent += ((off, start + (due + k) * 1000.0 / rate, traced)))
        due = shouldHave
      }
      Thread.sleep(TickMs)
    }
    q.processAllAvailable()
    steps("open_s") = (Clock.ms() - start) / 1000.0
    val openProgress = q.recentProgress.toSeq
    // batch end instants by the source offset they reached
    val ends = openProgress.flatMap { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      val reached = p.sources.map(s => offsetOf(s.endOffset)).minOption.getOrElse(-1L)
      if (p.numInputRows > 0) Some((reached, end)) else None
    }.sortBy(_._1)
    sent.foreach { case (off, dueMs, traced) =>
      ends.find(_._1 >= off).foreach { case (_, end) =>
        (if (traced) tracedLat else untracedLat) += end - dueMs
      }
    }
    // rows one micro-batch had to absorb: what queued while the previous ran
    backlog = openProgress.map(_.numInputRows).maxOption.getOrElse(0L)
    // closed loop: the next batch is sent when the previous one is done
    val c00 = Clock.ms()
    (1 to closedBatches).foreach { _ =>
      val n = nextEvents(closedRowsPer)
      val c0 = Clock.ms()
      add(n)
      q.processAllAvailable()
      closedSec += (Clock.ms() - c0) / 1000.0
      closedRows += n
    }
    steps("closed_s") = (Clock.ms() - c00) / 1000.0
    if (listener != null) spark.streams.removeListener(listener)
    progress ++= q.recentProgress.toSeq
  }

  private def offsetOf(json: String): Long =
    if (json == null) -1L else json.replaceAll("[^0-9-]", "") match {
      case "" => -1L
      case s => s.toLong
    }
}

/** The `stream` workload: the reference's streaming operators fed in turn by
  * the seeded generator, then a seal of the ingested sink and one poll of
  * the sealed root. Every operator's output is checked against a batch
  * recomputation over the same generated events. */
final class Stream(spark: SparkSession, outDir: String, ops: Seq[String], rates: Map[String, Double],
                   seed: Long, seconds: Double, tracer: Option[Tracer],
                   failures: mutable.Buffer[(String, String)]) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val WarmRows = 400
  private val ClosedBatches = 1
  private val ClosedRows = 6000
  /** The open loops together take the run's `--seconds`. */
  private val openSeconds = seconds / ops.length
  private var attempted = 0
  private val phases = mutable.ArrayBuffer[Phase]()
  private val record = mutable.LinkedHashMap[String, Any]()

  private def check(op: String, ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += (op -> what)
  }

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  private def memorySink(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode("append").start()

  private def rows(name: String): Seq[org.apache.spark.sql.Row] = spark.table(name).collect().toSeq

  def run(): Map[String, Any] = {
    val sinkBase = s"$outDir/stream"
    ops.zipWithIndex.foreach { case (op, i) =>
      val gen = new Generator(seed * 31 + i)
      val phase = new Phase(spark, op, rates.getOrElse(op, 1000.0), openSeconds, tracer)
      val t0 = Clock.ms()
      try {
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, if (tracer.isDefined) s"stream/$op" else null)
        op match {
          case "rolling" => rolling(gen, phase)
          case "tumbling" => tumbling(gen, phase)
          case "session" => session(gen, phase)
          case "interval_join" => intervalJoin(gen, phase)
          case "enrich" => enrich(gen, phase)
          case "ingest" => ingest(gen, phase, sinkBase)
          case other => failures += (other -> "unknown stream operator")
        }
      } catch {
        case e: Throwable =>
          attempted += 1
          failures += (op -> s"threw: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
      } finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
      spark.streams.active.foreach(_.stop())
      phase.wallSec = (Clock.ms() - t0) / 1000.0
      // between operators, as between batch queries: one operator's garbage
      // is not paid for by the next, and peak RSS does not depend on when
      // the collector happened to run
      graft.HarnessUtil.releaseAll(spark, gc = true)
      phases += phase
    }
    if (ops.contains("ingest")) sealAndPoll(sinkBase)
    record("attempted") = attempted
    record("phases") = phases.map { p =>
      Map("op" -> p.name, "untraced_ms" -> p.untracedLat.toSeq,
        "traced_ms" -> p.tracedLat.toSeq, "gen_late_ms" -> p.genLateMs.toSeq, "backlog" -> p.backlog,
        "closed_rows" -> p.closedRows, "closed_s" -> p.closedSec, "wall_s" -> p.wallSec, "steps" -> p.steps,
        "batches" -> p.progress.map(progressJson).toSeq)
    }.toSeq
    record.toMap
  }

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = Map(
    "rows" -> p.numInputRows,
    "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
    "state_mem" -> p.stateOperators.map(_.memoryUsedBytes).sum,
    "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
    "dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)

  private def dropped(p: Phase): Long = p.progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum

  /** A sentinel event far ahead of the stream moves the watermark past
    * every window and session; the no-data batch that follows fires them. */
  private def flush(q: StreamingQuery, addOne: Long => Unit): Unit = {
    addOne(Generator.FlushTs)
    q.processAllAvailable()
    val after = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    val deadline = Clock.ms() + 10000.0
    while ((q.lastProgress == null || q.lastProgress.batchId <= after) && Clock.ms() < deadline)
      Thread.sleep(5)
  }

  private def feed[T](gen: Generator, all: mutable.ArrayBuffer[GenEvent], in: MemoryStream[T])(
      conv: GenEvent => T): (Int => Int, Int => Long) = {
    var pending: IndexedSeq[GenEvent] = IndexedSeq.empty
    val next = (n: Int) => { pending = gen.events(n); all ++= pending; n }
    val add = (_: Int) => offset(in.addData(pending.map(conv)))
    (next, add)
  }

  private def offset(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json.replaceAll("[^0-9-]", "").toLong

  private def rolling(gen: Generator, phase: Phase): Unit = {
    val in = MemoryStream[RollingState.KV]
    val q = memorySink(RollingState(in.toDS()).toDF(), "rolling_out")
    val all = mutable.ArrayBuffer[GenEvent]()
    val (next, add) = feed(gen, all, in)(e => RollingState.KV(e.key, e.value.toDouble, e.idx.toLong))
    phase.run(q, () => add(next(WarmRows)), next, add, ClosedBatches, ClosedRows)
    q.stop()
    val got = rows("rolling_out").map(r =>
      (r.getAs[String]("key"), r.getAs[Long]("seq"), r.getAs[Double]("runningSum"), r.getAs[Long]("n"))).toSet
    val want = all.groupBy(_.key).flatMap { case (k, es) =>
      es.sortBy(_.idx).scanLeft((0.0, 0L, -1L)) { case ((s, n, _), e) => (s + e.value, n + 1, e.idx.toLong) }
        .tail.map { case (s, n, seq) => (k, seq, s, n) }
    }.toSet
    check("rolling", got == want, s"rolling: ${got.size} rows emitted, ${want.size} expected, ${(want -- got).size} missing")
  }

  private def eventTimeOut(all: collection.Seq[GenEvent]): Seq[GenEvent] = all.filterNot(_.late).toSeq

  private def tumbling(gen: Generator, phase: Phase): Unit = {
    val size = 5000L
    val lateness = 1000L
    val in = MemoryStream[EventWindowState.Ev]
    val ds = in.toDS().withWatermark("ts", s"${Generator.DelayMs + lateness} milliseconds")
    val q = memorySink(EventWindowState.tumbling(ds, size, lateness).toDF(), "tumbling_out")
    val all = mutable.ArrayBuffer[GenEvent]()
    val (next, add) = feed(gen, all, in)(e => EventWindowState.Ev(e.key, e.value, ts(e.ts)))
    phase.run(q, () => add(next(WarmRows)), next, add, ClosedBatches, ClosedRows)
    flush(q, t => in.addData(EventWindowState.Ev("~flush", 0L, ts(t))))
    q.stop()
    val got = rows("tumbling_out").filter(_.getAs[String]("key") != "~flush").map(r =>
      (r.getAs[String]("kind"), r.getAs[String]("key"), r.getAs[Long]("windowStart"),
        r.getAs[Long]("sum"), r.getAs[Long]("count")))
    val want = eventTimeOut(all).groupBy(e => (e.key, e.ts - Math.floorMod(e.ts, size))).map {
      case ((k, start), es) => ("fire", k, start, es.map(_.value).sum, es.size.toLong)
    }.toSet
    check("tumbling", got.toSet == want && got.size == want.size,
      s"tumbling: ${got.size} rows, ${want.size} windows expected, ${(want -- got.toSet).size} missing")
    val lates = all.count(_.late).toLong
    check("tumbling.late_drops", dropped(phase) == lates,
      s"tumbling: ${dropped(phase)} rows dropped by watermark, $lates late events generated")
  }

  private def session(gen: Generator, phase: Phase): Unit = {
    val gap = 1000L
    val in = MemoryStream[SessionWindowState.Ev]
    val ds = in.toDS().withWatermark("ts", s"${Generator.DelayMs} milliseconds")
    val q = memorySink(SessionWindowState.session(ds, gap).toDF(), "session_out")
    val all = mutable.ArrayBuffer[GenEvent]()
    val (next, add) = feed(gen, all, in)(e => SessionWindowState.Ev(e.key, e.value, ts(e.ts)))
    phase.run(q, () => add(next(WarmRows)), next, add, ClosedBatches, ClosedRows)
    flush(q, t => in.addData(SessionWindowState.Ev("~flush", 0L, ts(t))))
    q.stop()
    val got = rows("session_out").filter(_.getAs[String]("key") != "~flush").map(r =>
      (r.getAs[String]("key"), r.getAs[Long]("sessionStart"), r.getAs[Long]("sessionEnd"),
        r.getAs[Long]("sum"), r.getAs[Long]("count")))
    val want = eventTimeOut(all).groupBy(_.key).toSeq.flatMap { case (k, es) =>
      val sorted = es.sortBy(_.ts)
      val out = mutable.ArrayBuffer[(String, Long, Long, Long, Long)]()
      var (st, en, sum, n) = (sorted.head.ts, sorted.head.ts + gap, 0L, 0L)
      sorted.foreach { e =>
        if (e.ts > en) { out += ((k, st, en, sum, n)); st = e.ts; en = e.ts + gap; sum = 0L; n = 0L }
        en = math.max(en, e.ts + gap); sum += e.value; n += 1
      }
      out += ((k, st, en, sum, n))
      out
    }.toSet
    check("session", got.toSet == want && got.size == want.size,
      s"session: ${got.size} rows, ${want.size} sessions expected, ${(want -- got.toSet).size} missing")
    val lates = all.count(_.late).toLong
    check("session.late_drops", dropped(phase) == lates,
      s"session: ${dropped(phase)} rows dropped by watermark, $lates late events generated")
  }

  private def intervalJoin(gen: Generator, phase: Phase): Unit = {
    val upperMs = 500L
    val left = MemoryStream[(String, Long, java.sql.Timestamp)]
    val right = MemoryStream[(String, Long, java.sql.Timestamp)]
    val l = left.toDF().toDF("lkey", "lid", "lts")
    val r = right.toDF().toDF("rkey", "rid", "rts")
    val joined = StreamJoins.intervalJoin(l, "lkey", "lts", r, "rkey", "rts", 0L, upperMs * 1000L,
      s"${Generator.DelayMs} milliseconds").select("lid", "rid")
    val q = memorySink(joined, "interval_out")
    val lefts = mutable.ArrayBuffer[GenEvent]()
    val rights = mutable.ArrayBuffer[GenEvent]()
    var pending: IndexedSeq[GenEvent] = IndexedSeq.empty
    val next = (n: Int) => {
      pending = gen.events(n)
      lefts ++= pending
      // each left event has one partner on the right, shipped up to 500 ms later
      val rs = pending.map(e => e.copy(ts = e.ts + Generator.StepMs * gen.nextInt(50)))
      rights ++= rs
      2 * n
    }
    val add = (_: Int) => {
      val n = pending.length
      val lo = offset(left.addData(pending.map(e => (e.key, e.idx.toLong, ts(e.ts)))))
      val ro = offset(right.addData(rights.takeRight(n).map(e => (e.key, e.idx.toLong, ts(e.ts)))))
      math.min(lo, ro)
    }
    // each event is a row on both sides: half-size batches keep rows per batch equal
    phase.run(q, () => add(next(WarmRows / 2)), next, add, ClosedBatches, ClosedRows / 2)
    q.stop()
    val got = rows("interval_out").map(r => (r.getLong(0), r.getLong(1)))
    val ok = lefts.filterNot(_.late)
    val rk = rights.filterNot(_.late).groupBy(_.key)
    val want = ok.flatMap { le =>
      rk.getOrElse(le.key, Nil).filter(re => re.ts >= le.ts && re.ts <= le.ts + upperMs)
        .map(re => (le.idx.toLong, re.idx.toLong))
    }
    check("interval_join", got.sorted == want.sorted,
      s"interval_join: ${got.size} pairs, ${want.size} expected")
    val lates = (lefts.count(_.late) + rights.count(_.late)).toLong
    check("interval_join.late_drops", dropped(phase) == lates,
      s"interval_join: ${dropped(phase)} rows dropped by watermark, $lates late events generated")
  }

  private def enrich(gen: Generator, phase: Phase): Unit = {
    val in = MemoryStream[EnrichState.In]
    val q = memorySink(EnrichState(in.toDS()).toDF(), "enrich_out")
    // each generated event opens a waybill: its CEM record plus 1-5 route
    // links; a tenth of the links overtake their CEM
    val sent = mutable.ArrayBuffer[EnrichState.In]()
    var pending: IndexedSeq[EnrichState.In] = IndexedSeq.empty
    var seq = 0L
    val next = (n: Int) => {
      val evs = gen.events(n)
      val recs = mutable.ArrayBuffer[EnrichState.In]()
      evs.foreach { e =>
        val code = f"JD${e.idx}%010d"
        val cem = EnrichState.In(code, 0L, Some(EnrichState.Cem(code, e.key, s"${e.value % 9}",
          s"site${e.value % 9}", s"${e.value}", s"busi${e.value}", "0101", Some(e.ts), None)), None)
        val links = (1 to 1 + gen.nextInt(5)).map(p =>
          EnrichState.In(code, 0L, None, Some(EnrichState.RouteLink(code, s"$code-$p", e.ts + p))))
        val (early, lateLinks) = links.partition(_ => gen.nextInt(10) == 0)
        recs ++= early; recs += cem; recs ++= lateLinks
      }
      pending = recs.map { r => seq += 1; r.copy(seq = seq) }.toIndexedSeq
      sent ++= pending
      pending.length
    }
    val add = (_: Int) => offset(in.addData(pending))
    phase.run(q, () => add(next(WarmRows / 4)), next, add, ClosedBatches, ClosedRows / 4)
    q.stop()
    val got = rows("enrich_out").map(r =>
      (r.getAs[String]("waybillCode"), Option(r.getAs[String]("packageCode")))).sorted
    val want = sent.groupBy(_.waybillCode).toSeq.flatMap { case (code, rs) =>
      val ordered = rs.sortBy(_.seq)
      val cemAt = ordered.indexWhere(_.cem.isDefined)
      val before = ordered.take(cemAt).flatMap(_.link.map(_.packageCode)).sorted
      val after = ordered.drop(cemAt + 1).flatMap(_.link.map(_.packageCode))
      (if (before.isEmpty) Seq(None) else before.map(Some(_))) ++ after.map(Some(_)) map (code -> _)
    }.sorted
    check("enrich", got == want, s"enrich: ${got.size} rows, ${want.size} expected")
  }

  private var ingested = 0L

  private def ingest(gen: Generator, phase: Phase, base: String): Unit = {
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Long)]
    // one source partition per send: coalesce so a batch writes one file
    // per task and day, as a partitioned source would
    val df = in.toDF().toDF("event_id", "ts", "key", "value").coalesce(Main.Cores)
    val q = PartitionedIngest.start(df, s"$base/sink", s"$base/ckpt")
    val all = mutable.ArrayBuffer[GenEvent]()
    // events spread over four days, so the sink holds four partitions
    val (next, add) = feed(gen, all, in)(e =>
      (e.idx.toLong, ts(e.ts + (e.idx % 4) * 86400000L), e.key, e.value))
    phase.run(q, () => add(next(WarmRows)), next, add, ClosedBatches, ClosedRows)
    q.stop()
    val sink = spark.read.parquet(s"$base/sink")
    val got = sink.agg(org.apache.spark.sql.functions.count("*"), org.apache.spark.sql.functions.sum("value"))
      .collect().head
    ingested = all.size.toLong
    check("ingest", got.getLong(0) == all.size && got.getLong(1) == all.map(_.value).sum,
      s"ingest: sink holds ${got.getLong(0)} rows, ${all.size} sent")
    val files = listFiles(new java.io.File(s"$base/sink")).filter(_.getName.endsWith(".parquet"))
    record("ingest_files") = files.size
    record("ingest_mb") = files.map(_.length).sum / 1e6
  }

  private def listFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  private def sealAndPoll(base: String): Unit = {
    val root = s"$base/serving"
    try {
      val a = Clock.ms()
      val stats = tracerUnder("stream/seal")(graft.storage.VersionedServing.seal(spark, s"$base/sink", root))
      val b = Clock.ms()
      tracer.foreach(_.record(0L, "seal", a, b, Map("rows" -> stats.rowsSealed), key = "stream/seal"))
      check("seal", stats.rowsSealed == ingested, s"seal: ${stats.rowsSealed} rows sealed, $ingested ingested")
      record("seal_s") = (b - a) / 1000.0
      record("seal_rows") = stats.rowsSealed
      record("seal_files_out") = listFiles(new java.io.File(root)).count(_.getName.endsWith(".parquet"))
      val follower = new graft.storage.ServingFollower(spark, root)
      var delivered = 0L
      val c = Clock.ms()
      tracerUnder("stream/poll")(follower.poll() { (_, _, df) => delivered = df.count() })
      val d = Clock.ms()
      tracer.foreach(_.record(0L, "poll", c, d, Map("rows" -> delivered), key = "stream/poll"))
      check("poll", delivered == ingested, s"poll: follower delivered $delivered rows, $ingested sealed")
      record("poll_s") = (d - c) / 1000.0
    } catch {
      case e: Throwable =>
        attempted += 1
        failures += ("seal" -> s"threw: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
    }
  }

  private def tracerUnder[T](key: String)(body: => T): T = tracer match {
    case Some(t) => t.under(key)(body)
    case None => body
  }
}

object Stream {
  /** Records each micro-batch of the traced half as a span. */
  def attachTrace(spark: SparkSession, tracer: Tracer, op: String): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        tracer.record(0L, "batch", start, start + dur.getOrElse("triggerExecution", 0L),
          Map("op" -> op, "batch" -> p.batchId, "rows" -> p.numInputRows, "durations" -> dur))
      }
    }
    spark.streams.addListener(l)
    l
  }
}
