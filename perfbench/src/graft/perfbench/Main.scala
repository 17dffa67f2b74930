package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this main, and turns the raw record it writes into metrics.
  *
  * Arguments (all required): --workload relational|corpus|stream --seed N
  * --seconds S --trace 0|1 --data DIR --out DIR --ops a,b,c
  * [--frozen a,b,c] [--rates name=rowsPerSec,...]. The record goes to
  * DIR/record.json.
  */
object Main {
  val Cores = 4

  def session(outDir: String): SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master(s"local[$Cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$outDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
    // the stream workload reads every micro-batch's progress after a phase
    .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val outDir = opt("out")
    val ops = opt("ops").split(',').filter(_.nonEmpty).toSeq
    val frozen = opt.getOrElse("frozen", "").split(',').filter(_.nonEmpty).toSeq
    val rates = opt.get("rates").toSeq.flatMap(_.split(',')).map { kv =>
      val Array(k, v) = kv.split('='); k -> v.toDouble }.toMap
    Files.createDirectories(Paths.get(outDir, "results"))
    Files.createDirectories(Paths.get(outDir, "plans"))
    WarnCounter.install()

    // set-up is measured from JVM start to the first timed operation: the
    // session build plus, for the batch workloads, the untimed correctness
    // pass over the panel (the stream operators warm up in their own phases)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(outDir)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val failures = mutable.ArrayBuffer[(String, String)]()
    val phaseEnds = mutable.LinkedHashMap[String, Double]("jvm_start" -> jvmStart, "session" -> Clock.ms())
    val record = mutable.LinkedHashMap[String, Any]()

    workload match {
      case "relational" | "corpus" =>
        val batch = new Batch(spark, dataDir, outDir, ops, frozen, seed, seconds, trace, failures)
        batch.dumpResults()
        phaseEnds("dump") = Clock.ms()
        record("setup_s") = (Clock.ms() - jvmStart) / 1000.0
        heapPools.foreach(_.resetPeakUsage())
        val (execs, passes) = batch.timed(tracer)
        record("attempted") = batch.attempted
        record("execs") = execs.map(e => Map("name" -> e.name, "pass" -> e.pass,
          "traced" -> e.traced, "latency_ms" -> e.latencyMs) ++ e.layers)
        record("passes") = passes.map { case (p, t, w) => Map("pass" -> p, "traced" -> t, "wall_s" -> w) }
      case "stream" =>
        record("setup_s") = (Clock.ms() - jvmStart) / 1000.0
        heapPools.foreach(_.resetPeakUsage())
        val stream = new Stream(spark, outDir, ops, rates, seed, seconds, tracer, failures)
        record ++= stream.run()
      case other => sys.error(s"unknown workload $other")
    }
    phaseEnds("timed") = Clock.ms()
    tracer.foreach { tr => tr.drain(); tr.write(Paths.get(outDir, "trace.jsonl")) }
    record("phase_end_ms") = phaseEnds
    record("failures") = failures.map { case (op, msg) => Map("op" -> op, "error" -> msg) }.toSeq
    record("heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    record("warn_lines") = WarnCounter.count.get()
    record("gc_s") = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
    record("spark_version") = spark.version
    record("java_version") = System.getProperty("java.version")
    record("cores") = Cores
    record("peak_rss_mb") = vmHwmMb()
    spark.stop()
    Files.writeString(Paths.get(outDir, "record.json"), Json.value(record))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
