package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

object Consume {
  /** Pulls every row of a partition; the rows are the plan's final
    * projection, so every column of every row is computed. */
  val drain: Iterator[InternalRow] => Unit = it => while (it.hasNext) it.next()

  /** Executes the query's own, already planned `QueryExecution` and
    * consumes the whole result (no re-planning, no count() rewrite). */
  def apply(qe: QueryExecution): Unit =
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) { qe.toRdd.foreachPartition(drain) }

  /** Shuffle exchanges in the executed plan, looking through adaptive
    * query stages and subqueries. */
  def exchanges(plan: SparkPlan): Int = {
    val inner: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case p => p.children ++ p.subqueries
    }
    val self = if (plan.getClass.getSimpleName == "ShuffleExchangeExec") 1 else 0
    self + inner.map(exchanges).sum
  }
}

/** One timed execution of one query. */
final case class Exec(name: String, pass: Int, traced: Boolean, latencyMs: Double,
                      layers: Map[String, Double])

/** The `relational` and `corpus` workloads: a frozen list of `SparkEntry`
  * queries, run once untimed (the correctness dump, which also warms code
  * generation), then in timed passes until the time budget is spent. */
final class Batch(spark: SparkSession, dataDir: String, outDir: String, names: Seq[String],
                  frozen: Seq[String], seed: Long, seconds: Double, trace: Boolean,
                  failures: mutable.Buffer[(String, String)]) {

  private val entries: Seq[(String, (SparkSession, String) => DataFrame)] = names.flatMap { n =>
    graft.SparkEntry.queries.get(n).map(n -> _)
  }

  /** Every name of the workload's frozen list is looked up in
    * `SparkEntry.queries` and `SparkEntry.oracleSql` on every run; each
    * lookup is an operation, and a miss fails it, so no query can drop out
    * of the list unnoticed. */
  var attempted: Int = {
    val oracle = graft.SparkEntry.oracleSql
    frozen.foreach { n =>
      if (!graft.SparkEntry.queries.contains(n)) failures += (n -> "missing from SparkEntry.queries")
      if (!oracle.contains(n)) failures += (n -> "missing from SparkEntry.oracleSql")
    }
    2 * frozen.length
  }

  /** Frees what a finished query pinned (cache, checkpoint blocks and
    * tracked broadcasts) and collects the heap, between queries only, as
    * `graft.Bench` does: one query's garbage is not paid for by the next,
    * and peak RSS does not depend on when the collector happened to run. */
  private def release(): Unit = graft.HarnessUtil.releaseAll(spark, gc = true)

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" ").take(300)

  /** Untimed pass: writes each result as parquet for the oracle check.
    * A query that throws is failed here and left out of the comparison, so
    * each query is one operation whichever way it fails. */
  def dumpResults(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val dumped = entries.flatMap { case (n, fn) =>
      attempted += 1
      try {
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$n")
        Some(n)
      } catch { case e: Throwable => failures += (n -> s"threw: ${message(e)}"); None }
      finally release()
    }
    val sql = dumped.flatMap(n => oracle.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/results/oracle_sql.json"),
      Json.value(sql))
  }

  /** Timed passes; in a traced run every other pass runs under the tracer. */
  def timed(tracer: Option[Tracer]): (Seq[Exec], Seq[(Int, Boolean, Double)]) = {
    val execs = mutable.ArrayBuffer[Exec]()
    val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcBeans.map(_.getCollectionTime).sum.toDouble
    val t0 = Clock.ms()
    var pass = 0
    // at least two passes (a median needs more than one sample per query);
    // after that another pass starts only if at least half of it fits. A
    // traced run has at least three (untraced, traced, untraced), so that
    // the untraced passes bracket the traced one and warm-up does not pass
    // for tracing overhead.
    def done = {
      val spent = passes.size >= (if (trace) 3 else 2) &&
        (Clock.ms() - t0) / 1000.0 + passes.map(_._3).last / 2 >= seconds
      if (trace) spent && passes.last._2 == false else spent
    }
    while (!done) {
      val traced = trace && pass % 2 == 1
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(entries)
      val p0 = Clock.ms()
      var releaseMs = 0.0
      order.zipWithIndex.foreach { case ((n, fn), i) =>
        attempted += 1
        val qid = s"p$pass/q$i"
        val warn0 = WarnCounter.count.get()
        val gc0 = gcMs()
        val a = Clock.ms()
        try {
          if (!traced) {
            val qe = fn(spark, dataDir).queryExecution
            qe.executedPlan
            Consume(qe)
            execs += Exec(n, pass, traced = false, Clock.ms() - a, Map.empty)
          } else {
            val tr = tracer.get
            val df = tr.under(s"$qid/build")(fn(spark, dataDir))
            val b = Clock.ms()
            val qe = df.queryExecution
            tr.under(s"$qid/plan")(qe.executedPlan)
            val c = Clock.ms()
            tr.under(s"$qid/exec")(Consume(qe))
            val d = Clock.ms()
            val storage = spark.sparkContext.getRDDStorageInfo
            val layers = Map(
              "ops.build_s" -> (b - a) / 1000.0,
              "plan.s" -> (c - b) / 1000.0,
              "ops.pins" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
              "ops.pin_mb" -> storage.map(s => s.memSize + s.diskSize).sum / 1e6,
              "shuffle.exchanges" -> Consume.exchanges(qe.executedPlan).toDouble,
              "log.warn_lines" -> (WarnCounter.count.get() - warn0).toDouble,
              "jvm.gc_s" -> (gcMs() - gc0) / 1000.0)
            val qspan = tr.record(0L, "query", a, d, Map("query" -> n, "pass" -> pass), key = qid)
            tr.record(qspan, "ops.build", a, b, key = s"$qid/build")
            tr.record(qspan, "plan", b, c, key = s"$qid/plan")
            tr.record(qspan, "exec", c, d, key = s"$qid/exec")
            if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/plans/$n.txt")))
              java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/plans/$n.txt"),
                qe.executedPlan.toString)
            execs += Exec(n, pass, traced = true, d - a, layers ++ tr.queryLayers(qid, a, d))
          }
        } catch {
          case e: Throwable => failures += (n -> s"threw in timed pass $pass: ${message(e)}")
        } finally {
          val r = Clock.ms()
          release()
          releaseMs += Clock.ms() - r
        }
      }
      // the pass's wall time, less the between-query release and collection
      passes += ((pass, traced, (Clock.ms() - p0 - releaseMs) / 1000.0))
      pass += 1
    }
    (execs.toSeq, passes.toSeq)
  }
}
