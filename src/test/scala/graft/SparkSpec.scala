package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session, never stopped per-suite

  /** Stop a CONTINUOUS-TRIGGER streaming query (ProcessingTimeTimeout
    * timers re-trigger micro-batches forever, so there is no drained
    * quiet point to stop at) without spraying the log: wait briefly for
    * an idle window, and silence logging for the stop itself — killing
    * an in-flight micro-batch aborts its state-store commit, which is
    * benign by construction here (nothing reads the torn-down query
    * again) but prints multi-line ERROR stacks that would bury a REAL
    * failure in the suite log. Queries that CAN drain should keep the
    * `processAllAvailable()`-then-`stop()` shape instead. */
  def quietStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis + 5000
    while (q.status.isTriggerActive && System.currentTimeMillis < deadline)
      Thread.sleep(20)
    quietly(q.stop())
  }

  /** Run a block with logging silenced — for DELIBERATE failure paths
    * (`intercept` of a loud guard, continuous-query teardown) whose
    * executor-side ERROR stacks would otherwise bury a real failure in
    * the suite log. Scope it tightly: anything unexpected thrown inside
    * still propagates and fails the test, it just doesn't also spray. */
  def quietly[T](body: => T): T = {
    spark.sparkContext.setLogLevel("OFF")
    try body finally spark.sparkContext.setLogLevel("ERROR")
  }
}

object SparkSpec {
  /** Pinned at 4 cores whatever the machine: test plans and the
    * PlanGuardSpec exchange budgets are written against 4 partitions. */
  lazy val session: SparkSession = GraftSession(cpus = 4)
}
