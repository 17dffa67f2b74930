package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built — every main and the
  * test suite's `SparkSpec` go through [[apply]], so their confs cannot
  * drift apart. The session is `local[cpus]` with `cpus` shuffle
  * partitions, the graft extensions, UTC, no UI and log level ERROR,
  * plus two environment hooks, each read once here:
  *
  *  - `SPARK_GRAFT_MATERIALIZE_MODE=reliable` sends every eager pin
  *    through checkpoint-to-storage instead of `localCheckpoint` (the
  *    full-surface proof that the mode never changes a result), with
  *    `SPARK_GRAFT_CHECKPOINT_DIR` standing in for the cluster's
  *    fault-tolerant path;
  *  - `SPARK_GRAFT_CONF="k=v;k=v"` sets arbitrary session confs, e.g.
  *    the serving layouts (`spark.graft.layout.enabled=true`) for the
  *    full-surface layout-identity proof, or the RocksDB state store
  *    for a StreamBench run.
  *
  * The scan-split floor is left at Spark's default: on single-row-group
  * files a lower `openCostInBytes` only plans empty scan tasks. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the processors this JVM can use. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MODE").foreach { mode =>
      spark.conf.set(graft.ops.Prims.MaterializeModeKey, mode)
      if (mode == "reliable")
        spark.sparkContext.setCheckpointDir(
          sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/graft_reliable_ckpt"))
    }
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    spark
  }

  /** Parse a `SPARK_GRAFT_CONF` value: `;`-separated `key=value`
    * entries, both sides trimmed, blank entries skipped. An entry with
    * no `=` or an empty key is rejected — a silently dropped typo (say
    * `spark.graft.layout.enabled:true`) would turn a layout-identity
    * run into raw-against-raw, which passes without testing anything. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }
}
