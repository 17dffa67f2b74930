package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/oracle_check.py).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [query...]` — optional
  * trailing names restrict the dump AND the oracle map to those queries
  * (local iteration on one query); the two-arg invocation dumps
  * everything. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Record every declared query's outcome so the snapshot is self-describing:
    // a failing query lands in verify_errors.json with its message instead of
    // being silently absent from the result set.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      }
      finally HarnessUtil.releaseAll(spark)
    }
    def q(s: String): String = HarnessUtil.jsonQ(s)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // a subset dump gets a subset oracle map, so oracle_check.py checks
    // exactly the dumped queries instead of failing the other ~148
    val json = SparkEntry.oracleSql.view.filterKeys(k => only.isEmpty || only(k))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
