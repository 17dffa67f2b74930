package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probes: generate an N× copy of a testdata dir, time queries
  * across dirs, print plans. Three subcommands:
  *
  *  - `gen <outDir> <mult> <verbatimEighths>` — [[gen]] over the
  *    testdata dir named by `SPARK_GRAFT_SF_DIR`.
  *  - `time <dir>... -- <query>...` — each query on each dir with
  *    Bench's protocol ([[HarnessUtil.QueryTimer]]): median seconds and
  *    shuffle-write MB per dir, and both as a ratio to the first dir.
  *  - `plan <dir> [query...]` — formatted physical plans, so the
  *    scale-sanity checks (pushdown, pruning, broadcast, partial agg,
  *    codegen spans) are auditable after any operator change.
  *
  * The one-off probes of earlier rounds (grouped rank, IVF training,
  * chain diameter, skew, layouts, seal costs, …) are written up in
  * docs/SCALEPROBE_r*.md and docs/SCALING.md; their code is in commit
  * 5af66b2. */
object ScaleProbe {

  private val PlanQueries = Seq("filter", "group_agg", "enrich_wide_row", "window_join",
    "dedup_near_minhash", "ann_topk", "ann_ivf_topk", "word_count",
    "session_window", "ngram_jaccard", "pipeline_clean",
    "decontaminate", "domain_mix", "corpus_shuffle", "repetition_score")

  /** Write `mult` copies of every table in `src` into `out`. Each copy
    * shifts the keys by a per-table stride so cardinalities grow with
    * volume (mult× users, docs, orders); the dimension tables are
    * copied once. A document keeps its text verbatim in copy 0 and in
    * every copy when `pmod(doc_id, 8) < verbatimEighths`; otherwise each
    * token is salted with the copy index, so the copy collides with
    * nothing. The share fixes the near-dup density:
    *
    *  - 8: verbatim replica — every duplicate family grows mult-fold,
    *    so pair counts grow ~quadratically (docs/SCALING.md);
    *  - 0: fresh text — density held constant while volume grows, the
    *    pair family's linearity check (docs/SCALING.md, Probe 1);
    *  - 1, 2, 4: a doc_id-hash share of documents forms mult-sized dup
    *    groups at constant volume — wall time must follow pair count,
    *    not volume² (docs/SCALING.md, Probe 2). */
  def gen(spark: SparkSession, src: String, out: String, mult: Int,
      verbatimEighths: Int): Unit = {
    require(mult >= 1, s"mult must be >= 1: $mult")
    require(verbatimEighths >= 0 && verbatimEighths <= 8,
      s"verbatimEighths must be in 0..8: $verbatimEighths")
    val copies = spark.range(mult).select(col("id").as("copy"))
    def replicate(name: String, keys: Seq[(String, Long)],
        salt: DataFrame => DataFrame = identity): Unit = {
      val copied = salt(spark.read.parquet(s"$src/$name.parquet").crossJoin(copies))
      keys.foldLeft(copied) { case (df, (c, stride)) =>
        df.withColumn(c, col(c) + col("copy") * stride)
      }.drop("copy").write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    replicate("events", Seq("event_id" -> 10000000L, "user_id" -> 1000L))
    // salted before the doc_id shift: the verbatim share is a hash of
    // the SOURCE doc_id, so every copy of a document decides alike
    replicate("documents", Seq("doc_id" -> 1000000L), _.withColumn("text",
      when(col("copy") === 0 || pmod(col("doc_id"), lit(8)) < verbatimEighths, col("text"))
        .otherwise(concat_ws(" ",
          expr("transform(split(text, ' '), w -> concat(w, '_', copy))")))))
    replicate("embeddings", Seq("vec_id" -> 1000000L))
    replicate("lineitem", Seq("l_orderkey" -> 10000000L))
    replicate("orders", Seq("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    for (t <- Seq("customer", "supplier", "part", "nation", "region"))
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
  }

  private def time(spark: SparkSession, dirs: Seq[String], queries: Seq[String]): Unit = {
    val timer = new HarnessUtil.QueryTimer(spark)
    println(f"${"query"}%-24s ${"dir"}%-32s ${"sec"}%8s ${"shufMB"}%9s ${"x_sec"}%7s ${"x_shuf"}%7s")
    queries.foreach { n =>
      val fn = SparkEntry.queries(n)
      val rows = dirs.map { d =>
        val (samples, shuffle) = timer.time(fn, d)
        (d, samples(samples.length / 2), shuffle)
      }
      val (_, sec0, bytes0) = rows.head
      rows.foreach { case (d, sec, bytes) =>
        val xShuf = if (bytes0 > 0) bytes.toDouble / bytes0 else Double.NaN
        println(f"$n%-24s $d%-32s $sec%8.2f ${bytes / 1024.0 / 1024.0}%9.2f ${sec / sec0}%7.2f $xShuf%7.2f")
      }
    }
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = GraftSession()
    try body(spark) finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen", out, mult, eighths) if sys.env.contains("SPARK_GRAFT_SF_DIR") =>
      val src = sys.env("SPARK_GRAFT_SF_DIR")
      withSession(gen(_, src, out, mult.toInt, eighths.toInt))
      println(s"generated ${mult}x of $src into $out (verbatim $eighths/8)")
    case "time" +: rest if rest.indexOf("--") > 0 && rest.last != "--" =>
      val (dirs, names) = (rest.takeWhile(_ != "--"), rest.dropWhile(_ != "--").drop(1))
      names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
      withSession(time(_, dirs, names))
    case "plan" +: dir +: names =>
      withSession { spark =>
        (if (names.nonEmpty) names else PlanQueries).foreach { n =>
          println(s"\n========== $n ==========")
          SparkEntry.queries(n)(spark, dir).explain("formatted")
        }
      }
    case _ =>
      System.err.println(
        """usage: SPARK_GRAFT_SF_DIR=<srcDir> ScaleProbe gen <outDir> <mult> <verbatimEighths>
          |       ScaleProbe time <dir>... -- <query>...
          |       ScaleProbe plan <dir> [query...]""".stripMargin)
      sys.exit(2)
  }
}
