package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Prims._

/** Corpus-assembly operators a large-scale training-data pipeline needs
  * beyond the reference's own surface (north-star extensions, like
  * Dedup/Similarity/TextAnalysis): deterministic train/val splitting,
  * benchmark decontamination, and per-source quota sampling (domain
  * mixing).
  *
  * Scale posture:
  *   - Split assignment is a pure hash of the doc id — stable under
  *     corpus growth, reshuffling, and backfills (a row-position split
  *     would re-assign docs whenever upstream order changed). One narrow
  *     map + one tiny aggregation.
  *   - Decontamination joins the corpus's n-grams against the BENCHMARK
  *     set's n-grams. Benchmark suites are KBs against a 100 TB corpus,
  *     so the held-out gram set broadcasts and the corpus never
  *     shuffles: narrow gram explode → broadcast semi-join → anti-join.
  *   - Every per-group order (quota sampling, per-language quantile
  *     ranks, token-budget mixing) goes through the two-phase grouped
  *     primitives in [[Prims]] — groups here (sources, languages) are
  *     few and huge, so a `Window.partitionBy(group)` would funnel an
  *     entire group through one task's sort.
  */
object PipelineOps {

  private val ValPct = 10L         // 90/10 split
  private val ContamGram = 8       // verbatim 8-gram overlap = contaminated
  private val HeldoutMax = 10L     // doc_id < 10 stands in for the benchmark set
  private val QuotaPerSource = 10  // domain-mix cap per source

  /** train_val_split: hash-stable 90/10 assignment + per-split doc and
    * token counts. The hash is salted ('split_') so the split is
    * independent of every other hash-derived decision in the pipeline. */
  def trainValSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        when(pmod(hash60(concat(lit("split_"), col("doc_id"))), lit(100L)) < 100L - ValPct,
          "train").otherwise("val").as("split"),
        expr(s"size($wordsExpr)").cast("long").as("toks"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .orderBy("split")

  def trainValSplitSql: String = {
    val h = hash60Sql("'split_' || CAST(doc_id AS VARCHAR)")
    s"""SELECT CASE WHEN $h % 100 < ${100 - ValPct} THEN 'train' ELSE 'val' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
  }

  /** Word `n`-grams per doc, duplicates included (docs with < n words
    * have none) — the verbatim-overlap unit used for decontamination.
    * Deliberately NOT deduped: a distinct here would shuffle every
    * corpus gram, and the overlap semi-join doesn't care about
    * multiplicity — only the tiny held-out side gets deduped (for
    * broadcast size). */
  private def wordGrams(docs: DataFrame, n: Int): DataFrame =
    // scanFanout (r20): the gram explode is heavy per-row work fused into
    // a near-serial scan stage on a few-row-group corpus file (guide
    // §2.5); the decontamination consumers are pin-light (the held-side
    // pin is heldout-sized), so the fan-out's task-count effect on pinned
    // tables — which killed the blanket form — does not apply here.
    // Measured: decontaminate 1.01 → 0.66 s at sf0.1. No-op on
    // already-parallel scans; composed pipelines use the FromToks form
    // and their own shared pinned tokenize instead.
    wordGramsFromToks(Prims.tokenized(Prims.scanFanout(docs, col("doc_id"))), n)

  /** [[wordGrams]] over a pre-tokenized `(doc_id, ws)` frame — composed
    * pipelines feed this from their one shared corpus-tokenize pass. */
  private def wordGramsFromToks(toks: DataFrame, n: Int): DataFrame =
    toks
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))"))
        .as("g"))

  /** decontaminate: drop every corpus doc sharing any verbatim
    * `ContamGram`-gram with the held-out benchmark set (doc_id <
    * HeldoutMax). Emits the surviving doc ids. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = wordGrams(Tables.documents(s, dir), ContamGram)
    val held = grams.filter(col("doc_id") < HeldoutMax)
      .select("g").distinct()
    val contaminated = grams.filter(col("doc_id") >= HeldoutMax)
      .join(broadcast(held), "g")
      .select("doc_id").distinct()
    Tables.documents(s, dir)
      .filter(col("doc_id") >= HeldoutMax)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  def decontaminateSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, $wordsSql AS ws
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+${ContamGram - 1}], ' ') AS g
       |  FROM w, unnest(range(1, len(ws) - ${ContamGram - 2})) AS t(i)
       |  WHERE len(ws) >= $ContamGram),
       |held AS (SELECT DISTINCT g FROM g WHERE doc_id < $HeldoutMax),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM g JOIN held USING (g)
       |  WHERE doc_id >= $HeldoutMax)
       |SELECT doc_id FROM documents
       |WHERE doc_id >= $HeldoutMax
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY doc_id""".stripMargin

  /** False-positive probability for the decontamination Bloom prefilter. */
  private val BloomFpp = 0.01

  /** decontaminate_bloom: [[decontaminate]] with a BLOOM-FILTER prefilter
    * on the corpus gram stream — the scale form for when the held-out
    * set is too large to broadcast as a join hash table but its Bloom
    * bits still fit (a filter at fpp=1% costs ~10 bits/gram vs the full
    * gram string + hash-table overhead: a 100M-gram benchmark suite is a
    * ~120 MB filter vs multi-GB of strings). The filter is built in one
    * distributed aggregation (`stat.bloomFilter`) and applied as the
    * PRUNE itself — a narrow codegen scan
    * ([[graft.functions.MightContainBloomBc]]: the filter ships via a
    * `SparkContext.broadcast` handle, once per executor, deserialized
    * once per executor) BEFORE the exact membership join, so only
    * the ~fpp fraction of non-matching grams (plus true hits) ever
    * reaches a shuffle. The exact join then removes Bloom false
    * positives, so the RESULT is bit-identical to [[decontaminate]] —
    * same oracle — regardless of fpp; the filter only prunes work.
    * The confirm join carries NO broadcast hint: under this operator's
    * own premise the held set exceeds broadcast size, so it must be a
    * shuffle join — over the Bloom-thinned gram stream, whose volume is
    * ~fpp·corpus + true hits, not the corpus (AQE still broadcasts it
    * when a small fixture makes that cheaper).
    *
    * BROADCAST LIFETIME CONTRACT: each construction of this query
    * allocates exactly ONE filter-sized `SparkContext.broadcast`
    * (~120 MB at production held-set sizes) and registers it with
    * [[graft.HarnessUtil.trackBroadcast]]. A caller that constructs the
    * query repeatedly (a bench loop, a session re-planning per batch of
    * corpus shards) MUST call `HarnessUtil.releaseAll` once the query's
    * action has completed — that destroys the filter on the driver and
    * every executor immediately, and the constructed plan must not be
    * executed again afterwards. A session that never releases does not
    * leak unboundedly: once the plan becomes unreachable, Spark's
    * ContextCleaner reclaims the broadcast with GC — but reclamation is
    * then GC-paced, so N constructions can transiently hold N filters.
    * The eager release is the contract; the cleaner is the backstop.
    * BloomBroadcastLifecycleSpec pins both halves (exactly one tracked
    * broadcast per construction; zero live filter blocks after each
    * release, across repeated constructions). No streaming path
    * constructs this query per micro-batch today — the streaming
    * curation legs reuse one batch-constructed plan; if a per-batch
    * construction is ever added, destroy-after-action inside
    * `foreachBatch` is the required shape. */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val grams = wordGrams(Tables.documents(s, dir), ContamGram)
    Tables.documents(s, dir)
      .filter(col("doc_id") >= HeldoutMax)
      .join(contaminatedViaBloom(s, grams), Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Contaminated corpus doc ids (any verbatim gram shared with the
    * held-out set) via the Bloom prune — the contamination core shared
    * by [[decontaminateBloom]] and the composed pipelines
    * ([[curateManifest]], [[corpusHealth]]), so the composed queries
    * inherit the large-held scale posture (no mandatory broadcast of
    * `held`; AQE still broadcasts the confirm join when a small fixture
    * makes that cheaper) instead of the small-held premise the plain
    * [[decontaminate]] documents. Bit-identical to the broadcast
    * semi-join form: the Bloom filter only prunes, the exact confirm
    * join removes its false positives. The filter ships via a
    * `SparkContext.broadcast` handle ([[graft.functions.MightContainBloomBc]])
    * — once per executor, deserialized once per executor — never as an
    * inline plan literal. */
  private def contaminatedViaBloom(s: SparkSession, grams: DataFrame): DataFrame = {
    val held = grams.filter(col("doc_id") < HeldoutMax)
      .select("g").distinct()
      // referenced three times (count, filter build, exact confirm join)
      .materialized
    val nHeld = held.count()
    // empty held set: nothing can be contaminated (and stat.bloomFilter
    // over zero rows yields a null buffer) — short-circuit to an empty
    // id frame, which Catalyst folds to a LocalRelation
    if (nHeld == 0) return grams.filter(lit(false)).select("doc_id")
    val bloom = held.stat.bloomFilter("g", nHeld, BloomFpp)
    // LIFETIME: one broadcast per construction, registered with
    // HarnessUtil so releaseAll DESTROYS it once the query's action is
    // done (same between-queries contract as the localCheckpoint above
    // — the plan must not execute again after that release). Sessions
    // that never call releaseAll fall back to ContextCleaner/GC
    // reclamation when the lazy plan becomes unreachable.
    val bloomBc = graft.HarnessUtil.trackBroadcast(s.sparkContext.broadcast(bloom))
    grams.filter(col("doc_id") >= HeldoutMax)
      // narrow codegen Bloom prune, ~fpp survivors
      .filter(graft.functions.MightContainBloomBc.onCol(bloomBc, col("g")))
      .join(held, "g")                      // exact confirm kills false positives
      .select("doc_id").distinct()
  }

  /** Relative-error tolerance the HLL cardinality gate enforces (the
    * sketch is configured at rsd=[[HllRsd]]; 3σ ≈ 3·rsd stays within
    * this with overwhelming probability, and the sketch is deterministic
    * for a given dataset, so the gate is stable run-to-run). */
  private val HllTol = 0.15
  private val HllRsd = 0.05

  /** source_cardinality: per-source doc counts and EXACT distinct-content
    * cardinality, plus a gate asserting the HyperLogLog++ estimate stays
    * within [[HllTol]] of exact. At 100 TB the exact distinct (which
    * shuffles every distinct content hash) is the audit/fixture path and
    * HLL is the production path — one pass, map-side combinable,
    * constant memory per group; the gate row pins the sketch's quality
    * into the bit-exact oracle so an HLL regression (or a tolerance
    * drift) is a hash mismatch, the same pattern as `ann_ivf_recall`.
    * The oracle emits literal TRUE — the gate FAILS the whole query if
    * any source's estimate leaves the tolerance band. */
  def sourceCardinality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        approx_count_distinct(col("h"), HllRsd).as("n_approx"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (abs(col("n_approx") - col("n_distinct")).cast("double")
          <= col("n_distinct").cast("double") * HllTol).as("hll_ok"))
      .orderBy("source")

  def sourceCardinalitySql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct, TRUE AS hll_ok
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** domain_mix: keep at most `QuotaPerSource` docs per source, chosen
    * by salted-hash order — a deterministic uniform sample per domain,
    * the building block of proportion-controlled corpus mixing.
    *
    * Ranked via the two-phase [[Prims.groupedRowNumber]], not
    * `Window.partitionBy(source)`: sources are few and huge at corpus
    * scale, and every per-group order in this file goes through the
    * grouped-rank primitive so none depends on the optimizer's
    * WindowGroupLimit pruning to stay off the one-task-per-source skew
    * funnel. (For this bounded K the window form's map-side top-K prunes
    * shuffle volume harder; the trade is one full range exchange for a
    * plan whose safety doesn't hinge on K staying small — see the
    * primitive's scaladoc for the decision rule.) */
  def domainMix(s: SparkSession, dir: String): DataFrame =
    Prims.groupedRowNumber(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            hash60(concat(lit("mix_"), col("doc_id"))).as("h")),
        "pick", Seq("source"), col("h"), col("doc_id"))
      .filter(col("pick") <= QuotaPerSource)
      .select("source", "pick", "doc_id")
      .orderBy("source", "pick")

  def domainMixSql: String = {
    val h = hash60Sql("'mix_' || CAST(doc_id AS VARCHAR)")
    s"""SELECT source, pick, doc_id FROM (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS pick
       |  FROM documents)
       |WHERE pick <= $QuotaPerSource
       |ORDER BY source, pick""".stripMargin
  }

  /** Total token budget the weighted mix fills (across all sources). */
  private val MixTokenBudget = 6000L

  /** train_val_split_cluster: the dedup-aware split — the FIX for what
    * [[splitLeakage]] measures. The split hash is taken over each doc's
    * near-dup CLUSTER LABEL (its component's minimum doc_id; singletons
    * hash their own id, which IS their label), so an entire duplicate
    * family lands on one side of the 90/10 line and cross-split leakage
    * is zero BY CONSTRUCTION — the rule production dedup pipelines use
    * when they split after clustering. Same readout shape as
    * [[trainValSplit]] plus the leak count, which this split pins at 0.
    *
    * Scale shape: one left join of the corpus to the (doc_id, label)
    * frame (clustered docs are a small fraction; the join is
    * int64-keyed), then the same hash projection and rollup. */
  def trainValSplitCluster(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.clusterLabelsFor(s, dir)
    val assigned = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"size($wordsExpr)").cast("long").as("toks"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("unit", coalesce(col("label"), col("doc_id")))
      .withColumn("split",
        when(pmod(hash60(concat(lit("split_"), col("unit"))), lit(100L)) < 100L - ValPct,
          "train").otherwise("val"))
      .materialized
    // leaked = clusters seen on both sides — zero by construction, and
    // the query PROVES it instead of asserting it
    val leaks = assigned.filter(col("label").isNotNull)
      .groupBy("label").agg(countDistinct("split").as("n_sides"))
      .filter(col("n_sides") > 1)
      .agg(count(lit(1)).as("leaked_clusters"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .crossJoin(broadcast(leaks))
      .select("split", "n_docs", "n_tokens", "leaked_clusters")
      .orderBy("split")
  }

  def trainValSplitClusterSql: String = {
    val h = hash60Sql("'split_' || CAST(unit AS VARCHAR)")
    s"""WITH cl AS (${Dedup.dedupClustersSql}),
       |lab AS (SELECT cluster_id AS label, CAST(m AS BIGINT) AS doc_id
       |  FROM cl, unnest(string_split(members, ',')) AS t(m)),
       |a AS (SELECT d.doc_id, len($wordsSql) AS toks, lab.label,
       |    coalesce(lab.label, d.doc_id) AS unit
       |  FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id),
       |sp AS (SELECT *,
       |    CASE WHEN $h % 100 < ${100 - ValPct} THEN 'train' ELSE 'val' END AS split
       |  FROM a),
       |lk AS (SELECT CAST(count(*) AS BIGINT) AS leaked_clusters FROM (
       |  SELECT label FROM sp WHERE label IS NOT NULL
       |  GROUP BY label HAVING count(DISTINCT split) > 1))
       |SELECT split, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  leaked_clusters
       |FROM sp, lk GROUP BY split, leaked_clusters ORDER BY split""".stripMargin
  }

  /** split_leakage: the eval-hygiene audit — validation documents that
    * are near-duplicates of a training document leak the eval set into
    * training (the benchmark-contamination failure mode, applied to
    * your OWN held-out split). A val doc leaks when its near-dup
    * cluster contains ≥1 train doc; each leak row carries the cluster
    * context so the fix (move or drop) is mechanical. Run this after
    * every re-split: hash-based splits are stable per doc but NOT
    * dedup-aware, so every near-dup family straddling the 90/10 line
    * is a leak until the split is assigned per CLUSTER, not per doc.
    *
    * Scale shape: reuses the cluster-resolution core (bucketed pair
    * generation, size-gated components); the split column is a pure
    * hash projection; the leak test is one label-keyed aggregation +
    * a semi-style join back — all int64-keyed, nothing corpus². */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.clusterLabelsFor(s, dir)
    val split = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(pmod(hash60(concat(lit("split_"), col("doc_id"))), lit(100L)) < 100L - ValPct,
          "train").otherwise("val").as("split"))
    val j = labels.join(split, "doc_id").materialized
    val cstats = j.groupBy("label").agg(
      count(lit(1)).as("cluster_size"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"))
    j.filter(col("split") === "val")
      .join(cstats.filter(col("n_train") >= 1), "label")
      .select(col("doc_id").as("val_doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), col("n_train"))
      .orderBy("val_doc_id")
  }

  def splitLeakageSql: String = {
    val h = hash60Sql("'split_' || CAST(doc_id AS VARCHAR)")
    s"""WITH cl AS (${Dedup.dedupClustersSql}),
       |lab AS (SELECT cluster_id AS label, CAST(m AS BIGINT) AS doc_id
       |  FROM cl, unnest(string_split(members, ',')) AS t(m)),
       |sp AS (SELECT doc_id,
       |    CASE WHEN $h % 100 < ${100 - ValPct} THEN 'train' ELSE 'val' END AS split
       |  FROM documents),
       |j AS (SELECT lab.label, lab.doc_id, sp.split FROM lab JOIN sp USING (doc_id)),
       |cs AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size,
       |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train
       |  FROM j GROUP BY 1)
       |SELECT j.doc_id AS val_doc_id, j.label AS cluster_id, cluster_size, n_train
       |FROM j JOIN cs USING (label)
       |WHERE j.split = 'val' AND n_train >= 1
       |ORDER BY val_doc_id""".stripMargin
  }

  /** domain_mix_temperature: temperature-flattened domain shares — the
    * mT5/multilingual balancing rule. Raw token shares p_i get
    * re-weighted to p_i^τ / Σ p_j^τ with τ = 1/2, boosting the tail
    * sources a proportional mix starves (the standard fix for
    * low-resource domains). τ = 1/2 is not just the common default: it
    * makes the fit exactly computable cross-engine, because x^0.5 is
    * IEEE-754 sqrt — CORRECTLY ROUNDED by spec, unlike pow/exp/ln which
    * are libm-dependent. The weight is quantized once
    * (round(sqrt(n_tok)·1e6) — identical int64 on both engines), so the
    * share denominator is an exact integer sum and every share/boost is
    * one double division of exact ints. Scale shape: one
    * map-side-combinable per-source aggregation (sources are a handful
    * at any corpus size), then a broadcast scalar cross. */
  def domainMixTemperature(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .select(col("source"), expr(s"size($wordsExpr)").cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
      .withColumn("w", expr("CAST(round(sqrt(n_tok) * 1e6) AS BIGINT)"))
    val tot = src.agg(sum("n_tok").as("tot_tok"), sum("w").as("tot_w"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tok"),
        (col("n_tok").cast("double") / col("tot_tok")).as("raw_share"),
        (col("w").cast("double") / col("tot_w")).as("temp_share"),
        ((col("w").cast("double") / col("tot_w"))
          / (col("n_tok").cast("double") / col("tot_tok"))).as("boost"))
      .orderBy("source")
  }

  def domainMixTemperatureSql: String =
    s"""WITH src AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(len($wordsSql)) AS BIGINT) AS n_tok
       |  FROM documents GROUP BY source),
       |w AS (SELECT *, CAST(round(sqrt(n_tok) * 1e6) AS BIGINT) AS w FROM src),
       |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
       |    CAST(sum(w) AS BIGINT) AS tot_w FROM w)
       |SELECT source, n_docs, n_tok,
       |  CAST(n_tok AS DOUBLE) / tot_tok AS raw_share,
       |  CAST(w AS DOUBLE) / tot_w AS temp_share,
       |  (CAST(w AS DOUBLE) / tot_w) / (CAST(n_tok AS DOUBLE) / tot_tok) AS boost
       |FROM w, t ORDER BY source""".stripMargin

  /** domain_mix_weighted: token-budget proportional domain mixing — the
    * production form of [[domainMix]]. Each source gets a target token
    * PROPORTION (weight w/ΣW of [[MixTokenBudget]]; here w = numeric
    * source suffix % 4 + 1, a deterministic stand-in for a configured
    * mix), and docs are selected per source in salted-hash order until
    * the source's token budget is filled: a doc is kept while the tokens
    * selected before it fall short of the budget, so achieved tokens land
    * in [budget, budget + one doc) — within one doc of the target, the
    * tightest a doc-granular mix can get.
    *
    * Scale shape: the per-source running token sum is the two-phase
    * [[Prims.globalPrefixSum]] over the (source, hash, doc_id) order —
    * per-source cumulative = global cumulative minus the source's start
    * offset (an n_sources-row broadcast join) — NEVER a
    * `Window.partitionBy(source)`, which would funnel each source's full
    * document list through one task (sources are few and huge at 100 TB:
    * the worst possible skew). Budgets are a per-source metadata
    * computation; integer arithmetic throughout so both engines agree. */
  def domainMixWeighted(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        expr(s"size($wordsExpr)").cast("long").as("n_tokens"),
        hash60(concat(lit("mixw_"), col("doc_id"))).as("h"))
    val cum = Prims.globalPrefixSum(t, "n_tokens", "gcum",
      col("source"), col("h"), col("doc_id"))
    // source metadata: start offset (min global cum = the source's first
    // row in sort order), weight, and integer token budget
    val starts = cum.groupBy("source").agg(min("gcum").as("start0"))
    val wts = starts.select(col("source"), col("start0"),
      coalesce(expr("try_cast(substring(source, 4, 10) AS BIGINT)") % 4L + 1L,
        lit(1L)).as("wt"))
    val budgets = wts
      .crossJoin(broadcast(wts.agg(sum("wt").as("tw"))))
      // floor the integer budget at 1: with very many sources (ΣW >
      // wt·MixTokenBudget) the division floors to 0, which would silently
      // exclude the source from the mix instead of giving it a minimal
      // share — every configured source stays represented
      .select(col("source"), col("start0"),
        expr(s"greatest((wt * $MixTokenBudget) div tw, 1)").as("budget"))
    cum.join(broadcast(budgets), "source")
      .select(col("source"), col("doc_id"), col("n_tokens"),
        (col("gcum") - col("start0")).as("cum_before"), col("budget"))
      .filter(col("cum_before") < col("budget"))
      .orderBy("source", "doc_id")
  }

  def domainMixWeightedSql: String = {
    val h = hash60Sql("'mixw_' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len($wordsSql) AS BIGINT) AS n_tokens, $h AS h
       |  FROM documents),
       |w AS (SELECT source,
       |    coalesce(TRY_CAST(substr(source, 4, 10) AS BIGINT) % 4 + 1, 1) AS wt
       |  FROM (SELECT DISTINCT source FROM t)),
       |b AS (SELECT source,
       |    CAST(greatest((wt * $MixTokenBudget) // (SELECT sum(wt) FROM w), 1) AS BIGINT) AS budget
       |  FROM w),
       |c AS (SELECT doc_id, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       |SELECT source, doc_id, n_tokens, cum_before, budget
       |FROM c JOIN b USING (source)
       |WHERE cum_before < budget
       |ORDER BY source, doc_id""".stripMargin
  }

  /** corpus_shuffle: a deterministic global training order — position =
    * global row number under a salted-hash total order. Training wants
    * example order decorrelated from ingest order; a hash order is
    * reproducible across runs and engines, and the two-phase
    * [[Prims.globalRowNumber]] assigns positions without a
    * single-partition sort. */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    Prims.globalRowNumber(
        Tables.documents(s, dir).select(col("doc_id"),
          hash60(concat(lit("shuf_"), col("doc_id"))).as("h")),
        "pos", col("h"), col("doc_id"))
      .select(col("pos").cast("long").as("pos"), col("doc_id"))
      .orderBy("pos")

  def corpusShuffleSql: String = {
    val h = hash60Sql("'shuf_' || CAST(doc_id AS VARCHAR)")
    s"""SELECT row_number() OVER (ORDER BY $h, doc_id) AS pos, doc_id
       |FROM documents ORDER BY pos""".stripMargin
  }

  /** corpus_stats: per-language doc/token counts and token-length
    * quantiles — the summary a mixing/curriculum decision reads.
    * Quantiles are DISCRETE (the value at rank ceil(p·n), computed with
    * pure integer arithmetic), not interpolated: engine-native
    * interpolated percentiles (Spark `percentile`, DuckDB
    * `quantile_cont`) use different interpolation arithmetic and can
    * differ in the last ulp, which the bit-exact oracle gate would flag
    * on unlucky data. Integer ranks + int64 token values cannot
    * diverge. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    corpusStatsFrom(
      Tables.documents(s, dir)
        .select(col("lang"), expr(s"size($wordsExpr)").cast("long").as("toks")))

  /** Core of [[corpusStats]] over a (lang, toks) frame — separated so the
    * skew behavior is testable on synthetic fixtures (one dominant
    * language) independent of the documents table.
    *
    * The per-language rank that picks the quantile values is the
    * two-phase [[Prims.groupedRowNumber]] — range-partition by
    * (lang, toks), per-partition counts, broadcast per-lang offsets —
    * NOT `row_number() OVER (PARTITION BY lang ORDER BY toks)`:
    * languages are few and huge (a handful cover most of a 100 TB
    * corpus), so the window form would sort ~a fifth of the corpus in
    * ONE task. Rank ties among equal `toks` are assignment-arbitrary,
    * but the quantile reads only `toks` AT a rank — tie-invariant, so
    * the oracle still matches bit-for-bit. */
  private[graft] def corpusStatsFrom(t: DataFrame): DataFrame = {
    val ranked = Prims.groupedRowNumber(t, "rk", Seq("lang"), col("toks"))
    // counts/sums come from the ranked output, not a second scan of `t`:
    // groupedRowNumber pinned the tokenized rows, so this aggregation
    // reads the checkpoint instead of re-tokenizing the corpus
    val base = ranked.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("toks").as("n_tokens"))
      .select(col("lang"), col("n"), col("n_tokens"),
        expr("(50 * n + 99) div 100").as("r50"),
        expr("(95 * n + 99) div 100").as("r95"))
    val quants = ranked.join(broadcast(base.select("lang", "r50", "r95")), "lang")
      .groupBy("lang")
      .agg(max(when(col("rk") === col("r50"), col("toks"))).as("p50_toks"),
           max(when(col("rk") === col("r95"), col("toks"))).as("p95_toks"))
    base.join(broadcast(quants), "lang")
      .select(col("lang"), col("n").as("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n")).as("mean_toks"),
        col("p50_toks"), col("p95_toks"))
      .orderBy("lang")
  }

  def corpusStatsSql: String =
    s"""WITH t AS (SELECT lang, CAST(len($wordsSql) AS BIGINT) AS toks FROM documents),
       |a AS (SELECT lang, count(*) AS n, CAST(sum(toks) AS BIGINT) AS n_tokens,
       |    (50 * count(*) + 99) // 100 AS r50, (95 * count(*) + 99) // 100 AS r95
       |  FROM t GROUP BY lang),
       |r AS (SELECT lang, toks,
       |    row_number() OVER (PARTITION BY lang ORDER BY toks) AS rk FROM t),
       |q AS (SELECT r.lang,
       |    max(CASE WHEN rk = r50 THEN toks END) AS p50_toks,
       |    max(CASE WHEN rk = r95 THEN toks END) AS p95_toks
       |  FROM r JOIN a USING (lang) GROUP BY r.lang)
       |SELECT a.lang AS lang, n AS n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / n AS mean_toks, p50_toks, p95_toks
       |FROM a JOIN q ON a.lang = q.lang ORDER BY a.lang""".stripMargin

  /** Relative tolerance for the quantile-sketch gate. */
  private val QuantTol = 0.25
  /** percentile_approx accuracy: rank error ≤ n/accuracy. */
  private val QuantAccuracy = 10000

  /** quantile_sketch_gate: Spark's native `percentile_approx` (the
    * one-pass, map-side-combinable sketch a 100 TB corpus_stats would
    * actually run) audited against the EXACT discrete quantiles from the
    * two-phase grouped rank — per language, the exact p50/p95 plus
    * booleans asserting the sketch lands within [[QuantTol]] of them.
    * The oracle emits literal TRUE, so a sketch regression (or an
    * accuracy misconfiguration) is a hash mismatch — the same gate
    * pattern as `ann_ivf_recall` and `source_cardinality`. The exact
    * side pays one range exchange; the sketch side is a single
    * combinable aggregation — the gate documents exactly what buying
    * the cheap path costs in accuracy. */
  def quantileSketchGate(s: SparkSession, dir: String): DataFrame = {
    val exact = corpusStats(s, dir).select("lang", "p50_toks", "p95_toks")
    val approx = Tables.documents(s, dir)
      .select(col("lang"), expr(s"size($wordsExpr)").cast("long").as("toks"))
      .groupBy("lang")
      .agg(percentile_approx(col("toks"), array(lit(0.5), lit(0.95)),
        lit(QuantAccuracy)).as("ap"))
      .select(col("lang"), element_at(col("ap"), 1).as("a50"),
        element_at(col("ap"), 2).as("a95"))
    def ok(a: Column, e: Column): Column =
      abs(a - e).cast("double") <= e.cast("double") * QuantTol
    exact.join(approx, "lang")
      .select(col("lang"), col("p50_toks"), col("p95_toks"),
        ok(col("a50"), col("p50_toks")).as("p50_ok"),
        ok(col("a95"), col("p95_toks")).as("p95_ok"))
      .orderBy("lang")
  }

  def quantileSketchGateSql: String =
    s"""WITH t AS (SELECT lang, CAST(len($wordsSql) AS BIGINT) AS toks FROM documents),
       |a AS (SELECT lang, count(*) AS n,
       |    (50 * count(*) + 99) // 100 AS r50, (95 * count(*) + 99) // 100 AS r95
       |  FROM t GROUP BY lang),
       |r AS (SELECT lang, toks,
       |    row_number() OVER (PARTITION BY lang ORDER BY toks) AS rk FROM t)
       |SELECT r.lang AS lang,
       |  max(CASE WHEN rk = r50 THEN toks END) AS p50_toks,
       |  max(CASE WHEN rk = r95 THEN toks END) AS p95_toks,
       |  TRUE AS p50_ok, TRUE AS p95_ok
       |FROM r JOIN a USING (lang) GROUP BY r.lang ORDER BY r.lang""".stripMargin

  private[graft] val PackCapacity = 1024L // context length in tokens per bin

  /** corpus_pack: sequence packing — concatenate the corpus's token
    * stream in a deterministic global order and cut it every
    * `PackCapacity` tokens (the standard concat-and-chunk pretraining
    * layout; no padding waste, docs may straddle a boundary). Emitted
    * per doc: where its tokens land — start bin and offset within it —
    * which is exactly the exclusive global prefix sum of token counts.
    * Computed with the two-phase [[Prims.globalPrefixSum]], so the
    * global order costs one range shuffle + a numPartitions metadata
    * collect, never a single-partition sort; bin assembly downstream is
    * then embarrassingly parallel by start_bin. */
  def corpusPack(s: SparkSession, dir: String): DataFrame =
    corpusPackFrom(
      Tables.documents(s, dir)
        .select(col("doc_id"), expr(s"size($wordsExpr)").cast("long").as("n_tokens")))

  /** [[corpusPack]] over a bare `(doc_id, n_tokens)` frame — the packing
    * core, factored out so PackReconcileSpec can property-check the
    * doc-side and bin-side views against each other on generated
    * corpora. */
  private[graft] def corpusPackFrom(toklens: DataFrame): DataFrame =
    Prims.globalPrefixSum(toklens, "n_tokens", "cum_before", col("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before div $PackCapacity").as("start_bin"),
        (col("cum_before") % PackCapacity).as("start_offset"))
      .orderBy("doc_id")

  def corpusPackSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       |SELECT doc_id, n_tokens, cum_before // $PackCapacity AS start_bin,
       |  cum_before % $PackCapacity AS start_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** pack_bins: the BIN-side view of sequence packing — [[corpusPack]]
    * emits where each doc's tokens START; this materializes what each
    * bin CONTAINS (the manifest a dataloader actually consumes): per
    * bin, the docs whose token spans intersect it (sorted id list) and
    * the tokens it holds from them. Every bin except the last must hold
    * exactly [[PackCapacity]] tokens — the no-padding invariant, which
    * the integer span arithmetic makes checkable bit-exactly.
    *
    * Scale shape: the doc→bin fan-out is a narrow explode of
    * `sequence(start_bin, end_bin)` — a doc adds one row per bin it
    * TOUCHES (≈ n_tokens/capacity + 1, so total rows ≈ 2× corpus token
    * count / capacity), then ONE combinable aggregation on the int64
    * bin id. The per-bin doc list is bounded by capacity (at most
    * capacity docs can start in one bin, plus one straddler), so the
    * collect is per-group bounded — never an unbounded collect_list. */
  def packBins(s: SparkSession, dir: String): DataFrame =
    packBinsFrom(
      Tables.documents(s, dir)
        .select(col("doc_id"), expr(s"size($wordsExpr)").cast("long").as("n_tokens")))

  /** [[packBins]] over a bare `(doc_id, n_tokens)` frame (see
    * [[corpusPackFrom]]). */
  private[graft] def packBinsFrom(toklens: DataFrame): DataFrame = {
    val placed = Prims.globalPrefixSum(
        toklens.filter(col("n_tokens") >= 1), // a 0-token doc occupies no bin
        "n_tokens", "cum_before", col("doc_id"))
    placed
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        expr(s"cum_before div $PackCapacity").as("b0"),
        expr(s"(cum_before + n_tokens - 1) div $PackCapacity").as("b1"))
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        explode(expr("sequence(b0, b1)")).as("bin_id"))
      .select(col("bin_id"), col("doc_id"),
        // tokens this doc contributes to this bin: overlap of
        // [cum_before, cum_before + n_tokens) with the bin's span
        (least(col("cum_before") + col("n_tokens"),
               (col("bin_id") + 1L) * PackCapacity)
          - greatest(col("cum_before"), col("bin_id") * PackCapacity)).as("toks"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        joinedSortedLongs(collect_list(col("doc_id"))).as("doc_ids"))
      .orderBy("bin_id")
  }

  def packBinsSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_tokens
       |  FROM documents WHERE len($wordsSql) >= 1),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t),
       |x AS (SELECT doc_id, n_tokens, cum_before, CAST(b.bin_id AS BIGINT) AS bin_id
       |  FROM c, unnest(range(cum_before // $PackCapacity,
       |    (cum_before + n_tokens - 1) // $PackCapacity + 1)) AS b(bin_id)),
       |o AS (SELECT bin_id, doc_id,
       |    least(cum_before + n_tokens, (bin_id + 1) * $PackCapacity)
       |      - greatest(cum_before, bin_id * $PackCapacity) AS toks
       |  FROM x)
       |SELECT bin_id, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
       |FROM o GROUP BY bin_id ORDER BY bin_id""".stripMargin

  // PII patterns shared by the operator and its oracle: kept inside the
  // RE2 ∩ java.util.regex common subset (no lookaround, no backrefs) so
  // both engines match identically.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val SsnRe = "\\d{3}-\\d{2}-\\d{4}"
  // Phone shape, two alternatives: (a) optional +, a 1-3 digit group,
  // then 2-3 dash-separated groups of 3-4 digits, word-bounded; (b) a
  // contiguous word-bounded run of 7-15 digits (optionally +-prefixed) —
  // undashed phones like '5551234567' or '+15550042'. The dashed form's
  // leading group is capped at 3 digits and \b forbids starting
  // mid-number, so ISO dates (2026-08-12), timestamps, and id ranges
  // (100-200) survive; the contiguous form's double \b makes it
  // all-or-nothing, so 16+-digit runs (card/account numbers — not
  // phone-shaped) pass through rather than being half-eaten. RE2 and
  // java.util.regex both support \b and leftmost-first alternation (no
  // lookaround needed, which RE2 lacks).
  private val PhoneRe = "\\+?\\b\\d{1,3}(-\\d{3,4}){2,3}\\b|\\+?\\b\\d{7,15}\\b"
  private val TagRe = "<EMAIL>|<ID>|<PHONE>"

  /** Redact emails, SSN-shaped ids, and phone-shaped digit runs —
    * applied in that order so the broader phone pattern never eats a
    * more specific match. A narrow per-row map: no shuffle, codegen
    * regexp, scale-free. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        SsnRe, "<ID>"),
      PhoneRe, "<PHONE>")

  /** pii_scrub: [[redactPii]] over the corpus, emitting the scrubbed
    * text and the redaction count per doc. The fixture corpus is
    * digit-free word soup, so deterministic synthetic PII (an email, an
    * SSN, a phone derived from doc_id) is appended first — the oracle
    * performs the same injection, so the gate verifies the REDACTION,
    * not the fixture. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
          // zero-padded so the injected phone always carries the 3-4 digit
          // final group the tightened PhoneRe requires
          lpad((col("doc_id") % 10000L).cast("string"), 4, "0"),
          lit(" ssn 123-45-6789 tel 55512"),
          // second phone, undashed (9 contiguous digits) — exercises the
          // contiguous-run alternative of PhoneRe
          lpad((col("doc_id") % 10000L).cast("string"), 4, "0")).as("text"))
    injected
      .select(col("doc_id"), redactPii(col("text")).as("clean"))
      .withColumn("n_pii",
        size(regexp_extract_all(col("clean"), lit(TagRe), lit(0))).cast("long"))
      .orderBy("doc_id")
  }

  def piiScrubSql: String =
    s"""WITH inj AS (SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-6789 tel 55512' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
       |  FROM documents),
       |scrubbed AS (SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |        '$SsnRe', '<ID>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS clean
       |  FROM inj)
       |SELECT doc_id, clean,
       |  CAST(len(regexp_extract_all(clean, '$TagRe')) AS BIGINT) AS n_pii
       |FROM scrubbed ORDER BY doc_id""".stripMargin

  /** stratified_sample: deterministic per-language rate sampling — each
    * language gets a hash-derived keep rate (10–50%, standing in for a
    * configured stratification plan) and a doc is kept iff its salted
    * hash falls under the rate. The row-level sample is
    * `filter(h < rate)` — a NARROW scan (rate is a scalar of the lang
    * column, no join, no shuffle); this query emits the per-language
    * audit aggregate (rate, totals, kept) that pins the exact rule. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        ((pmod(hash60(concat(lit("rate_"), col("lang"))), lit(5L)) + 1L) * 10L).as("rate"),
        pmod(hash60(concat(lit("strat_"), col("doc_id"))), lit(100L)).as("h"))
      .groupBy("lang", "rate")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("h") < col("rate"), 1)).as("n_kept"))
      .orderBy("lang")

  def stratifiedSampleSql: String = {
    val rate = s"(${hash60Sql("'rate_' || lang")} % 5 + 1) * 10"
    val h = s"${hash60Sql("'strat_' || CAST(doc_id AS VARCHAR)")} % 100"
    s"""WITH d AS (SELECT lang, $rate AS rate, $h AS h FROM documents)
       |SELECT lang, rate, count(*) AS n_total,
       |  count(*) FILTER (WHERE h < rate) AS n_kept
       |FROM d GROUP BY lang, rate ORDER BY lang""".stripMargin
  }

  /** doc_len_histogram: power-of-two token-length histogram (bucket =
    * bit length of the token count — `length(bin(toks))`, pure integer/
    * string arithmetic both engines compute identically; a float log2
    * could differ in the last ulp at exact powers of two). The length
    * distribution drives packing efficiency and curriculum decisions.
    * One narrow projection + one tiny aggregation. */
  def docLenHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(expr(s"size($wordsExpr)").cast("long").as("toks"))
      .select(length(expr("bin(toks)")).cast("long").as("bucket"), col("toks"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_toks"))
      .orderBy("bucket")

  def docLenHistogramSql: String =
    s"""WITH t AS (SELECT CAST(len($wordsSql) AS BIGINT) AS toks FROM documents)
       |SELECT CAST(length(bin(toks)) AS BIGINT) AS bucket, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS sum_toks
       |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quality floor and per-source quota for the curation manifest. */
  private val CurateQualityMin = 0.42
  private val CurateQuota = 40L

  /** curate_manifest: the END-TO-END curation pipeline as ONE composed
    * Spark plan — what a user of this library actually runs to turn a
    * raw corpus into a training manifest:
    *
    *   1. quality floor ([[TextAnalysis.qualityMetrics]] ≥
    *      [[CurateQualityMin]]) — narrow projection + filter;
    *   2. exact dedup (min doc id per content hash) — one combinable
    *      aggregation + a semi-join;
    *   3. NEAR-DUP collapse ([[Dedup.nearDupLosers]]: every cluster of
    *      Jaccard-≥0.5 near-duplicates keeps only its minimum member) —
    *      one anti-join against the loser list, which covers only
    *      pair-participating docs (tiny vs the corpus; AQE broadcasts
    *      it), so the manifest no longer ships near-duplicates that
    *      exact dedup can't see;
    *   4. benchmark decontamination (verbatim [[ContamGram]]-gram
    *      overlap with the held-out set) — via [[contaminatedViaBloom]]:
    *      a narrow codegen Bloom prune on the gram stream, then the
    *      exact confirm join over the ~fpp survivors (no mandatory
    *      broadcast of the held set — the large-held posture);
    *   5. per-source quota in salted-hash order — the two-phase
    *      [[Prims.groupedRowNumber]], no per-source window funnel;
    *   6. sequence packing — exclusive [[Prims.globalPrefixSum]] over
    *      the survivors, emitting each doc's (start_bin, start_offset)
    *      at [[PackCapacity]] tokens per bin.
    *
    * Every stage is the already-audited operator, composed — the plan
    * inherits their scale shapes (two range exchanges + the sketch
    * aggregations + the df-capped inverted shingle index, nothing
    * quadratic, nothing single-task). The score filter compares
    * doubles, but both engines compute the identical expression shape
    * (the `quality_score` gate pins score values bit-for-bit), so the
    * boundary is deterministic. */
  def curateManifest(s: SparkSession, dir: String): DataFrame =
    curateStages(s, dir).manifest

  /** The successive stage frames of [[curateManifest]] — exposed so
    * Bench's `curate_stages` record can wall-clock each stage boundary
    * without duplicating the pipeline's definition (the standalone
    * recorder behind docs/CURATE_STAGES_r9.md and r11 is in commit
    * 5af66b2). */
  private[graft] case class CurateStageFrames(
      dd: DataFrame, collapsed: DataFrame, clean: DataFrame,
      picked: DataFrame, manifest: DataFrame)

  /** @param mark optional stage-timing callback `(label, seconds)` —
    *   invoked for each EAGER construction step (toks checkpoint, the
    *   collapse's pair-graph/cluster resolution, the Bloom build), which
    *   is where most of the composed query's wall time lives; the lazy
    *   remainder executes at the caller's action. Default no-op. */
  private[graft] def curateStages(
      s: SparkSession, dir: String,
      mark: (String, Double) => Unit = (_, _) => ()): CurateStageFrames = {
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      mark(label, (System.nanoTime() - t0) / 1e9); r
    }
    val docs = Tables.documents(s, dir)
    // ONE corpus-tokenize pass (eagerly materialized) feeds all three
    // text-derived stages — quality metrics, the collapse stage's shingle
    // index, and the contamination grams — which previously each re-split
    // the text. The checkpoint trades two corpus-tokenize passes for
    // corpus-sized executor-local storage (see [[Prims.tokenized]]);
    // blocks free with the RDD, no cache entry outlives the call.
    val toks = timed("tokenize_checkpoint") {
      Prims.tokenized(docs).materialized
    }
    val scored = TextAnalysis.qualityMetricsFromToks(toks)
      .filter(col("score") >= CurateQualityMin)
      .select(col("doc_id"), col("n_words"))
    val q = docs.select(col("doc_id"), col("source"), md5(col("text")).as("ch"))
      .join(scored, "doc_id")
    val firsts = q.groupBy("ch").agg(min("doc_id").as("doc_id"))
    val dd = q.join(firsts.select("doc_id"), Seq("doc_id"), "left_semi")
    // near-dup collapse: drop every non-canonical cluster member (the
    // cluster resolution runs corpus-wide, same as dedup_survivors, so
    // a loser is dropped even when its cluster minimum fell to the
    // quality floor — the canonical content, not a mere list position,
    // is what the collapse keys on)
    val losers = timed("collapse_cluster_resolution") {
      Dedup.nearDupLosersFromToks(s, toks)
    }
    val collapsed = dd.join(losers, Seq("doc_id"), "left_anti")
    // contamination rides the Bloom prune, not a forced broadcast(held):
    // the composed pipeline inherits decontaminate_bloom's large-held
    // safety (bit-identical result either way)
    val contaminated = timed("decontam_bloom_build") {
      contaminatedViaBloom(s, wordGramsFromToks(toks, ContamGram))
    }
    val clean = collapsed.filter(col("doc_id") >= HeldoutMax)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // (r20 probed pinning `clean` before the rank to spare the range
    // partitioner's sampling pass its recompute of the upstream chain:
    // pin job 1.0 s + quota 0.47 s vs unpinned quota 1.45 s — a wash;
    // the sampling pass only re-runs post-exchange narrow work, which is
    // exactly what the pin job costs. Not kept.)
    val picked = timed("quota_grouped_rank") {
      Prims.groupedRowNumber(
          clean.select(col("doc_id"), col("source"), col("n_words"),
            hash60(concat(lit("cur_"), col("doc_id"))).as("h")),
          "pick", Seq("source"), col("h"), col("doc_id"))
        .filter(col("pick") <= CurateQuota)
        .select("doc_id", "source", "n_words", "pick")
    }
    val manifest = timed("pack_prefix_sum") {
      Prims.globalPrefixSum(picked, "n_words", "cum", col("doc_id"))
        .select(col("doc_id"), col("source"),
          col("n_words").as("n_tokens"), col("pick"),
          expr(s"cum div $PackCapacity").as("start_bin"),
          (col("cum") % PackCapacity).as("start_offset"))
        .orderBy("doc_id")
    }
    CurateStageFrames(dd, collapsed, clean, picked, manifest)
  }

  def curateManifestSql: String = {
    val h = hash60Sql("'cur_' || CAST(doc_id AS VARCHAR)")
    // quality metrics/score and the near-dup cluster labels come from THE
    // shared snippets (TextAnalysis.qualityMetricsCteSql/-ScoreExprSql,
    // Dedup.shinglesSql/clusterLabelsSqlCtes), so this oracle can never
    // drift from the operators the Spark plan composes
    s"""WITH RECURSIVE t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |${TextAnalysis.qualityMetricsCteSql},
       |scored AS (SELECT doc_id, n_words FROM m
       |  WHERE ${TextAnalysis.qualityScoreExprSql}
       |      >= $CurateQualityMin),
       |q AS (SELECT d.doc_id, d.source, md5(d.text) AS ch, s.n_words
       |  FROM documents d JOIN scored s ON d.doc_id = s.doc_id),
       |firsts AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY ch),
       |dd AS (SELECT q.* FROM q JOIN firsts USING (doc_id)),
       |${Dedup.shinglesSql},
       |${Dedup.clusterLabelsSqlCtes},
       |collapsed AS (SELECT dd.* FROM dd
       |  WHERE doc_id NOT IN (SELECT doc_id FROM labels WHERE label <> doc_id)),
       |wg AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+${ContamGram - 1}], ' ') AS gg
       |  FROM wg, unnest(range(1, len(ws) - ${ContamGram - 2})) AS u(i)
       |  WHERE len(ws) >= $ContamGram),
       |held AS (SELECT DISTINCT gg FROM g WHERE doc_id < $HeldoutMax),
       |contaminated AS (SELECT DISTINCT doc_id FROM g JOIN held USING (gg)
       |  WHERE doc_id >= $HeldoutMax),
       |clean AS (SELECT collapsed.* FROM collapsed
       |  WHERE doc_id >= $HeldoutMax
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |picked AS (SELECT doc_id, source, n_words, pick FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS pick
       |    FROM clean)
       |  WHERE pick <= $CurateQuota),
       |packed AS (SELECT doc_id, source, n_words, pick,
       |    CAST(coalesce(sum(n_words) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM picked)
       |SELECT doc_id, source, n_words AS n_tokens, pick,
       |  cum // $PackCapacity AS start_bin, cum % $PackCapacity AS start_offset
       |FROM packed ORDER BY doc_id""".stripMargin
  }

  /** corpus_health: the per-source data-quality DASHBOARD a pipeline
    * operator reads before deciding what to ingest, reweight, or drop —
    * every column an already-audited operator's aggregate, composed into
    * one report: doc/token volume, within-source exact-duplicate count
    * (docs minus distinct content hashes), quality-floor pass count
    * (the same score and floor `curate_manifest` gates on), benchmark
    * contamination count (verbatim [[ContamGram]]-gram overlap), and
    * near-dup collapse losses (non-canonical cluster members).
    *
    * All columns are INTEGER counts — no double aggregation anywhere, so
    * cross-engine bit-parity is structural (a mean score would sum
    * doubles in engine-dependent order; the floor-pass count carries the
    * same signal exactly). Scale shape: one corpus pass for the base
    * stats (map-side combinable), the contamination and loser tables are
    * results-sized left joins, and the final aggregation is
    * source-cardinality rows. */
  def corpusHealth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("ch"))
    // one shared (checkpointed) tokenize pass feeds quality, the token
    // counts, the contamination grams, and the collapse's shingle index
    // — see curateStages; previously each stage re-split the text
    val toks = Prims.tokenized(docs).materialized
    val scored = TextAnalysis.qualityMetricsFromToks(toks)
      .select(col("doc_id"), col("n_words").as("toks"),
        (col("score") >= CurateQualityMin).as("ok"))
    // Bloom-pruned contamination — no forced broadcast(held), same
    // large-held posture as decontaminate_bloom (bit-identical result)
    val contaminated = contaminatedViaBloom(s, wordGramsFromToks(toks, ContamGram))
      .withColumn("cont", lit(1))
    val losers = Dedup.nearDupLosersFromToks(s, toks).withColumn("loser", lit(1))
    base.join(scored, "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        countDistinct("ch").as("nd"),
        count(when(col("ok"), 1)).as("n_quality_ok"),
        count(col("cont")).as("n_contaminated"),
        count(col("loser")).as("n_near_dup"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs") - col("nd")).as("n_exact_dups"),
        col("n_quality_ok"), col("n_contaminated"), col("n_near_dup"))
      .orderBy("source")
  }

  def corpusHealthSql: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |${TextAnalysis.qualityMetricsCteSql},
       |ok AS (SELECT doc_id,
       |    (${TextAnalysis.qualityScoreExprSql}) >= $CurateQualityMin AS ok
       |  FROM m),
       |${Dedup.shinglesSql},
       |${Dedup.clusterLabelsSqlCtes},
       |losers AS (SELECT doc_id FROM labels WHERE label <> doc_id),
       |gg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+${ContamGram - 1}], ' ') AS g
       |  FROM t, unnest(range(1, len(ws) - ${ContamGram - 2})) AS u(i)
       |  WHERE len(ws) >= $ContamGram),
       |held AS (SELECT DISTINCT g FROM gg WHERE doc_id < $HeldoutMax),
       |cont AS (SELECT DISTINCT doc_id FROM gg JOIN held USING (g)
       |  WHERE doc_id >= $HeldoutMax),
       |b AS (SELECT d.doc_id, d.source, md5(d.text) AS ch,
       |    CAST(len(t.ws) AS BIGINT) AS toks
       |  FROM documents d JOIN t ON d.doc_id = t.doc_id)
       |SELECT b.source, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  count(*) - count(DISTINCT ch) AS n_exact_dups,
       |  count(*) FILTER (WHERE ok.ok) AS n_quality_ok,
       |  count(c.doc_id) AS n_contaminated,
       |  count(l.doc_id) AS n_near_dup
       |FROM b JOIN ok ON b.doc_id = ok.doc_id
       |LEFT JOIN cont c ON b.doc_id = c.doc_id
       |LEFT JOIN losers l ON b.doc_id = l.doc_id
       |GROUP BY b.source ORDER BY b.source""".stripMargin

  val oracles: Map[String, String] = Map(
    "corpus_health" -> corpusHealthSql,
    "curate_manifest" -> curateManifestSql,
    "stratified_sample" -> stratifiedSampleSql,
    "doc_len_histogram" -> docLenHistogramSql,
    "train_val_split" -> trainValSplitSql,
    "split_leakage"   -> splitLeakageSql,
    "train_val_split_cluster" -> trainValSplitClusterSql,
    "decontaminate"   -> decontaminateSql,
    "decontaminate_bloom" -> decontaminateSql, // bit-identical by construction
    "source_cardinality"  -> sourceCardinalitySql,
    "domain_mix"      -> domainMixSql,
    "domain_mix_temperature" -> domainMixTemperatureSql,
    "domain_mix_weighted" -> domainMixWeightedSql,
    "corpus_shuffle"  -> corpusShuffleSql,
    "corpus_stats"    -> corpusStatsSql,
    "quantile_sketch_gate" -> quantileSketchGateSql,
    "corpus_pack"     -> corpusPackSql,
    "pack_bins"       -> packBinsSql,
    "pii_scrub"       -> piiScrubSql,
  )
}
