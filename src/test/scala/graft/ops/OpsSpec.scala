package graft.ops

import graft.SparkSpec

/** Batch-operator assertions on the sf0.001 testdata — small, fast,
  * hand-checkable invariants complementing the DuckDB oracle gate. */
class OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("word_count: counts sum to total non-empty tokens") {
    val s = spark
    import s.implicits._
    val wc = Relational.wordCount(s, dir).cache()
    val total = wc.agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].head()
    val direct = graft.Tables.documents(s, dir)
      .selectExpr("size(filter(split(lower(text), ' '), w -> w <> '')) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long].head()
    assert(total == direct)
    assert(wc.filter("word = ''").count() == 0)
  }

  test("ngram_counts: top-K bigrams are well-formed and count-ordered") {
    val s = spark
    import s.implicits._
    val rows = TextAnalysis.ngramCounts(s, dir).as[(String, Long)].collect().toVector
    assert(rows.length == 50)
    assert(rows.forall(_._1.split(" ").length == 2), "every gram is a bigram")
    assert(rows.map(_._2).sliding(2).forall(p => p.head >= p.last), "counts non-increasing")
    // total bigram mass: every doc with w words contributes w-1 bigrams
    val totalBigrams = graft.Tables.documents(s, dir)
      .selectExpr(s"greatest(size(${Prims.wordsExpr}) - 1, 0) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long].head()
    assert(rows.map(_._2).sum <= totalBigrams)
  }

  test("text_normalize: output is lowercase, single-spaced, trimmed") {
    val s = spark
    import s.implicits._
    val norms = TextAnalysis.textNormalize(s, dir).select("norm_text").as[String].collect()
    assert(norms.length == 500)
    norms.foreach { t =>
      assert(!t.contains("  ") && !t.contains("\t"), "whitespace runs collapsed")
      assert(t == t.toLowerCase, "lowercased")
      assert(t == t.trim, "trimmed")
      assert(t.endsWith("mixed case trail"), s"injected mess not normalized: ...${t.takeRight(30)}")
    }
  }

  test("rolling_sum: last running value equals the per-key total") {
    val s = spark
    import s.implicits._
    val rs = Rolling.rollingSum(s, dir)
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("event_id").as("event_id"))
      .join(Rolling.rollingSum(s, dir), Seq("user_id", "event_id"))
      .select($"user_id", $"running_sum")
    val totals = Rolling.maxMin(s, dir).select($"user_id", $"n")
    val joined = rs.join(
      graft.Tables.events(s, dir).groupBy("user_id")
        .agg(org.apache.spark.sql.functions.sum(
          Prims.dec2(org.apache.spark.sql.functions.col("value"))).cast("double").as("total")),
      "user_id")
    assert(joined.filter("abs(running_sum - total) > 1e-9").count() == 0)
    assert(totals.count() == joined.count())
  }

  test("count_window_keyed: every fired window has exactly 3 members") {
    val cw = CountWindows.countWindowKeyed(spark, dir)
    assert(cw.count() > 0)
    assert(cw.filter("size(split(ids, ',')) <> 3").count() == 0)
  }

  test("sessionize: sessions partition each user's events, ids are dense, boundaries respect the gap") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val sess = EventAnalytics.sessionize(s, dir).cache()
    val perUser = sess.groupBy("user_id").agg(sum("n_events").as("n"))
    val direct = graft.Tables.events(s, dir).groupBy("user_id").agg(count(lit(1)).as("m"))
    assert(perUser.join(direct, "user_id").filter("n <> m").count() == 0)
    assert(perUser.count() == direct.count())
    // consecutive sessions of one user must be separated by MORE than the
    // 8h gap (otherwise they'd be one session)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_idx")
    val gaps = sess.withColumn("prev_end", lag("end_us", 1).over(w))
      .filter($"prev_end".isNotNull)
    assert(gaps.count() > 0)
    assert(gaps.filter($"start_us" - $"prev_end" <= 28800000000L).count() == 0)
    // session ids are dense 1..k per user
    val dense = sess.groupBy("user_id").agg(min("session_idx").as("mn"),
      max("session_idx").as("mx"), count(lit(1)).as("k"))
    assert(dense.filter("mn <> 1 OR mx <> k").count() == 0)
    sess.unpersist()
  }

  test("user_journey: transitions total events-minus-users; n_total is that sum on every row") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val uj = EventAnalytics.userJourney(s, dir).cache()
    val nSum = uj.agg(sum("n")).as[Long].head()
    val ev = graft.Tables.events(s, dir)
    // each user's ordered timeline has (count - 1) consecutive pairs
    assert(nSum == ev.count() - ev.select("user_id").distinct().count())
    assert(uj.filter($"n_total" =!= nSum).count() == 0)
    uj.unpersist()
  }

  test("enrich_wide_row: row count = orders count; coalesce leaves no nulls") {
    val e = EnrichJoin.enrichWideRow(spark, dir).cache()
    assert(e.count() == graft.Tables.orders(spark, dir).count())
    val nullable = e.columns.map(c => s"$c IS NULL").mkString(" OR ")
    assert(e.filter(nullable).count() == 0)
  }

  test("SparkEntry.entry: the flagship enrich join returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("dedup_near_minhash candidates cover all high-jaccard pairs (LSH recall)") {
    val s = spark
    import s.implicits._
    val cand = Dedup.dedupNearMinhash(s, dir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val truth = Dedup.ngramJaccard(s, dir)
      .filter("jaccard >= 0.9")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain real near-dups")
    assert(truth.subsetOf(cand),
      s"LSH missed ${(truth -- cand).size} of ${truth.size} true near-dup pairs")
  }

  test("ann_topk: ranks are 1..5 per query and dots are non-increasing") {
    val s = spark
    import s.implicits._
    val top = Similarity.annTopK(s, dir)
      .select($"query_id", $"rank", $"dot").as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(top.size == 10)
    top.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(sorted.map(_._3).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("ann_ivf_topk: probed search recalls most brute-force neighbors") {
    val s = spark
    import s.implicits._
    val brute = Similarity.annTopK(s, dir).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvfTopK(s, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.size == 30) // 10 queries x top-3
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(s"IVF recall@3 vs brute force: $recall")
    // probing 4/16 lists of a Lloyd-trained codebook on random vectors
    // (a hard fixture — no cluster structure) measures 0.77 here; the
    // 0.5 bound leaves margin for testdata regeneration while still
    // failing if the codebook ever regresses to an untrained stub
    assert(recall > 0.5, s"IVF recall $recall vs brute force")
  }

  test("IVF training sample is fixed-size: corpus growth cannot grow training cost") {
    val s = spark
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(Similarity.quantExpr).as("qv"))
    assert(Similarity.trainSample(emb).count() == Similarity.TrainSampleN)
    // double the corpus: the Lloyd passes still see exactly TrainSampleN
    // rows — the property that makes training cost corpus-size-independent
    val doubled = emb.unionByName(emb.withColumn("vec_id", col("vec_id") + 100000L))
    assert(Similarity.trainSample(doubled).count() == Similarity.TrainSampleN)
  }

  test("ann_ivf_sampled_recall: sample-trained codebook keeps recall") {
    val r = Similarity.annIvfSampledRecall(spark, dir).collect()(0)
    assert(r.getLong(1) == 30) // 10 queries x top-3 ground truth
    val recall = r.getDouble(3)
    info(s"sampled-codebook IVF recall@3 vs brute force: $recall")
    assert(recall >= 0.4, s"sample-trained IVF recall $recall collapsed")
  }

  test("IVF codebook: sample-trained centroids stay close to full-trained quality") {
    val s = spark
    import org.apache.spark.sql.functions._
    // the 100 TB path trains on a hash-sample of the corpus (annIvfTopK
    // scaladoc); show the sample-trained codebook's quantization error
    // over the FULL corpus is within a modest factor of full training
    val emb = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(Similarity.quantExpr).as("qv"))
    val half = emb.filter(pmod(Prims.hash60(concat(lit("ts_"), col("vec_id"))), lit(2L)) === 0)
    val full = Similarity.trainedCentroids(s, emb)
    val samp = Similarity.trainedCentroids(s, half)
    val vecs = emb.select("qv").collect().map(_.getSeq[Long](0).toArray)
    def qErr(cents: Seq[(Long, Seq[Long])]): Double = {
      val cs = cents.map(_._2.toArray)
      vecs.map { v =>
        cs.map { c =>
          var d = 0.0; var i = 0
          while (i < v.length) { val t = (v(i) - c(i)).toDouble; d += t * t; i += 1 }
          d
        }.min
      }.sum
    }
    val (ef, es) = (qErr(full), qErr(samp))
    info(s"quantization error: full=$ef sample=$es ratio=${es / ef}")
    assert(es <= ef * 1.5, s"sample-trained error $es vs full $ef")
  }

  test("embed_cluster_profile: clusters partition the corpus, inertia is sane") {
    val s = spark
    import s.implicits._
    val rows = Similarity.embedClusterProfile(s, dir)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 16)
    assert(rows.map(_._2).sum == graft.Tables.embeddings(s, dir).count(),
      "every vector must land in exactly one cluster")
    rows.foreach { case (cid, n, inertia) =>
      assert(cid >= 0 && cid < 16)
      assert(n > 0)
      assert(inertia >= 0, s"cluster $cid: negative inertia")
    }
  }

  test("semantic_dedup: planted near-identical embeddings collapse to the min id") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    // 120 deterministic pseudo-random vectors (near-orthogonal), plus two
    // PLANTED near-duplicate groups: 200 ≈ copy of 7, 201 ≈ copy of 31
    // with a tiny perturbation (cosine ≈ 1 ≥ tau). k-means assigns
    // near-identical vectors to the same cluster, so the collapse must
    // drop 200 and 201 and keep their smaller-id originals.
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map { i =>
        // the seed*i cross term decorrelates vectors (a pure additive
        // shift would make every vector a shifted copy of one sawtooth)
        val x = (seed * 1000003L + i * 7919L + seed * i * 31L) % 104729L
        ((x % 2000) - 1000) / 1000.0f
      }
    val base = (0L until 120L).map(i => (i, vec(i), 0))
    val planted = Seq(
      (200L, vec(7L).updated(0, vec(7L)(0) + 0.001f), 0),
      (201L, vec(31L).updated(1, vec(31L)(1) + 0.001f), 0))
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = Similarity.semanticDedup(s, tmp)
      .as[(Long, Long, Boolean)].collect()
    val kept = rows.filter(_._3).map(_._1).toSet
    val dropped = rows.filterNot(_._3).map(_._1).toSet
    assert(rows.length == 122)
    assert(Set(200L, 201L).subsetOf(dropped),
      s"planted near-dups must collapse, dropped=$dropped")
    assert(kept.contains(7L) && kept.contains(31L),
      "the smaller-id originals must be the survivors")
    // SOUNDNESS of every collapse, checked against an independent plain-
    // Scala cosine over the same quantized ints: a dropped vector must
    // really have a smaller-id vector at cosine >= tau (the cluster
    // constraint only narrows the candidate set, so this must hold for
    // every drop — chance-level background collapses at the fixture-
    // tuned tau are correct behavior, fabricated ones are not)
    val all = (base ++ planted).map { case (id, v, _) => id -> v.map(f => math.floor(f * 1000).toLong) }
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      def dot(x: Seq[Long], y: Seq[Long]) = x.zip(y).map { case (p, q) => p * q }.sum
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    }
    dropped.foreach { d =>
      val dv = all.find(_._1 == d).get._2
      assert(all.exists { case (u, uv) => u < d && cos(uv, dv) >= 0.4 },
        s"vector $d was collapsed without any smaller-id neighbor at cosine >= tau")
    }
    graft.HarnessUtil.releaseAll(s)
  }

  test("semantic_incremental: batch vs index only — index hits flag, within-batch pairs don't") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-seminc").toString
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map { i =>
        val x = (seed * 1000003L + i * 7919L + seed * i * 31L) % 104729L
        ((x % 2000) - 1000) / 1000.0f
      }
    // index: ids < 400 (background + vector 50); batch: ids >= 400 with
    //   410 ≈ copy of index vector 50        -> must flag 'dup'
    //   420 ≈ 421 (near-identical WITHIN the batch, unlike anything
    //   indexed) -> both must stay 'fresh' (the index-only contract)
    val index = (0L until 60L).map(i => (i, vec(i), 0))
    val batch = Seq(
      (410L, vec(50L).updated(0, vec(50L)(0) + 0.001f), 0),
      (420L, vec(777L), 0),
      (421L, vec(777L).updated(1, vec(777L)(1) + 0.001f), 0))
    (index ++ batch).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Similarity.semanticIncremental(s, tmp)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(got.keySet == Set(410L, 420L, 421L), s"batch rows only, got ${got.keySet}")
    assert(got(410L) == "dup", s"index near-copy must flag: $got")
    assert(got(420L) == "fresh" && got(421L) == "fresh",
      s"within-batch pairs must NOT flag (index-only comparison): $got")
    graft.HarnessUtil.releaseAll(s)
  }

  test("pair-graph partitioning follows the measured edge count") {
    // the propagation path runs at max(4, edges/1M) tasks per round —
    // fixture-sized graphs keep the floor, a billion-edge graph gets
    // thousands of tasks instead of a hardcoded handful
    assert(Dedup.pairGraphPartitions(0L) == 4)
    assert(Dedup.pairGraphPartitions(500L * 1000) == 4)
    assert(Dedup.pairGraphPartitions(10L * 1000 * 1000) == 10)
    assert(Dedup.pairGraphPartitions(2L * 1000 * 1000 * 1000) == 2000)
  }

  test("dedup_clusters: distributed propagation path equals union-find fast path") {
    val s = spark
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cluster_id", $"cluster_size", $"members")
        .as[(Long, Long, String)].collect().toSeq
    // threshold -1 forces the large-graph alternating-star branch
    val distributed = rows(Dedup.dedupClustersImpl(s, dir, -1L))
    val fastPath = rows(Dedup.dedupClustersImpl(s, dir, Long.MaxValue))
    assert(distributed.nonEmpty, "fixture should contain near-dup clusters")
    assert(distributed == fastPath)
  }

  test("alternating-star converges in O(log n) rounds on a chain-shaped graph") {
    val s = spark
    import org.apache.spark.sql.functions._
    // a 512-node chain has diameter 511: min-label propagation (the
    // pre-round-10 algorithm) would need 511 rounds and blow any sane
    // guard; alternating-star must label the whole component with its
    // minimum in ~log2(512)=9-ish rounds
    val n = 512L
    val pairs = s.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (labels, rounds) = Dedup.alternatingStar(pairs)
    assert(labels.count() == n)
    assert(labels.filter(col("label") =!= 0L).count() == 0,
      "every chain node must label with the component minimum 0")
    assert(rounds <= 2 * 9 + 8, s"chain-512 took $rounds rounds - not log-bound")
    // star-shaped graph (already converged shape): must settle immediately
    val star = s.range(1, 100).select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val (starLabels, starRounds) = Dedup.alternatingStar(star)
    assert(starLabels.filter(col("label") =!= 0L).count() == 0)
    assert(starRounds <= 3, s"pre-converged star took $starRounds rounds")
    assert(s.sharedState.cacheManager.isEmpty,
      "alternatingStar leaked cache entries")
  }

  test("no query leaves cache entries behind (session-lifetime leak guard)") {
    val s = spark
    // the operators that pin intermediate results (two-phase row-number,
    // label propagation, IVF training) must release them before
    // returning: a long-lived session running them repeatedly must not
    // accumulate cache entries
    s.catalog.clearCache()
    CountWindows.countWindowAll(s, dir).count()
    Dedup.dedupClustersImpl(s, dir, -1L).count() // propagation branch
    Dedup.dedupNearMinhash(s, dir).count()
    Dedup.ngramJaccard(s, dir).count()
    Similarity.annIvfTopK(s, dir).count()
    assert(s.sharedState.cacheManager.isEmpty,
      "a query left a persisted DataFrame in the cache manager")
  }

  test("hot-bucket guard: degenerate corpora produce bounded candidate pairs") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-degenerate").toString
    // 120 byte-identical boilerplate docs: every LSH band bucket they form
    // has 120 members (> MaxBandBucket) and must be dropped; without the
    // guard this group alone emits 120*119/2 = 7140 pairs
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    val near = "completely different words entirely unlike anything else found in this corpus"
    val docs = (0L until 120L).map(i => (i, boiler, "en", "web", boiler.length.toLong)) ++
      Seq((200L, near, "en", "web", near.length.toLong),
          (201L, near, "en", "web", near.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // 120 all-zero vectors: zero projects non-negatively onto every
    // hyperplane, so they pile into ONE signature bucket (> MaxLshBucket)
    val zero = Seq.fill(64)(0.0f)
    val v = (0 until 64).map(i => (i % 7 - 3).toFloat)
    val embs = (0L until 120L).map(i => (i, zero, 0)) ++
      Seq((200L, v, 1), (201L, v, 1))
    embs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    // hot buckets degrade to the O(m) star on the bucket minimum: the 120
    // identical docs yield exactly the 119 (0, i) hub pairs — the group
    // still collapses to one cluster under connected components — never
    // the 7140 all-pairs; the small bucket keeps its full pair.
    val starOnHub = (1L until 120L).map((0L, _)).toSet
    val mh = Dedup.dedupNearMinhash(s, tmp)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(mh == starOnHub + ((200L, 201L)),
      s"expected star + small-bucket pairs, got ${mh.size} pairs")
    // and the star pairs carry the true estimate (identical docs => 1.0)
    val ests = Dedup.dedupNearMinhash(s, tmp)
      .select($"doc_a", $"doc_b", $"est_jaccard").as[(Long, Long, Double)].collect()
    ests.filter(t => t._1 == 0L).foreach { case (_, _, e) => assert(e == 1.0) }

    val lsh = Similarity.annLshPairs(s, tmp)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    assert(lsh == starOnHub + ((200L, 201L)),
      s"expected star + small-bucket pairs, got ${lsh.size} pairs")
  }

  test("vocab_coverage: OOV path exercised; rates bounded; totals reconcile") {
    val s = spark
    import s.implicits._
    val rows = TextAnalysis.vocabCoverage(s, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nTok, nOov, rate) =>
      assert(nOov >= 0 && nOov <= nTok)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // the fixture vocabulary exceeds VocabN=20, so SOME doc must carry OOV
    assert(rows.exists(_._3 > 0), "no OOV tokens: the cut-off path is untested")
    // token totals reconcile with the corpus-wide count
    val total = graft.Tables.documents(s, dir)
      .selectExpr(s"size(${Prims.wordsExpr}) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long].head()
    assert(rows.map(_._2).sum == total)
  }

  test("winnow_fingerprint: a shared >= w+k-1 word substring shares a fingerprint") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-winnow").toString
    // the winnowing guarantee (w=4, k=3): any shared substring of at
    // least w+k-1 = 6 words forces at least one common selected hash.
    // docs 1/2 share a 7-word run embedded in different surroundings;
    // doc 3 shares nothing
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two three $shared four five six", "en", "web", 1L),
      (2L, s"seven eight $shared nine ten eleven twelve", "en", "web", 1L),
      (3L, "completely different words in this entire document body here", "en", "web", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = TextAnalysis.winnowFingerprint(s, tmp)
      .select($"doc_id", $"fp").as[(Long, String)].collect()
      .map { case (d, fp) => d -> fp.split(",").toSet }.toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 7-word run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint docs must not collide at this scale")
    // compression: selected set is smaller than the gram stream
    val counts = TextAnalysis.winnowFingerprint(s, tmp)
      .select($"doc_id", $"n_grams", $"n_fp").as[(Long, Long, Long)].collect()
    counts.foreach { case (_, ng, nf) => assert(nf <= ng && nf >= 1) }
  }

  test("winnow_pairs: docs sharing a >= 6-word substring always pair; disjoint docs never") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-winnow-pairs").toString
    // same guarantee as the sketch test, exercised END-TO-END through the
    // inverted-fingerprint pair generator: the shared >= w+k-1 = 6 word
    // run must surface as a (1,2) pair row; doc 3 must pair with nobody
    val shared = "alpha beta gamma delta epsilon zeta eta"
    Seq(
      (1L, s"one two three $shared four five six", "en", "web", 1L),
      (2L, s"seven eight $shared nine ten eleven twelve", "en", "web", 1L),
      (3L, "completely different words in this entire document body here", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = TextAnalysis.winnowPairs(s, tmp)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L),
      s"shared 7-word run must produce the (1,2) pair, got ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must not pair at this scale")
    // count grows with overlap: a doc sharing a LONGER run pairs with a
    // strictly larger shared-fingerprint count than the short-run pair
    val longShared = shared + " theta iota kappa lambda mu nu xi"
    Seq(
      (1L, s"one two three $longShared four five six", "en", "web", 1L),
      (2L, s"seven eight $longShared nine ten eleven", "en", "web", 1L),
      (4L, s"intro $shared outro words here now", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p2 = TextAnalysis.winnowPairs(s, tmp)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(p2((1L, 2L)) > p2.getOrElse((1L, 4L), 0L).max(p2.getOrElse((2L, 4L), 0L)),
      s"longer overlap must share more fingerprints: $p2")
    graft.HarnessUtil.releaseAll(s)
  }

  test("containment_pairs: a verbatim-substring doc is flagged; Jaccard misses it") {
    val s = spark
    import s.implicits._
    // doc 2 is a contiguous 12-word excerpt of doc 1: all 10 of its
    // shingles sit inside doc 1's 38 → containment 1.0, Jaccard ~0.26
    val big = (0 until 40).map(i => s"w$i").mkString(" ")
    val small = (10 until 22).map(i => s"w$i").mkString(" ")
    val other = (100 until 120).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, other)).toDF("doc_id", "text")
    val toks = Prims.tokenized(docs)
    val cont = Dedup.containmentPairsFromToks(s, toks).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(cont.head.getAs[Double]("containment") == 1.0)
    assert(Dedup.ngramJaccardPairsFromToks(s, toks)
      .filter("doc_a = 1 AND doc_b = 2").count() == 0,
      "premise: the asymmetric pair must be invisible to the Jaccard form")
  }

  test("dedup_substring: repeated chunks are flagged against their first occurrence") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-substr").toString
    // 16-word chunk granularity: docA = two distinct 16-word chunks;
    // docB repeats docA verbatim (every chunk dup); docC shares only
    // docA's FIRST chunk (one dup, one fresh); docD is fully fresh
    val c1 = (1 to 16).map(i => s"alpha$i").mkString(" ")
    val c2 = (1 to 16).map(i => s"beta$i").mkString(" ")
    val c3 = (1 to 16).map(i => s"gamma$i").mkString(" ")
    val docs = Seq(
      (0L, s"$c1 $c2", "en", "web", 1L),
      (1L, s"$c1 $c2", "en", "web", 1L),
      (2L, s"$c1 $c3", "en", "web", 1L),
      (3L, s"$c3 $c3", "en", "web", 1L)) // within-doc repeat: 2nd chunk dups the 1st... but c3 first occurred in doc 2
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.dedupSubstring(s, tmp)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == ((0L, 2L, 0L, 0.0)))   // first occurrence of both chunks
    assert(out(1L) == ((1L, 2L, 2L, 1.0)))   // verbatim copy: fully duplicated
    assert(out(2L) == ((2L, 2L, 1L, 0.5)))   // shares c1 with doc 0, introduces c3
    assert(out(3L) == ((3L, 2L, 2L, 1.0)))   // both chunks are c3, first seen in doc 2

    // packed-key bound is ENFORCED: a doc whose chunk count reaches the
    // bound fails loudly (would otherwise spill into the next doc_id's
    // key range and silently corrupt two docs' counts). Tested with the
    // bound shrunk to 4: a 5-chunk doc must raise, a 3-chunk doc passes.
    Seq((7L, (1 to 80).map(i => s"w$i").mkString(" "), "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // quietly: the guard's task-failure stack is the EXPECTED outcome
    // here — keep the suite log free of ERROR noise from passing specs
    val err = quietly(
      intercept[Exception](Dedup.dedupSubstringImpl(s, tmp, 4L).collect()))
    assert(err.getMessage != null)
    Seq((7L, (1 to 48).map(i => s"w$i").mkString(" "), "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Dedup.dedupSubstringImpl(s, tmp, 4L).collect().length == 1)
  }

  test("dedup_survivors: keep-list = cluster minima + untouched docs, consistent with dedup_clusters") {
    val s = spark
    import s.implicits._
    val survivors = Dedup.dedupSurvivors(s, dir)
      .as[(Long, Boolean)].collect().toMap
    val clusters = Dedup.dedupClusters(s, dir)
      .select($"cluster_id", $"cluster_size").as[(Long, Long)].collect()
    val total = graft.Tables.documents(s, dir).count()
    // every cluster is collapsed to exactly its canonical minimum
    clusters.foreach { case (cid, _) =>
      assert(survivors.get(cid).contains(true), s"cluster min $cid missing/unflagged")
    }
    assert(survivors.count(_._2) == clusters.length,
      "canonical survivors must be exactly the cluster minima")
    // dropped docs = cluster members minus the one canonical each
    val dropped = clusters.map(_._2 - 1).sum
    assert(survivors.size == total - dropped)
  }

  test("dedup_incremental: ingest batch classified exact/near/fresh against the index") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val corpus = "the quick brown fox jumps over the lazy dog near the riverbank today"
    // index: docs < 400; batch: 400 (verbatim copy -> exact), 401 (one
    // word changed -> near: most shingles survive, so some band matches),
    // 402 (disjoint text -> fresh)
    val nearTxt = corpus.replace("today", "tomorrow")
    val fresh = "completely unrelated content with entirely different vocabulary throughout the body"
    // short docs (< 3 tokens): no minhash signature exists for them, so
    // they exercise the null-band sketch row — 403 is an exact md5 copy
    // of index doc 3, 404 is a unique short doc
    val shortIdx = "tiny doc"
    val docs = Seq(
      (1L, corpus, "en", "web", corpus.length.toLong),
      (2L, "some other indexed document body with its own words", "en", "web", 51L),
      (3L, shortIdx, "en", "web", shortIdx.length.toLong),
      (400L, corpus, "en", "web", corpus.length.toLong),
      (401L, nearTxt, "en", "web", nearTxt.length.toLong),
      (402L, fresh, "en", "web", fresh.length.toLong),
      (403L, shortIdx, "en", "web", shortIdx.length.toLong),
      (404L, "zz", "en", "web", 2L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.dedupIncremental(s, tmp)
      .as[(Long, String)].collect().toMap
    assert(out(400L) == "exact", s"verbatim copy: ${out(400L)}")
    assert(out(401L) == "near", s"one-word edit: ${out(401L)}")
    assert(out(402L) == "fresh", s"disjoint doc: ${out(402L)}")
    assert(out(403L) == "exact", s"short-doc exact copy: ${out(403L)}")
    assert(out(404L) == "fresh", s"unique short doc: ${out(404L)}")
    assert(out.size == 5) // EVERY batch doc reported, sig-less included

    // the PERSISTED-sketch path: dispositioning the batch against a
    // sketchOf(index) artifact written to parquet and read back gives
    // the same rows as the oracle query — the corpus text is never
    // re-read once its sketch exists
    val all = s.read.parquet(s"$tmp/documents.parquet")
    val sketch = Dedup.sketchOf(all.filter($"doc_id" < 400L))
    sketch.write.parquet(s"$tmp/sketch.parquet")
    val viaSketch = Dedup.sketchedDispositions(
        s.read.parquet(s"$tmp/sketch.parquet"),
        Dedup.sketchOf(all.filter($"doc_id" >= 400L)))
      .as[(Long, String)].collect().toMap
    assert(viaSketch == out,
      s"sketch-fed dispositions must equal the oracle rows, got $viaSketch vs $out")
    // and the composable text form (which sketches both sides itself)
    // agrees too — it IS the sketch path
    val viaText = Dedup.incrementalDispositions(
        all.filter($"doc_id" < 400L), all.filter($"doc_id" >= 400L))
      .as[(Long, String)].collect().toMap
    assert(viaText == out)
  }

  test("editdist_pairs: hot blocks degrade to star pairs on the block minimum") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-edit-hot").toString
    // 120 same-block docs (> MaxEditBlock = 100): the all-pairs form would
    // emit C(120,2) = 7140 pairs; the star cap must emit exactly the 119
    // (min, other) hub pairs, each at distance 0 (identical prefixes)
    val boiler = "identical boilerplate text repeated across every document in this block"
    val docs = (0L until 120L).map(i => (i, boiler, "en", "web", boiler.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.editdistPairs(s, tmp)
      .as[(Long, Long, Int)].collect()
    assert(pairs.length == 119, s"expected the 119-star, got ${pairs.length} pairs")
    assert(pairs.forall { case (a, _, dist) => a == 0L && dist == 0 })
    assert(pairs.map(_._2).toSet == (1L until 120L).toSet)
  }

  test("editdist_pairs: blocked banded levenshtein keeps close pairs, drops far ones") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-edit").toString
    val base = "the quick brown fox jumps over the lazy dog again and again and again"
    val close = base.replace("quick", "quack")          // one substitution within prefix
    val far = "entirely different words populate this document from start to finish here"
    // doc 30 shares lang/source but lands in another length bucket (chars
    // padded past the 100-char boundary) — blocked out despite identical text
    val pad = base + " " + ("x" * 60)
    val docs = Seq(
      (10L, base, "en", "web", base.length.toLong),
      (11L, close, "en", "web", close.length.toLong),
      (12L, far, "en", "web", far.length.toLong),
      (20L, base, "fr", "web", base.length.toLong),     // other lang: different block
      (30L, pad, "en", "web", pad.length.toLong))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.editdistPairs(s, tmp)
      .as[(Long, Long, Int)].collect().toSet
    // 10–11 close (one substitution on the 80-char prefix); 10–12/11–12
    // far (past the threshold); 20 and 30 blocked away from everything
    assert(pairs == Set((10L, 11L, 1)), s"got $pairs")
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val s = spark
    import s.implicits._
    val fp = Dedup.simhashDedup(s, dir)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val pairs = Dedup.ngramJaccard(s, dir).filter("jaccard >= 0.95")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    // 16-bit simhash with unweighted ±1 votes: near-dup docs flip only a
    // few low-margin bits (empirically ≤3 at sf0.01; ≤5 is the guard)
    pairs.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(fp(a) ^ fp(b))
      assert(ham <= 5, s"docs $a,$b jaccard>=0.95 but hamming $ham")
    }
  }

  // ScaleProbe.gen at mult 3: the verbatim share sets which documents
  // keep their text in copies 1..mult-1; every copy gets its own doc_ids
  private val GenMult = 3

  private def generatedDocs(verbatimEighths: Int): org.apache.spark.sql.DataFrame = {
    val out = java.nio.file.Files.createTempDirectory(s"gen_$verbatimEighths").toString
    graft.ScaleProbe.gen(spark, dir, out, GenMult, verbatimEighths)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(docs.count() == GenMult * n)
    assert(docs.select("doc_id").distinct().count() == GenMult * n)
    docs
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("ScaleProbe.gen share 8: mult verbatim copies with shifted doc_ids") {
    import org.apache.spark.sql.functions._
    val source = spark.read.parquet(s"$dir/documents.parquet")
    val expected = source.crossJoin(spark.range(GenMult).select(col("id").as("copy")))
      .withColumn("doc_id", col("doc_id") + col("copy") * 1000000L).drop("copy")
    assert(sameRows(generatedDocs(8), expected))
  }

  test("ScaleProbe.gen share 0: copy 0 is the source, later copies share no token with it") {
    import org.apache.spark.sql.functions._
    val source = spark.read.parquet(s"$dir/documents.parquet")
    val docs = generatedDocs(0)
    assert(sameRows(docs.filter(col("doc_id") < 1000000L), source))
    def tokens(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), " ")).as("w")).distinct()
    val later = docs.filter(col("doc_id") >= 1000000L)
    assert(later.count() == (GenMult - 1) * source.count())
    assert(tokens(later).intersect(tokens(source)).isEmpty)
  }
}
