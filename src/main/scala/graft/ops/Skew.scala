package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Manual skew mitigation — the library API behind the patterns the
  * scale probes measured: two-phase salted aggregation beats a direct
  * hot-key groupBy ~2× at 100M rows (docs/SCALEPROBE_r9.md §2), and AQE
  * splits skewed SMJ partitions at runtime (docs/SCALEPROBE_r10.md §4).
  * Both probes' code is in commit 5af66b2.
  *
  * AQE's skew-join handling covers the JOIN case when it can see the
  * skew at runtime; these helpers are for the cases it does not own:
  * a skewed AGGREGATION (AQE never splits a hash-aggregate's hot
  * partition — every row of a hot key must still meet one reducer),
  * and a join whose skew the planner should not have to rediscover
  * every run. Salting trades one extra (cheap, combinable) pass for
  * hot-partition elimination: work per reducer drops from O(hot key)
  * to O(hot key / salt).
  *
  * Determinism: the salt is a HASH of caller-named columns, never a
  * random or partition-dependent value — a task retry recomputes the
  * identical salt, so a mid-shuffle failure cannot misroute rows
  * (`monotonically_increasing_id`-style salts break exactly there).
  * Callers pick `saltBy` columns that vary within the hot key (a row
  * id, an event id); salting by the key itself would be a no-op.
  */
object Skew {

  /** Deterministic salt in [0, salt) from the named columns. */
  def saltCol(salt: Int, of: Column*): Column = pmod(hash(of: _*), lit(salt))

  /** Two-phase count+sum aggregation over a possibly-skewed key: phase 1
    * aggregates (keys, salt) — the hot key's rows spread over `salt`
    * reducers — phase 2 merges the per-salt partials. Counts and sums
    * are algebraic so the result is EXACTLY the direct groupBy's (sums
    * ride decimals; association order never matters). Output: keys,
    * `n`, and `sum_<col>` per requested column. */
  def saltedCountSum(df: DataFrame, keys: Seq[String], saltBy: Seq[String],
      salt: Int, sumCols: Seq[String]): DataFrame = {
    val salted = df.withColumn("__salt", saltCol(salt, saltBy.map(col): _*))
    val phase1 = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sumCols.map(c => sum(Prims.dec2(col(c))).as(s"__sum_$c")): _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n"),
        sumCols.map(c => sum(col(s"__sum_$c")).cast("double").as(s"sum_$c")): _*)
  }

  /** Skew-safe equi join: the big side is salted deterministically, the
    * small side is replicated `salt` times (one copy per salt value),
    * and the join key becomes (key, salt) — the hot key's probe rows
    * spread over `salt` reducers instead of one. Result rows are
    * exactly the plain join's. Cost: the small side's shuffle volume
    * grows `salt`×, which is the explicit trade — use for a genuinely
    * small build side against a genuinely skewed probe side. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, saltBy: Seq[String], salt: Int): DataFrame = {
    val b = big.withColumn("__salt", saltCol(salt, saltBy.map(col): _*))
    val sm = small.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    b.join(sm, b("__salt") === sm("__salt") && col(bigKey) === col(smallKey))
      .drop("__salt")
  }
}
