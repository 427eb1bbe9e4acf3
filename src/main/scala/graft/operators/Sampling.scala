package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling (replaces main.py:63-70's
  * driver-side `random.sample`).
  *
  * Orders by `md5(seed ‖ key)` and takes the first N. Properties:
  *  - reproducible across engines (md5 is md5 everywhere) and across
  *    partitionings/cluster sizes — unlike `rand(seed)`, whose stream
  *    depends on partition layout;
  *  - scalable: Spark plans ORDER BY + LIMIT as TakeOrderedAndProject
  *    (per-partition top-N, then an N×partitions driver merge) — no
  *    global sort shuffle, no driver-side index materialization.
  */
object Sampling {
  def hashKey(seed: Int, key: Column): Column =
    md5(concat(lit(seed.toString), lit(":"), key.cast("string")))

  /** First n rows by hash order, with a 1-based `sample_rank` column
    * (numbered post-limit, over n rows only, by [[topNumbered]]).
    *
    * Large-n path: a global top-n over the full table makes every
    * partition sort+ship n rows; instead pre-filter to the hash prefix
    * range that contains ~1.5n rows (md5 is uniform, hex ordering is
    * lexicographic) and top-n only the survivors. Result is identical —
    * the true top-n by hash always lies under the cutoff when the
    * survivor count ≥ n, and we fall back to the full sort otherwise. */
  def sampleN(df: DataFrame, key: Column, n: Int, seed: Int = 42): DataFrame = {
    val h = hashKey(seed, key)
    val base =
      if (n <= 5000) df.withColumn("__h", h)
      else {
        val total = df.count()
        if (total <= n) df.withColumn("__h", h)
        else {
          val frac = math.min(1.0, 1.5 * n / total)
          val cut = f"${math.min(0xffffffffL, (frac * 4294967296.0).toLong)}%08x"
          val filtered = df.withColumn("__h", h).filter(col("__h") < cut)
          if (filtered.count() >= n) filtered else df.withColumn("__h", h)
        }
      }
    topNumbered(base, Seq(col("__h"), key), n, "sample_rank").drop("__h")
  }

  /** The first `k` rows of `df` by `order`, numbered from 1 in an INT
    * column `name` without a window: the ordered limit plans as
    * TakeOrderedAndProject (per-partition top-k, one merge), and its ≤k
    * rows are numbered on one sorted partition by
    * monotonically_increasing_id (ids 0..k-1 in sort order on
    * partition 0) — a global row_number without an unpartitioned
    * WindowExec, which warns and would serialize at scale. */
  def topNumbered(df: DataFrame, order: Seq[Column], k: Int, name: String): DataFrame =
    df.orderBy(order: _*).limit(k)
      .coalesce(1).sortWithinPartitions(order: _*)
      .withColumn(name, (monotonically_increasing_id() + 1).cast("int"))
}
