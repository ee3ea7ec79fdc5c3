package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities for joins whose key distribution is heavy-
  * tailed (the classic 100 TB failure: one hot key → one straggler
  * task → the whole stage waits).
  *
  * First line of defense is AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default) — it needs no
  * code. Salting is the explicit fallback for when AQE can't help:
  * aggregations over a hot key, or joins where the skewed side must
  * stay sort-merge.
  */
object Skew {

  /** Salted equi-join: the skewed (left) side gets a uniform random
    * salt in [0, buckets); the small (right) side is replicated once
    * per salt value. The join key becomes (key, salt), spreading each
    * hot key over `buckets` tasks. Right-side rows multiply by
    * `buckets` — use only when right is the small side.
    *
    * The salt is derived from a stable hash of the whole left row (not
    * rand()) so results are deterministic and retry-safe — a failed
    * task re-executes to the same salt assignment. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col).toSeq: _*)),
        lit(buckets)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase (partial → final) aggregation for a skewed group key:
    * aggregate on (key, salt) first — spreading the hot key — then
    * merge the partials per key. Works for any algebraic aggregate;
    * here: count + sum. */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
      buckets: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(struct(df.columns.map(col).toSeq: _*)),
        lit(buckets)).cast("int"))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(30,2)")).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n_rows"),
        sum(col("__s")).cast("double").as("sum_value"))
  }
}
