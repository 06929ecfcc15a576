package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[TopK.prunePerKey]] is a pre-selection feeding an exact rank window —
  * its whole contract is that (prune then window) emits bit-identical rows
  * to (window alone). The fixtures stress the edge cases the scaladoc's
  * order proof depends on: score ties broken by the tie column, -0.0 vs
  * 0.0 equality, null scores ranking last, keys with fewer than k rows,
  * and rows for one key spread across many input partitions. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def ranked(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("q")).orderBy(desc("score"), asc("id"))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("q", "rank")
      .collect().toSeq
  }

  private lazy val base = Seq(
    // key 1: plain distinct scores, more rows than k
    (1, 10L, 5.0), (1, 11L, 7.0), (1, 12L, 3.0), (1, 13L, 9.0), (1, 14L, 1.0),
    // key 2: a tie contested exactly at the k boundary (tie col decides)
    (2, 20L, 4.0), (2, 21L, 4.0), (2, 22L, 4.0), (2, 23L, 8.0),
    // key 3: fewer rows than k
    (3, 30L, 2.0),
    // key 4: -0.0 vs 0.0 must compare equal (tie col decides)
    (4, 41L, 0.0), (4, 40L, -0.0), (4, 42L, -1.0)
  ).toDF("q", "id", "score")
    // spread every key across partitions so per-partition heaps genuinely merge
    .repartition(6, col("id"))

  test("prune-then-window equals window alone (ties, -0.0, short keys)") {
    for (k <- Seq(1, 2, 3, 10)) {
      val exact = ranked(base, k)
      val pruned = ranked(TopK.prunePerKey(base, "q", "score", "id", k), k)
      assert(pruned == exact, s"k=$k")
    }
  }

  test("null scores rank last, like the window's desc_nulls_last") {
    val withNulls = base.unionByName(
      Seq((2, 24L), (3, 31L), (3, 32L)).toDF("q", "id")
        .withColumn("score", lit(null).cast("double")))
      .repartition(5, col("id"))
    for (k <- Seq(1, 2, 4)) {
      val exact = ranked(withNulls, k)
      val pruned = ranked(TopK.prunePerKey(withNulls, "q", "score", "id", k), k)
      assert(pruned == exact, s"k=$k")
    }
  }

  test("Int and String tie columns: prune-then-window equals window alone") {
    val idTypes = Seq(
      "int" -> base.withColumn("id", col("id").cast("int")),
      // reversed numeric order, so string and Long order disagree
      "string" -> base.withColumn("id", concat(lit("x"), (lit(100) - col("id")).cast("string"))))
    for ((name, df) <- idTypes; k <- Seq(1, 2, 3, 10)) {
      assert(ranked(TopK.prunePerKey(df, "q", "score", "id", k), k) == ranked(df, k),
        s"$name ids k=$k")
    }
  }

  test("k = Int.MaxValue keeps every row and equals window alone") {
    val k = Int.MaxValue
    assert(TopK.prunePerKey(base, "q", "score", "id", k).count() == base.count())
    assert(ranked(TopK.prunePerKey(base, "q", "score", "id", k), k) == ranked(base, k))
  }

  test("prune keeps at most k rows per key per partition") {
    val kept = TopK.prunePerKey(base, "q", "score", "id", 2)
    val perKey = kept.groupBy("q").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 6 input partitions but each key's rows were hashed to arbitrary ones;
    // the hard bound is min(rows, partitions_holding_key x k) and the
    // global result after the window is exact (asserted above) — here just
    // pin that the prune dropped SOMETHING for the oversubscribed keys
    assert(perKey(1) <= 4 * 2 && perKey(1) >= 2)
    assert(kept.count() <= base.count())
  }
}
