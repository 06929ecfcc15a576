package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  Descending, InterpretedOrdering, SortOrder}

/** Per-partition bounded top-k pre-selection for "rank window then keep
  * rank <= k" plans (guide §2.3 "shuffle fewer bytes", §2.4: the window's
  * own exchange is the one being starved here).
  *
  * A per-key top-k expressed as `row_number().over(partitionBy(key)
  * .orderBy(score desc, tie asc)) <= k` shuffles EVERY scored row to the
  * key's partition and sorts the key's whole matched set — at corpus scale
  * that is the dominant exchange of the plan, and each key's matched set
  * lands on ONE reducer (the skew shape of §2.5). But top-k is a selection:
  * a row outside its partition's per-key top-k can never be in the global
  * per-key top-k. So each upstream partition first reduces its rows to at
  * most `keys x k` survivors with a bounded heap, and only those cross the
  * exchange; the unchanged final window re-ranks the survivors and produces
  * bit-identical rows (same values, same (score desc, tie asc) total order
  * -- ties are broken by the unique `tie` column, and both columns compare
  * with Spark's sort semantics for their type: -0.0 == 0.0, NaN greater
  * than any other value, nulls last under desc).
  *
  * Heap state per task is `distinct keys x k` rows — the callers' key sets
  * are driver-held query batches (hundreds), so the bound is a few thousand
  * rows regardless of corpus size. The row-at-a-time closure is justified
  * per guide §1.2: it replaces a corpus-scale exchange + per-key full sort
  * with one streaming pass of O(log k) comparisons per row.
  */
object TopK {

  /** `df` reduced to at most k rows per `keyCol` value PER PARTITION, by
    * (`scoreCol` desc, `tieCol` asc) — a superset of the global per-key
    * top-k, to be fed to the exact final rank window. `tieCol` must be
    * unique within a key (it is the rank tie-break). Schema unchanged.
    * Both columns compare by Spark's own sort order for their types (any
    * orderable score and tie type: Long, Int, String, …). */
  private[graft] def prunePerKey(df: DataFrame, keyCol: String,
      scoreCol: String, tieCol: String, k: Int): DataFrame = {
    if (k <= 0) return df.limit(0)
    val schema = df.schema
    val ki = schema.fieldIndex(keyCol)
    val si = schema.fieldIndex(scoreCol)
    val ti = schema.fieldIndex(tieCol)
    val (scoreType, tieType) = (schema(si).dataType, schema(ti).dataType)
    df.mapPartitions { rows =>
      // the final window's order, (score desc nulls last, tie asc), over
      // the Catalyst values of the two columns
      val order = new InterpretedOrdering(Seq(
        SortOrder(BoundReference(0, scoreType, nullable = true), Descending),
        SortOrder(BoundReference(1, tieType, nullable = true), Ascending)))
      val toScore = CatalystTypeConverters.createToCatalystConverter(scoreType)
      val toTie = CatalystTypeConverters.createToCatalystConverter(tieType)
      final case class Kept(key: InternalRow, row: Row)
      // heap head = the worst kept row (the cutoff)
      val worstFirst: java.util.Comparator[Kept] = (a, b) => order.compare(b.key, a.key)
      val heaps = new java.util.HashMap[Any, java.util.PriorityQueue[Kept]]()
      rows.foreach { r =>
        val kept = Kept(InternalRow(toScore(r.get(si)), toTie(r.get(ti))), r)
        // default capacity: the heap grows on demand and never holds more
        // than k rows, and k may be Int.MaxValue
        val heap = heaps.computeIfAbsent(r.get(ki),
          _ => new java.util.PriorityQueue[Kept](worstFirst))
        if (heap.size < k) heap.offer(kept)
        else if (order.compare(kept.key, heap.peek.key) < 0) {
          heap.poll(); heap.offer(kept)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[Row]()
      heaps.values.forEach(h => h.forEach(kv => out += kv.row))
      out.iterator
    }(Encoders.row(schema))
  }
}
