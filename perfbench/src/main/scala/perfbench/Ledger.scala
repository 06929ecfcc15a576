package perfbench

import scala.collection.mutable

/** Counts timed operations and the ones that failed: an operation fails when
  * it throws, or when an answer check run after timing finds it wrong. An
  * operation that does both counts once. */
final class Ledger {
  private var n = 0
  private val threw = mutable.Set.empty[Int]
  private val wrong = mutable.Set.empty[Int]
  private val notes = mutable.ArrayBuffer.empty[String]

  /** Runs one operation; returns its id and its result, or None if it threw. */
  def attempt[A](body: => A): (Int, Option[A]) = {
    val id = n
    n += 1
    try (id, Some(body))
    catch {
      case e: Exception =>
        threw += id
        note(s"op $id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        (id, None)
    }
  }

  /** Records a failed answer check against operation `id`. */
  def markWrong(id: Int, why: String): Unit = {
    require(id >= 0 && id < n, s"no operation $id")
    wrong += id
    note(s"op $id wrong: $why")
  }

  /** Records a failed check that belongs to no single timed operation (for
    * example the ordinal density after compaction): it counts as one more
    * attempted and failed operation. */
  def failCheck(why: String): Unit = markWrong(attempt(())._1, why)

  def attempted: Int = n
  def failed: Int = (threw ++ wrong).size
  def failedFrac: Double = Stats.failedFrac(attempted, failed)
  def messages: Seq[String] = notes.toList
  private def note(s: String): Unit = if (notes.size < 50) notes += s
}
