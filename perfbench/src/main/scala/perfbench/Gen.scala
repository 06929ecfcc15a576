package perfbench

import graft.fixtures.SyntheticTranscripts
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Timestamp

/** Seeded inputs. Everything a workload feeds the engine derives from the
  * run's seed: the corpus, the query strata and the delta contents. The
  * engine only ever receives the generated inputs. */
object Gen {

  /** The corpus: `SyntheticTranscripts` with the wand_demo parameters
    * (vocabulary 20000, Zipf 1.1, hot terms hot0-2, the planted bigram,
    * 1-8 turns per conversation, 5-200 tokens per turn). */
  def corpus(spark: SparkSession, seed: Long, nConvs: Int): DataFrame =
    SyntheticTranscripts.df(spark, SyntheticTranscripts.Params(
      seed = seed, nConvs = nConvs, maxTurnsPerConv = 8, vocabSize = 20000,
      minLen = 5, maxLen = 200))

  /** Query terms drawn by df stratum from a built index's dictionary. */
  final case class Strata(hot: IndexedSeq[String], common: IndexedSeq[String],
      rare: IndexedSeq[String], phrases: IndexedSeq[String])

  /** `dict` holds (term, df); `texts` is a deterministic sample of corpus
    * texts that phrases are cut from. Common = the 32 most frequent
    * vocabulary terms; rare = vocabulary terms with df in [3, 40], so every
    * rare term matches a few documents. */
  def strata(dict: Seq[(String, Long)], texts: Seq[String], seed: Long): Strata = {
    val vocab = dict.filter(_._1.matches("t\\d{6}")).sortBy { case (t, df) => (-df, t) }
    val common = vocab.take(32).map(_._1).toIndexedSeq
    val rare = vocab.filter { case (_, df) => df >= 3 && df <= 40 }.map(_._1).sorted.toIndexedSeq
    require(rare.size >= 16, s"only ${rare.size} rare terms: corpus too small")
    val rareSet = rare.toSet
    // two-word phrases that occur in the corpus and end in a rare term:
    // selective, never empty
    val phrases = texts.flatMap { t =>
      t.split(' ').sliding(2).collect { case Array(a, b) if rareSet(b) => s"$a $b" }
    }.distinct.sorted.toIndexedSeq
    require(phrases.size >= 8, s"only ${phrases.size} phrases in the text sample")
    val r = new java.util.Random(seed * 0x2545F4914F6CDD1DL + 17)
    Strata(SyntheticTranscripts.hotTerms.toIndexedSeq, common,
      shuffled(rare, r), shuffled(phrases, r))
  }

  private def shuffled[A](xs: IndexedSeq[A], r: java.util.Random): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Query generator over the strata. Every ranked class comes in two kinds:
    * `skip` (hot + rare: WAND can skip the hot cursor's blocks) and `dense`
    * (common + common: almost nothing can be skipped). */
  final class Queries(s: Strata, seed: Long) {
    private val r = new java.util.Random(seed)
    private def pick(xs: IndexedSeq[String]): String = xs(r.nextInt(xs.size))
    def skip(): String = s"${pick(s.hot)} ${pick(s.rare)} ${pick(s.rare)}"
    def dense(): String = {
      val a = pick(s.common)
      var b = pick(s.common)
      while (b == a) b = pick(s.common)
      s"$a $b"
    }
    def ranked(i: Int): String = if (i % 2 == 0) skip() else dense()
    /** AND of a common and a rare term: a full fetch of a few rows. */
    def selective(): String = s"${pick(s.common)} ${pick(s.rare)}"
    /** AND of a hot and a rare term. */
    def hotRare(): String = s"${pick(s.hot)} ${pick(s.rare)}"
    def phrase(): String = pick(s.phrases)
  }

  /** One delta batch: `fresh` new turns of new conversations plus
    * re-delivered existing keys with new text. Every turn carries the
    * delta's unique marker term. */
  final case class Delta(marker: String, rows: Seq[SyntheticTranscripts.TurnRow],
      freshTurns: Int)

  def deltas(seed: Long, nConvs: Int, existing: IndexedSeq[(String, Int)], count: Int,
      freshConvs: Int, redelivered: Int): Seq[Delta] = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    val roles = Array("user", "assistant", "tool")
    def text(marker: String): String = {
      val n = 5 + r.nextInt(60)
      (marker +: Seq.fill(n)(f"t${r.nextInt(20000)}%06d")).mkString(" ")
    }
    (0 until count).map { d =>
      val marker = f"mk${seed & 0xFFFFFF}%06xd$d"
      val fresh = (0 until freshConvs).flatMap { c =>
        val conv = nConvs + d * freshConvs + c
        (0 until 1 + r.nextInt(8)).map { t =>
          SyntheticTranscripts.TurnRow(f"c$conv%08d", t, roles(t % 3), text(marker), "",
            new Timestamp(1700000000000L + conv * 1000L + t))
        }
      }
      val seen = scala.collection.mutable.Set.empty[(String, Int)]
      val again = Iterator.continually(existing(r.nextInt(existing.size)))
        .filter(seen.add).take(redelivered).map { case (c, t) =>
          SyntheticTranscripts.TurnRow(c, t, roles(t % 3), text(marker), "",
            new Timestamp(1700000000000L + c.drop(1).toLong * 1000L + t))
        }.toSeq
      Delta(marker, fresh ++ again, fresh.size)
    }
  }
}
