package graft.exec

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled hot-key detection (SURVEY §4): find entity keys whose share of
  * the data exceeds `hotShare`, from a seeded sample — the planning input
  * for [[graft.pit.AsOfJoin]]'s selective salting. One job counts the
  * sampled fraction; cost is O(sample), independent of table size, so it is
  * cheap enough to run inline before every large as-of join.
  *
  * Statistical note: with sampleFraction f, a key holding share s of N rows
  * appears ~s·f·N times in the sample; for the defaults (f = 0.01) any key
  * over ~1% of a 10M-row table is detected with overwhelming probability,
  * and false positives require a key to overshoot the threshold in the
  * sample — harmless, since salting a non-hot key only costs its
  * replication factor.
  */
object Skew {

  def detectHotKeys(
      df: DataFrame,
      keyCol: String,
      hotShare: Double = 0.01,
      sampleFraction: Double = 0.01,
      seed: Long = 42L): Seq[Any] =
    detectHotKeyTuples(df, Seq(keyCol), hotShare, sampleFraction, seed).map(_.head)

  /** Composite-key variant: samples on the full key TUPLE, so a multi-entity
    * view (e.g. customer+driver) detects heat on the combination — a pair
    * can be scorching while each component alone is not (and vice versa:
    * a hot single column spread over many partners is NOT a hot window
    * partition). Returned tuples align with `keyCols` order and feed
    * [[graft.pit.AsOfJoin.windowed]]'s `hotKeys` directly.
    */
  def detectHotKeyTuples(
      df: DataFrame,
      keyCols: Seq[String],
      hotShare: Double = 0.01,
      sampleFraction: Double = 0.01,
      seed: Long = 42L): Seq[Seq[Any]] = {
    // One job: the sampled tuple counts come back to the driver (at most
    // the sample's distinct keys), which sums them and picks the hot ones,
    // hottest first. Binary key values count by content, not identity.
    val counts = df.select(keyCols.map(col): _*)
      .sample(withReplacement = false, sampleFraction, seed)
      .rdd.map(_.toSeq.map {
        case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
        case v => v
      }).countByValue()
    val total = counts.values.sum
    counts.toSeq.filter(_._2 >= total * hotShare).sortBy(-_._2).map(_._1.map {
      case b: ArraySeq.ofByte => b.unsafeArray
      case v => v
    })
  }
}
