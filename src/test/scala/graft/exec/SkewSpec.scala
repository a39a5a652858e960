package graft.exec

import graft.SparkSpec
import graft.fixtures.TokenSeq

/** Hot-key detection against the skewed/uniform TokenSeq fixtures. */
class SkewSpec extends SparkSpec {

  test("detects the planted hot key and nothing else on skewed data") {
    val skewed = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = 30)
    val hot = Skew.detectHotKeys(skewed, "doc_id", hotShare = 0.1, sampleFraction = 0.2)
    assert(hot == Seq("doc_0"), s"got $hot")
  }

  test("uniform data yields no hot keys at a 10% threshold") {
    val uniform = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = 0)
    val hot = Skew.detectHotKeys(uniform, "doc_id", hotShare = 0.1, sampleFraction = 0.2)
    assert(hot.isEmpty, s"got $hot")
  }

  test("detection is one Spark job, leaves nothing cached, and picks what a groupBy count picks") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    // the pick as a plain aggregate over the same seeded sample
    def byAggregate(df: DataFrame, keys: Seq[String]): Set[Seq[Any]] = {
      val counts = df.select(keys.map(col): _*)
        .sample(withReplacement = false, 0.2, 42L)
        .groupBy(keys.map(col): _*).count().collect()
      val total = counts.map(_.getLong(keys.size)).sum
      counts.filter(_.getLong(keys.size) >= total * 0.1)
        .map(r => keys.indices.map(r.get).toSeq).toSet
    }
    for (pct <- Seq(30, 0); keys <- Seq(Seq("doc_id"), Seq("doc_id", "source"))) {
      val df = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = pct)
      val (hot, jobs) = jobsDuring(
        Skew.detectHotKeyTuples(df, keys, hotShare = 0.1, sampleFraction = 0.2))
      assert(jobs == 1, s"detection ran $jobs jobs")
      assert(spark.sharedState.cacheManager.isEmpty)
      assert(hot.toSet == byAggregate(df, keys), s"hotSharePct=$pct keys=$keys")
      assert(hot.size == hot.toSet.size)
    }
  }

  test("binary key values are counted by content") {
    import spark.implicits._
    val df = ((0 until 300).map(_ => Array[Byte](1, 2)) ++
      (0 until 300).map(i => Array[Byte](3, i.toByte))).toDF("k")
    val hot = Skew.detectHotKeys(df, "k", hotShare = 0.3, sampleFraction = 1.0)
    assert(hot.map(_.asInstanceOf[Array[Byte]].toSeq) == Seq(Seq[Byte](1, 2)))
  }
}
