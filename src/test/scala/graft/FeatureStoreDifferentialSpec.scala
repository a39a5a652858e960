package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.model._
import graft.pit.{AsOfJoin, AsOfSpec}

/** The facade against [[AsOfJoin.rangeJoin]], view by view, on one fixed
  * adversarial table in the two-wide-views-plus-one-narrow shape (q47):
  * exact duplicate feature rows, duplicate entity rows, a hot key, probes
  * exactly at `ts - ttl`, null keys on both sides, and full (ts, created)
  * ties on the narrow view. Salted (hot key detected) and unsalted runs
  * must both equal the reference exactly.
  */
class FeatureStoreDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def t(sec: Long) = new Timestamp(1618185600000L + sec * 1000L)

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_fs_diff").toString

  // driver d0 is hot (half of the history and of the probes); d21 has one
  // feature row that probes hit exactly at the TTL bound; z1 is a driver in
  // wa and a source in wb
  private lazy val views: Map[String, FeatureView] = {
    val rnd = new scala.util.Random(7L)
    val wa = (0 until 900).map { i =>
      val d = if (i % 2 == 0) Some("d0") else if (i % 37 == 0) None else Some(s"d${1 + rnd.nextInt(20)}")
      val ts = rnd.nextInt(20000).toLong
      (d, t(ts), new Timestamp(t(ts).getTime + i), Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(50000)),
        rnd.nextDouble())
    } ++ Seq(
      (Some("d21"), t(5000), t(5000), Seq(21, 21), 0.21),
      (Some("z1"), t(7000), t(7000), Seq(1), 0.1))
    // every 9th row twice: identical after projection
    (wa ++ wa.zipWithIndex.collect { case (r, i) if i % 9 == 0 => r })
      .toDF("driver_id", "event_timestamp", "created", "toks", "rate")
      .write.parquet(s"$dir/wa.parquet")
    val wb = (0 until 400).map { i =>
      val s = if (i % 41 == 0) None else Some(s"s${rnd.nextInt(8)}")
      val ts = rnd.nextInt(20000).toLong
      (s, t(ts), new Timestamp(t(ts).getTime + i), Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(9)))
    } :+ ((Some("z1"), t(7990), t(7990), Seq(7, 7, 7)))
    (wb ++ wb.take(60)).toDF("source", "ts_b", "created_b", "rev")
      .write.parquet(s"$dir/wb.parquet")
    // narrow: pairs of rows tied on (driver, ts, created) with different
    // values — the larger value wins on both paths
    (0 until 300).flatMap { i =>
      val d = if (i % 29 == 0) None else Some(s"d${i % 22}")
      val ts = rnd.nextInt(20000).toLong
      val c = t(ts + i % 3)
      Seq((d, t(ts), c, rnd.nextInt(1000).toLong), (d, t(ts), c, rnd.nextInt(1000).toLong))
    }.toDF("driver_id", "event_timestamp", "created", "cnt")
      .write.parquet(s"$dir/nv.parquet")

    val driver = Entity("driver", ValueType.STRING, Some("driver_id"))
    Map(
      "wa" -> FeatureView("wa", Seq(driver),
        Seq(Feature("toks", ValueType.ListOf(ValueType.INT32)), Feature("rate", ValueType.DOUBLE)),
        BatchSource(s"$dir/wa.parquet", "event_timestamp", Some("created")),
        ttlSeconds = Some(3600L)),
      "wb" -> FeatureView("wb", Seq(Entity("src", ValueType.STRING, Some("source"))),
        Seq(Feature("rev", ValueType.ListOf(ValueType.INT32))),
        BatchSource(s"$dir/wb.parquet", "ts_b", Some("created_b")),
        ttlSeconds = Some(1800L)),
      "nv" -> FeatureView("nv", Seq(driver),
        Seq(Feature("cnt", ValueType.INT64)),
        BatchSource(s"$dir/nv.parquet", "event_timestamp", Some("created")),
        ttlSeconds = Some(7200L)))
  }

  private lazy val store = new FeatureStore(spark, views)

  private lazy val entity: DataFrame = {
    val rnd = new scala.util.Random(11L)
    val rows = (0 until 1500).map { i =>
      val d = if (i % 2 == 0) Some("d0") else if (i % 31 == 0) None else Some(s"d${1 + rnd.nextInt(21)}")
      val s = if (i % 23 == 0) None else Some(s"s${rnd.nextInt(9)}")
      (i.toLong, d, s, t(rnd.nextInt(21000).toLong))
    } ++ Seq(
      (5000L, Some("d21"), Some("s1"), t(5000 + 3600)), // exactly at ts - ttl: matches
      (5001L, Some("d21"), Some("s1"), t(5000 + 3601)), // one second past it: null
      // the same value under the other key, the other key null: two
      // distinct probes that a null-blind hash would merge
      (6000L, Some("z1"), None, t(8000)),
      (6001L, None, Some("z1"), t(8000)))
    // every 13th probe twice, same order id: multiplicity must survive
    (rows ++ rows.filter(_._1 % 13 == 0)).toDF("order_id", "driver_id", "source", "event_timestamp")
  }

  private val refs = Seq("wa:toks", "wa:rate", "wb:rev", "nv:cnt")
  private val entityCols = Seq("order_id", "driver_id", "source", "event_timestamp")

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  private def reference(view: FeatureView): Seq[String] = {
    val feats = view.features.map(_.name)
    val src = view.source
    val spec = AsOfSpec(view.joinKeys, "event_timestamp", src.eventTimestampColumn,
      src.createdTimestampColumn, view.ttlSeconds, feats)
    canon(AsOfJoin.rangeJoin(entity, spark.read.parquet(src.path), spec, rowId = "order_id")
      .select((entityCols ++ feats).map(col): _*).collect())
  }

  private def byView(out: DataFrame, view: FeatureView): Seq[String] =
    canon(out.select((entityCols.map(col) ++
      view.features.map(f => col(s"${view.name}__${f.name}").as(f.name))): _*).collect())

  test("facade equals rangeJoin per view, salted (hot key detected) and unsalted") {
    assert(graft.exec.Skew.detectHotKeyTuples(entity, Seq("driver_id")).contains(Seq("d0")))
    val plain = store.getHistoricalFeatures(entity, refs, fullFeatureNames = true)
    val salted = store.getHistoricalFeatures(entity, refs, fullFeatureNames = true,
      saltBuckets = 4, autoDetectHotKeys = true)
    assert(plain.count() == entity.count())
    for (name <- Seq("wa", "wb", "nv")) {
      val view = views(name)
      val expected = reference(view)
      assert(expected.exists(!_.endsWith("|null")), s"$name: reference matched nothing")
      assert(byView(plain, view) == expected, s"$name unsalted")
      assert(byView(salted, view) == expected, s"$name salted")
    }
    // the boundary probes: inclusive at exactly ts - ttl, null one second
    // past it; each null-keyed probe gets its own view's row only
    val edge = plain.where(col("order_id") >= 5000L).select("order_id", "wa__rate", "wb__rev")
      .collect().map(r => r.getLong(0) -> (r.get(1), Option(r.getSeq[Int](2)))).toMap
    assert(edge == Map(5000L -> (0.21, edge(5000L)._2), 5001L -> (null, edge(5001L)._2),
      6000L -> (0.1, None), 6001L -> (null, Some(Seq(7, 7, 7)))))
  }

  test("q47 shape plans one window per view and keeps arrays out of them") {
    for (salt <- Seq(1, 4)) {
      val (windows, wide) = PlanShape.windowsAndWideBelow(store.getHistoricalFeatures(
        entity, refs, fullFeatureNames = true, saltBuckets = salt, autoDetectHotKeys = true))
      assert(windows == 3, s"salt=$salt: $windows windows for three views")
      assert(wide.isEmpty, s"salt=$salt: array-typed output below a window: $wide")
    }
  }

  test("two views on one join key start at most 6 jobs before the frame is returned") {
    assert(views.nonEmpty) // the sources are written outside the count
    val (_, jobs) = jobsDuring(store.getHistoricalFeatures(
      entity, Seq("wa:toks", "nv:cnt"), saltBuckets = 4, autoDetectHotKeys = true))
    assert(jobs <= 6, s"$jobs eager jobs")
  }
}
