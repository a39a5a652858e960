package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

import graft.model._
import graft.pit.{AsOfJoin, AsOfSpec}
import graft.materialize.Materialize

/** Facade re-creating the reference's `FeatureStore.get_historical_features`
  * (feast feature_store.py:276-341) as one declarative Catalyst plan:
  * resolve refs → per-view (scan → field-map → prune to entity time range →
  * as-of join) → fold left-joins onto the entity frame. Spark is the
  * execution engine, so the "RetrievalJob" IR is simply the returned lazy
  * DataFrame.
  */
final class FeatureStore(spark: SparkSession, views: Map[String, FeatureView]) {

  /** @param entityTsColumn the entity frame's event-timestamp column; empty
    *   string (the default) infers it from the schema the way the reference
    *   does (file.py:62-75): the column literally named `event_timestamp`
    *   if present, else the unique timestamp-typed column.
    * @param saltBuckets with > 1 plus `autoDetectHotKeys`, entity keys whose
    *   sampled share exceeds ~1% are salted across this many sub-buckets in
    *   the as-of window (hot-key mitigation; correctness unchanged — see
    *   AsOfJoin.windowed). Detection samples the entity frame once per call
    *   for each distinct join-key set: one O(sample) job, however many
    *   views share those keys.
    */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      featureRefs: Seq[String],
      entityTsColumn: String = "",
      fullFeatureNames: Boolean = false,
      saltBuckets: Int = 1,
      autoDetectHotKeys: Boolean = false): DataFrame = {
    val tsCol =
      if (entityTsColumn.nonEmpty) entityTsColumn
      else Inference.eventTimestampColumn(entityDf.schema)
    require(entityDf.columns.contains(tsCol),
      s"entity frame is missing timestamp column '$tsCol'")
    // Reference utils.py:6-11 semantics: tz-naive ⇒ UTC, tz-aware ⇒ convert
    // to UTC. String timestamps (the only representation that can mix
    // zones per value) are parsed and re-rendered as UTC wall time here.
    val entityNorm = entityDf.withColumn(tsCol, graft.fe.Timestamps.normalizeUtc(
      col(tsCol), entityDf.schema(tsCol).dataType))
    val grouped = FeatureRefs.group(FeatureRefs.parse(featureRefs), views, fullFeatureNames)
    for ((view, _) <- grouped; k <- view.joinKeys)
      require(entityDf.columns.contains(k),
        s"entity frame is missing join key '$k' for view '${view.name}'")
    val bounds = Materialize.timestampBounds(entityNorm, tsCol)
    val hotByKeys: Map[Seq[String], Seq[Any]] =
      if (saltBuckets > 1 && autoDetectHotKeys)
        grouped.keys.map(_.joinKeys).toSeq.distinct
          .map(k => k -> graft.exec.Skew.detectHotKeyTuples(entityDf, k)).toMap
      else Map.empty

    case class Planned(view: String, feature: DataFrame, spec: AsOfSpec, salt: Int, hot: Seq[Any]) {
      val wide: Boolean = feature.schema.fields.exists(f =>
        spec.features.contains(f.name) && (f.dataType match {
          case _: ArrayType | _: BinaryType | _: MapType | _: StructType => true
          case _ => false
        }))
      def named(df: DataFrame): DataFrame = spec.features.foldLeft(df) { (d, f) =>
        d.withColumnRenamed(f, FeatureRefs.outputName(view, f, fullFeatureNames))
      }
    }
    val planned = grouped.toSeq.sortBy(_._1.name).map { case (view, feats) =>
      val keys = view.joinKeys
      val raw = spark.read.parquet(view.source.path)
      val mapped = FieldMapping(raw, view.source.fieldMapping)
      val pruned = prunePartitions(
        Materialize.pruneToEntityRange(
          mapped, view.source.eventTimestampColumn, bounds, view.ttlSeconds),
        view, bounds)
      val projected = pruned.select(
        (keys ++ Seq(view.source.eventTimestampColumn) ++
          view.source.createdTimestampColumn.toSeq ++ feats).distinct.map(col): _*)
      val spec = AsOfSpec(keys, tsCol, view.source.eventTimestampColumn,
        view.source.createdTimestampColumn, view.ttlSeconds, feats)
      val hot = hotByKeys.getOrElse(keys, Nil)
      val salt = if (hot.nonEmpty || (saltBuckets > 1 && !autoDetectHotKeys)) saltBuckets else 1
      Planned(view.name, projected, spec, salt, hot)
    }

    // Split the fold: narrow scalar views fold directly onto the entity
    // frame (their payload is cheap to carry through later windows); wide
    // (array/binary/map/struct) views run ENTITY-SIDE LATE MATERIALIZED —
    // each matches the distinct (join keys, ts) probes, keyed by a hash
    // probe id, fetches its payload once (AsOfJoin.matchAndFetch), and the
    // wide results stitch back by probe-id equi-joins at the very end. So NO
    // wide column ever enters any window exchange/sort, for any number of
    // wide views. The as-of result depends only on (join keys, ts), so the
    // stitch is exact up to 64-bit collisions between distinct tuples
    // (~n²/2⁶⁵); duplicate entity rows share a probe id and each receives
    // the single matched wide row, preserving multiplicity.
    val (wideSeq, narrowSeq) = planned.partition(_.wide)
    val narrowAcc = narrowSeq.foldLeft(entityNorm) { (acc, p) =>
      p.named(AsOfJoin.windowed(acc, p.feature, p.spec, p.salt, p.hot))
    }
    if (wideSeq.isEmpty) narrowAcc
    else {
      val (rid, rowId) = ("__graft_ent_rowid", "__graft_rowid")
      // union of all wide views' join keys + the entity ts: the full
      // determinant of every wide as-of result
      val keyCols = (wideSeq.flatMap(_.spec.keys).distinct :+ tsCol).distinct
      // null flags are hashed too: xxhash64 skips null inputs, so (x, null)
      // and (null, x) would otherwise share one probe id
      val probeId = xxhash64(keyCols.map(col) ++ keyCols.map(col(_).isNull): _*)
      val probeBase = entityNorm.select(keyCols.map(col): _*).distinct()
        .withColumn(rid, probeId)
      val wideJoined = wideSeq.map { p =>
        val probe = probeBase.select(((p.spec.keys :+ tsCol).distinct :+ rid).map(col): _*)
        p.named(AsOfJoin.matchAndFetch(probe, Seq(rid), withRowId(p.feature, rowId), p.spec,
          rowId, p.salt, p.hot, broadcastFetch = true).select((rid +: p.spec.features).map(col): _*))
      }
      val accWithId = narrowAcc.withColumn(rid, probeId)
      wideJoined.foldLeft(accWithId)((a, w) => a.join(w, Seq(rid), "left")).drop(rid)
    }
  }

  /** Online lookup through the registry — the reference's
    * `get_online_features` (feature_store.py:503-617) re-expressed as a
    * batch point lookup at `asOf`: refs resolve to views, each view's
    * source is scanned/field-mapped, and [[Materialize.lookupMulti]]
    * assembles one row per requested key with `view__feature` values and
    * per-feature statuses.
    */
  def getOnlineFeatures(
      keys: DataFrame,
      featureRefs: Seq[String],
      asOf: java.sql.Timestamp): DataFrame = {
    val grouped = FeatureRefs.group(
      FeatureRefs.parse(featureRefs), views, fullFeatureNames = true)
    val online = grouped.toSeq.sortBy(_._1.name).map { case (view, feats) =>
      val mapped = FieldMapping(
        spark.read.parquet(view.source.path), view.source.fieldMapping)
      Materialize.OnlineView(view.name, mapped, view.joinKeys,
        view.source.eventTimestampColumn, feats, view.ttlSeconds,
        view.source.createdTimestampColumn)
    }
    Materialize.lookupMulti(keys, online, asOf)
  }

  /** Fetch row id for a wide view: a deterministic hash of the full
    * projected row, stable across matchAndFetch's two reads of the feature
    * frame and unique up to 64-bit collisions (~n²/2⁶⁵, the standard
    * trade). Rows identical after projection share it, and matchAndFetch
    * collapses their fetched copies. Map-typed columns hash via `to_json`
    * (Spark rejects hash expressions over maps; `to_json` of a projected
    * row is deterministic, which is all row identity needs).
    */
  private def withRowId(projected: DataFrame, rowId: String): DataFrame = {
    def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: MapType => true
      case ArrayType(et, _) => containsMap(et)
      case st: StructType => st.fields.exists(f => containsMap(f.dataType))
      case _ => false
    }
    val hashInputs = projected.schema.fields.toSeq.map(f =>
      if (containsMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    projected.withColumn(rowId, xxhash64(hashInputs: _*))
  }

  /** `date_partition_column` read-side pruning (reference:
    * data_source.py:446-458 + bigquery.py:596-599): convert the entity
    * timestamp bounds into a partition-column predicate so the scan prunes
    * whole date partitions even where parquet min/max stats are weak. The
    * lower bound is widened by the view TTL (a feature row up to `ttl`
    * before the earliest entity timestamp can still match).
    */
  private def prunePartitions(
      feature: DataFrame,
      view: FeatureView,
      bounds: (Any, Any)): DataFrame =
    view.source.datePartitionColumn match {
      case None => feature
      case Some(dpc) =>
        val (lo, hi) = bounds
        val lower: Column = view.ttlSeconds match {
          case Some(ttl) => to_date(lit(lo) - expr(s"INTERVAL $ttl SECONDS"))
          case None => lit(null) // unbounded lookback: no lower partition cut
        }
        val lowerOk = view.ttlSeconds match {
          case Some(_) => col(dpc) >= lower
          case None => lit(true)
        }
        feature.where(lowerOk && col(dpc) <= to_date(lit(hi)))
    }
}
