package perfbench

import java.nio.file.Paths
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.FeatureStore
import graft.exec.Skew
import graft.fe.{Backfill, Windows}
import graft.fixtures.TokenSeq
import graft.materialize.Materialize
import graft.model._
import graft.ops.{Dedup, Tokens}
import graft.pit.{AsOfJoin, AsOfSpec}
import graft.table.SnapshotTable

/** What one timed job returns. `checksum` is an order-independent
  * bit_xor(xxhash64(row)) over the job's output; `samples` holds per-call
  * latencies (seconds) the job timed itself, by metric name.
  */
final case class JobOut(
    checksum: Long,
    outRows: Long,
    samples: Map[String, Seq[Double]] = Map.empty,
    counts: Map[String, Double] = Map.empty)

final case class Ctx(spark: SparkSession, seed: Long, dir: String, tracer: Tracer)

/** A workload, once set up on its seeded inputs. */
trait Prepared {
  /** Feature-history (or corpus) rows one job consumes. */
  def rowsConsumed: Long
  /** Untimed jobs run during set-up. Job times keep falling while the JIT
    * compiles; about 15 s of warm-up puts the timed jobs past the steep
    * part, which takes two jobs of `pit_hot` or `backfill_upsert`.
    */
  def warmupJobs: Int = 2
  def job(jobDir: String): JobOut
  /** Order-independent checksum of what the job produced (taken after the
    * timed part for workloads whose output is written tables).
    */
  def outputChecksum(last: JobOut, jobDir: String): Long = last.checksum
  /** Correctness check outside the timed job; returns failure messages and
    * extra counters (e.g. tie picks).
    */
  def check(last: JobOut, jobDir: String): (Seq[String], Map[String, Double])
  /** Each lazy layer's public function alone, forced to a no-op sink. */
  def isolate(isoDir: String): Unit
  /** Workload-specific layer metrics from the traced job and isolation spans. */
  def layerExtras(main: Span, iso: Span, last: JobOut): Map[String, Double]
}

object Workloads {
  val Keys = Seq("doc_id")
  val Ts = "event_timestamp"
  val Created = "created_timestamp"
  val Ties = Seq(Created, "seq_id")
  val SaltBuckets = 8

  def apply(name: String, ctx: Ctx): Prepared = name match {
    case "pit_hot" => new PitHot(ctx)
    case "backfill_upsert" => new BackfillUpsert(ctx)
    case "curate_pack" => new CuratePack(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(c => col(s"`$c`")): _*)), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Write a generated frame and read it back: the program sees only tables. */
  def materialize(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Rows as nested lists (arrays and structs compare by value). */
  def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm).toList
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case o => o
  }

  val Doc = Entity("doc", ValueType.STRING, Some("doc_id"))

  def windowedHistory(hist: DataFrame): DataFrame =
    Windows.rolling(
      Windows.lagLead(hist.select("doc_id", Ts, Created, "n_tok", "seq_id"),
        Keys, Ts, "n_tok", ties = Ties),
      Keys, Ts, 3600L, "n_tok").drop("n_tok_lead1")

  /** Latest-row check. With `tied` None the actual rows must equal the
    * reference rows exactly. With `tied` Some(candidates) a key whose actual
    * row differs from the reference still passes when both rows are among
    * the candidate rows with the maximal (ts, created) for that key. The
    * key sets must be equal either way. Returns (failures, keys that passed
    * on a full tie).
    */
  def checkLatest(
      what: String,
      actual: DataFrame,
      reference: DataFrame,
      tied: Option[DataFrame],
      cols: Seq[String]): (Seq[String], Int) = {
    def rows(df: DataFrame) = df.select(cols.map(col): _*).collect()
      .map(r => r.get(0) -> norm(r).asInstanceOf[List[Any]])
    val act = rows(actual)
    val actMap = act.toMap
    val ref = rows(reference).toMap
    val cands = tied.map { c =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      c.withColumn("__best", max(struct(col(Ts), col(Created))).over(w))
        .where(struct(col(Ts), col(Created)) === col("__best"))
        .select(cols.map(col): _*).collect()
        .groupBy(_.get(0)).map { case (k, rs) => k -> rs.map(r => norm(r)).toSet }
    }.getOrElse(Map.empty[Any, Set[Any]])
    val errs = ArrayBuffer.empty[String]
    if (act.length != actMap.size) errs += s"$what: ${act.length - actMap.size} duplicate keys"
    if (actMap.keySet != ref.keySet)
      errs += s"$what: key sets differ (${actMap.size} actual vs ${ref.size} expected)"
    val differing = actMap.toSeq.flatMap { case (k, row) =>
      ref.get(k).filter(_ != row).map(expected => (k, row, expected))
    }
    val (onTie, wrong) = differing.partition { case (k, row, expected) =>
      cands.get(k).exists(c => c.contains(row) && c.contains(expected))
    }
    errs ++= wrong.take(5).map { case (k, row, expected) => s"$what: key $k differs: $row vs $expected" }
    if (wrong.size > 5) errs += s"$what: ${wrong.size - 5} more mismatches"
    (errs.toSeq, onTie.size)
  }
}

import Workloads._

/** `pit_hot`: training-set retrieval through
  * FeatureStore.getHistoricalFeatures, salted with hot-key detection on.
  * doc_0 holds 10% of rows and probes, 10% duplicate slots, wide tokens.
  */
final class PitHot(ctx: Ctx) extends Prepared {
  import ctx.{spark, seed, tracer}

  val entities = 500
  val histRows = 25000L
  val probesPerEntity = 20
  val hotPct = 10
  val dupPct = 10

  private val hist = materialize(spark,
    TokenSeq.generate(spark, histRows, entities, seed, maxTokens = 64,
      hotSharePct = hotPct, dupPct = dupPct), s"${ctx.dir}/hist")
  private val histPath = s"${ctx.dir}/hist"
  val probes: DataFrame = materialize(spark,
    TokenSeq.entityProbes(spark, entities, probesPerEntity, seed, hotSharePct = hotPct),
    s"${ctx.dir}/probes")
  val nProbes: Long = entities.toLong * probesPerEntity

  private def src(path: String) = BatchSource(path, Ts, Some(Created))
  private def views(winPath: String): Map[String, FeatureView] = Map(
    "seq_raw" -> FeatureView("seq_raw", Seq(Doc),
      Seq(Feature("n_tok", ValueType.INT32), Feature("tokens", ValueType.ListOf(ValueType.INT32))),
      src(histPath), Some(2L * 86400)),
    "seq_win" -> FeatureView("seq_win", Seq(Doc),
      Seq(Feature("n_tok_lag1", ValueType.INT32), Feature("n_tok_rolling_sum", ValueType.INT64),
        Feature("n_tok_rolling_cnt", ValueType.INT64)), src(winPath), Some(6L * 3600)))
  private val refs = Seq("seq_raw:n_tok", "seq_raw:tokens", "seq_win:n_tok_lag1",
    "seq_win:n_tok_rolling_sum", "seq_win:n_tok_rolling_cnt")

  private def dataDir(snap: graft.table.Snapshot): String =
    Paths.get(snap.files.head.path).getParent.toString

  private var lastWinPath = ""
  private var lastOut: DataFrame = _

  def rowsConsumed: Long = histRows

  private def retrieve(winPath: String): DataFrame =
    new FeatureStore(spark, views(winPath)).getHistoricalFeatures(
      probes, refs, saltBuckets = SaltBuckets, autoDetectHotKeys = true)

  def job(jobDir: String): JobOut = {
    val w = tracer.span("fe", "Windows.lagLead+rolling")(windowedHistory(hist))
    val winPath =
      dataDir(tracer.span("table", "SnapshotTable.commit")(SnapshotTable(s"$jobDir/win").commit(w)))
    lastWinPath = winPath
    val out = tracer.span("featurestore", "getHistoricalFeatures")(retrieve(winPath))
    lastOut = out
    val (cs, n) = tracer.span("featurestore", "force")(checksum(out))
    JobOut(cs, n)
  }

  /** The last job's own retrieval (the frame it returned, with the hot keys
    * and salting it was planned with), on a seeded 2% probe sample, against
    * AsOfJoin.rangeJoin. Narrow views go through AsOfJoin.windowed, which
    * breaks full (ts, created) ties on the feature values as rangeJoin
    * does, so they must match exactly. A wide view goes through the
    * late-fetch path, which breaks full ties by its row hash: there a
    * different row passes if it is tied on (ts, created) with the
    * reference's, and such picks are counted.
    */
  def check(last: JobOut, jobDir: String): (Seq[String], Map[String, Double]) = {
    val errs = ArrayBuffer.empty[String]
    if (last.outRows != nProbes) errs += s"retrieval returned ${last.outRows} rows for $nProbes probes"
    def inSample(df: DataFrame) = df.where(pmod(xxhash64(col("probe_id"), lit(seed)), lit(50L)) === 0)
    val sample = inSample(probes).cache()
    val actual = inSample(lastOut)
    var tieDiverged = 0
    views(lastWinPath).values.toSeq.sortBy(_.name).foreach { v =>
      val feats = v.features.map(_.name)
      val source = spark.read.parquet(v.source.path).select((Keys ++ Seq(Ts, Created) ++ feats).map(col): _*)
      val spec = AsOfSpec(Keys, Ts, Ts, Some(Created), v.ttlSeconds, feats)
      val reference = AsOfJoin.rangeJoin(sample, source, spec, rowId = "probe_id")
      val wide = v.features.exists(_.valueType.isInstanceOf[ValueType.ListOf])
      // every feature row inside the probe's TTL window, as a candidate pick
      val inWindow = if (!wide) None else Some {
        val f = source.select(col("doc_id").as("__k"), col(Ts).as("__fts"),
          col(Created).as("__fc"), struct(feats.map(col): _*).as("__v"))
        val lower = v.ttlSeconds.map(t => col("__fts") >= col(Ts) - expr(s"INTERVAL $t SECONDS"))
          .getOrElse(lit(true))
        sample.join(f, col("doc_id") === col("__k") && col("__fts") <= col(Ts) && lower)
          .select(col("probe_id").as("doc_id"), col("__fts").as(Ts), col("__fc").as(Created),
            col("__v.*"))
      }
      def asKeyed(df: DataFrame) = df.select(col("probe_id").as("doc_id") +: feats.map(col): _*)
      val (e, t) = checkLatest(s"pit ${v.name}", asKeyed(actual), asKeyed(reference), inWindow,
        "doc_id" +: feats)
      errs ++= e
      tieDiverged += t
    }
    sample.unpersist()
    (errs.toSeq, Map("pit.tie_divergent" -> tieDiverged.toDouble))
  }

  private var hotKeys = 0
  def isolate(isoDir: String): Unit = {
    hotKeys = tracer.span("exec", "Skew.detectHotKeyTuples")(
      Skew.detectHotKeyTuples(probes, Keys)).size
    tracer.span("pit", "getHistoricalFeatures->noop")(noop(retrieve(lastWinPath)))
    tracer.span("fe", "Windows.lagLead+rolling->noop")(noop(windowedHistory(hist)))
  }

  def layerExtras(main: Span, iso: Span, last: JobOut): Map[String, Double] = {
    val pitSpans = iso.all.filter(_.layer == "pit")
    Map(
      "pit.rows_in_per_entity_row" -> pitSpans.map(_.total("window.rows_in")).sum / nProbes,
      "exec.hot_keys" -> hotKeys.toDouble,
      "featurestore.eager_jobs" ->
        main.all.filter(_.name == "getHistoricalFeatures").map(_.jobs.size).sum.toDouble)
  }
}

/** `backfill_upsert`: the write side — K Backfill.run interval calls over a
  * windowed view, then M bucketed upserts of late wide rows.
  */
final class BackfillUpsert(ctx: Ctx) extends Prepared {
  import ctx.{spark, seed, tracer}

  val entities = 500
  val histRows = 20000L // 40 one-minute slots
  val intervals = 3
  val stepSeconds = 600L
  val batches = 2
  val batchRows = 8L
  val buckets = 16
  private val spanSeconds = histRows / entities * 60

  private val hist = materialize(spark,
    TokenSeq.generate(spark, histRows, entities, seed, maxTokens = 64), s"${ctx.dir}/hist")
  // late rows: batch j sits j minutes after the history, under new seq_ids
  private val late: Seq[DataFrame] = {
    val all = materialize(spark,
      TokenSeq.generate(spark, batches * batchRows, entities, seed * 7919L, maxTokens = 64, dupPct = 0)
        .withColumn("batch", (col("seq_id") / batchRows).cast("int") + 1)
        .withColumn(Ts, timestamp_seconds(unix_seconds(col(Ts)) + col("batch") * 60L + spanSeconds))
        .withColumn(Created,
          timestamp_seconds(unix_seconds(col(Created)) + col("batch") * 60L + spanSeconds))
        .withColumn("seq_id", col("seq_id") + histRows),
      s"${ctx.dir}/late")
    (1 to batches).map(j => all.where(col("batch") === j).drop("batch"))
  }
  private val lateRows = batches * batchRows

  def rowsConsumed: Long = histRows + lateRows

  private def source: DataFrame =
    Windows.lagLead(
      Windows.sessionize(hist.select("doc_id", Ts, Created, "n_tok", "seq_id"), Keys, Ts, 300L, Ties),
      Keys, Ts, "n_tok", ties = Ties)

  private val grid = Backfill.grid(new Timestamp(TokenSeq.AnchorEpoch * 1000L),
    new Timestamp((TokenSeq.AnchorEpoch + intervals * stepSeconds) * 1000L), stepSeconds)

  private def upsert(t: SnapshotTable, df: DataFrame) =
    Materialize.upsertLatestBucketed(t, df, Keys, Ts, Some(Created), Seq("seq_id"), buckets)

  def job(jobDir: String): JobOut = {
    val src = tracer.span("fe", "Windows.sessionize+lagLead")(source)
    val table = SnapshotTable(s"$jobDir/offline")
    var intervalRows = 0L
    val intervalS = grid.map { case (lo, hi) =>
      val (ms, dt) = timed(tracer.span("backfill", "Backfill.run")(
        Backfill.run(spark, src, Keys, Ts, Some(Created), lo, hi, stepSeconds, table,
          s"$jobDir/checkpoint.log")))
      intervalRows += ms.map(_.rows).sum
      dt
    }
    val online = SnapshotTable(s"$jobDir/online")
    tracer.span("materialize", "upsertLatestBucketed(history)")(upsert(online, hist))
    var touched = 0
    var rewriteBytes = 0L
    var rewriteRows = 0L
    val upsertS = late.map { b =>
      val (snap, dt) = timed(tracer.span("materialize", "upsertLatestBucketed")(upsert(online, b)))
      val fresh = snap.files.filter(_.path.contains(f"/data/${snap.snapshotId}%09d/"))
      touched += fresh.size
      rewriteBytes += fresh.map(_.bytes).sum
      rewriteRows += fresh.map(_.rows).sum
      dt
    }
    JobOut(0L, intervalRows + rewriteRows,
      Map("backfill.interval_s" -> intervalS, "materialize.upsert_s" -> upsertS),
      Map("interval_rows" -> intervalRows.toDouble, "materialize.buckets_touched" -> touched, "materialize.rewrite_mb" -> rewriteBytes / 1e6,
        "table.write_amp" -> (intervalRows + rewriteRows).toDouble / (intervalRows + lateRows)))
  }

  /** The job writes tables; its checksum is taken over what it wrote. */
  override def outputChecksum(last: JobOut, jobDir: String): Long =
    checksum(SnapshotTable(s"$jobDir/online").read(spark))._1 ^
      checksum(SnapshotTable(s"$jobDir/offline").read(spark))._1

  def check(last: JobOut, jobDir: String): (Seq[String], Map[String, Double]) = {
    val (lo, hi) = grid.last
    val inInterval = source.where(col(Ts) >= lit(lo) && col(Ts) < lit(hi))
    val cols = Seq("doc_id", Ts, Created, "n_tok", "seq_id", "session_id", "n_tok_lag1", "n_tok_lead1")
    val (e1, ties) = checkLatest("backfill last interval",
      SnapshotTable(s"$jobDir/offline").read(spark), Materialize.latestPerKeyWindowed(
        inInterval, Keys, Ts, Some(Created)), Some(inInterval), cols)
    val all = late.foldLeft(hist)(_ unionByName _)
    val online = SnapshotTable(s"$jobDir/online").read(spark)
    val expected = Materialize.latestPerKeyWindowed(all, Keys, Ts, Some(Created), Seq("seq_id"))
    val onlineCols = hist.columns.toSeq
    def rows(df: DataFrame) = df.select(onlineCols.map(col): _*).collect().map(norm).toSet
    val act = online.count()
    val e2 = ArrayBuffer.empty[String]
    val distinctKeys = all.select("doc_id").distinct().count()
    if (act != distinctKeys) e2 += s"online table holds $act rows for $distinctKeys keys"
    if (rows(online) != rows(expected)) e2 += "online table differs from latest-per-key of all rows"
    (e1 ++ e2, Map("backfill.tie_divergent" -> ties.toDouble))
  }

  def isolate(isoDir: String): Unit = {
    val (lo, hi) = grid.last
    tracer.span("fe", "Windows.sessionize+lagLead->noop")(noop(source))
    tracer.span("materialize", "pullLatest->noop")(
      noop(Materialize.pullLatest(source, Keys, Ts, Some(Created), lo, hi)))
    tracer.span("table", "SnapshotTable.commit")(SnapshotTable(s"$isoDir/table").commit(
      Materialize.pullLatest(source, Keys, Ts, Some(Created), lo, hi)))
  }

  def layerExtras(main: Span, iso: Span, last: JobOut): Map[String, Double] = {
    val bf = main.all.filter(_.layer == "backfill")
    val lineage = bf.flatMap(_.jobs).filter(_.callSite.startsWith("Backfill.scala:"))
    Map(
      "backfill.jobs_per_interval" -> bf.map(_.jobs.size).sum.toDouble / intervals,
      "backfill.lineage_s" -> lineage.map(j => (j.endMs - j.startMs) / 1000.0).sum,
      "fe.rows_per_interval_row" -> bf.map(_.total("window.rows_in")).sum /
        math.max(1.0, last.counts("interval_rows")))
  }
}

/** `curate_pack`: exact dedup by content digest, then two-level greedy
  * packing by source — the only workload that moves token arrays through
  * its exchanges.
  */
final class CuratePack(ctx: Ctx) extends Prepared {
  import ctx.{spark, seed, tracer}

  val baseRows = 30000L
  val dupSharePct = 10
  val seqLen = 2048
  val subShards = 4

  private val base = TokenSeq.generate(spark, baseRows, 1000, seed, maxTokens = 64, dupPct = 0)
  // exact-content copies of a seeded share of rows under new seq_ids
  private val dups = base.where(pmod(xxhash64(col("seq_id"), lit(seed), lit(11)), lit(100L)) < dupSharePct)
    .withColumn("seq_id", col("seq_id") + baseRows)
  private val corpus = materialize(spark, base.unionByName(dups), s"${ctx.dir}/corpus")
  val rows: Long = corpus.count()
  val injected: Long = rows - baseRows
  // generated arrays that collide by chance (short ones do) are duplicates too
  val natural: Long = baseRows - spark.read.parquet(s"${ctx.dir}/corpus")
    .where(col("seq_id") < baseRows).select("tokens").distinct().count()

  def rowsConsumed: Long = rows
  override def warmupJobs: Int = 8

  private def reps(groups: DataFrame) = corpus.join(groups.select("seq_id"), Seq("seq_id"), "left_semi")
  private def pack(df: DataFrame) = Tokens.packGreedy(df, Seq("source"), "seq_id", "tokens", "n_tok",
    seqLen, subShards = subShards, alignShards = true)

  private var lastPacks: DataFrame = _
  private var lastReps: DataFrame = _

  def job(jobDir: String): JobOut = {
    val groups = tracer.span("ops", "Dedup.exactByDigest")(Dedup.exactByDigest(corpus, "tokens", "seq_id"))
    val r = reps(groups)
    val packs = tracer.span("ops", "Tokens.packGreedy")(pack(r))
    val (cs, n) = tracer.span("ops", "force")(checksum(packs))
    lastPacks = packs
    lastReps = r
    JobOut(cs, n)
  }

  def check(last: JobOut, jobDir: String): (Seq[String], Map[String, Double]) = {
    val errs = ArrayBuffer.empty[String]
    val nReps = lastReps.count()
    if (nReps != rows - injected - natural)
      errs += s"dedup kept $nReps representatives, expected ${rows - injected - natural}"
    val packTok = lastPacks.agg(sum("n_tok")).head().getLong(0)
    val repTok = lastReps.agg(sum("n_tok")).head().getLong(0)
    if (packTok != repTok) errs += s"packs hold $packTok tokens, representatives $repTok"
    (errs.toSeq, Map("ops.dup_ratio" -> (rows - nReps).toDouble / rows))
  }

  def isolate(isoDir: String): Unit = {
    tracer.span("ops", "Dedup.exactByDigest->noop")(noop(Dedup.exactByDigest(corpus, "tokens", "seq_id")))
    val repsPath = s"$isoDir/reps"
    reps(Dedup.exactByDigest(corpus, "tokens", "seq_id")).write.parquet(repsPath)
    tracer.span("ops", "Tokens.packGreedy->noop")(noop(pack(spark.read.parquet(repsPath))))
  }

  def layerExtras(main: Span, iso: Span, last: JobOut): Map[String, Double] = {
    def one(name: String) = iso.all.filter(_.name == name)
    val packSpans = one("Tokens.packGreedy->noop")
    val packStages = packSpans.flatMap(_.allStages)
    Map(
      "ops.digest_exchange_mb" -> one("Dedup.exactByDigest->noop").map(_.total("exchange.bytes")).sum / 1e6,
      "ops.pack_exchange_mb" -> packSpans.map(_.total("exchange.bytes")).sum / 1e6,
      "ops.pack_task_skew" ->
        (if (packStages.isEmpty) 0.0 else packStages.maxBy(_.totalRunMs).skew))
  }
}
