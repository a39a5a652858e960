package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up the workload's seeded inputs, run its job in a
  * closed loop (one client, each job starts when the previous one ends) for
  * the given seconds, check the output, and print every metric; the last
  * stdout line is one JSON object.
  *
  * With `--trace 0` the run reports the end-to-end metrics. With
  * `--trace 1` it alternates untraced and traced jobs, then calls each lazy
  * layer alone, and reports the per-layer metrics and the tracing overhead
  * (traced over untraced median job time).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      work: String, report: String, expect: String)

  val Layers = Seq("featurestore", "exec", "pit", "fe", "backfill", "materialize", "table", "ops")

  /** Job call site (first library frame) → layer; others fall to the span's. */
  private val SiteLayers = Seq("FeatureStore.scala" -> "featurestore", "Skew.scala" -> "exec",
    "AsOfJoin.scala" -> "pit", "Windows.scala" -> "fe", "Backfill.scala" -> "backfill",
    "Materialize.scala" -> "materialize", "SnapshotTable.scala" -> "table",
    "Dedup.scala" -> "ops", "Tokens.scala" -> "ops")

  /** Per-layer metrics (`--trace 1`): name → unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.self_s" -> "s", s"$l.jobs" -> "count",
      s"$l.task_skew" -> "ratio", s"$l.shuffle_mb" -> "MB", s"$l.spill_mb" -> "MB",
      s"$l.failed" -> "count")) ++ Seq(
      "scan.mb" -> "MB", "scan.rows" -> "count", "exchange.mb" -> "MB",
      "exchange.records" -> "count", "exchange.fetch_wait_s" -> "s", "sort.s" -> "s",
      "sort.spill_mb" -> "MB", "window.rows_in" -> "count", "aggregate.rows_in" -> "count",
      "aggregate.rows_out" -> "count", "join.rows_out" -> "count", "sink.mb" -> "MB",
      "sink.files" -> "count", "plan.s" -> "s", "plan.exchanges" -> "count", "gc_s" -> "s",
      "tasks" -> "count",
      "pit.rows_in_per_entity_row" -> "ratio", "join.late_fetch_mb" -> "MB",
      "exec.hot_keys" -> "count", "featurestore.eager_jobs" -> "count",
      "fe.rows_per_interval_row" -> "ratio", "backfill.jobs_per_interval" -> "count",
      "backfill.lineage_s" -> "s", "materialize.buckets_touched" -> "count",
      "materialize.rewrite_mb" -> "MB", "ops.digest_exchange_mb" -> "MB",
      "ops.pack_exchange_mb" -> "MB", "ops.pack_task_skew" -> "ratio", "ops.dup_ratio" -> "ratio",
      "backfill.interval_s" -> "s", "backfill.interval_s_tail" -> "s",
      "materialize.upsert_s" -> "s", "materialize.upsert_s_tail" -> "s",
      "table.write_amp" -> "ratio", "featurestore.entity_rows_per_s" -> "rows/s",
      "pit.tie_divergent" -> "count", "backfill.tie_divergent" -> "count",
      "failed_ratio" -> "ratio", "trace.overhead" -> "ratio", "session.start_s" -> "s")

  /** Counters that must repeat exactly for one seed (checked within a run
    * and against earlier runs of the same build); every other metric is a
    * timing or an unchecked size.
    */
  val Exact = Set("shuffle_mb", "scan.rows", "exchange.mb", "exchange.records", "window.rows_in",
    "aggregate.rows_in", "aggregate.rows_out", "join.rows_out", "sink.files", "plan.exchanges",
    "tasks", "pit.rows_in_per_entity_row", "join.late_fetch_mb", "exec.hot_keys",
    "featurestore.eager_jobs", "fe.rows_per_interval_row", "backfill.jobs_per_interval",
    "materialize.buckets_touched", "ops.digest_exchange_mb", "ops.pack_exchange_mb",
    "ops.dup_ratio", "checksum") ++
    Layers.flatMap(l => Seq(s"$l.jobs", s"$l.shuffle_mb"))

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("cores").toInt,
      m("work"), m("report"), m("expect"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it; the
    * median when the sample is too small to support a tail.
    */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 11) median(xs) else xs.sorted.apply(xs.size - 11)

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // fixed partitioning, so counters do not depend on the core count
      .config("spark.default.parallelism", "4")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }

  final case class Timed(out: JobOut, seconds: Double, span: Span, checksum: Long, traced: Boolean,
      gcS: Double)

  def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(collector)
    val tracer = new Tracer(spark, collector)

    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case t: Throwable =>
        failures += s"$what: ${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
          .take(400)
        System.err.println(s"perfbench: $what failed"); t.printStackTrace(); None
      }
    }

    // Set-up, the same work on every run: seeded inputs generated and
    // written to a fresh directory, views built, then the workload's fixed
    // number of untimed warm-up jobs (JIT and codegen caches). setup_s runs
    // from JVM start to the first timed job.
    val dir = s"${a.work}/setup"
    val t0 = System.nanoTime()
    val prepared = Workloads(a.workload, Ctx(spark, a.seed, dir, tracer))
    val inputsS = (System.nanoTime() - t0) / 1e9
    val warmupS = (1 to prepared.warmupJobs).map { i =>
      Workloads.timed(attempt(s"warm-up job $i")(prepared.job(s"$dir/warm$i")))._2
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    var jobNo = 0
    def timedJob(traced: Boolean): Option[Timed] = {
      jobNo += 1
      val jobDir = s"$dir/job$jobNo"
      tracer.on = traced
      val gc0 = gcMs
      val r = attempt(s"job $jobNo") {
        val ((out, dt), span) =
          tracer.root(s"${a.workload} job $jobNo")(Workloads.timed(prepared.job(jobDir)))
        Timed(out, dt, span, prepared.outputChecksum(out, jobDir), traced, (gcMs - gc0) / 1000.0)
      }
      tracer.on = false
      if (jobNo > 1) deleteTree(s"$dir/job${jobNo - 1}")
      r
    }
    // Closed loop for the given seconds. The traced run interleaves
    // untraced and traced jobs as ABBA blocks (at least one block), so JIT
    // warm-up and host drift fall on both sides alike.
    val runs = ArrayBuffer.empty[Timed]
    val end = System.nanoTime() + a.seconds * 1000000000L
    while ((System.nanoTime() < end || runs.size < (if (a.trace) 4 else 1)) && failures.isEmpty)
      timedJob(a.trace && (runs.size % 4 == 1 || runs.size % 4 == 2)).foreach(runs += _)
    val (tracedRuns, untraced) = runs.toSeq.partition(_.traced)
    val lastDir = s"$dir/job$jobNo"
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    val counters = mutable.LinkedHashMap.empty[String, String]

    def jobCounters(t: Timed): Map[String, String] = {
      val st = t.span.allStages
      Map("checksum" -> t.checksum.toString, "shuffle_mb" -> Json.num(st.map(_.shuffleBytes).sum / 1e6),
        "shuffle_records" -> st.map(_.shuffleRecords).sum.toString,
        "tasks" -> st.map(_.tasks).sum.toString)
    }
    // every job of the run must agree on its exact counters
    runs.map(jobCounters).distinct.toSeq match {
      case Seq() =>
      case Seq(one) => counters ++= one
      case many => failures += s"exact counters differ between jobs of one run: ${many.mkString(" / ")}"
    }
    val jobS = untraced.map(_.seconds)
    val samples = untraced.flatMap(_.out.samples.toSeq).groupBy(_._1)
      .map { case (k, v) => k -> v.flatMap(_._2) }

    if (!a.trace && untraced.nonEmpty) {
      val peaks = untraced.map(t => t.span.allStages.map(_.peakMem).foldLeft(0L)(math.max) / 1e6)
      metrics("setup_s") = (setupS, "s", 1)
      metrics("job_s") = (median(jobS), "s", jobS.size)
      metrics("seq_per_s") = (prepared.rowsConsumed / median(jobS), "seq/s", jobS.size)
      metrics("shuffle_mb") = (counters.get("shuffle_mb").map(_.toDouble).getOrElse(0.0), "MB",
        untraced.size)
      metrics("peak_task_mem_mb") = (median(peaks), "MB", peaks.size)
    }

    var extraCounts = Map.empty[String, Double]
    var spanTree: Seq[Span] = Nil
    runs.lastOption.foreach { l =>
      attempt("correctness check") {
        val (errs, extra) = prepared.check(l.out, lastDir)
        failures ++= errs
        extraCounts = extra
      }
    }

    if (a.trace && untraced.nonEmpty && tracedRuns.nonEmpty) {
      tracer.on = true
      val iso = attempt("isolated layer calls")(tracer.root(s"${a.workload} isolated") {
        prepared.isolate(s"$dir/isolated")
      }._2)
      tracer.on = false
      iso.foreach { isoSpan =>
        val main = tracedRuns.last
        spanTree = Seq(main.span, isoSpan)
        val lm = layerMetrics(main, isoSpan)
        lm ++= prepared.layerExtras(main.span, isoSpan, main.out)
        lm ++= extraCounts
        lm ++= main.out.counts.filter { case (k, _) => PerLayer.exists(_._1 == k) }
        samples.foreach { case (k, v) =>
          lm(k) = median(v)
          lm(s"${k}_tail") = tail(v)
        }
        if (a.workload.startsWith("pit"))
          lm("featurestore.entity_rows_per_s") = main.out.outRows / median(jobS)
        lm("trace.overhead") = median(tracedRuns.map(_.seconds)) / median(jobS) - 1.0
        lm("session.start_s") = sessionStartS
        lm("failed_ratio") = failures.size.toDouble / math.max(1, attempted)
        PerLayer.foreach { case (k, u) =>
          val n = samples.get(k.stripSuffix("_tail")).map(_.size).getOrElse(1)
          metrics(k) = (lm.getOrElse(k, 0.0), u, n)
        }
        metrics.foreach { case (k, (v, _, _)) => if (Exact(k)) counters(k) = Json.num(v) }
      }
    }
    extraCounts.foreach { case (k, v) => if (!a.trace) counters(k) = Json.num(v) }

    // exact counters must also match earlier runs of this build and seed
    val expectFile = Paths.get(a.expect, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    if (failures.isEmpty && counters.nonEmpty) {
      val now = Json.obj(counters.toSeq.map { case (k, v) => k -> Json.str(v) })
      if (Files.exists(expectFile)) {
        val before = new String(Files.readAllBytes(expectFile), StandardCharsets.UTF_8)
        if (before != now) failures += s"exact counters differ from an earlier run of this seed: $before vs $now"
      } else {
        Files.createDirectories(expectFile.getParent)
        Files.write(expectFile, now.getBytes(StandardCharsets.UTF_8))
      }
    }

    val failed = failures.size
    val correct = failed == 0 && untraced.nonEmpty && (!a.trace || tracedRuns.nonEmpty)
    failures.foreach(f => println(s"FAILED ${a.workload}: $f"))
    metrics.foreach { case (k, (v, u, n)) =>
      val kind = if (Exact(k)) "exact" else "timed"
      println(f"metric ${a.workload}%-16s $k%-34s ${Json.num(v)}%-22s $u%-7s n=$n%-4d $kind")
    }
    counters.foreach { case (k, v) => println(f"counter ${a.workload}%-15s $k%-34s $v") }

    val report = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "trace" -> Json.num(if (a.trace) 1 else 0), "cores" -> Json.num(a.cores),
      "correct" -> (if (correct) "true" else "false"),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "setup_s" -> Json.num(setupS), "session_start_s" -> Json.num(sessionStartS),
      "inputs_s" -> Json.num(inputsS), "warmup_s" -> Json.arr(warmupS.map(Json.num)),
      "job_s_samples" -> Json.arr(jobS.map(Json.num)),
      "call_samples" -> Json.obj(samples.toSeq.map { case (k, v) => k -> Json.arr(v.map(Json.num)) }),
      "counters" -> Json.obj(counters.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "spans" -> Json.arr(spanTree.flatMap(_.all).map(spanJson)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u, n)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "n" -> Json.num(n),
          "kind" -> Json.str(if (Exact(k)) "exact" else "timed")))
      })))
    Files.write(Paths.get(a.report), report.getBytes(StandardCharsets.UTF_8))

    println(Json.obj(Seq("correct" -> (if (correct) "true" else "false"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u, _)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    spark.stop()
    if (correct) 0 else 1
  }

  /** One span of the trace, with its Spark jobs and operator totals. */
  def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.map(_.id).getOrElse(0L).toDouble),
    "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
    "start_ms" -> Json.num(s.startMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble),
    "self_s" -> Json.num(s.selfS), "plan_ms" -> Json.num(s.planMs.toDouble),
    "ops" -> Json.obj(s.ops.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "jobs" -> Json.arr(s.jobs.toSeq.map(j => Json.obj(Seq("id" -> Json.num(j.id),
      "call_site" -> Json.str(j.callSite), "start_ms" -> Json.num(j.startMs.toDouble),
      "end_ms" -> Json.num(j.endMs.toDouble), "ok" -> (if (j.ok) "true" else "false"),
      "stages" -> Json.arr(s.stages.toSeq.collect { case (id, (job, st)) if job eq j =>
        Json.obj(Seq("id" -> Json.num(id), "tasks" -> Json.num(st.tasks),
          "run_ms" -> Json.num(st.totalRunMs.toDouble), "max_task_ms" -> Json.num(st.runMs.max.toDouble),
          "shuffle_bytes" -> Json.num(st.shuffleBytes.toDouble), "gc_ms" -> Json.num(st.gcMs.toDouble)))
      })))))))

  /** Per-layer and operator metrics of one traced job plus the isolated
    * layer calls. A Spark job counts for the layer its call site names,
    * else for the layer of the span that launched it.
    */
  def layerMetrics(main: Timed, iso: Span): mutable.Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    def jobLayer(j: JobRec, spanLayer: String): String =
      SiteLayers.collectFirst { case (f, l) if j.callSite.startsWith(s"$f:") => l }.getOrElse(spanLayer)
    val spans = main.span.all ++ iso.all
    val stagesByLayer = mutable.Map.empty[String, ArrayBuffer[StageAgg]]
    spans.foreach { s =>
      if (Layers.contains(s.layer)) {
        add(s"${s.layer}.wall_s", s.durS)
        add(s"${s.layer}.self_s", s.selfS)
        add(s"${s.layer}.failed", s.failures)
      }
      s.jobs.foreach { j =>
        val l = jobLayer(j, s.layer)
        add(s"$l.jobs", 1)
        if (!j.ok) add(s"$l.failed", 1)
      }
      s.stages.values.foreach { case (j, st) =>
        val l = jobLayer(j, s.layer)
        add(s"$l.shuffle_mb", st.shuffleBytes / 1e6)
        add(s"$l.spill_mb", st.spillBytes / 1e6)
        add(s"$l.failed", st.failedTasks)
        stagesByLayer.getOrElseUpdate(l, ArrayBuffer.empty) += st
      }
    }
    stagesByLayer.foreach { case (l, st) => m(s"$l.task_skew") = st.maxBy(_.totalRunMs).skew }
    val root = main.span
    val stages = root.allStages
    m("scan.mb") = root.total("scan.bytes") / 1e6
    m("scan.rows") = root.total("scan.rows")
    m("exchange.mb") = root.total("exchange.bytes") / 1e6
    m("exchange.records") = root.total("exchange.records")
    m("exchange.fetch_wait_s") = root.total("exchange.fetch_wait_ms") / 1000.0
    m("sort.s") = root.total("sort.ms") / 1000.0
    m("sort.spill_mb") = root.total("sort.spill_bytes") / 1e6
    Seq("window.rows_in", "aggregate.rows_in", "aggregate.rows_out", "join.rows_out", "sink.files",
      "plan.exchanges").foreach(k => m(k) = root.total(k))
    m("sink.mb") = root.total("sink.bytes") / 1e6
    m("join.late_fetch_mb") = root.total("join.late_fetch_bytes") / 1e6
    m("plan.s") = root.all.map(_.planMs).sum / 1000.0
    m("gc_s") = main.gcS
    m("tasks") = stages.map(_.tasks).sum.toDouble
    m
  }
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Int): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
