package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What a workload hands back: the operations it attempted, how many failed
  * (errors or wrong output), its metrics by name, and facts that describe
  * the run.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double],
    describe: Map[String, Any])

/** The settings of one run. `t0Ns` is when the harness started, so set-up
  * time covers session creation.
  */
final case class RunCtx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: String, t0Ns: Long, ledger: Option[StageLedger]) {
  def sinceStartS: Double = (System.nanoTime() - t0Ns) / 1e9
  /** Progress note on stderr (the run's log), stamped with seconds since start. */
  def phase(what: String): Unit =
    System.err.println(f"[graftbench] +$sinceStartS%.2fs ${java.time.Instant.now()} $what")
  /** Block until every posted listener event has been delivered. */
  def drainBus(): Unit = org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
}

/** `live-backlog`: app.Main's four queries drained from a backlog that a
  * benchmark [[graft.sources.FrameProvider]] pre-fills before the first
  * batch. Each drain starts fresh queries; the run repeats drains for the
  * measured time and reports their medians.
  */
object LiveBacklog {
  val BacklogFrames = 30000
  val MinDrains = 3

  /** What one drain leaves for the run's metrics: scalars and the (small)
    * progress records, not its frames or output lines.
    */
  final case class Drain(frames: Int, ms: Double, jsonlMs: Double, heapMb: Double,
      progress: Seq[(String, Seq[StreamingQueryProgress])], window: (Long, Long),
      jsonlLines: Int, jsonlBytes: Long, jsonlFiles: Int, codegen: (Long, Double),
      failures: Map[String, Long])

  def drain(c: RunCtx, i: Int, n: Int, measureHeap: Boolean): Drain = {
    val dir = s"${c.work}/drain-$i"
    val seed = c.seed * 1000 + i
    val tsMs = System.currentTimeMillis()
    BacklogProvider.frames = Frames.backlog(seed, n, tsMs).map(_.raw).toArray
    val flags = Map(
      "provider" -> classOf[BacklogProvider].getName,
      "symbols" -> Live.symbolsFlag, "channels" -> Frames.channels.mkString(","),
      "max-buffer" -> n.toString,
      "jsonl-dir" -> s"$dir/jsonl",
      "csv-export" -> s"$dir/metrics_summary.csv",
      "csv-export-interval" -> "1")
    val cg0 = Trace.codegen()
    val t0 = System.currentTimeMillis()
    val qs = Pipeline.start(c.spark, flags, s"$dir/ckpt")
    try {
      val done = Pipeline.await(120000)(qs.forall(q => Pipeline.admitted(q._2) >= n))
      require(done, s"live-backlog: drain $i did not finish")
      // every source has buffered and committed the backlog; from here on
      // only program state is reachable from the harness
      BacklogProvider.frames = Array.empty
      val heapMb = if (measureHeap) Live.heapRetainedMb() else 0.0
      c.phase(s"drain $i: $n frames committed")
      qs.foreach(_._2.stop())
      val cg1 = Trace.codegen()
      val progress = qs.map { case (name, q) => name -> q.recentProgress.toSeq }
      if (Trace.on) Live.recordBatches(progress)
      val ends = progress.map { case (name, ps) =>
        name -> Pipeline.committedAtMs(ps.map(Pipeline.batch), n).get
      }.toMap
      // the expected output, rebuilt from the seed after the heap was measured
      val frames = Frames.backlog(seed, n, tsMs)
      val written = JsonlOutput.read(s"$dir/jsonl")
      val (_, jsonlFailures) = Jsonl.check(frames, written.lines.iterator)
      val csvFailures = JsonlOutput.csvFailures(s"$dir/metrics_summary.csv", JsonlOutput.gapKeys(frames))
      val dropped = Pipeline.dropped(n, progress.map(p => p._2.map(_.numInputRows).sum))
      Drain(n, (ends.values.max - t0).toDouble, (ends("jsonl") - t0).toDouble, heapMb, progress,
        (t0, ends.values.max), written.lines.size, written.bytes, written.files,
        (cg1._1 - cg0._1, cg1._2 - cg0._2),
        Map("dropped" -> dropped, "jsonl" -> jsonlFailures.toLong,
          "misplaced" -> written.misplaced.toLong, "csv" -> csvFailures.toLong))
    } finally qs.foreach(q => try q._2.stop() catch { case _: Throwable => })
  }

  def run(c: RunCtx): Outcome = {
    // a full-size untimed drain first: after a 3,000-frame one the timed
    // drains still sped up by 15-20% from the first to the third (JIT)
    val warm = drain(c, 0, BacklogFrames, measureHeap = false)
    val setupS = c.sinceStartS
    val drains = ArrayBuffer.empty[(Drain, Boolean)]
    var spent = 0.0
    // at least three drains: the medians then come from a middle drain, and
    // a traced run has both traced and untraced drains
    while (spent < c.seconds * 1000.0 || drains.size < MinDrains) {
      val traced = c.trace && drains.size % 2 == 1
      Trace.on = traced
      val d = drain(c, drains.size + 1, BacklogFrames, measureHeap = true)
      Trace.on = false
      drains += ((d, traced))
      spent += d.ms
    }
    val rates = drains.map { case (d, _) => d.frames / (d.ms / 1e3) }
    val tracedDrains = drains.filter(_._2).map(_._1)
    val per = math.max(1, tracedDrains.size).toDouble
    val measured = Seq("console", "jsonl", "metrics", "csv").map { q =>
      q -> drains.flatMap(_._1.progress.find(_._1 == q).get._2).toSeq
    }
    val layers = c.ledger.map { l =>
      c.drainBus()
      val keep = (g: String) => g.nonEmpty && g != "standalone"
      val raws = Frames.backlog(c.seed * 1000 + 1, BacklogFrames, System.currentTimeMillis()).map(_.raw)
      Trace.on = true
      val standalone = try Live.standalone(c.spark, raws, s"${c.work}/standalone") finally Trace.on = false
      l.execMetrics(keep, tracedDrains.map(_.window).toSeq, per) ++ Map(
        "source.task_deser_ms" -> l.sum(keep).deserMs / per,
        "codegen.compiles" -> tracedDrains.map(_.codegen._1).sum / per,
        "codegen.compile_ms" -> tracedDrains.map(_.codegen._2).sum / per) ++ standalone
    }.getOrElse(Map.empty)
    val last = drains.last._1
    val failures = (warm +: drains.map(_._1)).map(_.failures).reduce((a, b) =>
      a.map { case (k, v) => k -> (v + b(k)) })
    Outcome(
      attempted = (warm.frames + drains.map(_._1.frames).sum).toLong * 4,
      failed = failures.values.sum,
      metrics = Map(
        "setup_s" -> setupS,
        "latency_p50_ms" -> Stats.median(drains.map(_._1.jsonlMs).toSeq),
        "throughput_per_s" -> Stats.median(rates.toSeq),
        "heap_retained_mb" -> Stats.median(drains.map(_._1.heapMb).toSeq),
        "gen.frames_offered" -> BacklogFrames.toDouble,
        "source.frames_admitted" -> measured.map(_._2.map(_.numInputRows).sum).sum / drains.size.toDouble,
        "source.frames_dropped" -> drains.map(_._1.failures("dropped")).sum.toDouble,
        "sink.jsonl.lines" -> last.jsonlLines.toDouble,
        "sink.jsonl.bytes" -> last.jsonlBytes.toDouble,
        "sink.jsonl.files" -> last.jsonlFiles.toDouble,
        "sink.csv.snapshots" -> measured.find(_._1 == "csv").get._2.count(_.numInputRows > 0) / drains.size.toDouble,
        "trace.overhead_pct" -> Stats.overheadPct(drains.map { case (d, t) => (d.ms, t) }.toSeq)) ++
        Live.batchMetrics(measured, drains.size) ++ Live.sourceMetrics(measured, drains.size) ++ layers,
      describe = Map(
        "unit_of_work" -> s"one drain of $BacklogFrames frames",
        "drains" -> drains.size,
        "drain_ms" -> drains.map(_._1.ms).toSeq,
        "jsonl_ms" -> drains.map(_._1.jsonlMs).toSeq,
        "failures" -> failures))
  }
}

/** Order-insensitive result fingerprint: row count plus the wrapping sum of
  * a 64-bit hash of each row's binary (UnsafeRow) form. Computing it is the
  * timed action: like a noop sink it materializes every output column.
  */
object Fingerprint {
  def of(df: DataFrame): String = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("graftbench-fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    s"${parts.map(_._1).sum}:${java.lang.Long.toHexString(parts.map(_._2).sum)}"
  }
}

/** `registry-light`: the CoreQueries in seed-shuffled rounds on one client,
  * each result fingerprinted and compared with the recorded one (a query
  * without a recorded fingerprint fails).
  */
object RegistryRun {
  final case class Exec(name: String, wallS: Double, buildS: Double, ok: Boolean,
      phasesMs: Map[String, Double], window: (Long, Long))

  def execute(c: RunCtx, name: String, dir: String, expected: Option[String]): Exec = {
    val sc = c.spark.sparkContext
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildNs = 0L
    var phases = Map.empty[String, Double]
    val ok = try {
      sc.setJobGroup(s"build:$name", name, interruptOnCancel = false)
      val df = Trace.span("build", name)(graft.SparkEntry.queries(name)(c.spark, dir))
      buildNs = System.nanoTime() - t0
      sc.setJobGroup(s"exec:$name", name, interruptOnCancel = false)
      val fp = Trace.span("action", name)(Fingerprint.of(df))
      if (Trace.on) {
        val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
        phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      }
      if (!expected.contains(fp)) System.err.println(s"[graftbench] $name fingerprint $fp, recorded $expected")
      expected.contains(fp)
    } catch { case e: Throwable =>
      System.err.println(s"[graftbench] $name FAILED: ${e.getMessage}")
      false
    } finally sc.clearJobGroup()
    Exec(name, (System.nanoTime() - t0) / 1e9, buildNs / 1e9, ok, phases,
      (startMs, System.currentTimeMillis()))
  }

  val MinRounds = 3
  val WarmupThreads = 4

  /** `expected(sf)(query)` is the recorded fingerprint at that scale. */
  def run(c: RunCtx, dataRoot: String, expected: Map[String, Map[String, String]],
      timedSf: String, warmSf: String): Outcome = {
    val names = graft.queries.CoreQueries.all.map(_.name).sorted
    val rnd = new scala.util.Random(c.seed)
    // the warm-up runs four queries at a time: it only has to load and
    // compile their code paths, and run one by one it took half of a run
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupThreads)
    val warm = try rnd.shuffle(names).map { n =>
      pool.submit(new java.util.concurrent.Callable[Exec] {
        def call(): Exec = execute(c, n, s"$dataRoot/$warmSf", expected(warmSf).get(n))
      })
    }.map(_.get()) finally pool.shutdown()
    val setupS = c.sinceStartS

    // at least three rounds, so each query's time is a median of three; a
    // traced run alternates untraced and traced rounds
    val rounds = ArrayBuffer.empty[(Seq[Exec], Boolean, (Long, Long))]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < c.seconds || rounds.size < MinRounds) {
      val traced = c.trace && rounds.size % 2 == 1
      val cg0 = Trace.codegen()
      Trace.on = traced
      val order = rnd.shuffle(names)
      val execs = order.map(n => execute(c, n, s"$dataRoot/$timedSf", expected(timedSf).get(n)))
      Trace.on = false
      val cg1 = Trace.codegen()
      rounds += ((execs, traced, (cg1._1 - cg0._1, (cg1._2 - cg0._2).toLong)))
    }
    val heapMb = Live.heapRetainedMb()
    val walls = rounds.flatMap(_._1).map(_.wallS * 1e3).toSeq
    val passS = rounds.map(_._1.map(_.wallS).sum).toSeq
    // each query's median over the rounds, so one slow execution (a GC
    // pause, a late JIT compile) does not move a run's figures
    val perQueryMs = rounds.flatMap(_._1).groupBy(_.name).values
      .map(es => Stats.median(es.map(_.wallS * 1e3).toSeq)).toSeq
    val p90 = Stats.pct(walls, 0.90)

    val tracedRounds = rounds.filter(_._2)
    val per = math.max(1, tracedRounds.size).toDouble
    val layers = c.ledger.map { l =>
      c.drainBus()
      val tracedExecs = tracedRounds.flatMap(_._1)
      def phase(k: String) = tracedExecs.map(_.phasesMs.getOrElse(k, 0.0)).sum / per
      l.execMetrics(g => g.startsWith("build:") || g.startsWith("exec:"),
        tracedExecs.map(_.window).toSeq, per) ++ Map(
        "build.s" -> tracedExecs.map(_.buildS).sum / per,
        "build.jobs" -> l.sum(_.startsWith("build:")).jobs / per,
        "plan.analysis_ms" -> phase("analysis"),
        "plan.optimization_ms" -> phase("optimization"),
        "plan.planning_ms" -> phase("planning"),
        "codegen.compiles" -> tracedRounds.map(_._3._1).sum / per,
        "codegen.compile_ms" -> tracedRounds.map(_._3._2).sum / per)
    }.getOrElse(Map.empty)

    val all = warm ++ rounds.flatMap(_._1)
    Outcome(
      attempted = all.size.toLong,
      failed = all.count(!_.ok).toLong,
      metrics = Map(
        "setup_s" -> setupS,
        "latency_p50_ms" -> Stats.median(perQueryMs),
        "throughput_per_s" -> names.size / (perQueryMs.sum / 1e3),
        "heap_retained_mb" -> heapMb,
        "trace.overhead_pct" -> Stats.overheadPct(passS.zip(rounds.map(_._2)))) ++ layers,
      describe = Map(
        "unit_of_work" -> s"one pass over the ${names.size} queries",
        "queries" -> names.size,
        "rounds" -> rounds.size,
        "pass_s" -> passS,
        "latency_samples" -> walls.size,
        // the tail only where at least 10 samples lie beyond it
        "query_tail_ms" -> Map("value" -> p90.value, "percentile" -> p90.percentile, "samples" -> p90.n),
        "timed_sf" -> timedSf, "warmup_sf" -> warmSf,
        "failed_queries" -> all.filter(!_.ok).map(_.name).distinct))
  }
}
