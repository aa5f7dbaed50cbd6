package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.{Derived, Normalizer, WindowStats}
import graft.sources.{FrameProvider, OkxSource}
import graft.streaming.{MetricsStream, Sinks, StalenessStream}

/** app.Main's live pipeline, started the way Main starts it: one `okx`
  * source definition, then the console, JSONL, metrics and CSV queries with
  * Main's triggers. `flags` are Main's flags with Main's defaults; only the
  * checkpoint root differs (Main hard-codes one under the system temp
  * directory; the benchmark keeps everything inside its working directory).
  */
object Pipeline {
  val mainDefaults: Map[String, String] = Map(
    "symbols" -> "BTC-USDT,ETH-USDT", "channels" -> "books5,trades",
    "url" -> "wss://ws.okx.com:8443/ws/v5/public",
    "provider" -> "websocket", "jsonl-dir" -> "data/okx",
    "csv-export" -> "", "csv-export-interval" -> "30",
    "max-buffer" -> "1024")

  def start(spark: SparkSession, flags: Map[String, String], checkpointRoot: String): Seq[(String, StreamingQuery)] = {
    val opts = mainDefaults ++ flags
    val trigger = Trigger.ProcessingTime("1 second")
    val raw = spark.readStream.format("okx")
      .option("provider", opts("provider"))
      .option("symbols", opts("symbols"))
      .option("channels", opts("channels"))
      .option("url", opts("url"))
      .option("maxBuffer", opts("max-buffer"))
      .load()
    val events = Normalizer.normalize(raw)
    val console = Sinks.console(events, trigger)
      .option("checkpointLocation", s"$checkpointRoot/console").start()
    val jsonl = Sinks.jsonl(events, opts("jsonl-dir"), s"$checkpointRoot/jsonl", trigger).start()
    val metrics = MetricsStream.latencyPercentiles(Derived.withLatencies(events),
        "lat_ex_to_recv_ms", timestamp_millis(col("ts_recv_epoch_ms")))
      .writeStream.outputMode("update").format("console")
      .option("truncate", "false")
      .option("checkpointLocation", s"$checkpointRoot/metrics")
      .trigger(trigger)
      .start()
    val gaps = StalenessStream.gaps(events).toDF()
    val stats = WindowStats.longSeriesStats("stale", col("stale_ms"))
    val snapshot = gaps.groupBy("symbol", "channel").agg(stats.head, stats.tail: _*)
    val csv = Sinks.csvSnapshot(snapshot, opts("csv-export"),
      s"$checkpointRoot/csv", opts("csv-export-interval").toInt).start()
    Seq("console" -> console, "jsonl" -> jsonl, "metrics" -> metrics, "csv" -> csv)
  }

  def admitted(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Frames lost by the source: for each query, offered minus admitted. */
  def dropped(offered: Long, admitted: Seq[Long]): Long =
    admitted.map(a => math.max(0L, offered - a)).sum

  /** Wait until every query has admitted `offered` frames, or until no
    * query has admitted anything new for `quietMs` (the rest were lost)
    * or `timeoutMs` passed.
    */
  def drain(qs: Seq[StreamingQuery], offered: Long, quietMs: Long = 7000,
      timeoutMs: Long = 60000): Unit = {
    var last = -1L
    var changed = System.currentTimeMillis()
    await(timeoutMs) {
      val a = qs.map(admitted)
      if (a.sum != last) { last = a.sum; changed = System.currentTimeMillis() }
      a.forall(_ >= offered) || System.currentTimeMillis() - changed > quietMs
    }
  }

  /** A micro-batch as (input rows, start ms, duration ms). */
  def batch(p: StreamingQueryProgress): (Long, Long, Long) =
    (p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.getOrDefault("triggerExecution", 0L))

  /** When a query had committed `n` frames: the end of the batch that
    * brought its admitted count to `n`, if any did.
    */
  def committedAtMs(batches: Seq[(Long, Long, Long)], n: Long): Option[Long] = {
    var acc = 0L
    batches.find { case (rows, _, _) => acc += rows; acc >= n }.map { case (_, s, d) => s + d }
  }

  /** Poll until `cond` holds or `timeoutMs` passes; true when it held. */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(10)
    cond
  }
}

/** One JSONL output tree, read back. */
object JsonlOutput {
  final case class Written(lines: Seq[String], files: Int, bytes: Long, misplaced: Int)

  def read(root: String): Written = {
    val files = if (new File(root).exists())
      Files.walk(new File(root).toPath).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toList
    else Nil
    val lines = ArrayBuffer.empty[String]
    var bytes = 0L
    var misplaced = 0
    files.foreach { f =>
      val path = f.toString
      bytes += Files.size(f)
      Files.readAllLines(f, UTF_8).asScala.foreach { l =>
        // the partition directories must agree with the line's own keys
        val sym = "\"symbol\":\"([^\"]*)\"".r.findFirstMatchIn(l).map(_.group(1))
        val ch = "\"channel\":\"([^\"]*)\"".r.findFirstMatchIn(l).map(_.group(1))
        if (!sym.exists(s => path.contains(s"/symbol=$s/")) || !ch.exists(c => path.contains(s"/channel=$c/")))
          misplaced += 1
        lines += l
      }
    }
    Written(lines.toList, files.size, bytes, misplaced)
  }

  /** Rows of the CSV snapshot that do not belong: duplicates of a
    * (symbol, channel) key, unknown keys, or missing expected keys.
    */
  def csvFailures(path: String, expectedKeys: Set[(String, String)]): Int = {
    val p = new File(path)
    if (!p.exists()) return expectedKeys.size.max(1)
    val rows = Files.readAllLines(p.toPath, UTF_8).asScala.toList
    val header = rows.headOption.map(_.split(",").toList).getOrElse(Nil)
    val (si, ci) = (header.indexOf("symbol"), header.indexOf("channel"))
    if (si < 0 || ci < 0) return expectedKeys.size.max(1)
    val keys = rows.tail.map(_.split(",")).map(a => (a(si), a(ci)))
    val dups = keys.size - keys.distinct.size
    val bad = dups + (keys.toSet -- expectedKeys).size + (expectedKeys -- keys.toSet).size
    if (bad > 0) System.err.println(s"[graftbench] CSV keys ${keys.sorted} expected ${expectedKeys.toSeq.sorted}")
    bad
  }

  /** (symbol, channel) keys with at least two events: the keys that have a
    * staleness gap, hence a CSV row.
    */
  def gapKeys(frames: Iterable[Frames.Frame]): Set[(String, String)] =
    frames.filter(_.lines.nonEmpty).toSeq
      .groupBy(f => (f.symbol, f.channel))
      .filter { case (_, fs) => fs.map(_.lines.size).sum >= 2 }.keySet
}

/** Frame feed for the backlog workload (`provider=graftbench.BacklogProvider`):
  * every feed is pre-filled with the same backlog before the first batch.
  */
class BacklogProvider extends FrameProvider {
  override def start(emit: String => Unit): Unit = BacklogProvider.frames.foreach(emit)
  override def close(): Unit = ()
}

object BacklogProvider {
  @volatile var frames: Array[String] = Array.empty
}

/** Shared parts of the live workload's metrics and checks. */
object Live {
  val symbolsFlag: String = Frames.symbols.mkString(",")

  /** Per-query micro-batch and state metrics over the progress of the
    * measured batches, with time-like totals divided by `per`.
    */
  def batchMetrics(byQuery: Seq[(String, Seq[StreamingQueryProgress])], per: Double): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    byQuery.foreach { case (q, ps0) =>
      val ps = ps0.filter(_.numInputRows > 0)
      def d(k: String) = ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble)
      val trig = d("triggerExecution")
      out(s"batch.$q.count") = ps.size / per
      out(s"batch.$q.trigger_ms_p50") = if (trig.isEmpty) 0.0 else Stats.median(trig)
      out(s"batch.$q.trigger_ms_max") = if (trig.isEmpty) 0.0 else trig.max
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      out(s"batch.$q.planning_ms") = mean(d("queryPlanning"))
      out(s"batch.$q.log_ms") = mean(d("walCommit").zip(d("commitOffsets")).map { case (a, b) => a + b })
      out(s"batch.$q.add_ms") = mean(d("addBatch"))
      if (q == "metrics" || q == "csv") {
        val ops = ps.flatMap(_.stateOperators)
        val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
        out(s"state.$q.rows_total") = last.map(_.numRowsTotal).sum.toDouble
        out(s"state.$q.rows_updated") = ops.map(_.numRowsUpdated).sum / per
        out(s"state.$q.memory_bytes") = last.map(_.memoryUsedBytes).sum.toDouble
        out(s"state.$q.commit_ms") = if (ps.isEmpty) 0.0 else ops.map(_.commitTimeMs).sum.toDouble / ps.size
      }
    }
    out.toMap
  }

  /** One span per micro-batch of each query, with its phase durations
    * (ms) from the query's progress.
    */
  def recordBatches(byQuery: Seq[(String, Seq[StreamingQueryProgress])]): Unit =
    byQuery.foreach { case (q, ps) =>
      ps.foreach { p =>
        val (rows, startMs, durMs) = Pipeline.batch(p)
        Trace.record("micro-batch", q, startMs, durMs * 1000000L,
          p.durationMs.asScala.map { case (k, v) => s"${k}_ms" -> v.longValue }.toMap ++
            Map("batch_id" -> p.batchId, "rows" -> rows))
      }
    }

  /** Source metrics from the progress of all queries. */
  def sourceMetrics(byQuery: Seq[(String, Seq[StreamingQueryProgress])], per: Double): Map[String, Double] = {
    val ps = byQuery.flatMap(_._2)
    val backlog = ps.flatMap(_.sources).map { s =>
      (Option(s.latestOffset).map(_.trim.toLong).getOrElse(0L) -
        Option(s.endOffset).map(_.trim.toLong).getOrElse(0L)).toDouble
    }
    val latest = ps.filter(_.numInputRows > 0).map(_.durationMs.getOrDefault("latestOffset", 0L).toDouble)
    Map(
      "source.backlog_frames_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "source.latest_offset_ms" -> (if (latest.isEmpty) 0.0 else latest.sum / latest.size))
  }

  /** Standalone calls into the normalizer and the JSONL sink on the run's own
    * frames (traced runs only): per-frame normalize cost, events per frame,
    * and the JSONL sink's per-event cost on top of normalizing.
    */
  def standalone(spark: SparkSession, raws: Seq[String], dir: String): Map[String, Double] = {
    val rows = raws.map(r => Row(r, 0L, 0L, 0L, 0L))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), OkxSource.schema).cache()
    raw.count()
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    }
    val events = Normalizer.normalize(raw).count()
    val norm = Stats.median((1 to 3).map(_ => Trace.span("normalize", "standalone") {
      timed(Normalizer.normalize(raw).write.format("noop").mode("overwrite").save())
    }))
    val sink = Stats.median((1 to 3).map { i => Trace.span("sinks", "jsonl-standalone") {
      timed(Normalizer.normalize(raw).withColumn("event_date", Derived.eventDate)
        .select(col("exchange"), col("channel"), col("event_date"), col("symbol"), Sinks.jsonLine)
        .write.partitionBy("exchange", "channel", "event_date", "symbol").text(s"$dir/standalone-$i"))
    }})
    raw.unpersist()
    Map(
      "normalize.ns_per_frame" -> norm / raws.size,
      "normalize.events_per_frame" -> events.toDouble / raws.size,
      "sink.jsonl.ns_per_event" -> math.max(0.0, sink - norm) / math.max(1L, events))
  }

  /** Heap still in use right after a full GC: the heap pools' usage as the
    * collector left it, so allocation by running queries after the
    * collection does not count. The first collection lets Spark's context
    * cleaner release the blocks of unreachable broadcasts and shuffles; the
    * second one measures without them.
    */
  def heapRetainedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
