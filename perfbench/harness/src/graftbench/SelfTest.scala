package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark itself (`BenchMain selftest`, run by
  * perfbench/test_bench.py): seeded inputs, latency arithmetic, drop
  * counting, the percentile rule and partition-invariant fingerprints.
  */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  /** Runs every test; returns the names of the failed ones. */
  def run(spark: SparkSession, work: String, data: Option[String]): Seq[String] = {
    check("same seed gives identical frames") {
      def frames(seed: Long) = Frames.backlog(seed, 2000, 1000L)
      frames(7) == frames(7) && frames(7) != frames(8)
    }

    check("frame mix: control and malformed frames yield no events, trades 1-3 fills") {
      val fs = Frames.backlog(3, 20000, 1000L)
      val empty = fs.count(_.lines.isEmpty).toDouble / fs.size
      val trades = fs.filter(_.channel == "trades").filter(_.lines.nonEmpty)
      empty > 0.008 && empty < 0.025 && trades.forall(f => f.lines.size >= 1 && f.lines.size <= 3) &&
        Frames.symbols.forall(s => fs.exists(_.symbol == s))
    }

    check("latency runs from the backlog's offer to the end of the committing batch (fake clock)") {
      // (rows, start ms, duration ms); the backlog was offered at 900
      val batches = Seq((0L, 1000L, 50L), (600L, 1100L, 400L), (400L, 1600L, 300L))
      Pipeline.committedAtMs(batches, 600).map(_ - 900) == Some(600L) &&
        Pipeline.committedAtMs(batches, 1000).map(_ - 900) == Some(1000L) &&
        Pipeline.committedAtMs(batches, 1001).isEmpty
    }

    check("drops are offered minus admitted, per query") {
      Pipeline.dropped(100, Seq(100, 90, 100, 95)) == 15 && Pipeline.dropped(10, Seq(10)) == 0
    }

    check("percentile rule: highest percentile with at least 10 samples beyond it") {
      val xs = (1 to 1000).map(_.toDouble)
      val p99 = Stats.pct(xs, 0.99)
      val small = Stats.pct((1 to 200).map(_.toDouble), 0.99)
      val tiny = Stats.pct(Seq(3.0, 1.0, 2.0), 0.5)
      p99.value == 990.0 && p99.percentile == 0.99 &&
        small.value == 190.0 && small.percentile == 0.95 &&
        tiny.value == 1.0 && Stats.pct(xs, 0.5).value == 500.0
    }

    check("JSONL check: exactly once, byte-identical content") {
      val fs = Frames.backlog(5, 50, 1000L)
      val stamped = fs.flatMap(_.lines).map(_.replace(Frames.StampMarker,
        "\"ts_recv_epoch_ms\":1,\"ts_recv_mono_ns\":2,\"ts_decoded_mono_ns\":2,\"ts_proc_mono_ns\":2"))
      val ok = Jsonl.check(fs, stamped.iterator)._2 == 0
      val dup = Jsonl.check(fs, (stamped :+ stamped.head).iterator)._2 == 1
      val missing = Jsonl.check(fs, stamped.tail.iterator)._2 == 1
      val altered = Jsonl.check(fs, (stamped.head.replace("okx", "okz") +: stamped.tail).iterator)._2 == 2
      ok && dup && missing && altered
    }

    check("fingerprint does not change between 1 and 4 shuffle partitions") {
      val key = "spark.sql.shuffle.partitions"
      val before = spark.conf.get(key)
      def fp(parts: Int, queries: Seq[String]) = {
        spark.conf.set(key, parts.toString)
        try {
          val synthetic = spark.range(0, 20000).withColumn("k", col("id") % 7)
            .groupBy("k").agg(sum("id").as("s"), collect_list(col("id") % 3).as("l"))
          Fingerprint.of(synthetic) +: queries.map(q => Fingerprint.of(graft.SparkEntry.queries(q)(spark, data.get)))
        } finally spark.conf.set(key, before)
      }
      val qs = if (data.isDefined) Seq("q1_pricing_summary", "q9_exact_percentiles", "q18_semi_anti_customers") else Nil
      val one = fp(1, qs)
      one == fp(4, qs) && one.head != Fingerprint.of(spark.range(0, 20001).toDF())
    }

    check("the source's silent overflow shows up as offered minus admitted") {
      val n = 3000
      BacklogProvider.frames = Frames.backlog(9, n, System.currentTimeMillis()).map(_.raw).toArray
      val dir = s"$work/selftest-drops"
      val qs = Pipeline.start(spark, Map(
        "provider" -> classOf[BacklogProvider].getName, "symbols" -> Live.symbolsFlag,
        "max-buffer" -> "1000", "jsonl-dir" -> s"$dir/jsonl",
        "csv-export" -> s"$dir/summary.csv", "csv-export-interval" -> "1"), s"$dir/ckpt")
      try {
        Pipeline.drain(qs.map(_._2), n)
        Pipeline.dropped(n, qs.map(q => Pipeline.admitted(q._2))) == 4L * (n - 1000)
      } finally qs.foreach(_._2.stop())
    }
    failures.toList
  }
}
