package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness entry point (launched by perfbench/run.py).
  *
  *   run    --workload W --seed N --seconds S --trace 0|1 --cores C
  *          --work DIR --out FILE [--data DIR --expected FILE --trace-file FILE]
  *   record --cores C --work DIR --data DIR --sfs sf0.01,sf0.001 --queries core|q1,q2,...
  *   selftest --work DIR [--data SF_DIR]
  *
  * `run` writes one JSON object to `--out`: attempted, failed, metrics and
  * a self-description. `record` prints `sf<TAB>query<TAB>fingerprint` lines.
  */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val t0Ns = System.nanoTime()
    val mode = args.head
    val opts = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val cores = opts.getOrElse("cores", "4")
    val spark = session(cores, work)
    val failed = try mode match {
      case "run" => run(spark, opts, work, t0Ns, cores); Nil
      case "record" => record(spark, opts); Nil
      case "selftest" => SelfTest.run(spark, work, opts.get("data"))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } finally spark.stop()
    // exit now rather than wait for threads the pipeline left behind
    sys.exit(if (failed.nonEmpty) 1 else 0)
  }

  def session(cores: String, work: String): SparkSession = {
    val s = GraftSession.builder("graftbench", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the progress history live-backlog reads its batches from
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `sf<TAB>query<TAB>fingerprint` lines → sf → query → fingerprint. */
  def readExpected(path: String): Map[String, Map[String, String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).filter(_.length >= 3)
      .groupBy(_(0)).map { case (sf, rows) => sf -> rows.map(r => r(1) -> r(2)).toMap }

  private def run(spark: SparkSession, opts: Map[String, String], work: String, t0Ns: Long,
      cores: String): Unit = {
    val trace = opts("trace") == "1"
    val ledger = if (trace) {
      val l = new StageLedger
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = RunCtx(spark, opts("seed").toLong, opts("seconds").toInt, trace, work, t0Ns, ledger)
    ctx.phase("session ready")
    val workload = opts("workload")
    val out = workload match {
      case "live-backlog" => LiveBacklog.run(ctx)
      case "registry-light" =>
        RegistryRun.run(ctx, opts("data"), readExpected(opts("expected")), "sf0.01", "sf0.001")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) opts.get("trace-file").foreach(f => Trace.write(Paths.get(f)))
    val describe = out.describe ++ Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> trace,
      "cores_requested" -> cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xmx") || a.startsWith("-XX:")).toSeq)
    val json = Json.render(Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> out.metrics,
      "describe" -> describe))
    Files.writeString(Paths.get(opts("out")), json + "\n")
    ctx.phase("result written")
  }

  private def record(spark: SparkSession, opts: Map[String, String]): Unit = {
    // "core" = the CoreQueries, the queries registry-light runs
    val queries = opts("queries") match {
      case "core" => graft.queries.CoreQueries.all.map(_.name)
      case list => list.split(",").toSeq
    }
    for (sf <- opts("sfs").split(",").toSeq; q <- queries) {
      val fp = Fingerprint.of(graft.SparkEntry.queries(q)(spark, s"${opts("data")}/$sf"))
      println(s"$sf\t$q\t$fp")
    }
  }
}
