package perf

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  * {{{ perf.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> }}}
  *
  * Prints a report of the workload's metrics and, as the last stdout line,
  * one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
  * end-to-end set, or the per-layer set when `--trace 1`). `perf/run.py`
  * builds the classpath and launches this; see perf/README.md.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "pipeline_batch" -> PipelineBatch.run,
    "knn_serve" -> KnnServe.run)

  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms",
    "aux_p50_ms" -> "ms", "recall_at_10" -> "ratio")

  def main(args: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (${Workloads.keys.toSeq.sorted.mkString("|")})"))
    val work = Paths.get(opt("work")).toAbsolutePath
    val traced = opt("trace") == "1"
    Files.createDirectories(work)

    val spark = session(work)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, traced), new Report(workload),
      work, opt("seed").toLong, opt("seconds").toInt, (System.nanoTime() - jvmStart) / 1e9)
    try run(ctx)
    catch {
      case NonFatal(e) =>
        ctx.report.op(Seq(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        e.printStackTrace()
    }
    val r = ctx.report
    // a run cut short still names every metric, unmeasured ones as null
    EndToEnd.foreach { case (n, u) => if (!r.endToEnd.contains(n)) r.e2e(n, Double.NaN, u) }
    if (traced) Layers.Names.foreach { case (n, u) =>
      if (!r.perLayer.contains(n)) r.layer(n, Double.NaN, u)
    }
    val rss = peakRssMb()
    r.say("peak_rss_mb", rss, "MB")
    if (traced) r.layer("jvm.peak_rss_mb", rss, "MB")
    r.say("fail_frac", if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted, "ratio",
      r.attempted.toInt)
    if (traced) ctx.tracer.dump(work.resolve("trace").resolve("spans.jsonl"))
    spark.stop()

    r.failures.foreach(f => System.err.println(s"FAILED: $f"))
    println(s"# workload ${r.workload} seed ${ctx.seed} trace ${if (traced) 1 else 0}")
    r.lines.foreach(l => println(s"# $l"))
    println(r.json(traced))
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pgvector-dbspark-perf")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** What a workload runs against: the session, its tracer and report, a
  * private work directory, the seed and the measuring time. `sessionS` is
  * the session start, measured from JVM main entry. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val report: Report,
                val work: Path, val seed: Long, val seconds: Int, val sessionS: Double) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def dir(name: String): String = work.resolve(name).toString
  def traced: Boolean = tracer.enabled

  /** The measured closed loop: runs `op(i)` for i = 0, 1, … while i < `min`,
    * or while the next operation, taking as long as the last one, would end
    * within `--seconds` of the loop's start. Returns the start, in
    * `System.nanoTime` units. */
  def closedLoop(min: Int)(op: Int => Unit): Long = {
    val t0 = System.nanoTime()
    var last = 0L
    var i = 0
    while (i < min || System.nanoTime() - t0 + last <= seconds * 1000000000L) {
      val s = System.nanoTime()
      op(i)
      last = System.nanoTime() - s
      i += 1
    }
    t0
  }
}

/** Timing helpers. */
object Clock {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
