package perf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.index.IvfIndex
import graft.util.FsOps

/** Per-layer metrics of a traced run, read off the spans and the Spark
  * counters booked on them. Every workload reports every name; a layer a
  * workload leaves idle reads 0. Span names are `<layer>.<what>`; `op.*`
  * spans are the benchmark's own, one per timed operation. */
final class Layers(ctx: Ctx, windowStart: Long) {
  import Layers._

  private val r = ctx.report
  private val spans = ctx.tracer.all
  private val counts = ctx.tracer.counters.map(_.snapshot()).getOrElse(Map.empty)
  private val inWindow = spans.filter(_.start >= windowStart)
  private val ops = math.max(1, inWindow.count(_.name.startsWith("op.")))

  Names.foreach { case (n, u) => r.layer(n, 0.0, u) }
  r.layer("trace.spans", spans.length, "count")

  private def named(n: String, all: Boolean = false) =
    (if (all) spans else inWindow).filter(_.name == n)
  private def c(s: Tracer.Span) = counts.getOrElse(s.id, Tracer.Counts())
  private def medMs(n: String, all: Boolean = false): Double =
    Stats.median(named(n, all).map(_.ms))
  /** Set a named per-layer metric, unless the run did not measure it. */
  def set(n: String, v: Double): Unit =
    if (!v.isNaN) r.layer(n, v, r.perLayer(n)._2)

  set("embed.query_ms", medMs("embed.query"))
  set("embed.persist_s", medMs("embed.persist") / 1000)
  set("sources.copy_s", medMs("sources.copy", all = true) / 1000)
  set("operators.dedup_s", medMs("operators.dedup") / 1000)
  set("index.build_s", medMs("index.build", all = true) / 1000)
  set("index.search_many_s", medMs("index.search_many") / 1000)
  set("plans.plan_ms", medMs("plans.knn"))
  set("exec.run_ms", medMs("exec.knn"))
  set("exec.exact_run_ms", medMs("exec.exact"))

  private val plans = named("plans.knn").map(c)
  set("plans.jobs_per_query", Stats.mean(plans.map(_.jobs.toDouble)))
  private val exec = named("exec.knn").map(c)
  set("exec.jobs_per_query", Stats.mean(exec.map(_.jobs.toDouble)))
  set("exec.stages_per_query", Stats.mean(exec.map(_.stages.toDouble)))
  set("exec.tasks_per_query", Stats.mean(exec.map(_.tasks.toDouble)))
  set("exec.sched_wait_ms", Stats.mean(exec.map(_.schedWaitMs.toDouble)))
  set("exec.task_cpu_ms", Stats.mean(exec.map(_.cpuNs / 1e6)))
  set("exec.gc_ms", Stats.mean(exec.map(_.gcMs.toDouble)))
  if (exec.nonEmpty)
    set("exec.rows_read_per_result", exec.map(_.recordsRead).sum.toDouble / (exec.length * Knn.K))
  private val exact = named("exec.exact").map(c)
  if (exact.nonEmpty)
    set("exec.exact_rows_read_per_result",
      exact.map(_.recordsRead).sum.toDouble / (exact.length * Knn.K))

  private val windowCounts = inWindow.map(c)
  set("exec.shuffle_mb", windowCounts.map(_.shuffleBytes).sum / 1e6 / ops)
  set("exec.spill_mb", windowCounts.map(_.spillBytes).sum / 1e6 / ops)

  private val self = ctx.tracer.selfNanos
  Seq("embed", "sources", "operators", "index", "plans", "exec", "op").foreach { layer =>
    val ns = inWindow.filter(_.name.takeWhile(_ != '.') == layer).map(s => self(s.id)).sum
    set(s"self.${if (layer == "op") "bench" else layer}_ms", ns / 1e6 / ops)
  }

  /** End-of-run probes, untimed: the table's committed parquet files, the
    * index's list files, and `IvfIndex.listSkew` (max list size over mean). */
  def files(table: String, index: String): Unit = {
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    set("sources.table_files", FsOps.countParquetFiles(conf, new Path(table)))
    set("index.list_files", FsOps.countParquetFiles(conf, new Path(s"$index/lists")))
    set("index.list_skew",
      IvfIndex.listSkew(ctx.spark, index).select(col("skew")).head().getDouble(0))
  }

  def rewrite(hits: Int, annQueries: Int): Unit =
    if (annQueries > 0) set("plans.rewrite_hit_frac", hits.toDouble / annQueries)

  /** Traced minus untraced median latency of the workload's main operation,
    * from operations alternating between the two in this run. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (traced.nonEmpty && untraced.nonEmpty) {
      val d = Stats.median(traced) - Stats.median(untraced)
      r.layer("trace.overhead_ms", d, "ms")
      r.say("trace_overhead_ms", d, "ms", traced.length + untraced.length)
    }
}

object Layers {
  val Names: Seq[(String, String)] = Seq(
    "embed.query_ms" -> "ms", "embed.persist_s" -> "s", "embed.docs" -> "count",
    "sources.copy_s" -> "s", "sources.rows_written" -> "count",
    "sources.table_files" -> "count",
    "operators.dedup_s" -> "s", "operators.dedup_pairs" -> "count",
    "operators.docs_dropped" -> "count",
    "index.build_s" -> "s", "index.search_many_s" -> "s",
    "index.list_files" -> "count", "index.list_skew" -> "ratio",
    "plans.plan_ms" -> "ms", "plans.jobs_per_query" -> "count",
    "plans.rewrite_hit_frac" -> "ratio",
    "exec.run_ms" -> "ms", "exec.exact_run_ms" -> "ms", "exec.jobs_per_query" -> "count",
    "exec.stages_per_query" -> "count", "exec.tasks_per_query" -> "count",
    "exec.sched_wait_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.rows_read_per_result" -> "ratio", "exec.exact_rows_read_per_result" -> "ratio",
    "exec.shuffle_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.gc_ms" -> "ms",
    "self.embed_ms" -> "ms", "self.sources_ms" -> "ms", "self.operators_ms" -> "ms",
    "self.index_ms" -> "ms", "self.plans_ms" -> "ms", "self.exec_ms" -> "ms",
    "self.bench_ms" -> "ms",
    "jvm.peak_rss_mb" -> "MB", "trace.overhead_ms" -> "ms", "trace.spans" -> "count")
}
