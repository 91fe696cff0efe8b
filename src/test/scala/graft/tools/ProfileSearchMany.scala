// Batch-search kernel profiler and simpler-design A/B:
//   sbt "Test/runMain graft.tools.ProfileSearchMany [rows] [lists] [queries] [nprobe] [runs]"
// Builds a cosine ivfflat index over `rows` random 384-dim vectors and
// times `searchMany` (the (list, query-block) kernel) against the join
// form it replaced, with and without `repartition(defaultParallelism)` on
// the probe frame — interleaved, warm, in one session on local[nproc].
// Prints per-variant wall, task CPU, jobs and the widest stage's task
// count, and checks the three return the same rows bit for bit.
// PROFILE_STAGES=1 also prints every run's jobs, stages and long tasks;
// PROFILE_COLD=1 drops the index handle before each run, as a fresh index
// generation would.
package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IvfIndex

object ProfileSearchMany {
  def main(args: Array[String]): Unit = {
    def arg(i: Int, d: Int) = if (args.length > i) args(i).toInt else d
    val (rows, lists, nq, nprobe, runs) =
      (arg(0, 2800), arg(1, 2), arg(2, 1000), arg(3, 1), arg(4, 5))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = graft.util.TempDirs.create("profile_searchmany")
    val vecs = spark.range(rows).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(383)), d =>
        ((pmod(xxhash64(col("id"), d), lit(2000001)) - 1000000) / 1e6).cast("float"))
        .as("embedding"))
    vecs.write.parquet(s"$dir/table")
    val table = spark.read.parquet(s"$dir/table")
    val idx = s"$dir/ivf"
    IvfIndex.build(table, idx, lists = lists)
    val queries = table.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .orderBy(xxhash64(col("qid")), col("qid")).limit(nq)

    // the join form searchMany ran before the kernel, optionally with the
    // probe frame spread over the session's parallelism
    def joinForm(repartition: Boolean): DataFrame = {
      val h = IvfIndex.handle(spark, idx)
      val cents = spark.read.parquet(s"$idx/centroids")
      val a0 = IvfIndex.assignProbes(queries, cents, "qid", "qv", nprobe, h.metric)
      val assigned =
        if (repartition) a0.repartition(spark.sparkContext.defaultParallelism) else a0
      h.lists(spark).join(assigned, Seq("list_id"))
        .select(col("qid"), col("vec_id").cast("long").as("vec_id"),
          graft.functions.cosine_distance(col("embedding"), col("qv")).as("dist"))
        .groupBy("qid")
        .agg(graft.functions.top_k_by_distance(col("dist"), col("vec_id"), 10).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
          col("s.vec_id").as("vec_id"), col("s.dist").as("dist"))
    }
    val variants = Seq[(String, () => DataFrame)](
      "kernel" -> (() => IvfIndex.searchMany(spark, idx, queries, "qid", "qv", 10, nprobe)),
      "join" -> (() => joinForm(repartition = false)),
      "join+repartition" -> (() => joinForm(repartition = true)))

    @volatile var jobs = 0
    @volatile var cpuNs = 0L
    @volatile var widest = 0
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += 1
        stageLog.add(s"  job ${e.jobId}: " + e.stageInfos.map(si =>
          s"${si.name.linesIterator.next()} (${si.numTasks}) " +
            si.rddInfos.map(_.name).mkString(",")).mkString(" | "))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.executorRunTime > 30)
          stageLog.add(s"    task of stage ${e.stageId}: run ${e.taskMetrics.executorRunTime} ms " +
            s"cpu ${e.taskMetrics.executorCpuTime / 1000000} ms " +
            s"records ${e.taskMetrics.shuffleReadMetrics.recordsRead}")
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        cpuNs += e.stageInfo.taskMetrics.executorCpuTime
        widest = math.max(widest, e.stageInfo.numTasks)
        val si = e.stageInfo
        stageLog.add(f"  stage ${si.stageId}%4d tasks ${si.numTasks}%3d run_ms " +
          f"${si.taskMetrics.executorRunTime}%6d cpu_ms ${si.taskMetrics.executorCpuTime / 1000000}%6d " +
          f"deser_ms ${si.taskMetrics.executorDeserializeTime}%5d gc_ms ${si.taskMetrics.jvmGCTime}%4d " +
          f"shuffle_read ${si.taskMetrics.shuffleReadMetrics.recordsRead}%7d  ${si.name.linesIterator.next()}")
      }
    })
    def norm(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val answers = variants.map { case (n, f) => n -> norm(f().collect()) }.toMap
    answers.foreach { case (n, a) =>
      println(s"$n: ${a.length} rows, identical to kernel: ${a == answers("kernel")}")
    }
    val stats = variants.map(_._1 -> Seq.newBuilder[(Double, Double, Int, Int)]).toMap
    (0 until runs).foreach { _ =>
      variants.foreach { case (n, f) =>
        Thread.sleep(200) // let the previous run's listener events drain
        jobs = 0; cpuNs = 0L; widest = 0; stageLog.clear()
        if (sys.env.contains("PROFILE_COLD")) IvfIndex.releaseHandle(idx)
        val t0 = System.nanoTime()
        f().collect()
        val wall = (System.nanoTime() - t0) / 1e6
        Thread.sleep(200)
        stats(n) += ((wall, cpuNs / 1e6, jobs, widest))
        if (sys.env.contains("PROFILE_STAGES")) {
          println(f"$n: wall $wall%.1f ms"); stageLog.forEach(l => println(l))
        }
      }
    }
    println(s"rows=$rows lists=$lists queries=$nq nprobe=$nprobe cpus=$cpus runs=$runs")
    variants.foreach { case (n, _) =>
      val s = stats(n).result()
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      println(f"$n%-18s wall_ms med ${med(s.map(_._1))}%8.1f  cpu_ms med ${med(s.map(_._2))}%8.1f" +
        f"  jobs ${s.map(_._3).max}%3d  widest stage ${s.map(_._4).max}%3d tasks")
    }
    spark.stop()
  }
}
