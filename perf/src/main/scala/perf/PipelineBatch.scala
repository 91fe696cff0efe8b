package perf

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, length, lit, xxhash64}

import graft.embed.HashingSentenceEmbedder
import graft.index.IvfIndex
import graft.operators.Dedup
import graft.sources.{DocumentStore, TableConfig}

/** `pipeline_batch`: the offline curation-and-load dataflow, one pass per
  * generated corpus:
  *
  *  1. near-duplicate removal: `Dedup.dedupMinhash`, then
  *     `Dedup.dropNearDuplicates` (which also drops exact duplicates);
  *  2. `HashingSentenceEmbedder(384).embedFrame`, written with
  *     `DocumentStore.saveToParquetPartitioned`;
  *  3. `DocumentStore.copy(Right(path))` into a table;
  *  4. `IvfIndex.build`, lists = rows / 1000, keyed by `vec_id`;
  *  5. backfill: `IvfIndex.searchMany` for [[Backfill]] sampled table rows.
  *
  * A pass's time is the sum of the five steps; the checks between steps
  * are untimed. The pass count is fixed, not set by `--seconds`, so the
  * metrics always mean the same passes: an untraced run measures one cold
  * pass; a traced run runs [[TracedPasses]] and traces every other one,
  * starting with the second.
  */
object PipelineBatch {
  val Docs = 3000
  val Backfill = 1000
  val RecallQueries = 100
  val TracedPasses = 3

  final case class Pass(ms: Double, steps: Map[String, Double], recall: Double,
                        kept: Long, pairs: Long, rows: Long, dir: String) {
    def searchMs: Double = steps("index.search_many")
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    r.e2e("setup_s", ctx.sessionS, "s")
    r.say("setup_s", ctx.sessionS, "s")
    val gen = new Gen(ctx.seed)
    val passes = ArrayBuffer[Pass]()
    val (tracedMs, untracedMs) = (ArrayBuffer[Double](), ArrayBuffer[Double]())
    // a traced run compares traced pass 1 against untraced pass 2
    val t0 = System.nanoTime()
    (0 until (if (ctx.traced) TracedPasses else 1)).foreach { p =>
      ctx.tracer.active = ctx.traced && p % 2 == 1
      ctx.tracer.newRequest()
      val misses = ArrayBuffer[String]()
      try {
        val one = ctx.span("op.pass")(pass(ctx, gen.fork(), p, misses))
        passes += one
        // the first pass pays JIT warm-up, so it stays out of the comparison
        if (p > 0) (if (ctx.tracer.active) tracedMs else untracedMs) += one.ms
      } catch {
        case scala.util.control.NonFatal(e) => misses += s"pass $p threw $e"
      }
      r.op(misses.toSeq)
    }
    ctx.tracer.active = ctx.traced

    val docsPerS = passes.length * Docs / (passes.map(_.ms).sum / 1000)
    val recall = Stats.mean(passes.map(_.recall).toSeq)
    r.e2e("op_p50_ms", Stats.median(passes.map(_.ms).toSeq), "ms")
    r.e2e("aux_p50_ms", Stats.median(passes.map(_.searchMs).toSeq), "ms")
    r.e2e("recall_at_10", recall, "ratio")
    r.latency("pass", passes.map(_.ms).toSeq)
    r.say("pipeline_docs_per_s", docsPerS, "docs/s", passes.length)
    r.say("batch_search_qps", Backfill / (Stats.median(passes.map(_.searchMs).toSeq) / 1000),
      "queries/s", passes.length)
    r.say("recall_at_10", recall, "ratio", passes.length * RecallQueries)
    passes.headOption.foreach(_.steps.keys.foreach { k =>
      r.say(s"step.${k}_ms", Stats.median(passes.map(_.steps(k)).toSeq), "ms", passes.length)
    })

    if (ctx.traced && passes.nonEmpty) {
      val l = new Layers(ctx, t0)
      val last = passes.last
      l.files(s"${last.dir}/documents", s"${last.dir}/ivf")
      l.set("embed.docs", Stats.median(passes.map(_.kept.toDouble).toSeq))
      l.set("sources.rows_written", Stats.median(passes.map(_.rows.toDouble).toSeq))
      l.set("operators.dedup_pairs", Stats.median(passes.map(_.pairs.toDouble).toSeq))
      l.set("operators.docs_dropped", Stats.median(passes.map(Docs - _.kept.toDouble).toSeq))
      l.overhead(tracedMs.toSeq, untracedMs.toSeq)
    }
  }

  private def pass(ctx: Ctx, gen: Gen, p: Int, misses: ArrayBuffer[String]): Pass = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.dir(s"pass$p")
    val corpus = gen.corpus(Docs)
    corpus.rows.toSeq.toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
      .repartition(4).write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val steps = scala.collection.mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): T = {
      val (v, t) = Clock.ms(ctx.span(name)(body))
      steps(name) = t
      v
    }

    // 1. near-duplicate removal
    val (kept, nPairs) = step("operators.dedup") {
      val pairs = Dedup.dedupMinhash(spark, dir).persist()
      val nPairs = pairs.count()
      val kept = Dedup.dropNearDuplicates(docs, pairs).persist()
      kept.count()
      pairs.unpersist()
      (kept, nPairs)
    }
    val keptIds = kept.select(col("doc_id")).as[Long].collect()
    val nKept = keptIds.length.toLong
    val text = corpus.rows.toMap
    val copies = corpus.exactOf.keySet
    if (keptIds.exists(copies.contains))
      misses += s"pass $p: a planted exact duplicate survived dedup"
    if (keptIds.map(text).distinct.length != keptIds.length)
      misses += s"pass $p: two kept documents share a text"

    // 2. embed and persist; 3. load
    val embedded = s"$dir/embedded"
    step("embed.persist")(DocumentStore.saveToParquetPartitioned(
      HashingSentenceEmbedder(Knn.Dim).embedFrame(kept), embedded))
    val table = TableConfig(s"$dir/documents")
    val rows = step("sources.copy")(DocumentStore.copy(Right(embedded), table)(spark))
    if (rows != nKept) misses += s"pass $p: copy loaded $rows rows, want $nKept"
    kept.unpersist()

    // 4. index build, keyed by vec_id (IvfIndex.searchMany reads vec_id)
    val vectors = DocumentStore.read(table)(spark).withColumnRenamed("id", "vec_id")
    val index = s"$dir/ivf"
    val lists = math.max(2, (rows / 1000).toInt)
    step("index.build")(IvfIndex.build(vectors, index, lists = lists))

    // 5. backfill
    val probes = math.max(1, math.round(math.sqrt(lists.toDouble)).toInt)
    val queries = vectors
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .orderBy(xxhash64(col("qid"), lit(ctx.seed)), col("qid")).limit(Backfill)
    val found = step("index.search_many")(
      IvfIndex.searchMany(spark, index, queries, "qid", "qv", Knn.K, probes).collect())
    val byQuery = found.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3)))
    }
    if (byQuery.size != Backfill)
      misses += s"pass $p: backfill answered ${byQuery.size} of $Backfill queries"
    val notSelf = byQuery.count { case (q, hits) =>
      hits.isEmpty || hits.head._2 > 1e-6 || !hits.exists(h => h._1 == q && h._2 <= 1e-6)
    }
    if (notSelf > 0)
      misses += s"pass $p: $notSelf backfill queries missed their own row at rank 1"

    // untimed ground truth for a subset of the backfill queries
    val stored = vectors.select(col("vec_id"), col("text"), col("embedding")).collect()
    val store = new ExactStore(Knn.Dim)
    val idText = stored.map { row =>
      store.add(row.getString(1), row.getSeq[Float](2).toArray)
      row.getLong(0) -> row.getString(1)
    }.toMap
    val vecOf = stored.map(row => row.getLong(0) -> row.getSeq[Float](2).toArray).toMap
    val recalls = byQuery.keys.toSeq.sorted.take(RecallQueries).map { q =>
      val truth = store.topK(vecOf(q), Knn.K).map(_._1).toSet
      byQuery(q).count(h => truth.contains(idText(h._1))).toDouble / Knn.K
    }
    Pass(steps.values.sum, scala.collection.immutable.ListMap(steps.toSeq: _*), Stats.mean(recalls), nKept, nPairs, rows, dir)
  }
}
