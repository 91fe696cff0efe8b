package perf

import scala.collection.mutable.ArrayBuffer

import graft.index.IvfIndex
import graft.plans.{AnnIndexRegistry, Graft}
import graft.sources.{DocumentStore, TableConfig}

/** `knn_serve`: read-only point queries, one closed-loop client.
  *
  * Set-up loads a pre-embedded source into a table with
  * `DocumentStore.copy`, builds an ivfflat index over the table's own
  * columns, registers it with `AnnIndexRegistry` and turns the rewrite on
  * with `Graft.enable`; [[WarmUp]] untimed queries then warm both paths. Each
  * operation draws a query text from a pool by Zipf(1.0), so hot queries
  * repeat. Four operations in five go to the indexed table (the ANN
  * rewrite); every fifth goes to the unregistered source path, which holds
  * the same rows (the exact scan, the bypass).
  *
  * `recall_at_10` is scored on a fixed query set, the first
  * [[RecallQueries]] ANN entries of the schedule, so it does not change
  * with how many operations the window fits. Answers are deterministic for
  * a seed, so the loop's own answers are reused; entries the loop did not
  * reach are answered untimed after it.
  */
object KnnServe {
  val Rows = 5000
  val Files = 8
  val Pool = 1000
  val ExactEvery = 5
  val WarmUp = 60
  val RecallQueries = 48
  val Lists: Int = math.max(2, Rows / 1000)
  val Probes: Int = math.max(1, math.round(math.sqrt(Lists.toDouble)).toInt)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val gen = new Gen(ctx.seed)
    val store = new ExactStore(Knn.Dim)
    val src = ctx.dir("source")
    Source.write(ctx, gen.docs(Rows), src, store, Files)
    val pool = Array.fill(Pool)(gen.queryText(gen.uniform(Gen.Topics)))
    val schedule = gen.zipfSchedule(200000, Pool, 1.0)
    val warmUp = Seq.fill(WarmUp)(gen.queryText(gen.uniform(Gen.Topics)))

    // set-up: load the table, build and register its index; the source
    // path stays unregistered and serves the exact scan
    implicit val spark = ctx.spark
    val table = ctx.dir("documents")
    val plain = src
    val index = ctx.dir("documents_ivf")
    val (loaded, setupMs) = Clock.ms {
      val n = ctx.span("sources.copy")(DocumentStore.copy(Right(src), TableConfig(table)))
      ctx.span("index.build")(IvfIndex.build(DocumentStore.read(TableConfig(table)),
        index, idCol = "id", lists = Lists))
      ctx.span("index.register") {
        AnnIndexRegistry.register(table, index, Probes)
        Graft.enable(spark)
      }
      n
    }
    // untimed warm-up of the query paths (JIT, codegen), with texts outside
    // the pool so the rewrite's memo of pool queries starts empty
    warmUp.zipWithIndex.foreach { case (t, i) =>
      Knn.query(ctx, if (i % ExactEvery == ExactEvery - 1) plain else table, t, "warm_up")
    }
    r.op(if (loaded == Rows) Nil else Seq(s"copy loaded $loaded rows, want $Rows"))
    r.e2e("setup_s", ctx.sessionS + setupMs / 1000, "s")
    r.say("setup_s", ctx.sessionS + setupMs / 1000, "s")

    // measured closed loop
    val truth = new Array[Seq[(String, Double)]](Pool)
    def truthOf(qi: Int) = {
      if (truth(qi) == null)
        truth(qi) = store.topK(graft.functions.HashEmbed.embedToFloats(pool(qi), Knn.Dim), Knn.K)
      truth(qi)
    }
    def isAnn(i: Int) = i % ExactEvery != ExactEvery - 1
    val knn = ArrayBuffer[Double]()
    val exact = ArrayBuffer[Double]()
    val recallAt = scala.collection.mutable.Map[Int, Double]()
    val (tracedKnn, untracedKnn) = (ArrayBuffer[Double](), ArrayBuffer[Double]())
    var rewriteHits, ops = 0
    val t0 = ctx.closedLoop(min = ExactEvery) { i =>
      val qi = schedule(i % schedule.length)
      val ann = isAnn(i)
      val kind = if (ann) "knn" else "exact"
      ctx.tracer.active = ctx.traced && i % 2 == 1
      ctx.tracer.newRequest()
      val misses = ArrayBuffer[String]()
      try {
        val a = ctx.span(s"op.$kind")(Knn.query(ctx, if (ann) table else plain, pool(qi), kind))
        if (a.hits.length != Knn.K) misses += s"query $i returned ${a.hits.length} rows"
        if (ann) {
          knn += a.ms
          (if (ctx.tracer.active) tracedKnn else untracedKnn) += a.ms
          recallAt(i) = Knn.recall(a, truthOf(qi))
          if (Knn.readsIndex(a, index)) rewriteHits += 1
          else misses += s"ANN query $i did not take the index rewrite"
        } else {
          exact += a.ms
          if (!Knn.matchesExactly(a, truthOf(qi)))
            misses += s"exact query $i differs from the brute-force top-${Knn.K}"
          if (Knn.readsIndex(a, index)) misses += s"exact query $i read the index"
        }
      } catch {
        case scala.util.control.NonFatal(e) => misses += s"query $i threw $e"
      }
      r.op(misses.toSeq)
      ops += 1
    }
    val busyS = (knn.sum + exact.sum) / 1000

    // recall on the fixed query set, untimed and untraced
    ctx.tracer.active = false
    val recalls = Iterator.from(0).filter(isAnn).take(RecallQueries).map { i =>
      recallAt.getOrElse(i, {
        val qi = schedule(i)
        try {
          val a = Knn.query(ctx, table, pool(qi), "knn")
          r.op(if (a.hits.length == Knn.K && Knn.readsIndex(a, index)) Nil
            else Seq(s"recall query $i returned ${a.hits.length} rows or missed the index"))
          Knn.recall(a, truthOf(qi))
        } catch {
          case scala.util.control.NonFatal(e) =>
            r.op(Seq(s"recall query $i threw $e"))
            0.0
        }
      })
    }.toVector
    ctx.tracer.active = ctx.traced
    val recall = Stats.mean(recalls)
    r.e2e("op_p50_ms", Stats.median(knn.toSeq), "ms")
    r.e2e("aux_p50_ms", Stats.median(exact.toSeq), "ms")
    r.e2e("recall_at_10", recall, "ratio")
    r.latency("knn", knn.toSeq)
    r.latency("exact", exact.toSeq)
    r.say("queries_per_s", ops / busyS, "1/s", ops)
    r.say("recall_at_10", recall, "ratio", recalls.length)

    if (ctx.traced) {
      val l = new Layers(ctx, t0)
      l.files(table, index)
      l.set("sources.rows_written", loaded.toDouble)
      l.rewrite(rewriteHits, tracedKnn.length + untracedKnn.length)
      l.overhead(tracedKnn.toSeq, untracedKnn.toSeq)
    }
  }
}
