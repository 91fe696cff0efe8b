package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{cosine_distance, vector_lit}
import graft.operators.IndexQueries

class AnnRewriteSpec extends SparkSpec {

  private lazy val indexPath = IndexQueries.indexFor(spark, Sf0001)
  private val tablePath = s"$Sf0001/embeddings.parquet"

  private def queryVec: Array[Float] =
    graft.Tables.embeddings(spark, Sf0001).filter(col("vec_id") === 0)
      .head().getAs[collection.Seq[Float]]("embedding").toArray

  private def topK(k: Int) =
    spark.read.parquet(tablePath)
      .orderBy(cosine_distance(col("embedding"), vector_lit(queryVec)), col("vec_id"))
      .limit(k)

  override def withFixture(test: NoArgTest) = {
    Graft.enable(spark)
    try super.withFixture(test)
    finally AnnIndexRegistry.unregister(tablePath)
  }

  test("unregistered table: plan unchanged (scans the base table)") {
    val plan = topK(10).queryExecution.executedPlan.toString
    assert(plan.contains("embeddings.parquet"))
    assert(!plan.contains("list_id"))
  }

  test("registered table: plan swaps to a pruned index scan") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    val df = topK(10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("list_id"), s"expected index scan:\n$plan")
    assert(!plan.contains("embeddings.parquet"), s"base table should be pruned out:\n$plan")
    // query's own cluster is always probed → vec 0 first
    assert(df.collect().head.getLong(0) === 0L)
  }

  test("nprobe = lists: rewritten plan returns exactly the exact answer") {
    val exact = topK(10).collect().map(_.getLong(0)).toSeq
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = IndexQueries.Lists)
    val ann = topK(10).collect().map(_.getLong(0)).toSeq
    assert(ann === exact)
  }

  test("rewrite preserves full row schema (all columns readable)") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    val row = topK(3).select("vec_id", "label", "embedding").collect()
    assert(row.length === 3)
    assert(row.forall(_.getAs[collection.Seq[Float]]("embedding").length === 64))
  }

  test("select() before orderBy still rewrites (Project tolerated)") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    val df = spark.read.parquet(tablePath)
      .select(col("vec_id"), col("embedding"))
      .orderBy(cosine_distance(col("embedding"), vector_lit(queryVec)), col("vec_id"))
      .limit(10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("list_id"), s"expected index scan through Project:\n$plan")
    assert(!plan.contains("embeddings.parquet"), s"base table should be pruned out:\n$plan")
    val rows = df.collect()
    assert(rows.head.getLong(0) === 0L)
    assert(rows.head.schema.fieldNames.toSeq === Seq("vec_id", "embedding"))
  }

  test("filter + select before orderBy rewrites and re-applies the predicate") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = IndexQueries.Lists)
    val exact = spark.read.parquet(tablePath)
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"))
      .orderBy(cosine_distance(col("embedding"), vector_lit(queryVec)), col("vec_id"))
      .limit(10)
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.contains("list_id"), s"expected index scan through Filter+Project:\n$plan")
    val ids = exact.collect().map(_.getLong(0)).toSeq
    assert(ids.nonEmpty && ids.forall(_ % 2 == 0))
    assert(ids.head === 0L)
  }

  test("selective filter triggers iterative probe expansion (returns k rows)") {
    // pgvector 0.8 iterative_scan analog: nprobe=1 probes ~1/16 of rows, of
    // which only ~1/10 carry label 7 — a fixed probe starves the LIMIT 10
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 1)
    val df = spark.read.parquet(tablePath)
      .filter(col("label") === 7)
      .orderBy(cosine_distance(col("embedding"), vector_lit(queryVec)), col("vec_id"))
      .limit(10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("list_id"), s"filtered kNN must still use the index:\n$plan")
    val rows = df.collect()
    assert(rows.length === 10,
      s"iterative expansion must find k surviving rows, got ${rows.length}")
    assert(rows.forall(_.getAs[Int]("label") === 7))
  }

  test("ivfflat.iterative_scan=off and ivfflat.max_probes cap the expansion (pgvector knobs)") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 1)
    def filtered = spark.read.parquet(tablePath)
      .filter(col("label") === 7)
      .orderBy(cosine_distance(col("embedding"), vector_lit(queryVec)), col("vec_id"))
      .limit(10)
    try {
      spark.conf.set("ivfflat.iterative_scan", "off")
      val offRows = filtered.collect()
      assert(offRows.length < 10,
        "iterative_scan=off must reproduce the starved fixed-nprobe result")
      spark.conf.unset("ivfflat.iterative_scan")
      spark.conf.set("ivfflat.max_probes", "2")
      val capped = filtered.collect()
      assert(capped.length < 10, "max_probes=2 must stop expansion early")
      assert(capped.length >= offRows.length)
      spark.conf.unset("ivfflat.max_probes")
      assert(filtered.collect().length === 10, "unconstrained expansion reaches k")
    } finally {
      spark.conf.unset("ivfflat.iterative_scan")
      spark.conf.unset("ivfflat.max_probes")
    }
  }

  test("aliased/derived vector column: rewrite must NOT fire (different quantity)") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    val df = spark.read.parquet(tablePath)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("emb"))
      .orderBy(cosine_distance(col("emb"), vector_lit(queryVec)), col("vec_id"))
      .limit(10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("embeddings.parquet"),
      s"derived vector must fall back to the base scan:\n$plan")
  }

  test("index schema drift: plan left unrewritten instead of failing") {
    // an index built before `label` existed on the base table
    val stale = graft.util.TempDirs
      .create("graft_stale_idx").resolve("idx").toString
    spark.read.parquet(s"$indexPath/lists").drop("label", "bucket")
      .write.partitionBy("list_id").parquet(s"$stale/lists")
    spark.read.parquet(s"$indexPath/centroids")
      .coalesce(1).write.parquet(s"$stale/centroids")
    AnnIndexRegistry.register(tablePath, stale, nprobe = 4)
    val df = topK(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("embeddings.parquet"),
      s"schema-drifted index must leave the exact scan in place:\n$plan")
    assert(df.collect().length === 5)
  }

  test("l2 sort over an l2-opclass index rewrites; opclass mismatch stays exact") {
    import graft.functions.l2_distance
    val l2Index = IndexQueries.l2IndexFor(spark, Sf0001)
    def l2TopK(k: Int) =
      spark.read.parquet(tablePath)
        .orderBy(l2_distance(col("embedding"), vector_lit(queryVec)), col("vec_id"))
        .limit(k)
    val exact = l2TopK(10).collect().map(_.getLong(0)).toSeq
    // cosine index registered: an l2 sort must NOT use it (wrong opclass)
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    val mismatchPlan = l2TopK(10).queryExecution.executedPlan.toString
    assert(mismatchPlan.contains("embeddings.parquet"),
      s"l2 sort must not probe a cosine-opclass index:\n$mismatchPlan")
    // l2 index registered: the l2 sort rewrites, and probe-all is exact
    AnnIndexRegistry.register(tablePath, l2Index, nprobe = 4)
    val plan = l2TopK(10).queryExecution.executedPlan.toString
    assert(plan.contains("list_id"), s"expected l2 index scan:\n$plan")
    AnnIndexRegistry.register(tablePath, l2Index, nprobe = IndexQueries.Lists)
    val ann = l2TopK(10).collect().map(_.getLong(0)).toSeq
    assert(ann === exact, "probe-all through the l2 index must equal exact L2 search")
  }

  test("ip sort (both <#> spellings) rewrites over an ip-opclass index only") {
    import graft.functions.inner_product
    val ipIndex = IndexQueries.ipIndexFor(spark, Sf0001)
    // pgvector spelling: ascending negative inner product
    def negIpTopK(k: Int) =
      spark.read.parquet(tablePath)
        .orderBy(-inner_product(col("embedding"), vector_lit(queryVec)), col("vec_id"))
        .limit(k)
    // direct spelling: descending inner product
    def descIpTopK(k: Int) =
      spark.read.parquet(tablePath)
        .orderBy(inner_product(col("embedding"), vector_lit(queryVec)).desc, col("vec_id"))
        .limit(k)
    val exact = negIpTopK(10).collect().map(_.getLong(0)).toSeq
    // cosine index registered: an ip sort must NOT use it (wrong opclass)
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    val mismatchPlan = negIpTopK(10).queryExecution.executedPlan.toString
    assert(mismatchPlan.contains("embeddings.parquet"),
      s"ip sort must not probe a cosine-opclass index:\n$mismatchPlan")
    // ip index registered: both spellings rewrite; probe-all is exact
    AnnIndexRegistry.register(tablePath, ipIndex, nprobe = 4)
    for ((df, label) <- Seq((negIpTopK(10), "neg-asc"), (descIpTopK(10), "desc"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("list_id"), s"expected ip index scan ($label):\n$plan")
    }
    AnnIndexRegistry.register(tablePath, ipIndex, nprobe = IndexQueries.Lists)
    assert(negIpTopK(10).collect().map(_.getLong(0)).toSeq === exact,
      "probe-all through the ip index must equal exact max-IP search")
    assert(descIpTopK(10).collect().map(_.getLong(0)).toSeq === exact,
      "descending-IP spelling must return the same max-IP answer")
  }

  test("two vector columns: each sort probes the index built on ITS column") {
    // 3-arg register records no column — the rewrite must fall back to the
    // index meta's vec_col, or a sort could prune with the wrong geometry
    val base = graft.util.TempDirs.create("graft_twocol").toString
    spark.read.parquet(tablePath)
      .withColumn("embedding2", reverse(col("embedding")))
      .write.parquet(s"$base/t.parquet")
    val t = s"$base/t.parquet"
    val idxA = s"$base/idxA"
    val idxB = s"$base/idxB"
    graft.index.IvfIndex.build(spark.read.parquet(t), idxA,
      vecCol = "embedding", lists = 4)
    graft.index.IvfIndex.build(spark.read.parquet(t), idxB,
      vecCol = "embedding2", lists = 4)
    AnnIndexRegistry.register(t, idxA, nprobe = 2)
    AnnIndexRegistry.register(t, idxB, nprobe = 2)
    try {
      def planFor(c: String) = spark.read.parquet(t)
        .orderBy(cosine_distance(col(c), vector_lit(queryVec)), col("vec_id"))
        .limit(5).queryExecution.executedPlan.toString
      val pA = planFor("embedding")
      assert(pA.contains("idxA") && !pA.contains("idxB"),
        s"embedding sort must use idxA:\n$pA")
      val pB = planFor("embedding2")
      assert(pB.contains("idxB") && !pB.contains("idxA"),
        s"embedding2 sort must use idxB:\n$pB")
    } finally AnnIndexRegistry.unregister(t)
  }

  test("catalog save/load round-trips registrations across 'sessions'") {
    val catalog = graft.util.TempDirs
      .create("graft_catalog").resolve("cat.parquet").toString
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4,
      column = Some("embedding"))
    VectorIndexCatalog.put("items_saved_idx", tablePath, indexPath)
    Graft.saveCatalog(spark, catalog)
    // simulate the session ending: registrations are in-memory state
    AnnIndexRegistry.unregister(tablePath)
    VectorIndexCatalog.remove("items_saved_idx")
    assert(topK(5).queryExecution.executedPlan.toString.contains("embeddings.parquet"),
      "after unregister the rewrite must be gone")
    Graft.loadCatalog(spark, catalog)
    val plan = topK(5).queryExecution.executedPlan.toString
    assert(plan.contains("list_id"),
      s"loaded catalog must restore the rewrite:\n$plan")
    assert(VectorIndexCatalog.contains("items_saved_idx"),
      "DDL name must survive the round-trip")
    // a cataloged index whose data dir vanished is skipped, not registered
    val gone = graft.util.TempDirs.create("graft_gone").toString
    AnnIndexRegistry.unregister(tablePath)
    VectorIndexCatalog.remove("items_saved_idx")
    AnnIndexRegistry.register(tablePath, s"$gone/idx", nprobe = 4)
    Graft.saveCatalog(spark, catalog)
    AnnIndexRegistry.unregister(tablePath)
    Graft.loadCatalog(spark, catalog)
    assert(AnnIndexRegistry.lookupAll(Seq(tablePath)).isEmpty,
      "dangling index paths must not re-register")
  }

  test("a pre-kind catalog (5 columns) still loads as ivfflat registrations") {
    import spark.implicits._
    val catalog = graft.util.TempDirs
      .create("graft_catalog_legacy").resolve("cat.parquet").toString
    // the round-4 schema: no kind / fingerprint columns
    Seq(("items_legacy_idx", tablePath, indexPath, 4, "embedding"))
      .toDF("index_name", "table_path", "index_path", "nprobe", "vec_col")
      .coalesce(1).write.mode("overwrite").parquet(catalog)
    AnnIndexRegistry.unregister(tablePath)
    Graft.loadCatalog(spark, catalog)
    val restored = AnnIndexRegistry.lookupAll(Seq(tablePath))
    assert(restored.exists(e => e.indexPath == indexPath && e.kind == "ivfflat"),
      "legacy catalog rows must restore as ivfflat instead of failing the load")
    assert(VectorIndexCatalog.contains("items_legacy_idx"))
    AnnIndexRegistry.unregister(tablePath)
    VectorIndexCatalog.remove("items_legacy_idx")
  }

  test("hnsw-kind registrations survive the catalog round-trip and stay off the rewrite") {
    val catalog = graft.util.TempDirs
      .create("graft_catalog_hnsw").resolve("cat.parquet").toString
    // any existing directory works: loadCatalog only checks presence
    val graphDir = graft.util.TempDirs.create("graft_nsw_cat").toString
    AnnIndexRegistry.register(tablePath, graphDir, nprobe = 0,
      column = Some("embedding"), kind = "hnsw")
    Graft.saveCatalog(spark, catalog)
    AnnIndexRegistry.unregister(tablePath)
    assert(AnnIndexRegistry.hnswIndexFor(tablePath, Some("embedding")).isEmpty)
    Graft.loadCatalog(spark, catalog)
    assert(AnnIndexRegistry.hnswIndexFor(tablePath, Some("embedding")) === Some(graphDir),
      "hnsw registration (kind included) must survive the round-trip")
    // a graph index must never feed the transparent IVFFLAT rewrite, and
    // an unreadable graph dir (this one is empty) must leave the plan
    // exact rather than fail the query inside the optimizer
    val plan = topK(5).queryExecution.executedPlan.toString
    assert(plan.contains("embeddings.parquet") && !plan.contains("list_id"),
      s"restored hnsw entry must not swap the scan:\n$plan")
    AnnIndexRegistry.unregister(tablePath)
  }

  test("catalog persists bm25 + sparse registrations; fresh session serves without rebuild") {
    import graft.operators.{SimilarityQueries, TextAnalysis}
    val catalog = graft.util.TempDirs
      .create("graft_catalog_bs").resolve("cat.parquet").toString
    // build both sidecars live, then persist
    val bm25Path = TextAnalysis.bm25IndexFor(spark, Sf0001)
    val sparsePath = SimilarityQueries.sparseIndexFor(spark, Sf0001)
    Graft.saveCatalog(spark, catalog)
    // simulate a fresh session: the operator caches are in-memory state
    TextAnalysis.clearBm25Registrations()
    SimilarityQueries.clearSparseRegistrations()
    Graft.loadCatalog(spark, catalog)
    // same sidecar path back = served from the catalog, NOT rebuilt (a
    // rebuild would mint a new temp directory)
    assert(TextAnalysis.bm25IndexFor(spark, Sf0001) === bm25Path,
      "loadCatalog must re-wire the bm25 sidecar without a rebuild")
    assert(SimilarityQueries.sparseIndexFor(spark, Sf0001) === sparsePath,
      "loadCatalog must re-wire the sparse sidecar without a rebuild")
    // and the restored registration actually serves queries
    assert(TextAnalysis.bm25TopK(spark, Sf0001).count() > 0)
    assert(SimilarityQueries.sparseKnnIndexed(spark, Sf0001).count() === 10)

    // staleness survives the round-trip: a corpus whose mtime moved past
    // the cataloged fingerprint rebuilds on first use instead of serving
    // the stale sidecar
    val dir = graft.util.TempDirs.create("graft_stale_corpus")
    val docsCopy = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = docsCopy.getFileSystem(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$Sf0001/documents.parquet"),
      fs, docsCopy, false, spark.sessionState.newHadoopConf())
    val stalePath = TextAnalysis.bm25IndexFor(spark, dir.toString)
    Graft.saveCatalog(spark, catalog)
    TextAnalysis.clearBm25Registrations()
    fs.setTimes(docsCopy, System.currentTimeMillis() + 60000, -1)
    Graft.loadCatalog(spark, catalog)
    assert(TextAnalysis.bm25IndexFor(spark, dir.toString) !== stalePath,
      "a changed corpus fingerprint must rebuild, not serve the cataloged sidecar")
    TextAnalysis.clearBm25Registrations()
    SimilarityQueries.clearSparseRegistrations()
  }

  test("rebalance swap invalidates the probe memo: the next SQL kNN probes fresh lists") {
    import spark.implicits._
    // own table + index: rebalance mutates state, so the shared cached
    // fixtures must stay untouched
    val dir = graft.util.TempDirs.create("ann_rebal").toString
    val tbl = s"$dir/embeddings.parquet"
    val e = graft.Tables.embeddings(spark, Sf0001)
    e.filter(col("vec_id") < 100).write.parquet(tbl)
    val idx = s"$dir/index"
    graft.index.IvfIndex.build(spark.read.parquet(tbl), idx, lists = 8)
    // drifting ingest: a tight blob OPPOSITE every built centroid — frozen
    // append piles it into one hot list, the shape rebalance exists for
    val base = e.filter(col("vec_id") === 0)
      .head().getAs[collection.Seq[Float]]("embedding").toArray
    val rnd = new scala.util.Random(11)
    val blob = (0 until 200).map { i =>
      (1000L + i, base.map(x => -x + 0.05f * rnd.nextGaussian().toFloat).toSeq, 999)
    }.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    blob.write.mode("append").parquet(tbl)
    graft.index.IvfIndex.append(blob, idx)
    AnnIndexRegistry.register(tbl, idx, nprobe = 2)
    try {
      val qB = base.map(x => -x)
      def knn(k: Int) = spark.read.parquet(tbl)
        .orderBy(cosine_distance(col("embedding"), vector_lit(qB)), col("vec_id"))
        .limit(k)
      // warm the memo at the post-append fingerprint
      val entry = AnnIndexRegistry.Entry(idx, 2)
      val preLists = AnnIndexRegistry.probedLists(spark, entry, qB)
      assert(knn(5).count() === 5)
      assert(graft.index.IvfIndex.rebalance(spark, idx, skewThreshold = 1.0),
        "the piled-up blob must trigger the rebuild")
      // fresh expectation: rank the NEW generation's centroids directly
      val dist = graft.index.IvfIndex.metricDistance("cosine") _
      val fresh = spark.read.parquet(s"$idx/centroids")
        .select(col("list_id"), dist(col("centroid"), vector_lit(qB)).as("d"))
        .orderBy(col("d"), col("list_id")).limit(2)
        .collect().map(_.getInt(0)).toSeq
      // discriminating fixture: stale and fresh rankings must differ, or
      // this spec could not catch a served stale memo
      assert(preLists !== fresh,
        s"fixture must discriminate (stale $preLists vs fresh $fresh)")
      val postLists = AnnIndexRegistry.probedLists(spark, entry, qB)
      assert(postLists === fresh,
        "post-rebalance probe must rank the NEW centroids, not serve the memo")
      // e2e: the rewritten SQL kNN equals the unmemoized direct probe
      val direct = graft.index.IvfIndex.probe(spark, idx, qB, 5, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(knn(5).collect().map(_.getLong(0)).toSeq === direct)
    } finally AnnIndexRegistry.unregister(tbl)
  }

  test("in-place index rebuild invalidates the probe memo (mtime fingerprint)") {
    val dir = graft.util.TempDirs
      .create("graft_rebuild_idx").resolve("idx").toString
    val src = spark.read.parquet(s"$indexPath/centroids")
    src.coalesce(1).write.parquet(s"$dir/centroids")
    val entry = AnnIndexRegistry.Entry(dir, 2)
    val before = AnnIndexRegistry.probedLists(spark, entry, queryVec)
    // rebuild in place: same path, permuted list ids — nearest lists change
    val n = src.count()
    src.withColumn("list_id",
        ((col("list_id") + 1) % n.toInt).cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val after = AnnIndexRegistry.probedLists(spark, entry, queryVec)
    assert(after === before.map(l => (l + 1) % n.toInt),
      "rebuilt index must not be served stale memoized rankings")
  }

  test("a warm index generation plans a bare kNN with zero Spark jobs") {
    AnnIndexRegistry.register(tablePath, indexPath, nprobe = 4)
    // warm the handle (meta, centroids, lists schema) with one query
    assert(topK(10).collect().head.getLong(0) === 0L)
    // a query vector no plan has seen: nothing per-vector can be cached
    val fresh = queryVec.map(_ * 0.5f + 0.01f)
    val df = spark.read.parquet(tablePath)
      .orderBy(cosine_distance(col("embedding"), vector_lit(fresh)), col("vec_id"))
      .limit(10)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def drained(): Int = {
        org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
        jobs.get()
      }
      val before = drained()
      val plan = df.queryExecution.optimizedPlan
      assert(drained() === before, "planning a rewritten kNN must launch no Spark job")
      assert(plan.toString.contains("list_id"), s"expected the index scan:\n$plan")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(df.collect().length === 10)
  }

  test("past 32 list directories a warm kNN still plans with zero jobs; " +
       "rows equal the lists-root read") {
    import spark.implicits._
    import graft.index.IvfIndex
    // 40 lists, one bucket directory each — past Spark's 32-path threshold
    // for listing a directory tree with a job — written without KMeans
    val nLists = 40
    val rows = spark.range(4000).select(col("id").as("vec_id"),
      hashNoise(col("id"), 8).as("embedding"), (col("id") % nLists).cast("int").as("list_id"))
    val table = graft.util.TempDirs.create("graft_ann_40").resolve("table").toString
    rows.drop("list_id").write.parquet(table)
    val cents = rows.filter(col("vec_id") < nLists).orderBy("list_id")
      .select("list_id", "embedding").as[(Int, Array[Float])].collect().toSeq
    val idx = writeIvf("graft_ann_40_idx", rows, cents, "cosine")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/lists"))
      .count(_.isDirectory) === nLists)
    AnnIndexRegistry.register(table, idx, nprobe = 4)
    try {
      def knn(q: Array[Float]) = spark.read.parquet(table)
        .orderBy(cosine_distance(col("embedding"), vector_lit(q)), col("vec_id")).limit(10)
      knn(cents.head._2).collect() // warm: handle, lists schema and directories
      val fresh = cents(7)._2.map(_ * 0.5f + 0.01f)
      val df = knn(fresh)
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val plan = try {
        org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
        val before = jobs.get()
        val p = df.queryExecution.optimizedPlan
        org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
        assert(jobs.get() === before, "planning past 32 lists must launch no Spark job")
        p
      } finally spark.sparkContext.removeSparkListener(listener)
      val roots = plan.collectLeaves().flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              r.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        case _ => Nil
      }
      assert(roots.nonEmpty && roots.forall(_.contains(s"$idx/lists")),
        s"the plan must read the index's lists: $roots")
      // the same probed lists read from the lists root
      val h = IvfIndex.handle(spark, idx)
      val want = IvfIndex.pruneLists(spark.read.parquet(s"$idx/lists"),
          h.nearestLists(fresh, 4))
        .orderBy(cosine_distance(col("embedding"), vector_lit(fresh)), col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSeq
      assert(df.select("vec_id").as[Long].collect().toSeq === want)
    } finally AnnIndexRegistry.unregister(table)
  }

  test("driver list ranking equals Spark's orderBy(dist, list_id) over the sidecar") {
    import graft.functions.{inner_product, l2_distance}
    import graft.index.IvfIndex
    import spark.implicits._
    val dists = Map[String, (Column, Column) => Column](
      "cosine" -> cosine_distance, "l2" -> l2_distance,
      "ip" -> ((a, b) => -inner_product(a, b)))
    def sparkRanking(idx: String, metric: String, q: Array[Float], n: Int): Seq[Int] =
      spark.read.parquet(s"$idx/centroids")
        .select(col("list_id"), dists(metric)(col("centroid"), vector_lit(q)).as("d"))
        .orderBy(col("d"), col("list_id")).limit(n)
        .collect().map(_.getInt(0)).toSeq
    def check(idx: String, metric: String, qs: Seq[Array[Float]]): Unit =
      for (q <- qs; n <- Seq(1, 3, Int.MaxValue)) {
        val got = AnnIndexRegistry.probedLists(spark, AnnIndexRegistry.Entry(idx, n), q)
        assert(got === sparkRanking(idx, metric, q, n), s"$metric n=$n")
      }
    val qs = graft.Tables.embeddings(spark, Sf0001).filter(col("vec_id") < 8)
      .select("embedding").collect()
      .map(_.getAs[collection.Seq[Float]](0).toArray).toSeq
    val zero = new Array[Float](64)
    // the built fixture indexes, one per opclass
    for ((metric, idx) <- Seq("cosine" -> indexPath,
        "l2" -> IndexQueries.l2IndexFor(spark, Sf0001),
        "ip" -> IndexQueries.ipIndexFor(spark, Sf0001))) {
      assert(IvfIndex.metricOf(spark, idx) === metric)
      check(idx, metric, qs :+ zero)
    }
    // tied centroids, written out of list_id order: duplicates must break
    // to the lower list id, and a zero-norm query (all NaN under cosine,
    // all -0.0 under ip) must come back in list_id order
    val base = qs.head
    val other = qs(1)
    val tied = Seq(7 -> base, 2 -> other, 5 -> base, 0 -> zero, 3 -> other,
      1 -> base.map(_ * 2f), 6 -> base.map(x => -x), 4 -> base)
    for (metric <- dists.keys) {
      val idx = graft.util.TempDirs.create(s"graft_tied_$metric").resolve("idx").toString
      tied.map { case (l, c) => (l, c) }.toDF("list_id", "centroid")
        .coalesce(1).write.parquet(s"$idx/centroids")
      Seq((metric, "embedding")).toDF("metric", "vec_col")
        .coalesce(1).write.parquet(s"$idx/meta")
      check(idx, metric, Seq(base, other, base.map(_ * 3f), zero))
      if (metric == "cosine")
        assert(AnnIndexRegistry.probedLists(spark, AnnIndexRegistry.Entry(idx, 8), zero)
          === (0 until 8), "an all-NaN ranking is list_id order")
      val e = intercept[IllegalArgumentException](
        AnnIndexRegistry.probedLists(spark, AnnIndexRegistry.Entry(idx, 2), base.take(3)))
      assert(e.getMessage.contains("vector dimension mismatch"))
    }
  }
}
