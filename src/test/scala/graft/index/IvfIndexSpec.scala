package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{IndexQueries, ReferenceQueries}

class IvfIndexSpec extends SparkSpec {

  private lazy val indexPath = IndexQueries.indexFor(spark, Sf0001)

  private def queryVec: Array[Float] =
    graft.Tables.embeddings(spark, Sf0001).filter(col("vec_id") === 0)
      .head().getAs[collection.Seq[Float]]("embedding").toArray

  test("build partitions every vector into exactly one list") {
    val lists = spark.read.parquet(s"$indexPath/lists")
    assert(lists.count() === 500L)
    assert(lists.select("vec_id").distinct().count() === 500L)
    val used = lists.select("list_id").distinct().count()
    assert(used > 1 && used <= IndexQueries.Lists)
    val cents = spark.read.parquet(s"$indexPath/centroids")
    assert(cents.count() === IndexQueries.Lists.toLong)
  }

  test("probe with nprobe = lists equals exact brute-force top-k") {
    val exact = ReferenceQueries.knnTopK(spark, Sf0001, 10)
      .collect().map(_.getLong(0)).toSeq
    val probed = IvfIndex.probe(spark, indexPath, queryVec, 10, IndexQueries.Lists)
      .collect().map(_.getLong(0)).toSeq
    assert(probed === exact, "probing all lists must degrade to exact search")
  }

  test("probe recall@10 with nprobe=4/16 meets threshold; deterministic") {
    val exact = ReferenceQueries.knnTopK(spark, Sf0001, 10)
      .collect().map(_.getLong(0)).toSet
    val r1 = IvfIndex.probe(spark, indexPath, queryVec, 10, IndexQueries.NProbe)
      .collect().map(_.getLong(0)).toSeq
    val r2 = IvfIndex.probe(spark, indexPath, queryVec, 10, IndexQueries.NProbe)
      .collect().map(_.getLong(0)).toSeq
    assert(r1 === r2, "probe must be deterministic")
    // Random (unclustered) fixture vectors are IVF's worst case: true
    // neighbors scatter uniformly, so E[recall] ≈ nprobe/lists. Assert
    // that floor plus the monotone scaling law instead of a clustered-data
    // fantasy threshold.
    val recall4 = r1.toSet.intersect(exact).size / 10.0
    assert(recall4 >= IndexQueries.NProbe.toDouble / IndexQueries.Lists,
      s"recall@10 $recall4 below the nprobe/lists floor")
    val r8 = IvfIndex.probe(spark, indexPath, queryVec, 10, 8)
      .collect().map(_.getLong(0)).toSet
    val recall8 = r8.intersect(exact).size / 10.0
    assert(recall8 >= recall4, s"recall must not decrease with nprobe ($recall4 → $recall8)")
    assert(recall8 >= 0.45, s"recall@10 at nprobe=8/16 was $recall8")
    // the query vector itself is always in the probed cluster
    assert(r1.head === 0L)
  }

  test("halfvec ivf: two-stage probe-all deterministic and near-exact; approximate default holds the recall floor") {
    val exact = ReferenceQueries.knnTopK(spark, Sf0001, 10)
      .collect().map(_.getLong(0)).toSeq
    val all1 = IndexQueries.halfvecIvfKnnProbeAll(spark, Sf0001)
      .collect().map(_.getLong(0)).toSeq
    val all2 = IndexQueries.halfvecIvfKnnProbeAll(spark, Sf0001)
      .collect().map(_.getLong(0)).toSeq
    assert(all1 === all2, "two-stage probe-all must be deterministic")
    assert(all1.head === 0L, "the query vector is its own nearest neighbor")
    // RNE binary16 rounding perturbs cosine ranks only at boundary ties;
    // the 50-candidate half-distance pool absorbs those swaps, so the
    // float-reranked top-10 tracks exact float search nearly perfectly
    val recallAll = all1.toSet.intersect(exact.toSet).size / 10.0
    assert(recallAll >= 0.9, s"probe-all halfvec recall@10 was $recallAll")
    // approximate default: nprobe/lists floor, same law as the float index
    val approx = IndexQueries.halfvecIvfKnn(spark, Sf0001)
      .collect().map(_.getLong(0)).toSet
    val recall = approx.intersect(exact.toSet).size / 10.0
    assert(recall >= IndexQueries.NProbe.toDouble / IndexQueries.Lists,
      s"halfvec recall@10 $recall below the nprobe/lists floor")
  }

  test("probe plan prunes partitions (reads nprobe lists, not all)") {
    val df = IvfIndex.probe(spark, indexPath, queryVec, 10, 2)
    val scan = df.queryExecution.executedPlan.toString
    // partition filter on list_id must appear in the parquet scan
    assert(scan.contains("list_id"), s"expected list_id partition filter:\n$scan")
    assert(df.count() <= 10)
  }

  test("probeMany scan is partition-pruned to the probed lists") {
    val queries = graft.Tables.embeddings(spark, Sf0001)
      .filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
    val nprobe = 2
    val df = IvfIndex.probeMany(spark, indexPath, queries, "qid", "embedding",
      k = 5, nprobe = nprobe)
    df.collect() // finalize AQE so scans carry their real partition listings
    val listScan = fileScans(df.queryExecution.executedPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains("lists")))
      .getOrElse(fail(s"no lists scan in plan:\n${df.queryExecution.executedPlan}"))
    assert(listScan.partitionFilters.nonEmpty,
      s"probeMany must place an explicit partition filter on list_id:\n$listScan")
    // ≤ |queries|·nprobe distinct lists may be read — never the whole index
    val scanned = listScan.selectedPartitions.partitionCount
    assert(scanned <= 3 * nprobe,
      s"scanned $scanned partitions, expected ≤ ${3 * nprobe}")
    assert(scanned < IndexQueries.Lists,
      s"scan must not read all ${IndexQueries.Lists} lists")
  }

  test("l2 opclass: probe-all equals exact L2 top-k; pruned recall holds; metric persisted") {
    val l2Path = IndexQueries.l2IndexFor(spark, Sf0001)
    assert(IvfIndex.metricOf(spark, l2Path) === "l2")
    assert(IvfIndex.metricOf(spark, indexPath) === "cosine")
    val exact = ReferenceQueries.l2TopK(spark, Sf0001, 10)
      .collect().map(_.getLong(0)).toSeq
    val all = IvfIndex.probe(spark, l2Path, queryVec, 10, IndexQueries.Lists)
      .collect().map(_.getLong(0)).toSeq
    assert(all === exact, "probing all lists must degrade to exact L2 search")
    val pruned = IvfIndex.probe(spark, l2Path, queryVec, 10, IndexQueries.NProbe)
      .collect().map(_.getLong(0))
    assert(pruned.head === 0L, "self is the L2-nearest")
    // unclustered fixtures: same nprobe/lists floor + monotonicity the
    // cosine recall test uses
    val recall4 = pruned.toSet.intersect(exact.toSet).size / 10.0
    assert(recall4 >= IndexQueries.NProbe.toDouble / IndexQueries.Lists,
      s"L2 recall@10 $recall4 below the nprobe/lists floor")
    val recall8 = IvfIndex.probe(spark, l2Path, queryVec, 10, 8)
      .collect().map(_.getLong(0)).toSet.intersect(exact.toSet).size / 10.0
    assert(recall8 >= recall4, s"recall must not decrease with nprobe ($recall4 → $recall8)")
  }

  test("ip opclass: probe-all equals exact max-IP top-k; metric persisted") {
    val ipPath = IndexQueries.ipIndexFor(spark, Sf0001)
    assert(IvfIndex.metricOf(spark, ipPath) === "ip")
    val exact = ReferenceQueries.ipTopK(spark, Sf0001, 10)
      .collect().map(_.getLong(0)).toSeq
    val all = IvfIndex.probe(spark, ipPath, queryVec, 10, IndexQueries.Lists)
      .collect().map(_.getLong(0)).toSeq
    assert(all === exact, "probing all lists must degrade to exact max-IP search")
    // pruned probe: recall floor only (IP is not a metric; Euclidean lists
    // approximate the MIPS neighborhood — the Faiss-style trade)
    val pruned = IvfIndex.probe(spark, ipPath, queryVec, 10, IndexQueries.NProbe)
      .collect().map(_.getLong(0)).toSet
    val recall = pruned.intersect(exact.toSet).size / 10.0
    assert(recall >= IndexQueries.NProbe.toDouble / IndexQueries.Lists,
      s"IP recall@10 $recall below the nprobe/lists floor")
  }

  test("listsFor: fixture constant through 4k rows, then constant occupancy, capped") {
    import graft.operators.IndexQueries.{listsFor, Lists, TargetOccupancy}
    assert(listsFor(500L) === Lists)
    assert(listsFor(4000L) === Lists)
    // past the fixture sizes: n / occupancy — the linear-candidate-volume
    // property the co-probe scale paths lean on
    assert(listsFor(20000L) === (20000L / TargetOccupancy).toInt)
    assert(listsFor(1000000L) === (1000000L / TargetOccupancy).toInt)
    // the faiss-practice ceiling: occupancy grows again past the cap
    assert(listsFor(100L * 1000 * 1000) === 65536)
    // never below the fixture floor even just past the threshold
    assert(listsFor(4001L) >= Lists)
  }

  test("sampled training: same corpus → bit-identical centroids; probe-all stays exact") {
    // trainCap=64 with lists=8 → effective cap = max(64, 40·8) = 320 < 500
    // rows, so the id-hash training sample ENGAGES on this fixture; the
    // full corpus is still assigned (cardinality pinned below)
    val emb = graft.Tables.embeddings(spark, Sf0001)
    def buildOnce(): (String, Array[(Int, Seq[Float])]) = {
      val dir = graft.util.TempDirs.create("graft_ivf_sampled")
        .resolve("index").toString
      IvfIndex.build(emb, dir, lists = 8, trainCap = 64)
      val cents = spark.read.parquet(s"$dir/centroids")
        .select("list_id", "centroid").collect()
        .map(r => (r.getInt(0), r.getAs[collection.Seq[Float]](1).toSeq))
        .sortBy(_._1)
      (dir, cents)
    }
    val (d1, c1) = buildOnce()
    val (_, c2) = buildOnce()
    assert(c1.length === 8 && c1 === c2,
      "sampled KMeans must be deterministic: same corpus, same sample, same centroids")
    // every vector assigned exactly once — sampling bounds TRAINING only
    val lists = spark.read.parquet(s"$d1/lists")
    assert(lists.count() === 500L)
    assert(lists.select("vec_id").distinct().count() === 500L)
    // probe-all is exact for ANY centroid set, sampled-trained included
    val exact = ReferenceQueries.knnTopK(spark, Sf0001, 10)
      .collect().map(_.getLong(0)).toSeq
    val all = IvfIndex.probe(spark, d1, queryVec, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(all === exact, "probe-all over a sampled-trained index must stay exact")
    // one writer per list: the lists dataset is ≤ |lists| data files
    val conf = spark.sessionState.newHadoopConf()
    val nFiles = graft.util.FsOps.countParquetFiles(conf,
      new org.apache.hadoop.fs.Path(s"$d1/lists"))
    assert(nFiles <= 8, s"expected ≤ 8 list files (one per list), got $nFiles")
  }

  test("probeMany matches single-query probe per qid") {
    val queries = graft.Tables.embeddings(spark, Sf0001)
      .filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
    val batch = IvfIndex.probeMany(spark, indexPath, queries, "qid", "embedding",
        k = 5, nprobe = IndexQueries.NProbe)
      .collect().groupBy(_.getAs[Long]("qid"))
    (0L until 3L).foreach { qid =>
      val single = IvfIndex.probe(spark, indexPath,
          graft.Tables.embeddings(spark, Sf0001).filter(col("vec_id") === qid)
            .head().getAs[collection.Seq[Float]]("embedding").toArray,
          5, IndexQueries.NProbe)
        .collect().map(_.getLong(0)).toSeq
      val fromBatch = batch(qid).sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
      assert(fromBatch === single, s"qid $qid")
    }
  }

  test("searchMany ≡ probeMany on a full-corpus self-batch; guard rejects oversize") {
    // the whole corpus as the query frame — the shape searchMany exists
    // for (kNN self-join); at fixture scale probeMany can cross-check it
    val queries = graft.Tables.embeddings(spark, Sf0001)
      .select(col("vec_id").as("qid"), col("embedding"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val viaSearch = norm(IvfIndex.searchMany(spark, indexPath, queries,
      "qid", "embedding", k = 5, nprobe = IndexQueries.NProbe))
    val viaProbe = norm(IvfIndex.probeMany(spark, indexPath, queries,
      "qid", "embedding", k = 5, nprobe = IndexQueries.NProbe))
    assert(viaSearch.nonEmpty && viaSearch === viaProbe,
      "distributed and serving batch forms must return identical rows")
    // the serving form must refuse frames past the serving-batch bound
    // (real-dim vectors: the ranking stage runs before the guarded collect)
    val oversize = spark.range(IvfIndex.MaxServingBatch + 1L)
      .select(col("id").as("qid"),
        org.apache.spark.sql.functions.array(
          (0 until 64).map(_ => lit(1.0f)): _*).as("qv"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.probeMany(spark, indexPath, oversize, "qid", "qv", 5, 2).count()
    }
    assert(e.getMessage.contains("searchMany"))
  }

  test("bucketed layout past MaxListDirs: ≤ MaxListDirs dirs, probe reads only probed buckets") {
    // layout mechanics without a 1200-centroid KMeans: a synthetic
    // assignment frame straight through writeLists/pruneLists — the exact
    // code path build and every probe share
    val nLists = 1200
    val dir = graft.util.TempDirs
      .create("graft_bucketed").resolve("lists").toString
    val assigned = spark.range(12000).select(
      col("id").as("vec_id"),
      hashNoise(col("id"), 4).as("embedding"),
      (col("id") % nLists).cast("int").as("list_id"))
    IvfIndex.writeLists(assigned, dir, "overwrite")
    // ≤ MaxListDirs bucket directories regardless of the list count
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("bucket="))
    assert(dirs.length <= IvfIndex.MaxListDirs,
      s"${dirs.length} bucket dirs for $nLists lists")
    assert(dirs.length === IvfIndex.MaxListDirs, "1200 lists fill every bucket")
    // pruned read: rows identical to the plain list_id filter, and the
    // scan lists ONLY the probed lists' bucket directories
    val probed = Seq(3, 7, 515, 519, 1027) // buckets {3, 7, 515-512=3, ...}
    val expectBuckets = probed.map(_ % IvfIndex.MaxListDirs).distinct.toSet
    val lists = spark.read.parquet(dir)
    val pruned = IvfIndex.pruneLists(lists, probed)
    val got = pruned.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = assigned.filter(col("list_id").isin(probed: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === want, "pruned read must return exactly the probed lists' rows")
    pruned.collect()
    val scan = fileScans(pruned.queryExecution.executedPlan).headOption
      .getOrElse(fail("no file scan"))
    assert(scan.partitionFilters.nonEmpty, "bucket filter must be a partition filter")
    assert(scan.selectedPartitions.partitionCount === expectBuckets.size,
      s"scan must list exactly the ${expectBuckets.size} probed buckets")
  }

  test("an index keyed by a non-vec_id id column: probe and searchMany return it as vec_id") {
    import graft.functions.{cosine_distance, vector_lit}
    // offset ids, and no vec_id column anywhere: a probe that read a fixed
    // vec_id would fail to resolve instead of answering
    val rows = graft.Tables.embeddings(spark, Sf0001)
      .select((col("vec_id") + 1000L).as("id"), col("embedding"), col("label"))
    val idx = graft.util.TempDirs.create("graft_idcol").resolve("idx").toString
    IvfIndex.build(rows, idx, idCol = "id", lists = 4)
    assert(!spark.read.parquet(s"$idx/lists").columns.contains("vec_id"))
    assert(spark.read.parquet(s"$idx/meta").head().getAs[String]("id_col") === "id")
    def exact(q: Array[Float]): Seq[(Long, Double)] = rows
      .select(col("id"), cosine_distance(col("embedding"), vector_lit(q)).as("dist"))
      .orderBy(col("dist"), col("id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probe = IvfIndex.probe(spark, idx, queryVec, 10, nprobe = 4)
    assert(probe.columns.toSeq === Seq("vec_id", "dist"))
    assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === exact(queryVec), "probe-all must equal brute force over the id column")
    val queries = rows.filter(col("id") < 1006L)
      .select(col("id").as("qid"), col("embedding").as("qv"))
    val qvs = queries.collect()
      .map(r => r.getLong(0) -> r.getAs[collection.Seq[Float]](1).toArray).toMap
    val got = IvfIndex.searchMany(spark, idx, queries, "qid", "qv", 10, 4)
      .collect().groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
    assert(got.keySet === qvs.keySet)
    qvs.foreach { case (qid, qv) =>
      assert(got(qid) === exact(qv), s"searchMany probe-all for qid $qid")
    }
  }

  test("lists = 1 builds one list without KMeans; probe-all equals exact top-k") {
    import graft.functions.{cosine_distance, l2_distance, vector_lit}
    val e = graft.Tables.embeddings(spark, Sf0001)
    for ((metric, dist) <- Seq[(String, (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column)](
        "cosine" -> cosine_distance, "l2" -> l2_distance)) {
      val idx = graft.util.TempDirs.create(s"graft_one_list_$metric")
        .resolve("idx").toString
      assert(IvfIndex.build(e, idx, lists = 1, metric = metric) === ((500L, 1)))
      val cents = spark.read.parquet(s"$idx/centroids").collect()
      assert(cents.map(_.getInt(0)).toSeq === Seq(0))
      val c = cents.head.getAs[collection.Seq[Float]]("centroid").toArray
      // the one centroid is the training mean (unit-normalized for cosine)
      val vs = e.select("embedding").collect()
        .map(_.getAs[collection.Seq[Float]](0).map(_.toDouble).toArray)
      val pts = if (metric == "cosine") vs.map { v =>
          val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
        } else vs
      val mean = pts.transpose.map(_.sum / pts.length)
      val want = if (metric == "cosine") {
          val n = math.sqrt(mean.map(x => x * x).sum); mean.map(_ / n)
        } else mean
      assert(c.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-5 },
        s"$metric centroid must be the training mean")
      val exact = e
        .select(col("vec_id"), dist(col("embedding"), vector_lit(queryVec)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = IvfIndex.probe(spark, idx, queryVec, 10, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === exact, s"$metric lists = 1 probe must equal exact top-k")
    }
  }
}
