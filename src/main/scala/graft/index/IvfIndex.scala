package graft.index

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.Normalizer
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.Column

import graft.functions.{cosine_distance, l2_distance, neg_inner_product}
import graft.util.Timing.timeIt

/** IVFFLAT-analog batch vector index (the reference's
  * `CREATE INDEX ... USING ivfflat (embedding vector_cosine_ops) WITH
  * (lists = 100)` — /root/reference/README.md:185,
  * demo/aws_rds_similarity_search_demo.py:135-139), built as a Spark batch
  * job per the BASELINE.json north star ("batch index creation fits Spark").
  *
  * Like ivfflat, the whole index is keyed to ONE opclass metric:
  * `vector_cosine_ops` (L2-normalize, cosine KMeans — cosine ≡ Euclidean
  * on the unit sphere), `vector_l2_ops` (raw-space Euclidean KMeans), or
  * `vector_ip_ops` (Euclidean lists, −IP ranking — the Faiss MIPS-IVF
  * layout). The metric persists in a `meta` sidecar and every read path
  * (probe/probeMany/append, the transparent rewrite's centroid ranking)
  * resolves it from there — a mixed scheme mis-assigns boundary vectors
  * and silently costs recall.
  *
  * Build: features per the metric → KMeans (k = lists, FIXED seed for
  * reproducible verify runs, SURVEY.md §7.2; trained on a bounded
  * deterministic id-hash sample past [[DefaultTrainCap]] — faiss
  * practice, so training stays O(cap·lists) at any corpus size) → assign
  * EVERY vector its nearest-centroid `list_id` (map-side model.transform
  * over the full corpus) → write the index dataset **Hive-partitioned into
  * ≤ [[MaxListDirs]] list-bucket directories, rows sorted by list_id** +
  * a tiny centroid sidecar. The PROBE-side
  * assignment already escalates to a hierarchical coarse quantizer past
  * [[HierarchicalAssignLists]] lists ([[assignProbesHierarchical]]);
  * build's own top-1 transform pass stays flat n·lists (KMeansModel's
  * norm-pruned predict — measured 51× at 100× data, not the wall the
  * probe side was) and is the next candidate for the same escalation if
  * list counts pass ~10⁵.
  *
  * Probe: rank centroids by the opclass distance to the query → read ONLY
  * the `nprobe` nearest lists' bucket directories (directory-level
  * partition pruning + row-group skipping on the sorted list_id column —
  * at 100 TB a probe touches ~nprobe/lists of the data) → exact top-k in
  * the same metric within them. `nprobe = lists` degrades to exact search
  * (tested per metric).
  */
object IvfIndex {

  val DefaultLists = 100 // pgvector demo default (README.md:185)
  val Seed = 42L

  /** Rows the KMeans TRAINING stage is capped to (the faiss practice:
    * centroids train on a bounded subsample, the full corpus is only
    * ASSIGNED — one map-side nearest-centroid pass). Training on the full
    * corpus is ~n·lists work per iteration, which with corpus-proportional
    * list counts goes quadratic; a bounded sample makes the train stage
    * O(cap·lists) regardless of corpus size while assignment stays the
    * linear n·lists map pass. The effective cap is
    * max(this, [[TrainRowsPerList]]·lists) so each centroid keeps enough
    * training points (faiss warns below ~39/centroid). */
  val DefaultTrainCap = 8192

  /** Minimum expected training rows per centroid when sampling engages. */
  val TrainRowsPerList = 40

  /** List count past which KMeans init switches from `k-means||` to
    * seeded `random` — the faiss practice for coarse quantizers: the
    * parallel init's candidate-selection passes cost a multiple of a
    * Lloyd iteration and buy placement quality that a corpus-proportional
    * list count doesn't need (the scale bench measures recall directly).
    * Below the threshold (every oracle fixture) init is untouched, so
    * fixture index layouts stay bit-identical. */
  val RandomInitLists = 256
  private def initModeFor(lists: Int): String =
    if (lists >= RandomInitLists) "random" else "k-means||"

  /** Absolute ceiling on the training sample: the per-centroid minimum
    * grows the cap with the list count, and at constant occupancy that
    * would make training Θ(n) rows again (cost quadratic in lists) —
    * past this ceiling, centroids train on fewer than [[TrainRowsPerList]]
    * points each (the faiss behavior: a quality warning, not an error),
    * which is the regime where the hierarchical coarse quantizer
    * documented on [[build]] is the real escalation anyway. */
  val MaxTrainCap = 262144

  /** Supported opclass metrics (pgvector: vector_cosine_ops /
    * vector_l2_ops / vector_ip_ops). The whole index is keyed to ONE
    * metric, like ivfflat. */
  val Metrics = Set("cosine", "l2", "ip")

  /** Directory-count ceiling for the lists dataset. One Hive directory per
    * list was file-METADATA-bound at scale (measured: ivf_build 49.5× at
    * 100× data, the tail all directory creation/listing at 3,125 lists —
    * and thousands of tiny directories is an object-store anti-pattern:
    * S3 LIST costs per probe). Lists land in `bucket = pmod(list_id,
    * MaxListDirs)` directories instead (the Bm25Index postings recipe),
    * with `list_id` kept as a DATA column sorted within each bucket file,
    * so a probe prunes to ≤ nprobe bucket directories and parquet
    * row-group stats skip non-probed lists inside them. pmod keeps the
    * bucket derivable from list_id ALONE (no list-count lookup at read
    * time), and below MaxListDirs lists `pmod(list_id, MaxListDirs) =
    * list_id` — fixture-scale layouts keep one directory per list. */
  val MaxListDirs = 512

  private[graft] def bucketOf(listId: Column): Column =
    pmod(listId, lit(MaxListDirs)).cast("int")

  /** Write `assigned` (…, list_id) as the bucketed lists dataset: one
    * writer task per bucket (repartition on the partition key — without
    * it, partitionBy splits every upstream partition by every bucket it
    * holds and the dataset lands as up to |partitions|·|buckets| small
    * files), rows sorted by list_id within each file so row-group min/max
    * stats prune non-probed lists on read. Oversized buckets split via
    * spark.sql.files.maxRecordsPerFile when configured. */
  private[graft] def writeLists(assigned: DataFrame, listsPath: String,
                                mode: String): Unit =
    assigned.withColumn("bucket", bucketOf(col("list_id")))
      .repartition(col("bucket"))
      .sortWithinPartitions("list_id")
      .write.mode(mode).partitionBy("bucket").parquet(listsPath)

  /** The lists dataset pruned to `listIds`: bucket-directory pruning plus
    * the list_id row filter (row-group skipping within a bucket). Adapts
    * to the legacy one-directory-per-list layout (no bucket column),
    * where the list_id filter itself is the directory pruner. */
  private[graft] def pruneLists(lists: DataFrame, listIds: Seq[Int]): DataFrame = {
    val base = lists.filter(col("list_id").isin(listIds: _*))
    if (lists.columns.contains("bucket"))
      base.filter(col("bucket").isin(
        listIds.map(i => math.floorMod(i, MaxListDirs)).distinct: _*))
    else base
  }

  /** An immutable, driver-resident copy of ONE index generation's
    * metadata — the analog of pgvector's planner reading the ivfflat
    * centroids inside the server: ranking the lists for a query costs a
    * `lists × dim` scalar pass on the driver, never a Spark job.
    *
    * A generation is keyed by [[fingerprint]], the modification time of
    * the `centroids/` directory (every build, append, rebalance and
    * in-place rewrite recreates it). Holds the `meta` sidecar (metric,
    * vector column, id column — one read), the centroids as list ids plus
    * a float matrix, and the per-list covering radii (NaN when the
    * sidecar predates them). Resident bytes ≈ `lists × dim × 4`.
    *
    * The lists dataset's schema (the `bucket` partition column included)
    * loads separately, on first use, so a centroids-only index directory
    * still ranks. Reading the lists through [[lists]] skips Spark's
    * parquet schema inference (a Spark job per `spark.read.parquet`);
    * the files themselves are still listed on every read, so appended
    * list files stay visible. */
  final class IvfHandle private[IvfIndex] (
      val indexPath: String,
      val fingerprint: Long,
      val metric: String,
      val vecCol: Option[String],
      val idCol: Option[String],
      val listIds: Array[Int],
      val centroids: Array[Array[Float]],
      val radii: Array[Double]) {

    /** The vector column probes score: the recorded one, else `embedding`
      * (metas written before column tracking). */
    def vecColumn: String = vecCol.getOrElse("embedding")

    /** The id column probes return as `vec_id`: the recorded one, else
      * `vec_id` (metas written before id tracking). */
    def idColumn: String = idCol.getOrElse("vec_id")

    @volatile private var schemaMemo: StructType = _

    /** The lists dataset's schema, inferred once per generation. A racing
      * duplicate inference is benign (same value). */
    def listsSchema(spark: SparkSession): StructType = {
      var s = schemaMemo
      if (s == null) {
        s = spark.read.parquet(s"$indexPath/lists").schema
        schemaMemo = s
      }
      s
    }

    /** The lists dataset, read without schema inference. */
    def lists(spark: SparkSession): DataFrame =
      spark.read.schema(listsSchema(spark)).parquet(s"$indexPath/lists")

    /** The `n` lists nearest `q` in the index metric, best first — the
      * driver twin of `centroids.orderBy(dist(centroid, q), list_id)
      * .limit(n)`: [[metricScore]] is the Catalyst expressions' arithmetic
      * and the order is Spark's double ordering (NaN last, −0.0 = 0.0),
      * ties to the lower list id, so both pick the same lists bit for bit.
      * Throws the expressions' dimension-mismatch error. */
    def nearestLists(q: Array[Float], n: Int): Seq[Int] = {
      val d = new Array[Double](centroids.length)
      var i = 0
      while (i < d.length) {
        val c = centroids(i)
        if (c.length != q.length) throw new IllegalArgumentException(
          s"vector dimension mismatch: ${c.length} vs ${q.length}")
        d(i) = metricScore(metric, c, q)
        i += 1
      }
      Array.range(0, d.length).sortWith { (a, b) =>
        val c = SQLOrderingUtil.compareDoubles(d(a), d(b))
        if (c != 0) c < 0 else listIds(a) < listIds(b)
      }.iterator.take(math.max(0, n)).map(listIds(_)).toSeq
    }
  }

  // one slot per index path, replaced when the generation changes
  private val handles = new ConcurrentHashMap[String, IvfHandle]()

  private def centroidsMtime(spark: SparkSession, indexPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/centroids")
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(p).getModificationTime
  }

  /** The current generation's [[IvfHandle]] for `indexPath`: one FS
    * metadata call when the cached generation is current, else a one-time
    * load (meta + centroids) that replaces the slot. No lock is held while
    * loading; concurrent first loads of one generation are benign
    * duplicates. */
  def handle(spark: SparkSession, indexPath: String): IvfHandle = {
    val key = indexPath.stripSuffix("/")
    // fingerprint BEFORE the load: a rewrite racing the load leaves a
    // handle tagged older than its data, which the next call reloads
    val fp = centroidsMtime(spark, key)
    val cur = handles.get(key)
    if (cur != null && cur.fingerprint == fp) cur
    else {
      val h = loadHandle(spark, key, fp)
      handles.put(key, h)
      h
    }
  }

  /** Drop the cached handle of `indexPath` (DROP INDEX); the next use
    * reloads it. */
  def releaseHandle(indexPath: String): Unit =
    handles.remove(indexPath.stripSuffix("/"))

  private def loadHandle(spark: SparkSession, indexPath: String,
                         fp: Long): IvfHandle = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
    val meta =
      if (metaPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(metaPath))
        Some(spark.read.parquet(metaPath.toString).head())
      else None
    def recorded(name: String): Option[String] =
      meta.filter(_.schema.fieldNames.contains(name)).map(_.getAs[String](name))
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val radius =
      if (cents.columns.contains("radius")) col("radius")
      else lit(Double.NaN)
    val rows = cents.select(col("list_id"), col("centroid"), radius).collect()
    new IvfHandle(indexPath, fp,
      // metric stays field 0: pre-column metas hold nothing else
      metric = meta.map(_.getString(0)).getOrElse("cosine"),
      vecCol = recorded("vec_col"),
      idCol = recorded("id_col"),
      listIds = rows.map(_.getInt(0)),
      centroids = rows.map(_.getAs[collection.Seq[Float]](1).toArray),
      radii = rows.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
  }

  /** The metric an index at `indexPath` was built with ("cosine" for
    * pre-metric indexes without a meta sidecar). */
  def metricOf(spark: SparkSession, indexPath: String): String =
    handle(spark, indexPath).metric

  /** Opclass distance of two float vectors (ip = NEGATIVE inner product,
    * ascending = best, like [[metricDistance]]) — the one scalar ranking
    * authority for driver and UDF rankings. Mirrors the Catalyst
    * expressions (VectorExpressions.scala) operation for operation: each
    * element widened to double, one sequential accumulation, the same
    * final expression — so a scalar ranking selects bit-identically to
    * the same ranking run as a Spark sort. Callers check dimensions. */
  private[graft] def metricScore(metric: String, c: Array[Float],
                                 q: Array[Float]): Double = {
    val n = q.length
    metric match {
      case "cosine" =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = c(i).toDouble; val y = q(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      case "l2" =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val d = c(i).toDouble - q(i).toDouble; acc += d * d; i += 1
        }
        math.sqrt(acc)
      case _ => // ip
        var dot = 0.0; var i = 0
        while (i < n) { dot += c(i).toDouble * q(i).toDouble; i += 1 }
        -dot
    }
  }

  /** The index's ASCENDING-sortable distance column for its opclass
    * metric (`ip` is pgvector's `<#>`: NEGATIVE inner product, so
    * ascending order is max-IP search). */
  def metricDistance(metric: String)(a: Column, b: Column): Column = metric match {
    case "cosine" => cosine_distance(a, b)
    case "l2" => l2_distance(a, b)
    case "ip" => neg_inner_product(a, b)
    case other => throw new IllegalArgumentException(
      s"unsupported ivf metric: $other (${Metrics.mkString("|")})")
  }

  /** Build the index dataset at `indexPath`. The lists dataset keeps ALL
    * source columns (so an index scan can substitute for a table scan in
    * the transparent ANN rewrite) plus `list_id`. Returns (rows, lists).
    *
    * ONE metric end to end: KMeans runs with `distanceMeasure=cosine`, so
    * build-time assignment ranks lists exactly like append/probe do
    * (cosine against the centroid — scale-invariant, so the L2-NORMALIZED
    * centroids written to the sidecar rank identically). A mixed scheme
    * (Euclidean assignment at build, cosine at probe) mis-assigns boundary
    * vectors and silently costs recall — pgvector's ivfflat keys the whole
    * index to one opclass metric for the same reason. */
  def build(embeddings: DataFrame, indexPath: String,
            idCol: String = "vec_id", vecCol: String = "embedding",
            lists: Int = DefaultLists, metric: String = "cosine",
            trainCap: Int = DefaultTrainCap): (Long, Int) =
    timeIt("ivf_build") {
    require(Metrics.contains(metric), s"unsupported ivf metric: $metric")
    // fail here with the user's words, not deep inside KMeans with k=0
    require(lists >= 1, s"ivfflat lists must be >= 1, got $lists")
    val spark = embeddings.sparkSession
    val srcCols = embeddings.columns.toSeq
    // bounded DETERMINISTIC training sample (id-hash filter, no RNG — the
    // same corpus always trains the same centroids): past the effective
    // cap, KMeans fits on ~cap rows and the full corpus is only ASSIGNED
    // (model.transform — one map-side nearest-centroid pass). This is
    // what keeps build linear in n when list counts scale with the
    // corpus; training on everything would be n·lists per iteration.
    // Engagement is decided with a LIMIT-bounded count (the
    // requireServingBatch trick) — the exact corpus count is only needed
    // for the keep fraction once sampling actually engages, so
    // fixture-sized builds never pay a full input scan for it.
    val effCap = math.min(MaxTrainCap.toLong,
      math.max(trainCap.toLong, TrainRowsPerList.toLong * lists))
    val capInt = math.min(effCap, Int.MaxValue.toLong - 1).toInt
    val engaged = embeddings.limit(capInt + 1).count() > capInt
    def sampled(df: DataFrame): DataFrame =
      if (!engaged) df
      else {
        val n = embeddings.count()
        val keep = math.max(1L, math.ceil(effCap.toDouble / n * 1000000.0).toLong)
        df.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < keep)
      }
    // centers + nearest-center `list_id` of every row of `feats`
    def cluster(feats: DataFrame, featCol: String,
                measure: String): (Array[MlVector], DataFrame) =
      if (lists == 1) {
        // pgvector accepts lists = 1, Spark's KMeans needs k >= 2: the one
        // list's centroid is the training mean (KMeans' own center update)
        val mean = sampled(feats).select(Summarizer.mean(col(featCol)))
          .head().getAs[MlVector](0)
        (Array(mean), feats.withColumn("list_id", lit(0)))
      } else {
        val model = new KMeans()
          .setK(lists).setSeed(Seed).setDistanceMeasure(measure)
          .setInitMode(initModeFor(lists))
          .setFeaturesCol(featCol).setPredictionCol("list_id")
          .fit(sampled(feats))
        (model.clusterCenters, model.transform(feats))
      }
    val assigned = if (metric == "cosine") {
      // cosine is undefined for zero-norm vectors (Spark's cosine KMeans
      // asserts on them): route them to list 0 unconditionally — cosine
      // distance to anything is NaN, so NO list is more correct and probes
      // rank them last either way; everything else flows through KMeans
      val normSq = graft.functions.inner_product(col(vecCol), col(vecCol))
      val withNorm = embeddings.withColumn("_nsq", normSq)
      val zeros = withNorm.filter(col("_nsq") === 0.0)
        .select(srcCols.map(col): _*).withColumn("list_id", lit(0))
      val feats = withNorm.filter(col("_nsq") > 0.0)
        .withColumn("fv", array_to_vector(col(vecCol).cast("array<double>")))
      val normed = new Normalizer().setInputCol("fv").setOutputCol("nfv").setP(2.0)
        .transform(feats)
      val (centers, clustered) = cluster(normed, "nfv", "cosine")
      writeCentroids(spark, indexPath, centers, normalize = true)
      clustered
        .select((srcCols :+ "list_id").map(col): _*)
        .unionByName(zeros)
    } else {
      // l2 / ip opclasses: raw-space Euclidean KMeans, centroids stay
      // unnormalized (normalizing would change the geometry); zero vectors
      // are ordinary points — no special-casing. For ip this is the
      // standard MIPS-IVF layout (Faiss: L2 coarse quantizer, IP ranking) —
      // inner product is not a metric, so lists cluster under Euclidean
      // geometry and only the RANKING uses the operator
      val feats = embeddings
        .withColumn("fv", array_to_vector(col(vecCol).cast("array<double>")))
      val (centers, clustered) = cluster(feats, "fv", "euclidean")
      writeCentroids(spark, indexPath, centers, normalize = false)
      clustered
        .select((srcCols :+ "list_id").map(col): _*)
    }
    writeLists(assigned, s"$indexPath/lists", "overwrite")
    import spark.implicits._
    // metric stays field 0 (the handle reads it by position for legacy
    // metas); vec_col lets the rewrite match a sort to the column the
    // index was BUILT on — with several indexes on one table, a None-column
    // registry entry would otherwise match any vector column and prune
    // with the wrong geometry; id_col is what probes return as vec_id
    Seq((metric, vecCol, idCol)).toDF("metric", "vec_col", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
    // per-list covering radii into the centroids sidecar — one extra scan at
    // build time (KMeans already did several) buys the filtered/iterative
    // probe its exact-termination bound ([[filteredKnn]])
    writeRadii(spark, indexPath, metric, vecCol)
    // metadata-only count of what was just written — NOT assigned.count(),
    // which would re-run normalization + KMeans assignment over the corpus
    (spark.read.parquet(s"$indexPath/lists").count(), lists)
  }

  /** Covering-radius expression for `metric`'s bound geometry: ANGLE to the
    * centroid for cosine (angular distance is a metric on the sphere —
    * cosine distance itself violates the triangle inequality), raw L2 for
    * l2/ip (ip lists cluster under Euclidean geometry; no IP bound exists,
    * [[filteredKnn]] degrades to full expansion for ip). Cosine is clamped
    * into [-1,1] before acos — float noise past ±1 yields NaN, which as a
    * radius would silently disable the bound for the whole list. */
  private def radiusExpr(metric: String)(v: Column, c: Column): Column = metric match {
    case "cosine" => acos(least(greatest(
      graft.functions.cosine_similarity(v, c), lit(-1.0)), lit(1.0)))
    case _ => graft.functions.l2_distance(v, c)
  }

  /** Rewrite the centroids sidecar with a `radius` column = max covering
    * radius of each list's members (0.0 for empty lists). Driver-side merge
    * is |lists| rows — index METADATA, same budget as centroid ranking. */
  private def writeRadii(spark: SparkSession, indexPath: String, metric: String,
                         vecCol: String): Unit = {
    val cents = spark.read.parquet(s"$indexPath/centroids")
      .select("list_id", "centroid").collect()
      .map(r => r.getInt(0) -> r.getAs[collection.Seq[Float]](1).toArray)
    val centsDf = spark.createDataFrame(
      cents.map { case (i, c) => (i, c) }.toIndexedSeq).toDF("list_id", "centroid")
    val radii = spark.read.parquet(s"$indexPath/lists")
      .join(broadcast(centsDf), "list_id")
      .groupBy("list_id")
      .agg(max(radiusExpr(metric)(col(vecCol), col("centroid"))).as("radius"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    spark.createDataFrame(cents.map { case (i, c) =>
        (i, c, radii.getOrElse(i, 0.0))
      }.toIndexedSeq).toDF("list_id", "centroid", "radius")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  private def writeCentroids(spark: SparkSession, indexPath: String,
                             centers: Array[org.apache.spark.ml.linalg.Vector],
                             normalize: Boolean): Unit = {
    val centroids = centers.zipWithIndex.map { case (c, i) =>
      val arr = c.toArray
      val norm = math.sqrt(arr.map(x => x * x).sum)
      // a zero centroid can only arise from a degenerate/empty cluster —
      // keep it zero rather than writing NaNs into the sidecar
      (i, if (!normalize || norm == 0.0) arr.map(_.toFloat)
          else arr.map(x => (x / norm).toFloat))
    }
    spark.createDataFrame(centroids.toIndexedSeq).toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** Incremental maintenance — the batch analog of pgvector's ivfflat
    * index update on INSERT (SURVEY.md §4.2): assign NEW vectors to the
    * EXISTING centroids (no re-clustering — exactly ivfflat's behavior,
    * which never moves centroids after build) and append them to their
    * list partitions. Periodic full rebuilds re-balance, as in Postgres.
    * Returns the number of vectors appended. */
  def append(newRows: DataFrame, indexPath: String,
             idCol: String = "vec_id", vecCol: String = "embedding"): Long =
    timeIt("ivf_append") {
      val spark = newRows.sparkSession
      // metric and centroid sidecar from the generation's handle — under
      // streaming maintenance this runs per micro-batch, where redundant
      // meta/sidecar jobs add up
      val h = handle(spark, indexPath)
      val metric = h.metric
      val dist = metricDistance(metric) _
      // a legacy sidecar has NO radii for the EXISTING members — that is
      // UNKNOWN (NaN, which filteredKnn degrades to a −∞ bound), never
      // 0.0: writing 0.0 here would let the termination bound "prove"
      // pre-existing far-from-centroid members can't win and silently
      // drop true neighbors from an API documented as exact
      val centRows = h.listIds.indices
        .map(i => (h.listIds(i), h.centroids(i), h.radii(i)))
      val cents = spark.createDataFrame(
        centRows.map { case (l, c, _) => (l, c) }.toIndexedSeq)
        .toDF("list_id", "centroid")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("cdist"), col("list_id"))
      val srcCols = newRows.columns.toSeq
      val assigned = newRows
        .crossJoin(broadcast(cents))
        .withColumn("cdist", dist(col(vecCol), col("centroid")))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
        .select((srcCols :+ "list_id").map(col): _*)
        .persist() // single execution across write + count
      try {
        // match the EXISTING layout (one schema read): a bucketed index
        // appends into bucket directories, a legacy per-list index keeps
        // its per-list layout — mixing the two would strand rows outside
        // the probe paths' pruning filters
        if (h.listsSchema(spark).fieldNames.contains("bucket"))
          writeLists(assigned, s"$indexPath/lists", "append")
        else
          assigned.write.mode("append").partitionBy("list_id")
            .parquet(s"$indexPath/lists")
        // a new member can only GROW its list's covering radius: merge the
        // appended rows' max radius per list into the sidecar so the
        // filtered probe's termination bound stays sound after appends
        val newRad = assigned.join(broadcast(cents), "list_id")
          .groupBy("list_id")
          .agg(max(radiusExpr(metric)(col(vecCol), col("centroid"))).as("radius"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val merged = centRows.map { case (lid, c, r0) =>
          (lid, c, math.max(r0, newRad.getOrElse(lid, 0.0)))
        }
        // stash→publish→delete swap, never overwrite-in-place: under
        // startIvfMaintenance this runs per micro-batch, and a concurrent
        // probe/filteredKnn reading a half-written sidecar would see an
        // empty centroid set and return an empty "exact" result
        graft.util.FsOps.swapDir(
          spark.sessionState.newHadoopConf(),
          new org.apache.hadoop.fs.Path(s"$indexPath/centroids")) {
          (_, staging) =>
            spark.createDataFrame(merged.toIndexedSeq)
              .toDF("list_id", "centroid", "radius")
              .coalesce(1).write.parquet(staging)
        }
        assigned.count()
      } finally assigned.unpersist()
    }

  /** Small-file maintenance for the lists dataset — the index-side
    * companion of `DocumentStore.compact`: every streamed micro-batch
    * append ([[graft.streaming.StreamingIngest.startIvfMaintenance]]) adds
    * a file per touched list partition, and at high append rates a probe
    * ends up opening hundreds of tiny files per list. Rewrites the lists
    * coalesced per partition into a staging dir and atomically swaps
    * (stash → publish → delete, rolling back on failure). Sidecars
    * (centroids/radii/meta) are untouched — compaction moves rows, never
    * changes assignment or geometry. Returns (files before, files after).
    * Single-maintenance-writer contract — see [[rebalance]]. */
  def compact(spark: SparkSession, indexPath: String): (Int, Int) =
    timeIt("ivf_compact") {
      import graft.util.FsOps
      val conf = spark.sessionState.newHadoopConf()
      val lists = new org.apache.hadoop.fs.Path(s"$indexPath/lists")
      val nBefore = FsOps.countParquetFiles(conf, lists)
      // one output file per bucket directory: buckets are sized by the
      // build's KMeans fanout, well under one executor's file target
      FsOps.swapDir(conf, lists) { (live, staging) =>
        val rows = spark.read.parquet(live)
        if (rows.columns.contains("bucket"))
          writeLists(rows.drop("bucket"), staging, "overwrite")
        else // legacy per-list layout: preserve it (probe pruning adapts)
          rows.repartition(col("list_id"))
            .write.partitionBy("list_id").parquet(staging)
      }
      (nBefore, FsOps.countParquetFiles(conf, lists))
    }

  /** List-occupancy skew stat — the health check streaming ingest needs:
    * [[append]] assigns to FROZEN centroids (ivfflat semantics), so a
    * drifting input distribution grows a few hot lists monotonically and
    * probe pruning degrades toward a full scan. One row:
    * `(n_lists, n_rows, max_list, min_list, skew)` where `skew` =
    * max list size / mean list size (1.0 = perfectly balanced). One
    * metadata-cheap count agg over the lists dataset. */
  def listSkew(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(s"$indexPath/lists")
      .groupBy("list_id").agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).cast("int").as("n_lists"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_list"),
        min(col("n")).as("min_list"),
        (max(col("n")).cast("double") / avg(col("n"))).as("skew"))

  /** Skew-triggered re-clustering — the rebuild pgvector leaves to a manual
    * `REINDEX`: when [[listSkew]]'s ratio exceeds `skewThreshold`, re-run
    * the full [[build]] (fresh KMeans over every stored row, same metric /
    * list count / indexed column) into a staging directory and atomically
    * swap the WHOLE index (lists + centroids + radii + meta) via
    * [[graft.util.FsOps.swapDir]] — concurrent probes read either the old
    * generation or the new one, never a mix of frozen-stale centroids and
    * re-assigned lists. Below the threshold it is a no-op (appends stay
    * cheap; rebuilds amortize). Returns whether a rebuild ran.
    *
    * WRITER contract (same as [[compact]]): maintenance assumes ONE
    * maintenance writer — the shape streaming ingest provides (serial
    * foreachBatch micro-batches interleave append/compact/rebalance, never
    * overlap them). An append racing the rebuild would land in the old
    * generation after the lists snapshot was taken and be dropped by the
    * swap — the analog of rows inserted during a Postgres REINDEX without
    * its lock. Readers stay safe throughout (swap atomicity).
    *
    * Scale shape: the trigger is one count-agg job over index metadata-
    * sized groups; the rebuild itself is exactly one [[build]] — KMeans
    * over the corpus, the same cost the index cost initially, run only
    * when the skew stat says pruning is degrading. */
  def rebalance(spark: SparkSession, indexPath: String,
                idCol: String = "vec_id", vecCol: String = "embedding",
                skewThreshold: Double = 2.0): Boolean =
    timeIt("ivf_rebalance") {
      val skew = listSkew(spark, indexPath).head.getAs[Double]("skew")
      if (skew <= skewThreshold) false
      else {
        val h = handle(spark, indexPath)
        // rebuild on the columns the index was BUILT on (meta), not the
        // caller's defaults — a mismatch would re-cluster the wrong geometry
        graft.util.FsOps.swapDir(
          spark.sessionState.newHadoopConf(),
          new org.apache.hadoop.fs.Path(indexPath)) { (live, staging) =>
          val rows = spark.read.parquet(s"$live/lists").drop("list_id", "bucket")
          build(rows, staging, h.idCol.getOrElse(idCol), h.vecCol.getOrElse(vecCol),
            h.listIds.length, h.metric)
        }
        true
      }
    }

  /** Top-k probe of `nprobe` lists for one query vector, in the index's
    * opclass metric: `(vec_id, dist)`, `vec_id` holding the index's id
    * column. The lists are ranked on the driver from the handle. */
  def probe(spark: SparkSession, indexPath: String, query: Array[Float],
            k: Int, nprobe: Int): DataFrame = {
    val h = handle(spark, indexPath)
    val dist = metricDistance(h.metric) _
    pruneLists(h.lists(spark), h.nearestLists(query, nprobe))
      .select(col(h.idColumn).as("vec_id"),
        dist(col(h.vecColumn), typedLit(query)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Serving batches [[probeMany]] accepts before failing over to
    * [[searchMany]] (the probe-pair collect is per-query driver state —
    * right for serving micro-batches, a hazard for corpus-sized frames:
    * the knn_graph_ivf lesson). */
  val MaxServingBatch = 65536

  /** Throw with `guidance` if `queries` has more than [[MaxServingBatch]]
    * rows — checked with a limit-bounded count BEFORE any driver-side
    * collect materializes (a post-collect check would OOM before it ran).
    * Shared by every serving-batch entry point.
    *
    * DETERMINISM assumption: the guard's limit-count and the later probe
    * collect evaluate the query frame independently, so the bound is only
    * as good as the frame is stable — a nondeterministic frame (`rand`
    * sampling, rand-derived qids) can pass the count yet materialize a
    * larger set at collect time. Serving batches come from checkpointed
    * streaming sources or parquet reads (deterministic); callers holding a
    * nondeterministic frame must localCheckpoint/persist it first. */
  private[index] def requireServingBatch(queries: DataFrame, what: String,
                                         guidance: String): Unit = {
    val over = queries.limit(MaxServingBatch + 1).count() > MaxServingBatch
    require(!over,
      s"$what got a query frame past $MaxServingBatch rows: $guidance")
  }

  /** List count at which [[assignProbes]] escalates to the TWO-LEVEL
    * (coarse-quantizer) assignment. Below it the flat broadcast ranking
    * is both cheaper and exact; above it the flat form's n·lists distance
    * evaluations are the measured scale wall (bench_sf10.json:
    * knn_graph_ivf 112× at 100× data, ~36 s of it the assignment
    * crossJoin at 200k × 3125 lists). */
  val HierarchicalAssignLists = 512

  /** MINIMUM coarse groups each query descends into on the hierarchical
    * path — the recall knob of the two-level assignment: a list whose
    * coarse parent is outside the query's descended groups cannot be
    * probed. The actual descent count scales with the probe budget
    * (max(this, ⌈probes·groups/lists⌉·[[CoarseDescendSlack]])) so a large
    * budget is never coverage-capped at ~CoarseProbes·lists/groups lists —
    * the band where a fixed descent silently returned fewer than `probes`
    * lists and made the adaptive retry burn no-progress rounds. */
  val CoarseProbes = 8

  /** Slack multiplier on the budget-proportional descent count: each
    * descended group holds ~lists/groups member centroids ON AVERAGE, so
    * covering `probes` lists needs ≥ probes·groups/lists groups; ×2
    * absorbs group-occupancy variance. */
  val CoarseDescendSlack = 2

  /** Ceiling on the coarse group count (keeps the driver-side Lloyd and
    * the level-1 broadcast bounded at the 65536-list cap). */
  val CoarseGroupsMax = 256

  /** Hard ceiling on the broadcast coarse-structure bytes (centroid
    * sidecar + grouping): at the [[graft.operators.IndexQueries.listsFor]]
    * 65,536-list cap and 1536 dims this is ~400 MB — the worst case the
    * engine can construct, one copy per executor, the standard
    * coarse-quantizer serving footprint (every IVF node holds the full
    * centroid table). The require documents the assumption rather than
    * silently degrading: an index past it needs a deeper quantizer
    * hierarchy, not a bigger broadcast. */
  val CoarseStructureMaxBytes: Long = 1L << 30

  /** Fixed Lloyd iterations / training cap for the coarse clustering —
    * deterministic (evenly-spaced init over the list_id order, no RNG),
    * bounded driver work: ≤ cap·groups·dim·iters flops over index
    * METADATA. Grouping quality only shifts which lists co-reside in a
    * coarse bucket (a recall, never a correctness, effect). */
  val CoarseLloydIters = 8
  val CoarseLloydTrainCap = 8192

  /** The SHARED probe-assignment stage of [[searchMany]], knn_graph_ivf
    * and dedup_embedding_ivf: each query row keeps its `probes` nearest
    * lists by `dist` in a bounded heap — emitting (qid, qv, list_id)
    * probe rows, nothing query-frame-sized driver-side. One definition so
    * tie-breaking and casts cannot drift between the consumers. Duplicate
    * qids collapse to one representative vector (`first`) — see the
    * [[searchMany]] contract.
    *
    * Dispatch: with fewer than [[HierarchicalAssignLists]] lists — or
    * when `probes` approaches the list count (probe-all / adaptive
    * escalation territory, where full coverage must stay guaranteed) —
    * the FLAT form ranks every centroid per query (exact assignment,
    * broadcast crossJoin, n·lists work). Past both gates it escalates to
    * [[assignProbesHierarchical]] — the faiss-practice coarse quantizer
    * (IMI/HNSW-over-centroids family) that caps assignment work at
    * ~n·√lists: with corpus-proportional list counts the flat form is
    * n²/occupancy, the measured 100× scale wall. */
  private[graft] def assignProbes(queries: DataFrame, cents: DataFrame,
      qidCol: String, qvecCol: String, probes: Int,
      metric: String = "cosine"): DataFrame = {
    // ONE ranking authority: both dispatch paths derive their distance
    // from `metric` (the flat path via metricDistance, the hierarchical
    // path via metricScore, which mirrors the same expressions) —
    // a separate dist parameter let a caller hand the two paths
    // silently divergent rankings (r14 advice).
    // One metadata-count job on the sidecar frame (single-file parquet —
    // a footer read) decides the path.
    val nLists = cents.count()
    if (nLists < HierarchicalAssignLists || probes.toLong * 4 >= nLists)
      assignProbesFlat(queries, cents, qidCol, qvecCol, probes,
        metricDistance(metric))
    else
      assignProbesHierarchical(queries, cents, qidCol, qvecCol, probes, metric)
  }

  /** Flat assignment: rank ALL centroids per query against the broadcast
    * sidecar — exact, n·lists work. The small-index and probe-all path. */
  private[graft] def assignProbesFlat(queries: DataFrame, cents: DataFrame,
      qidCol: String, qvecCol: String, probes: Int,
      dist: (Column, Column) => Column): DataFrame = {
    import graft.functions.top_k_by_distance
    queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
      .crossJoin(broadcast(cents.select("list_id", "centroid")))
      .select(col("qid"), col("qv"),
        col("list_id").cast("long").as("lid"),
        dist(col("centroid"), col("qv")).as("cdist"))
      .groupBy("qid")
      .agg(first(col("qv")).as("qv"),
        top_k_by_distance(col("cdist"), col("lid"), probes).as("top"))
      .select(col("qid"), col("qv"), explode(col("top.vec_id")).as("lid"))
      .select(col("qid"), col("qv"), col("lid").cast("int").as("list_id"))
  }

  /** TWO-LEVEL assignment — the hierarchical coarse quantizer the flat
    * form escalates to at scale (the standard faiss recipe: assign via a
    * small centroid-over-centroids index instead of ranking every list).
    *
    * Level 0 (driver, once per call): collect the centroid sidecar
    * (|lists| rows — index METADATA, the writeRadii/filteredKnn budget)
    * and Lloyd-cluster it into ~√([[CoarseProbes]]·lists) coarse groups
    * (capped at [[CoarseGroupsMax]]) — deterministic: evenly-spaced init,
    * fixed iterations, no RNG, so the same sidecar always yields the same
    * grouping. Euclidean grouping geometry matches [[build]]'s layout for
    * every metric (cosine sidecar centroids are unit-norm, where Euclidean
    * and angular order agree; ranking below uses the caller's `dist`,
    * which for cosine is scale-invariant so un-normalized coarse means
    * rank correctly).
    *
    * Level 1-2 (distributed): ONE map pass. The full two-level structure
    * (coarse centers + per-group member centroid arrays — the same bytes
    * the driver already collected for Lloyd) ships once as a broadcast,
    * and a deterministic UDF ranks per query row: top-`descend` coarse
    * groups (budget-scaled — see [[CoarseProbes]] /
    * [[CoarseDescendSlack]]), then top-`probes` member lists within
    * them, n·(√lists + descend·lists/groups) scalar work with NO row
    * expansion. The first cut expressed both levels as crossJoin →
    * top-k aggregates: each level exploded (query × candidate) rows
    * CARRYING the query vector into a near-unique-key
    * ObjectHashAggregate, whose sort-based fallback then externally
    * sorted candidate-volume × vector-width bytes — measured 307 GB of
    * spill and 150-280 s for ONE assignment of a 2M × 64-dim corpus at
    * 31,250 lists (ProfileEmbeddingIvf, 1000× point, r14) — per
    * co-probe query, since each recomputes its assignment. The map
    * form's only non-driver cost is the broadcast (guarded by
    * [[CoarseStructureMaxBytes]]) and one q-sized exchange for the
    * duplicate-qid collapse.
    *
    * For the `ip` opclass the coarse ranking uses the MIPS-safe group
    * bound −(⟨q, mean_g⟩ + ‖q‖·r_g) (r_g = max member distance from the
    * group mean): a plain ⟨q, mean⟩ ranking systematically misses
    * large-norm lists sitting in low-dot groups — inner product is not a
    * metric, so unlike cosine/l2 the unadjusted mean is not even an
    * approximate surrogate for the best member.
    *
    * APPROXIMATE: a true top-`probes` list whose coarse parent is outside
    * the query's descended groups is missed — the same contract (and the
    * same recall gates) as the probe paths that consume this. Exactness
    * escape hatches are untouched: probe-all and the adaptive form's
    * full-coverage round satisfy `probes·4 ≥ lists` and take the flat
    * path. */
  private[graft] def assignProbesHierarchical(queries: DataFrame,
      cents: DataFrame, qidCol: String, qvecCol: String, probes: Int,
      metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "l2" || metric == "ip",
      s"assignProbesHierarchical: unsupported metric '$metric' " +
        s"(expected one of ${Metrics.mkString(", ")})")
    // the flat fallback's Catalyst distance derives from the SAME metric
    // that drives CoarseIndex's metricScore — one ranking authority per call
    val dist = metricDistance(metric) _
    val spark = queries.sparkSession
    val pts = cents.select("list_id", "centroid").collect().map { r =>
      (r.getInt(0), r.getAs[collection.Seq[Float]](1).toArray)
    }
    val nLists = pts.length
    val dim = pts(0)._2.length
    val groups = math.min(CoarseGroupsMax,
      math.ceil(math.sqrt(CoarseProbes.toDouble * nLists)).toInt)
    // budget-scaled descent: a fixed count caps coverage at
    // ~CoarseProbes·lists/groups lists, starving probe budgets above it
    val descend = math.max(CoarseProbes,
      math.ceil(probes.toDouble * groups / nLists).toInt * CoarseDescendSlack)
    if (descend >= groups) // no pruning left at this budget — flat is exact
      return assignProbesFlat(queries, cents, qidCol, qvecCol, probes, dist)
    // JVM footprint of the broadcast CoarseIndex, per-object overhead
    // included: each member centroid is a float[] (16-byte header + 4·dim
    // data) plus an 8-byte ref and a 4-byte lid slot; each group adds a
    // center array, a radius and two container arrays. The flat estimate
    // nLists·(4·dim+8) undercounted this by ~20-30% at small dims (r14
    // advice).
    val structureBytes =
      nLists.toLong * (4L * dim + 28L) + groups.toLong * (4L * dim + 64L)
    if (structureBytes > CoarseStructureMaxBytes) {
      // degrade, don't die: an index whose coarse structure exceeds the
      // per-executor broadcast budget (65k lists at ~4096 dims) answers
      // via the exact flat assignment — broadcast-hash-join against the
      // sidecar RELATION, which Spark spills to disk-backed blocks
      // instead of pinning one deserialized object per executor. Slower
      // (n·lists work) but correct; the former hard `require` turned an
      // oversized index into a query-time crash (r14 advice).
      // RESIDUAL COST (r15 advice): the flat path still broadcast()s the
      // same centroid bytes — relief is the storage form (disk-backed
      // blocks vs one pinned CoarseIndex object), not the volume, and
      // BroadcastExchange's own ceilings (8 GB relation, driver memory)
      // still bound it. Past ~8 GB of centroids no assignment strategy
      // here survives; that index needs a deeper quantizer hierarchy.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"coarse structure ~$structureBytes bytes for $nLists lists × $dim " +
          s"dims exceeds CoarseStructureMaxBytes ($CoarseStructureMaxBytes); " +
          "degrading to exact flat assignment (still broadcasts the " +
          "centroid relation — disk-backed blocks, but BroadcastExchange's " +
          "8 GB/driver-memory ceilings still apply) — consider a deeper " +
          "quantizer hierarchy for an index this size")
      return assignProbesFlat(queries, cents, qidCol, qvecCol, probes, dist)
    }
    val (centers, grouping) = lloydCoarse(pts.map(_._2), groups)
    // per-group covering radius over MEMBER CENTROIDS (driver-side, one
    // pass over index metadata) — only the ip ranking consumes it
    val radii = new Array[Double](centers.length)
    pts.zip(grouping).foreach { case ((_, v), g) =>
      var s = 0.0; var j = 0
      while (j < dim) {
        val d = v(j).toDouble - centers(g)(j).toDouble; s += d * d; j += 1
      }
      val r = math.sqrt(s)
      if (r > radii(g)) radii(g) = r
    }
    // pack members per coarse group (flat arrays, no per-row objects)
    val memberCount = new Array[Int](centers.length)
    grouping.foreach(g => memberCount(g) += 1)
    val memberLids = Array.tabulate(centers.length)(g => new Array[Int](memberCount(g)))
    val memberVecs = Array.tabulate(centers.length)(g => new Array[Array[Float]](memberCount(g)))
    locally {
      val fill = new Array[Int](centers.length)
      var i = 0
      while (i < pts.length) {
        val g = grouping(i)
        memberLids(g)(fill(g)) = pts(i)._1
        memberVecs(g)(fill(g)) = pts(i)._2
        fill(g) += 1
        i += 1
      }
    }
    val bc = spark.sparkContext.broadcast(
      CoarseIndex(centers, radii, memberLids, memberVecs, metric, descend, probes))
    val assign = udf { (qv: collection.Seq[Float]) =>
      if (qv == null) Array.empty[Int]
      else bc.value.assign(qv.toArray)
    }
    queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
      // duplicate-qid collapse per the assignProbes contract (one
      // representative vector); q-sized, the only exchange this stage plans
      .groupBy("qid").agg(first(col("qv")).as("qv"))
      .select(col("qid"), col("qv"), explode(assign(col("qv"))).as("list_id"))
  }

  /** The broadcast payload of [[assignProbesHierarchical]]: coarse
    * centers, per-group MIPS radii and per-group member centroid arrays,
    * with the full two-level ranking as one scalar method. The distance
    * scalar is [[metricScore]], the Catalyst expressions' arithmetic
    * operation for operation, so the map-form assignment selects
    * bit-identically to the crossJoin + top-k-aggregate form it replaced
    * (both rank by (dist ASC, id ASC) with NaN candidates skipped, the
    * TopKBuffer contract). */
  private[index] final case class CoarseIndex(
      centers: Array[Array[Float]],
      radii: Array[Double],
      memberLids: Array[Array[Int]],
      memberVecs: Array[Array[Array[Float]]],
      metric: String,
      descend: Int,
      probes: Int) {

    /** Insert (d, id) into the ascending-(d, id)-sorted prefix [0, n) of
      * k-capacity arrays; returns the new live count. O(k) per offer with
      * production k in the tens — the TopKBuffer selection contract
      * without the heap (candidates arrive in one pass here, so a plain
      * sorted prefix is simpler and branch-predictable). */
    private def insert(ds: Array[Double], ids: Array[Int], n: Int, k: Int,
                       d: Double, id: Int): Int = {
      var lo = 0
      while (lo < n && (ds(lo) < d || (ds(lo) == d && ids(lo) < id))) lo += 1
      if (lo >= k) return n
      val newN = math.min(n + 1, k)
      var j = newN - 1
      while (j > lo) { ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1 }
      ds(lo) = d; ids(lo) = id
      newN
    }

    /** Top-`probes` list ids for one query vector: rank the coarse groups
      * (ip: ball bound −⟨q,mean⟩ − ‖q‖·r), descend into the best
      * `descend`, rank their member lists. Returns ids best-first;
      * empty for all-NaN scores (zero-norm cosine query). */
    def assign(q: Array[Float]): Array[Int] = {
      val qn = if (metric == "ip") {
        var s = 0.0; var i = 0
        while (i < q.length) { s += q(i).toDouble * q(i).toDouble; i += 1 }
        math.sqrt(s)
      } else 0.0
      val gd = new Array[Double](descend)
      val gi = new Array[Int](descend)
      var gn = 0
      var g = 0
      while (g < centers.length) {
        var s = metricScore(metric, centers(g), q)
        if (metric == "ip") s -= qn * radii(g)
        if (!java.lang.Double.isNaN(s)) gn = insert(gd, gi, gn, descend, s, g)
        g += 1
      }
      val ld = new Array[Double](probes)
      val li = new Array[Int](probes)
      var ln = 0
      var gg = 0
      while (gg < gn) {
        val vecs = memberVecs(gi(gg))
        val lids = memberLids(gi(gg))
        var m = 0
        while (m < vecs.length) {
          val s = metricScore(metric, vecs(m), q)
          if (!java.lang.Double.isNaN(s)) ln = insert(ld, li, ln, probes, s, lids(m))
          m += 1
        }
        gg += 1
      }
      java.util.Arrays.copyOf(li, ln)
    }
  }

  /** Deterministic driver-side Lloyd over the centroid sidecar: evenly
    * spaced init along the list_id order, [[CoarseLloydIters]] fixed
    * iterations on ≤ [[CoarseLloydTrainCap]] evenly-sampled points, then
    * one full assignment pass. Ties break to the lower group id; an
    * emptied group keeps its previous center. Returns (coarse centers,
    * group per input point). */
  private[graft] def lloydCoarse(points: Array[Array[Float]],
      groups: Int): (Array[Array[Float]], Array[Int]) = {
    val n = points.length
    val c = math.max(1, math.min(groups, n))
    val dim = points(0).length
    val train: Array[Int] =
      if (n <= CoarseLloydTrainCap) Array.range(0, n)
      else Array.tabulate(CoarseLloydTrainCap)(i =>
        ((i.toLong * n) / CoarseLloydTrainCap).toInt)
    var centers = Array.tabulate(c)(i =>
      points(train(((i.toLong * train.length) / c).toInt)).clone())
    def nearest(p: Array[Float], cs: Array[Array[Float]]): Int = {
      var best = 0; var bd = Double.MaxValue; var g = 0
      while (g < cs.length) {
        val cv = cs(g); var s = 0.0; var j = 0
        while (j < dim) { val d = p(j).toDouble - cv(j).toDouble; s += d * d; j += 1 }
        if (s < bd) { bd = s; best = g }
        g += 1
      }
      best
    }
    var it = 0
    while (it < CoarseLloydIters) {
      val sums = Array.ofDim[Double](c, dim)
      val cnt = new Array[Long](c)
      var i = 0
      while (i < train.length) {
        val p = points(train(i)); val g = nearest(p, centers)
        val s = sums(g); var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        cnt(g) += 1; i += 1
      }
      centers = Array.tabulate(c) { g =>
        if (cnt(g) == 0L) centers(g)
        else {
          val m = new Array[Float](dim); var j = 0
          while (j < dim) { m(j) = (sums(g)(j) / cnt(g)).toFloat; j += 1 }
          m
        }
      }
      it += 1
    }
    (centers, points.map(nearest(_, centers)))
  }

  /** Batch probe: many queries in one distributed pass.
    *
    * Scale shape, stage by stage:
    *  1. centroid ranking per query = broadcast cents × queries, per-query
    *     nprobe-heap ([[graft.functions.top_k_by_distance]]) — no window;
    *  2. the distinct probed list_ids are collected (≤ |lists| ints —
    *     index METADATA, not data) and applied as an explicit `isin`
    *     partition filter on the lists dataset, so the scan provably reads
    *     only the probed directories instead of relying on DPP to fire
    *     for a broadcast join against a file source;
    *  3. per-query top-k again as map-side k-heaps — the shuffle carries
    *     ≤ k·|partitions| rows per query, never the full scored set.
    *
    * SERVING-BATCH contract: stage 2's probe-pair collect is
    * |queries|·nprobe driver rows, so the query frame must be a serving
    * batch (≤ [[MaxServingBatch]] rows — enforced BEFORE anything is
    * collected, with guidance); a corpus-sized batch belongs on
    * [[searchMany]]. One row per qid: a duplicated qid ranks its probe
    * lists from one arbitrary representative vector. */
  def probeMany(spark: SparkSession, indexPath: String, queries: DataFrame,
                qidCol: String, qvecCol: String, k: Int, nprobe: Int): DataFrame = {
    requireServingBatch(queries, "probeMany",
      "the probe-pair collect is for serving batches — route corpus-sized " +
        "query frames through searchMany (distributed assignment + list_id equi-join)")
    probeManyUnguarded(spark, indexPath, queries, qidCol, qvecCol, k, nprobe)
  }

  /** [[probeMany]] without the serving-batch pre-count — for callers that
    * just counted the frame themselves to route between the serving and
    * distributed forms (startKnnServing): the guard's limit-count job
    * would be a redundant second scan per micro-batch. */
  private[graft] def probeManyUnguarded(
      spark: SparkSession, indexPath: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int): DataFrame = {
    import graft.functions.top_k_by_distance
    val h = handle(spark, indexPath)
    val dist = metricDistance(h.metric) _
    val cents = spark.read.parquet(s"$indexPath/centroids")
    // the shared assignment stage — same definition as searchMany's
    val probed = assignProbes(queries, cents, qidCol, qvecCol, nprobe, h.metric)
    // ONE driver-side action computes the centroid ranking (|queries|×nprobe
    // (qid, list_id) pairs — index metadata); the join side is then rebuilt
    // from the collected pairs + the original queries frame, so the ranking
    // stage is never evaluated a second time inside the broadcast join
    import spark.implicits._
    val pairs = probed.select(col("qid"), col("list_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val listIds = pairs.map(_._2).distinct.toIndexedSeq
    val probeSide = pairs.toIndexedSeq.toDF("qid", "list_id")
      .join(queries.select(col(qidCol).cast("long").as("qid"),
        col(qvecCol).as("qv")), "qid")
    pruneLists(h.lists(spark), listIds)
      .join(broadcast(probeSide), Seq("list_id"))
      .select(col("qid"), col(h.idColumn).cast("long").as("vec_id"),
        dist(col(h.vecColumn), col("qv")).as("dist"))
      .groupBy("qid")
      .agg(top_k_by_distance(col("dist"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("s.vec_id").as("vec_id"), col("s.dist").as("dist"))
  }

  /** Fully DISTRIBUTED batch probe — the corpus-sized twin of
    * [[probeMany]] and the generalized form of the knn_graph_ivf recipe:
    * per-query centroid ranking stays a map-side bounded heap against the
    * BROADCAST sidecar (never collected), probe rows flow into ONE
    * list_id equi-join against the lists dataset, and the per-query top-k
    * is the bounded-heap aggregate. Nothing query-frame-sized ever
    * touches the driver — use this when the "query batch" is itself data
    * (a kNN self-join, a bulk backfill).
    *
    * Trade-off vs [[probeMany]]: no explicit `isin` partition filter (the
    * probed list set is not collected), so the lists scan is pruned by
    * the join, not the directory listing — immaterial for corpus-sized
    * batches, which probe essentially every list anyway; for small
    * serving batches probeMany's directory pruning wins. Results are
    * identical (same distance expression, same heap tie-breaks) —
    * spec-pinned against probeMany.
    *
    * Contract (both forms): ONE row per qid. A duplicated qid is a
    * malformed frame — each form then answers from one arbitrary
    * representative vector and the identity between them no longer
    * holds; dedupe upstream (the BM25 serving path's (qid, token)
    * distinct is the same rule).
    *
    * `predicate` (optional) filters the INDEXED rows before any distance
    * is scored — the distributed form of [[filteredKnn]]'s `WHERE pred
    * ORDER BY dist LIMIT k`, for corpus-sized filtered backfills
    * ("re-search every query against lang=X"). The filter lands on the
    * lists scan, so Catalyst pushes it into the parquet read and the
    * heap never sees a non-qualifying row. With `nprobe` = the full list
    * count this is EXACT filtered search per query (spec-pinned ≡
    * [[filteredKnn]]); with fewer probes it is the approximate filtered
    * form — unlike [[filteredKnn]] it does NOT expand probes when the
    * predicate starves a query below k (per-query expansion is a serving
    * pattern; a backfill picks its probe budget up front). */
  def searchMany(spark: SparkSession, indexPath: String, queries: DataFrame,
                 qidCol: String, qvecCol: String, k: Int, nprobe: Int,
                 predicate: Option[Column] = None): DataFrame = {
    import graft.functions.top_k_by_distance
    val h = handle(spark, indexPath)
    val dist = metricDistance(h.metric) _
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val assigned = assignProbes(queries, cents, qidCol, qvecCol, nprobe, h.metric)
    val lists = h.lists(spark)
    predicate.fold(lists)(lists.filter)
      .join(assigned, Seq("list_id"))
      .select(col("qid"), col(h.idColumn).cast("long").as("vec_id"),
        dist(col(h.vecColumn), col("qv")).as("dist"))
      .groupBy("qid")
      .agg(top_k_by_distance(col("dist"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("s.vec_id").as("vec_id"), col("s.dist").as("dist"))
  }

  /** [[searchMany]] with STARVATION RETRY — the distributed form of
    * pgvector's `ivfflat.iterative_scan = relaxed_order` for
    * corpus-sized filtered backfills, where a fixed probe budget can
    * starve selective queries below k: after the `initProbes` pass,
    * only the STARVED qids (fewer than k result rows) re-probe with a
    * doubled budget, until every query has k rows or its probes covered
    * every list.
    *
    * Semantics (exactly pgvector's relaxed_order contract): the k-row
    * guarantee is hard — a query returns fewer than k rows ONLY when
    * fewer than k index rows satisfy the predicate at all (its probes
    * reached full coverage, so the short answer is the TRUE filtered
    * answer); returned rows carry exact verified distances and rank
    * correctly among themselves, but a query satisfied before full
    * coverage may miss a closer row in an unprobed list. The per-query
    * EXACT sibling is [[filteredKnn]], whose covering-radius bound
    * proves termination — per-query bounds don't batch, so the
    * distributed form trades that proof for the k-guarantee, and
    * `initProbes` ≥ the list count degrades to exact probe-all.
    *
    * Scale shape: each round is one [[searchMany]] over the remaining
    * query frame (fully distributed — broadcast-centroid assignment,
    * ONE list_id equi-join, bounded heaps) plus one count-agg to split
    * satisfied from starved; the retry frame shrinks to the starved
    * tail, so rounds cost geometrically less while probes double —
    * O(log lists) rounds total, each round's kept rows localCheckpointed
    * so the final union never re-runs earlier rounds. */
  def searchManyAdaptive(spark: SparkSession, indexPath: String,
                         queries: DataFrame, qidCol: String, qvecCol: String,
                         k: Int, initProbes: Int,
                         predicate: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val nLists = handle(spark, indexPath).listIds.length
    var remaining = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
    var prevRemaining: DataFrame = null // checkpointed frame of the prior round
    var probes = math.max(1, initProbes)
    var done = false
    var rounds = List.empty[DataFrame]
    while (!done) {
      val res = searchMany(spark, indexPath, remaining, "qid", "qv",
        k, probes, predicate).localCheckpoint()
      if (probes >= nLists) {
        // full coverage: whatever came back IS the exact filtered answer
        rounds ::= res
        done = true
      } else {
        // a query is satisfied once it has k rows; zero-row qids don't
        // appear in the result at all, so starved = remaining ∖ satisfied
        val sat = res.groupBy("qid").agg(count(lit(1)).as("n"))
          .filter(col("n") >= k).select("qid")
        rounds ::= res.join(sat, Seq("qid"), "left_semi")
        remaining = remaining.join(sat, Seq("qid"), "left_anti")
          .localCheckpoint()
        // the PRIOR round's remaining-frame checkpoint is dead the moment
        // this round's is materialized (the kept result rows have their
        // own checkpoints) — free it now instead of letting the blocks
        // pile up in executor storage for the rest of a long backfill
        freeLocalCheckpoint(prevRemaining)
        prevRemaining = remaining
        if (remaining.isEmpty) done = true
        else probes = math.min(nLists, probes * 2)
      }
    }
    // the final remaining frame is dead too once the last round returned
    freeLocalCheckpoint(prevRemaining)
    rounds.reduce(_.unionByName(_))
  }

  /** Unpersist the checkpoint RDD behind a localCheckpoint()ed frame —
    * Dataset.unpersist only covers cacheManager entries, so the blocks of
    * an intermediate checkpoint otherwise linger until driver GC triggers
    * the ContextCleaner. Non-blocking; null/uncheckpointed frames no-op. */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    if (df != null) df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Filtered kNN with ITERATIVE probe expansion — pgvector 0.8's headline
    * `ivfflat.iterative_scan` (/root/reference/README.md:9), strengthened to
    * an EXACT answer: `WHERE pred ORDER BY dist LIMIT k` keeps probing more
    * lists when the predicate starves the result below k, and stops early
    * only when a triangle-inequality bound PROVES no unprobed list can beat
    * the current k-th result.
    *
    * Bound, per unprobed list l with covering radius r_l (the `radius`
    * sidecar column written at build/append):
    *  - cosine: member angle ≥ θ(q, c_l) − r_l (angular distance is a
    *    metric), so member cos-distance ≥ 1 − cos(max(0, θ(q,c_l) − r_l));
    *  - l2: member distance ≥ d(q, c_l) − r_l;
    *  - ip: inner product admits no such bound → the bound is −∞ and the
    *    loop expands to ALL lists before returning (exact, no early stop).
    * Missing/NaN radii (legacy sidecar, dirty vectors) also degrade the
    * bound to −∞ — never to a wrong early termination. NaN distances (e.g.
    * zero-norm vectors under cosine) sort last and a NaN k-th distance
    * never satisfies the strict `<` stop test, so such results only return
    * after every list was probed — still exact.
    *
    * Scale shape: each round scans ONLY the newly probed list directories
    * (partition-pruned `isin`, doubling schedule ⇒ O(log lists) rounds, at
    * most 2× the minimal prefix re-scanned in total... never re-reads a
    * probed list); per-round driver traffic is the k-row top-k — the same
    * driver merge TakeOrderedAndProject does. Centroid ranking and bounds
    * are |lists|-row index metadata computed driver-side; ordering there
    * doesn't need bit-exactness (only the OUTPUT dist is contract-bearing,
    * and it comes from the Catalyst expression inside the scan). */
  def filteredKnn(spark: SparkSession, indexPath: String, query: Array[Float],
                  k: Int, predicate: Column, initProbes: Int = 4): DataFrame =
    filteredKnnStats(spark, indexPath, query, k, predicate, initProbes)._1

  /** [[filteredKnn]] plus the number of lists actually probed — lets specs
    * pin BOTH behaviors: expansion past `initProbes` under a selective
    * filter, and early termination below `lists` when the bound engages. */
  def filteredKnnStats(spark: SparkSession, indexPath: String, query: Array[Float],
                  k: Int, predicate: Column, initProbes: Int = 4): (DataFrame, Int) = {
    import spark.implicits._
    // LIMIT 0 analog — without this the k-th-element stop test indexes
    // best(-1) on the first round
    if (k <= 0) return (Seq.empty[(Long, Double)].toDF("vec_id", "dist"), 0)
    val h = handle(spark, indexPath)
    val metric = h.metric
    val dist = metricDistance(metric) _
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    }
    // (list_id, probe-order distance, lower bound on member output-distance)
    val ranked = h.listIds.indices.map { i =>
      val lid = h.listIds(i)
      val c = h.centroids(i)
      val rad = h.radii(i)
      val (cdist, lb0) = metric match {
        case "cosine" =>
          val cs = dot(query, c) /
            (math.sqrt(dot(query, query)) * math.sqrt(dot(c, c)))
          val thetaQ = math.acos(math.max(-1.0, math.min(1.0, cs)))
          (1.0 - math.cos(thetaQ), 1.0 - math.cos(math.max(0.0, thetaQ - rad)))
        case "l2" =>
          val d = l2(query, c)
          (d, math.max(0.0, d - rad))
        case _ => (-dot(query, c), Double.NegativeInfinity)
      }
      (lid, cdist, if (lb0.isNaN) Double.NegativeInfinity else lb0)
    }.sortWith { (x, y) =>
      val c = java.lang.Double.compare(x._2, y._2) // NaN cdist ranks last
      if (c != 0) c < 0 else x._1 < y._1
    }
    val lists = h.lists(spark)
    val best = collection.mutable.ArrayBuffer.empty[(Long, Double)]
    def lt(x: (Long, Double), y: (Long, Double)): Boolean = {
      val c = java.lang.Double.compare(x._2, y._2) // NaN dist sorts last
      if (c != 0) c < 0 else x._1 < y._1
    }
    var probed = 0
    var p = math.min(math.max(1, initProbes), ranked.length)
    var done = ranked.isEmpty
    while (!done) {
      val newIds = ranked.slice(probed, p).map(_._1).toIndexedSeq
      best ++= pruneLists(lists, newIds)
        .filter(predicate)
        .select(col(h.idColumn).cast("long").as("vec_id"),
          dist(col(h.vecColumn), typedLit(query)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val top = best.sortWith(lt).take(k)
      best.clear(); best ++= top
      probed = p
      if (probed >= ranked.length) done = true
      else {
        // the driver-side bound (acos/cos over collected doubles) and the
        // Catalyst per-row dist take different float paths; pad the bound
        // by a few ulps so ulp-level divergence can never terminate before
        // a true neighbor sitting within rounding error of the bound
        val b0 = ranked.drop(probed).map(_._3).min
        val bound = b0 - 4.0 * Math.ulp(b0)
        // strict <: at equality an unprobed point could TIE on dist and
        // win the vec_id tie-break, so equality must keep probing
        if (best.length >= k && best(k - 1)._2 < bound) done = true
        else p = math.min(ranked.length, p * 2)
      }
    }
    (best.toSeq.toDF("vec_id", "dist"), probed)
  }
}
