package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite (spark guide §ScalaTest). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** All FileSourceScanExecs in an executed plan, descending through AQE
    * stages and broadcast exchanges (shared by the partition-pruning
    * assertions in IvfIndexSpec / IvfPqIndexSpec). */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(q.plan)
    case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
      b.children.flatMap(fileScans)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  /** An ivfflat index written directly, without KMeans: `rows` (with
    * `vec_id`, `embedding` and `list_id`) through the build's own list
    * writer, plus the centroid and meta sidecars. Returns the index path. */
  def writeIvf(name: String, rows: org.apache.spark.sql.DataFrame,
               centroids: Seq[(Int, Array[Float])], metric: String): String = {
    import spark.implicits._
    val dir = graft.util.TempDirs.create(name).resolve("idx").toString
    graft.index.IvfIndex.writeLists(rows, s"$dir/lists", "overwrite")
    centroids.toDF("list_id", "centroid").coalesce(1).write.parquet(s"$dir/centroids")
    Seq((metric, "embedding", "vec_id")).toDF("metric", "vec_col", "id_col")
      .coalesce(1).write.parquet(s"$dir/meta")
    dir
  }

  /** CONTINUOUS per-(id,dim) pseudo-random float in [-1, 1] — the vector
    * fixture for index tests. hash_embed over short texts collapses to few
    * distinct patterns (great for dedup, degenerate for ANN indexes). */
  def hashNoise(idCol: org.apache.spark.sql.Column, dim: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    transform(sequence(lit(0), lit(dim - 1)), d =>
      ((pmod(xxhash64(concat(idCol, lit("_"), d)), lit(2000001)) - 1000000)
        / 1000000.0).cast("float"))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.tuneSession(s)
    s
  }
}
