package perf

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, typedLit}

import graft.functions.{cosine_distance, HashEmbed}

/** The reference's point query,
  * `SELECT id, text, 1 - (embedding <=> q) AS similarity FROM documents
  * ORDER BY embedding <=> q LIMIT k`, timed from embedding the query text
  * to the collected rows. */
object Knn {
  val Dim = 384
  val K = 10

  final case class Hit(id: Long, text: String, similarity: Double)

  /** One answered query: rows, latency, the optimized plan's leaf paths. */
  final case class Answer(hits: Array[Hit], ms: Double, planPaths: Seq[String])

  def query(ctx: Ctx, tablePath: String, text: String, kind: String): Answer = {
    val t0 = System.nanoTime()
    val q = ctx.span("embed.query")(HashEmbed.embedToFloats(text, Dim))
    val df = ctx.span(s"plans.$kind") {
      val d = cosine_distance(col("embedding"), typedLit(q))
      val df = ctx.spark.read.parquet(tablePath)
        .select(col("id"), col("text"), (lit(1.0) - d).as("similarity"))
        .orderBy(d).limit(K)
      df.queryExecution.optimizedPlan
      df
    }
    val rows = ctx.span(s"exec.$kind")(df.collect())
    val ms = (System.nanoTime() - t0) / 1e6
    Answer(rows.map(r => Hit(r.getLong(0), r.getString(1), r.getDouble(2))), ms,
      leafPaths(df.queryExecution.optimizedPlan))
  }

  def leafPaths(plan: LogicalPlan): Seq[String] = plan.collectLeaves().flatMap {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
    case _ => Nil
  }

  /** Does the plan read the index's lists rather than the table? */
  def readsIndex(a: Answer, indexPath: String): Boolean =
    a.planPaths.exists(_.contains(s"${indexPath.stripSuffix("/")}/lists"))

  /** Fraction of the exact top-k texts the answer found. */
  def recall(a: Answer, truth: Seq[(String, Double)]): Double = {
    val want = truth.map(_._1).toSet
    a.hits.count(h => want.contains(h.text)).toDouble / math.max(1, truth.length)
  }

  /** Does the answer rank exactly like the ground truth? Compared by
    * distance, rank by rank, so ties at the k-th place cannot fail it. */
  def matchesExactly(a: Answer, truth: Seq[(String, Double)]): Boolean =
    a.hits.length == truth.length && a.hits.zip(truth).forall { case (h, (_, d)) =>
      math.abs((1.0 - h.similarity) - d) <= 1e-9
    }
}

/** Driver-side copy of a table's (text, embedding) rows and an exact
  * brute-force top-k over it: the ground truth recall and the exact-scan
  * checks are scored against. Same cosine-distance formula as the engine,
  * computed independently of it. */
final class ExactStore(dim: Int) {
  private val texts = ArrayBuffer[String]()
  private var vecs = new Array[Float](1 << 16)
  private val norms = ArrayBuffer[Double]()

  def add(text: String, v: Array[Float]): Unit = {
    require(v.length == dim)
    val off = texts.length * dim
    if (off + dim > vecs.length)
      vecs = java.util.Arrays.copyOf(vecs, math.max(vecs.length * 2, off + dim))
    System.arraycopy(v, 0, vecs, off, dim)
    var n = 0.0; var i = 0
    while (i < dim) { val x = v(i).toDouble; n += x * x; i += 1 }
    norms += math.sqrt(n)
    texts += text
  }

  /** Exact top-k by cosine distance, ascending; ties keep insertion order. */
  def topK(q: Array[Float], k: Int): Seq[(String, Double)] = {
    var qn = 0.0; var i = 0
    while (i < dim) { val x = q(i).toDouble; qn += x * x; i += 1 }
    qn = math.sqrt(qn)
    val bestD = Array.fill(k)(Double.PositiveInfinity)
    val bestI = Array.fill(k)(-1)
    var r = 0
    val n = texts.length
    while (r < n) {
      var dot = 0.0; var j = 0; val off = r * dim
      while (j < dim) { dot += vecs(off + j).toDouble * q(j).toDouble; j += 1 }
      val d = 1.0 - dot / (norms(r) * qn)
      if (d < bestD(k - 1)) {
        var p = k - 1
        while (p > 0 && bestD(p - 1) > d) {
          bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestD(p) = d; bestI(p) = r
      }
      r += 1
    }
    (0 until k).filter(bestI(_) >= 0).map(p => texts(bestI(p)) -> bestD(p))
  }
}

/** Writes generated texts as a pre-embedded (id, text, embedding) parquet
  * source and mirrors them into an [[ExactStore]]: input preparation,
  * outside every timed window. */
object Source {
  def write(ctx: Ctx, texts: Seq[String], path: String, store: ExactStore,
            files: Int): Unit = {
    import ctx.spark.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val v = HashEmbed.embedToFloats(t, Knn.Dim)
      store.add(t, v)
      (i.toLong, t, v)
    }
    rows.toDF("id", "text", "embedding").repartition(files)
      .write.mode("overwrite").parquet(path)
  }
}
