package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeReference, Descending, Expression, In, IntegerLiteral, Literal, SortOrder, UnaryMinus}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.CosineDistance
import graft.index.IvfIndex.IvfHandle

/** Transparent ANN rewrite — the engine-side analog of Postgres' planner
  * swapping `ORDER BY embedding <=> q LIMIT k` for an ivfflat index scan
  * once `CREATE INDEX` has run (SURVEY.md §3.3 step 3, §4.2).
  *
  * Opt-in per table (like the index DDL): register a parquet table path →
  * IVF index via [[AnnIndexRegistry.register]]; the optimizer rule then
  * rewrites matching plans
  * {{{ GlobalLimit(k, LocalLimit(k, Sort(cosine_distance(vecCol, LIT) ASC …, relation))) }}}
  * so the sort/limit run over ONLY the `nprobe` nearest list partitions of
  * the index dataset (partition-pruned scan) instead of the full table.
  * Results become approximate — exactly pgvector's documented index
  * semantics; unregistered tables are untouched.
  *
  * Planning launches no Spark job for a bare kNN: like pgvector's planner
  * reading the ivfflat centroids in-server, the rule ranks the lists on
  * the driver from the index generation's [[graft.index.IvfIndex.IvfHandle]]
  * (metric, columns, centroids and lists schema, loaded once per
  * generation on the first plan that touches it) and reads the lists
  * dataset with the cached schema. Per plan that costs one FS metadata
  * call (the generation check), the lists file listing and a
  * `lists × dim` scalar pass.
  *
  * Enable with `Graft.enable(spark)` (runtime, experimental methods) or by
  * configuring `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object AnnIndexRegistry {
  /** `column = None` means "built before column tracking / unknown" — the
    * rewrite then matches on metric alone (single-index legacy behavior).
    * `kind` distinguishes the index layout: "ivfflat" entries feed the
    * transparent plan rewrite; "hnsw" entries are NSW graphs served ONLY
    * through the explicit [[graft.index.NswIndex]] search API (a graph
    * probes via traversal, not a scan substitution — documented
    * divergence), discoverable via [[hnswIndexFor]]. */
  final case class Entry(indexPath: String, nprobe: Int,
                         column: Option[String] = None, kind: String = "ivfflat")
  // path → (indexPath → Entry): pgvector allows several indexes per table
  // (different column/opclass); a flat path→entry map would let a second
  // CREATE INDEX silently evict the first and DROP of either kill both.
  private val byPath = new ConcurrentHashMap[String, Map[String, Entry]]()

  /** LRU bound of the hnsw candidate memo: a long-lived driver serving
    * distinct query vectors must not grow it without bound. */
  private final val MemoMax = 1024

  private def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  private def dirMtime(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.getFileStatus(path).getModificationTime
  }

  def register(tablePath: String, indexPath: String, nprobe: Int): Unit =
    register(tablePath, indexPath, nprobe, column = None)

  /** Re-registering the same indexPath replaces its entry (nprobe update);
    * a different indexPath ADDS a second index on the table. */
  def register(tablePath: String, indexPath: String, nprobe: Int,
               column: Option[String]): Unit =
    register(tablePath, indexPath, nprobe, column, kind = "ivfflat")

  def register(tablePath: String, indexPath: String, nprobe: Int,
               column: Option[String], kind: String): Unit =
    byPath.merge(norm(tablePath),
      Map(indexPath -> Entry(indexPath, nprobe, column, kind)),
      (old, one) => old ++ one)

  /** The NSW graph index registered for (table, column), if any — the
    * discovery hook for the explicit [[graft.index.NswIndex]] search API
    * (`CREATE INDEX … USING hnsw` registers here; there is no transparent
    * hnsw rewrite). `column = None` matches any hnsw entry on the table. */
  def hnswIndexFor(tablePath: String, column: Option[String] = None): Option[String] =
    Option(byPath.get(norm(tablePath))).flatMap(_.values.find(e =>
      e.kind == "hnsw" && column.forall(c => e.column.forall(_ == c))))
      .map(_.indexPath)

  /** Remove ALL indexes registered for the table (and free their cached
    * handles). */
  def unregister(tablePath: String): Unit =
    Option(byPath.remove(norm(tablePath))).foreach(
      _.keys.foreach(graft.index.IvfIndex.releaseHandle))

  /** Remove only the named index — DROP INDEX of one of a table's indexes
    * must not disable the others' rewrites. */
  def unregister(tablePath: String, indexPath: String): Unit = {
    byPath.computeIfPresent(norm(tablePath), (_, m) => {
      val rest = m - indexPath
      if (rest.isEmpty) null else rest
    })
    graft.index.IvfIndex.releaseHandle(indexPath)
  }

  def lookupAll(paths: Seq[String]): Seq[Entry] =
    paths.map(norm).flatMap(p =>
      Option(byPath.get(p)).toSeq.flatMap(_.values)).distinct

  /** Every registration, (normalized table path, entry) — catalog export. */
  def all: Seq[(String, Entry)] = {
    import scala.jdk.CollectionConverters._
    byPath.asScala.toSeq.flatMap { case (p, m) => m.values.map(p -> _) }
  }

  /** pgvector 0.8's `ivfflat.iterative_scan` analog for filtered kNN
    * through the transparent rewrite: when the query carries a predicate,
    * a fixed `nprobe` can starve the result below k (the filter eats most
    * of the probed lists' rows). Expand the probe prefix ×2, ×4, …, capped
    * at all lists, until ≥ k rows SURVIVE the predicate. The ranking comes
    * from the index generation's handle (no job); the survivor counts are
    * plan-time Spark jobs over partition-pruned prefixes, one count per
    * doubling (O(log lists) rounds) — the only jobs the rewrite launches,
    * and only for filtered kNN. Results stay approximate, exactly like
    * pgvector's iterative scans; [[graft.index.IvfIndex.filteredKnn]] is
    * the exact-answer API variant. */
  def iterativeProbedLists(spark: SparkSession, entry: Entry, h: IvfHandle,
                           q: Array[Float], k: Int, conds: Seq[Expression]): Seq[Int] = {
    // pgvector session knobs, honored verbatim:
    //   SET ivfflat.iterative_scan = off          -- disable expansion
    //   SET ivfflat.max_probes = n                -- cap it
    // Divergence, documented: our default is ON (relaxed_order) where
    // pgvector defaults off — a filtered kNN silently returning < k rows
    // is the bug this engine-side analog exists to fix. strict_order and
    // relaxed_order behave identically here: results re-sort after the
    // scan, so strict ordering always holds.
    val mode = spark.conf.getOption("ivfflat.iterative_scan")
      .map(_.trim.toLowerCase).getOrElse("relaxed_order")
    if (mode == "off") return h.nearestLists(q, entry.nprobe)
    val maxProbes = spark.conf.getOption("ivfflat.max_probes")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption.filter(_ > 0))
      .getOrElse(Int.MaxValue)
    val ranked = h.nearestLists(q, Int.MaxValue)
    val cap = math.min(ranked.length, math.max(maxProbes, math.max(1, entry.nprobe)))
    val idx = h.lists(spark)
    val byName = idx.queryExecution.analyzed.output.map(a => a.name -> a).toMap
    // rebind the plan's filter (which references the BASE relation's
    // attribute ids) onto the index dataset's attributes, by name
    val rebound = scala.util.Try {
      conds.map(_.transform {
        case a: AttributeReference => byName(a.name)
      }).reduceLeft[Expression](And(_, _))
    }.toOption
    rebound match {
      case None => ranked.take(entry.nprobe) // unmappable predicate: fixed probes
      case Some(cond) =>
        val condCol = ColumnBridge.column(cond)
        var p = math.min(math.max(1, entry.nprobe), cap)
        var done = ranked.isEmpty
        while (!done) {
          val survivors = graft.index.IvfIndex
            .pruneLists(idx, ranked.take(p))
            .filter(condCol).limit(k).count()
          if (survivors >= k || p >= cap) done = true
          else p = math.min(cap, p * 2)
        }
        ranked.take(p)
    }
  }

  /** The `entry.nprobe` lists nearest `q`, ranked on the driver in the
    * INDEX's opclass metric (the pruning geometry must follow the metric
    * the lists were clustered under) from the current generation's
    * [[IvfHandle]] — one FS metadata call when the handle is current, no
    * Spark job. Same lists, bit for bit, as
    * `centroids.orderBy(dist, list_id).limit(nprobe)`. */
  def probedLists(spark: SparkSession, entry: Entry, q: Array[Float]): Seq[Int] =
    graft.index.IvfIndex.handle(spark, entry.indexPath).nearestLists(q, entry.nprobe)

  private val hnswMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        (String, Long, Int, Int, collection.immutable.ArraySeq[Float]), Seq[Long]](
        64, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (String, Long, Int, Int, collection.immutable.ArraySeq[Float]), Seq[Long]]) =
        size() > MemoMax
    })

  /** Memoized plan-time hnsw beam search: the optimizer re-fires per
    * QueryExecution, and an unmemoized probe would run a full graph-shard
    * Spark job on EVERY plan of the same kNN. Keyed on the graph dir's
    * mtime (append/compact swaps recreate it), k, the RESOLVED ef (the
    * `hnsw.ef_search` session knob must not serve a stale beam width),
    * and the query vector. Same no-lock-during-job discipline. */
  def hnswCandidates(spark: SparkSession, entry: Entry, q: Array[Float],
                     k: Int): Seq[Long] = {
    val ef = spark.conf.getOption("hnsw.ef_search")
      .flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(graft.index.NswIndex.EfSearch)
    val key = (entry.indexPath, dirMtime(spark, s"${entry.indexPath}/graph"),
      k, ef, collection.immutable.ArraySeq.unsafeWrapArray(q.clone()))
    val cached = hnswMemo.get(key)
    if (cached != null) cached
    else {
      val v = graft.index.NswIndex.search(spark, entry.indexPath, q, k, ef)
        .collect().map(_.getLong(0)).toSeq
      hnswMemo.put(key, v)
      v
    }
  }
}

case class AnnRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def queryVector(l: Expression, r: Expression): Option[(Attribute, Array[Float])] =
    (l, r) match {
      case (a: Attribute, Literal(v: ArrayData, ArrayType(FloatType, _))) =>
        Some((a, v.toFloatArray))
      case (Literal(v: ArrayData, ArrayType(FloatType, _)), a: Attribute) =>
        Some((a, v.toFloatArray))
      case _ => None
    }

  /** The sort's distance operator and its opclass metric — the rewrite
    * fires only when the registered index was built under the SAME metric
    * (pgvector's planner likewise matches operator to index opclass). */
  private def sortDistance(srt: Sort): Option[(String, Expression, Expression)] =
    srt match {
      case Sort(SortOrder(d: CosineDistance, Ascending, _, _) +: _, true, _, _) =>
        Some(("cosine", d.left, d.right))
      case Sort(SortOrder(d: graft.functions.L1Distance, _, _, _) +: _, _, _, _) =>
        None // no L1 opclass index exists; stay exact
      case Sort(SortOrder(d: graft.functions.L2Distance, Ascending, _, _) +: _, true, _, _) =>
        Some(("l2", d.left, d.right))
      // pgvector `<#>` is the NEGATIVE inner product sorted ascending;
      // `inner_product(…) DESC` is the same max-IP search spelled directly.
      case Sort(SortOrder(UnaryMinus(d: graft.functions.InnerProduct, _), Ascending, _, _) +: _, true, _, _) =>
        Some(("ip", d.left, d.right))
      case Sort(SortOrder(d: graft.functions.InnerProduct, Descending, _, _) +: _, true, _, _) =>
        Some(("ip", d.left, d.right))
      case _ => None
    }

  /** Peel `(Project | Filter)*` off `plan` down to a bare LogicalRelation.
    * Returns (outermost-first intermediate stack, relation). Postgres'
    * planner likewise fires the ivfflat path through quals/tlists, not just
    * on a bare `ORDER BY … LIMIT k` over the heap — without this any
    * `select()` before `orderBy` silently defeats the rewrite. */
  private def unwrap(plan: LogicalPlan)
      : Option[(List[LogicalPlan], LogicalRelation)] = plan match {
    case rel: LogicalRelation => Some((Nil, rel))
    case p: Project => unwrap(p.child).map { case (s, rel) => (p :: s, rel) }
    case f: Filter => unwrap(f.child).map { case (s, rel) => (f :: s, rel) }
    case _ => None
  }

  /** The optimizer hoists the user's final projection between the limit and
    * the sort (`GlobalLimit(LocalLimit(Project(Sort(…))))`); peel it so the
    * sort is reachable, and re-apply it above the rewritten sort. */
  private def peelToSort(plan: LogicalPlan): Option[(Option[Project], Sort)] =
    plan match {
      case s: Sort => Some((None, s))
      case p @ Project(_, s: Sort) => Some((Some(p), s))
      case _ => None
    }

  /** Transparent hnsw rewrite — fires when the sorted table has an
    * hnsw-kind registration (and no ivfflat one matched): the graph probe
    * cannot be expressed as a pruned scan of an index DATASET (it is a
    * traversal), so instead the beam search runs AT PLAN TIME —
    * [[graft.index.NswIndex.search]], honoring the `hnsw.ef_search`
    * session knob through its `ef = -1` default — and its k candidate ids
    * re-enter the plan as an `id IN (…)` filter over the BASE relation;
    * the untouched Sort/Limit above re-rank those rows exactly. Unlike the
    * ivfflat path's driver-side list ranking, a cold beam search IS a
    * plan-time Spark job (memoized per graph generation, k, ef and query
    * vector); k ids is strictly less data than the ivfflat path's pruned
    * partitions. Cosine only (the NSW graph ranks
    * in cosine). A Filter between sort and scan routes the probe through
    * `NswIndex.searchFiltered` (adaptive-ef post-filtering — the graph
    * analog of the ivfflat iterative expansion) with the predicate
    * rebound onto the base table BY NAME; like the ivfflat path, a
    * wrong-name rebinding can only cost recall, never correctness — the
    * original Filter node is re-applied as-is above the candidate ids. */
  private def hnswRewrite(gl: GlobalLimit, ll: LocalLimit,
                          limChild: LogicalPlan, kLimit: Int): Option[LogicalPlan] =
    for {
      (outerProj, srt) <- peelToSort(limChild)
      (metric, dl, dr) <- sortDistance(srt)
      if metric == "cosine"
      (stack, rel) <- unwrap(srt.child)
      filterConds = stack.collect { case f: Filter => f.condition }
      // predicate references must all be the relation's own attributes —
      // the same by-name-rebinding validity guard the ivfflat path uses
      if filterConds.forall(_.references.subsetOf(rel.outputSet))
      (vecAttr, q) <- queryVector(dl, dr)
      if rel.outputSet.contains(vecAttr)
      fsRel <- rel.relation match {
        case r: HadoopFsRelation => Some(r); case _ => None
      }
      entry <- AnnIndexRegistry.lookupAll(
          fsRel.location.rootPaths.map(_.toString).toSeq)
        .filter(_.kind == "hnsw")
        .find(e => e.column.forall(_ == vecAttr.name))
      // the graph stores (vec_id LONG, embedding): the relation must
      // expose the id column the graph was keyed on, AS a long — an
      // In(int-attr, long-literals) predicate would fail type check at
      // execution instead of falling back to exact
      idAttr <- rel.output.find(a =>
        a.name == "vec_id" && a.dataType == org.apache.spark.sql.types.LongType)
      // plan-time probe: ≤ k ids — memoized for bare kNN, adaptive-ef
      // filtered search when a predicate sits between sort and scan. A
      // broken or missing graph must not fail every kNN query inside the
      // optimizer — warn and stay exact.
      ids <- scala.util.Try {
          if (filterConds.isEmpty)
            AnnIndexRegistry.hnswCandidates(spark, entry, q, kLimit)
          else {
            val base = spark.read.parquet(
              fsRel.location.rootPaths.head.toString)
            val byName = base.queryExecution.analyzed.output
              .map(a => a.name -> a).toMap
            val cond = filterConds.map(_.transform {
              case a: AttributeReference => byName(a.name)
            }).reduceLeft[Expression](And(_, _))
            graft.index.NswIndex.searchFiltered(spark, entry.indexPath, q,
                kLimit, base, ColumnBridge.column(cond))
              .collect().map(_.getLong(0)).toSeq
          }
        }.toOption
        .orElse {
          logWarning(s"hnsw graph at ${entry.indexPath} unreadable or " +
            "predicate unmappable; leaving plan unrewritten")
          None
        }
      if ids.nonEmpty
    } yield {
      val cand = Filter(In(idAttr, ids.map(Literal(_)).toIndexedSeq), rel)
      val rebuilt = stack.foldRight(cand: LogicalPlan) {
        (node, child) => node.withNewChildren(Seq(child))
      }
      val newSort = srt.copy(child = rebuilt)
      val newChild = outerProj
        .map(p => p.withNewChildren(Seq(newSort)): LogicalPlan)
        .getOrElse(newSort)
      gl.copy(child = ll.copy(child = newChild))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(IntegerLiteral(kLimit),
        ll @ LocalLimit(IntegerLiteral(_), limChild)) =>
      val rewritten = for {
        (outerProj, srt) <- peelToSort(limChild)
        (metric, dl, dr) <- sortDistance(srt)
        (stack, rel) <- unwrap(srt.child)
        (vecAttr, q) <- queryVector(dl, dr)
        // the sorted distance must be over the RELATION's own vector column
        // (pass-through Projects keep exprIds); a derived/aliased vector is
        // a different quantity than the one the index clusters — skip.
        if rel.outputSet.contains(vecAttr)
        fsRel <- rel.relation match {
          case r: HadoopFsRelation => Some(r); case _ => None
        }
        // among the table's registered indexes, the one matching this
        // sort's opclass metric AND column (pgvector's planner does the
        // same operator-to-opclass matching across multiple indexes).
        // kind filter FIRST: hnsw entries have no lists/centroids layout,
        // and a handle load on one would fail inside the optimizer. The
        // column is the registration's record, else the index meta's (3-arg
        // `register` callers never say — without the meta fallback a table
        // with two vector columns could probe the wrong index's geometry)
        (entry0, h) <- AnnIndexRegistry.lookupAll(
            fsRel.location.rootPaths.map(_.toString).toSeq)
          .iterator
          .filter(e => e.kind == "ivfflat" && e.column.forall(_ == vecAttr.name))
          .map(e => e -> graft.index.IvfIndex.handle(spark, e.indexPath))
          .find { case (e, h) =>
            e.column.orElse(h.vecCol).forall(_ == vecAttr.name) && h.metric == metric
          }
        // pgvector's `SET ivfflat.probes = n` — the session conf overrides
        // the registered default at plan time. A malformed value must not
        // fail every kNN query inside the optimizer: warn and keep the
        // registered default instead.
        entry = spark.conf.getOption("ivfflat.probes")
          .flatMap { p =>
            val parsed = scala.util.Try(p.trim.toInt).toOption.filter(_ > 0)
            if (parsed.isEmpty) logWarning(
              s"ignoring non-positive-integer ivfflat.probes value '$p'; " +
                s"using registered nprobe=${entry0.nprobe}")
            parsed
          }
          .map(n => entry0.copy(nprobe = n)).getOrElse(entry0)
        // a predicate between sort and scan switches to the iterative
        // expand-until-k probe (pgvector iterative_scan); bare kNN keeps
        // the fixed-nprobe probe. The expansion's survivor counts rebind
        // the predicate onto the index dataset BY NAME, which is only
        // valid when every referenced attribute is the relation's own —
        // a Project-derived alias sharing a base column's name would
        // count survivors of the WRONG predicate (the rewrite itself
        // stays correct either way: the Filter node is re-applied as-is)
        filterConds = stack.collect { case f: Filter => f.condition }
        lists = if (filterConds.nonEmpty &&
            filterConds.forall(_.references.subsetOf(rel.outputSet)))
            AnnIndexRegistry.iterativeProbedLists(
              spark, entry, h, q, kLimit, filterConds)
          else h.nearestLists(q, entry.nprobe)
        // the generation's cached schema: no inference job per plan
        idxPlan = graft.index.IvfIndex.pruneLists(h.lists(spark), lists)
          .queryExecution.analyzed
        byName = idxPlan.output.map(a => a.name -> a).toMap
        // schema drift (index built before a base-table column was added):
        // fall back to the exact scan instead of failing the query.
        if {
          val missing = rel.output.map(_.name).filterNot(byName.contains)
          if (missing.nonEmpty) logWarning(
            s"ANN index at ${entry.indexPath} lacks columns $missing of " +
              s"${fsRel.location.rootPaths.headOption.getOrElse("?")}; " +
              "leaving plan unrewritten")
          missing.isEmpty
        }
      } yield {
        // substitute the scan, preserving the original attribute ids the
        // enclosing Sort/Limit/Project/Filter stack still references
        val aligned = Project(rel.output.map { o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)
        }, idxPlan)
        val rebuilt = stack.foldRight(aligned: LogicalPlan) {
          (node, child) => node.withNewChildren(Seq(child))
        }
        val newSort = srt.copy(child = rebuilt)
        val newChild = outerProj
          .map(p => p.withNewChildren(Seq(newSort)): LogicalPlan)
          .getOrElse(newSort)
        gl.copy(child = ll.copy(child = newChild))
      }
      rewritten.orElse(hnswRewrite(gl, ll, limChild, kLimit)).getOrElse(gl)
  }
}

/** `spark.sql.extensions` entry point: functions + ANN rewrite. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_distance"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[CosineDistance].getName, "cosine_distance"),
        (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          CosineDistance(es(0), es(1))))
    e.injectOptimizerRule(session => AnnRewriteRule(session))
    e.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
  }
}

/** Runtime enablement for an existing session. */
object Graft extends org.apache.spark.internal.Logging {
  def enable(spark: SparkSession): Unit = {
    graft.functions.registerAll(spark)
    val already = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[AnnRewriteRule])
    if (!already) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnRewriteRule(spark)
    }
  }

  /** Persist every index registration (+ DDL names) to `path` — pgvector
    * indexes survive restarts because Postgres catalogs them; this is the
    * engine's explicit analog, covering ALL index kinds: ANN registrations
    * (ivfflat + hnsw, with their kind), the BM25 lexical sidecars, and the
    * sparse inverted indexes (both of which were previously per-session
    * memos that a fresh session silently rebuilt). The index DATA already
    * lives on disk; only the registrations are session state worth saving.
    * `fingerprint` carries the corpus-mtime staleness token for the
    * bm25/sparse rows so a reloaded registration still rebuilds when its
    * backing table changed. */
  def saveCatalog(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    // keyed by indexPath ALONE: the registry normalizes table paths
    // ("file:" stripped) while the DDL catalog stores them raw — a
    // (table, index) join key would silently drop every DDL-created name
    val named = VectorIndexCatalog.all.map { case (n, _, i) => i -> n }.toMap
    val annRows = AnnIndexRegistry.all.map { case (tablePath, e) =>
      (named.get(e.indexPath).orNull,
        tablePath, e.indexPath, e.nprobe, e.column.orNull, e.kind, 0L)
    }
    val bm25Rows = graft.operators.TextAnalysis.bm25Registrations.map {
      case (sfDir, fp, idx) => (null: String, sfDir, idx, 0, null: String, "bm25", fp)
    }
    val sparseRows = graft.operators.SimilarityQueries.sparseRegistrations.map {
      case (sfDir, fp, idx) => (null: String, sfDir, idx, 0, null: String, "sparse", fp)
    }
    (annRows ++ bm25Rows ++ sparseRows)
      .toDF("index_name", "table_path", "index_path", "nprobe", "vec_col",
        "kind", "fingerprint")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Re-register everything a previous session [[saveCatalog]]'d. ADDS to
    * the live registry (same merge semantics as register); missing index
    * directories are skipped with a warning — a stale catalog must not
    * poison the rewrite with dangling paths. bm25/sparse rows re-wire the
    * operator-level caches so a fresh session serves `bm25_topk` /
    * `sparse_knn_indexed` without a rebuild (mtime staleness still
    * honored: a changed corpus fingerprint rebuilds on first use). */
  def loadCatalog(spark: SparkSession, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val df = spark.read.parquet(path)
    // catalogs written before kind/fingerprint existed only ever held
    // ivfflat registrations — read them as such instead of failing the
    // whole load on the missing columns
    val hasKind = df.columns.contains("kind")
    df.collect().foreach { r =>
      val indexPath = r.getAs[String]("index_path")
      val p = new org.apache.hadoop.fs.Path(indexPath)
      if (p.getFileSystem(conf).exists(p)) {
        val kind = if (hasKind) r.getAs[String]("kind") else "ivfflat"
        val tablePath = r.getAs[String]("table_path")
        kind match {
          case "bm25" =>
            graft.operators.TextAnalysis.restoreBm25Registration(
              tablePath, r.getAs[Long]("fingerprint"), indexPath)
          case "sparse" =>
            graft.operators.SimilarityQueries.restoreSparseRegistration(
              tablePath, r.getAs[Long]("fingerprint"), indexPath)
          case _ =>
            AnnIndexRegistry.register(tablePath, indexPath,
              r.getAs[Int]("nprobe"), Option(r.getAs[String]("vec_col")), kind)
            Option(r.getAs[String]("index_name")).foreach(
              VectorIndexCatalog.put(_, tablePath, indexPath))
        }
      } else {
        logWarning(s"skipping cataloged index with missing data dir: $indexPath")
      }
    }
  }
}
