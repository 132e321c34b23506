package graft.plans

import graft.vector.{CosineSimilarity, HnswIndex, IvfIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}

import scala.collection.concurrent.TrieMap

/** Registry of stored ANN indexes keyed by the BASE TABLE's storage path.
  *
  * The reference attaches its HNSW index to the table itself: a plain
  * `ORDER BY embedding <=> :q LIMIT k` query uses the index with no query
  * change (reference src/shared/db/database.py:201-210 — the index is
  * created once and the planner picks it up). This catalog plus
  * [[AnnIndexRule]] reproduces that contract on Spark: register a stored
  * index against the table path once, and every naturally-written
  * brute-force top-k over that table plans into the index probe.
  *
  * Keys are FULLY-QUALIFIED filesystem URIs (the bare-local path a user
  * wrote and the `file:` root the file index reports both qualify to the
  * same key, but `s3a://bucketA/t` and `hdfs://nn/t` stay distinct — a
  * scheme-stripping normalization would let a lookup silently serve rows
  * from a different table's index).
  */
object AnnCatalog {

  sealed trait Entry {
    def embCol: String
    def idCol: String
  }

  /** A stored [[IvfIndex]] (`writeIndex` layout: parquet partitioned by
    * `centroid_id`). Probes read ~nProbe/centroids of the stored bytes
    * via partition pruning. */
  final case class IvfEntry(indexPath: String, embCol: String, idCol: String,
                            centroids: Array[(Int, Array[Float])],
                            nProbe: Int) extends Entry

  /** A stored [[HnswIndex]] graph index (`writeGraphIndex` layout: one
    * serialized sub-graph per partition). Probes skip the O(n·log n)
    * build entirely. */
  final case class HnswEntry(indexPath: String, embCol: String, idCol: String,
                             params: HnswIndex.Params) extends Entry

  /** A stored [[graft.vector.RoutedHnsw]] index (`writeRoutedIndex`
    * layout: parquet partitioned by `centroid_id`, one serialized HNSW
    * sub-graph per cell/salt). Probes route to `nProbe` cells
    * (partition-pruned read like IVF) and graph-walk within them. */
  final case class RoutedHnswEntry(indexPath: String, embCol: String,
                                   idCol: String,
                                   centroids: Array[(Int, Array[Float])],
                                   nProbe: Int,
                                   params: HnswIndex.Params) extends Entry

  private val entries = TrieMap.empty[String, Entry]

  private def norm(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val hadoopConf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    try path.getFileSystem(hadoopConf).makeQualified(path).toString
    catch {
      // scheme without a loadable FS impl: keep the full URI (scheme +
      // authority intact) so distinct stores still key distinctly
      case scala.util.control.NonFatal(_) => path.toUri.toString
    }
  }

  def register(tablePath: String, entry: Entry): Unit =
    entries.put(norm(tablePath), entry)

  def unregister(tablePath: String): Unit = entries.remove(norm(tablePath))

  def clear(): Unit = entries.clear()

  def isEmpty: Boolean = entries.isEmpty

  /** Current registrations, keyed by normalized table path (the
    * `GRAFT SHOW ANN INDEXES` listing). */
  def list: Seq[(String, Entry)] = entries.toSeq.sortBy(_._1)

  /** The entry for a scan, only when the scan reads exactly one root. */
  def lookup(rootPaths: Seq[String]): Option[Entry] =
    if (rootPaths.length != 1) None else entries.get(norm(rootPaths.head))

  // -------------------------------------------------- at-rest catalog
  //
  // The reference's index attachment is persistent (CREATE INDEX once,
  // every later connection's planner uses it). The in-memory map above
  // is session state, so the registration is ALSO persisted as a small
  // descriptor INSIDE the index directory — the index is self-
  // describing, and a fresh session re-attaches with one call:
  //   AnnCatalog.registerAndPersist(tablePath, entry)   // build side
  //   AnnCatalog.attach(tablePath, indexPath)           // serve side
  // Hadoop FS API throughout, so the descriptor lives wherever the
  // index lives (HDFS/S3/local alike).

  private val DescriptorFile = "_graft_ann"
  private val Magic = "GANN"

  def registerAndPersist(tablePath: String, entry: Entry): Unit = {
    register(tablePath, entry)
    persistDescriptor(entry)
  }

  /** Write (or refresh) the at-rest descriptor inside the entry's index
    * directory — called by [[registerAndPersist]] and by index
    * maintenance after a re-cluster changes the centroids. */
  def persistDescriptor(entry: Entry): Unit = {
    val indexPath = entry match {
      case IvfEntry(p, _, _, _, _) => p
      case HnswEntry(p, _, _, _) => p
      case RoutedHnswEntry(p, _, _, _, _, _) => p
    }
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(indexPath)
    val fs = dir.getFileSystem(conf)
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(dir, DescriptorFile), true))
    try {
      out.writeBytes(Magic)
      entry match {
        case IvfEntry(_, embCol, idCol, cs, nProbe) =>
          out.writeByte(1)
          out.writeUTF(embCol); out.writeUTF(idCol); out.writeInt(nProbe)
          out.writeInt(cs.length)
          cs.foreach { case (cid, c) =>
            out.writeInt(cid); out.writeInt(c.length)
            c.foreach(out.writeFloat)
          }
        case HnswEntry(_, embCol, idCol, params) =>
          out.writeByte(2)
          out.writeUTF(embCol); out.writeUTF(idCol)
          out.writeInt(params.m); out.writeInt(params.efConstruction)
          out.writeInt(params.efSearch)
        case RoutedHnswEntry(_, embCol, idCol, cs, nProbe, params) =>
          out.writeByte(3)
          out.writeUTF(embCol); out.writeUTF(idCol); out.writeInt(nProbe)
          out.writeInt(params.m); out.writeInt(params.efConstruction)
          out.writeInt(params.efSearch)
          out.writeInt(cs.length)
          cs.foreach { case (cid, c) =>
            out.writeInt(cid); out.writeInt(c.length)
            c.foreach(out.writeFloat)
          }
      }
    } finally out.close()
  }

  /** Read the descriptor persisted inside an index directory, without
    * touching the in-memory catalog. */
  def readDescriptor(indexPath: String): Entry = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(indexPath, DescriptorFile)
    val fs = p.getFileSystem(conf)
    val in = new java.io.DataInputStream(fs.open(p))
    try {
      val magic = new Array[Byte](4); in.readFully(magic)
      require(new String(magic, "US-ASCII") == Magic,
        s"not a graft ANN index descriptor: $p")
      in.readByte() match {
        case 1 =>
          val embCol = in.readUTF(); val idCol = in.readUTF()
          val nProbe = in.readInt()
          val cs = Array.fill(in.readInt()) {
            val cid = in.readInt()
            (cid, Array.fill(in.readInt())(in.readFloat()))
          }
          IvfEntry(indexPath, embCol, idCol, cs, nProbe)
        case 2 =>
          val embCol = in.readUTF(); val idCol = in.readUTF()
          HnswEntry(indexPath, embCol, idCol, HnswIndex.Params(
            in.readInt(), in.readInt(), in.readInt()))
        case 3 =>
          val embCol = in.readUTF(); val idCol = in.readUTF()
          val nProbe = in.readInt()
          val params = HnswIndex.Params(in.readInt(), in.readInt(), in.readInt())
          val cs = Array.fill(in.readInt()) {
            val cid = in.readInt()
            (cid, Array.fill(in.readInt())(in.readFloat()))
          }
          RoutedHnswEntry(indexPath, embCol, idCol, cs, nProbe, params)
        case other => sys.error(s"unknown ANN descriptor kind $other in $p")
      }
    } finally in.close()
  }

  /** Re-attach a persisted index to `tablePath` in this session by
    * reading the descriptor [[registerAndPersist]] left inside the
    * index directory. */
  def attach(tablePath: String, indexPath: String): Entry = {
    val entry = readDescriptor(indexPath)
    register(tablePath, entry)
    entry
  }
}

/** Optimizer rule: transparent ANN index selection.
  *
  * Rewrites the canonical brute-force vector top-k plan
  *
  * {{{
  *   GlobalLimit k
  *   +- LocalLimit k
  *      +- Sort [score DESC (, id ASC)], global
  *         +- Project [id, cosine_sim(emb, <literal query>) AS score]
  *            +- Relation parquet  <registered table>
  * }}}
  *
  * into a probe of the stored IVF or HNSW index registered for that
  * table in [[AnnCatalog]] — the Spark analogue of Postgres planning
  * `ORDER BY embedding <=> q LIMIT k` onto its HNSW index with no query
  * change (reference database.py:201-210). Both the DataFrame form
  * (`VectorFunctions.topK`) and the SQL form
  * (`SELECT id, cosine_sim(emb, q) AS s FROM t ORDER BY s DESC LIMIT k`)
  * produce this plan shape, so both are rewritten.
  *
  * Deliberately conservative — anything NOT matched falls back to the
  * (always-correct) brute-force scan:
  *  - the scan must be a single-root parquet relation under
  *    column-pruning Projects, with at most deterministic,
  *    subquery-free Filters (the pgvector `WHERE pred ORDER BY
  *    embedding <=> q LIMIT k` serving shape);
  *  - the query vector must be a literal `array<float>`;
  *  - the projection may carry any base-table payload columns next to
  *    the score (the reference serves full EventDTO rows,
  *    cache_manager/service.py:48-60);
  *  - the sort must lead with score DESC (similarity) or ASC
  *    (distance), NULLS LAST either way; one optional id ASC tiebreak
  *    is allowed (the convention `topK` emits).
  *
  * Plain `(id, score)` top-k with no predicate splices the probe
  * directly (re-aliased to the original exprIds). A predicate and/or
  * payload columns plan as: over-fetched probe (k' = k × expansion)
  * → broadcast join-back on id to the base relation (which reads ONLY
  * id + payload + predicate columns — never the wide embedding column)
  * → re-filter → top-k, wrapped in [[AnnFallbackNode]] so execution
  * degrades to the brute plan when fewer than k candidates survive —
  * exact results at index speed for selective predicates, exact
  * results at scan speed for over-selective ones.
  *
  * A size-based cost gate mirrors the Postgres planner's index-vs-scan
  * choice: tables smaller than `spark.graft.ann.minTableBytes`
  * (default 1 GiB) keep the brute-force scan. Calibrated with
  * [[graft.tools.AbBench]] interleaved A/B on this machine: the probe
  * path has a ~0.4 s multi-job floor (probe + broadcast + join-back +
  * bounded collect) while a codegen cosine scan + TakeOrdered covers a
  * 100 MB table in ~0.14 s — brute force wins until roughly the GiB
  * mark locally (earlier on cold remote storage, but the local
  * measurement is the one we can defend). Real corpora at the 100 TB
  * design point are far above the threshold, so the index engages
  * exactly where it pays.
  *
  * Runs once per query, after operator optimisation
  * ([[graft.GraftExtensions]] injects it as a pre-CBO rule). Within one
  * pass, probes contain a Filter or Join over their relations so they
  * never re-match, and the embedded brute branch carries a skip tag.
  */
class AnnIndexRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (AnnCatalog.isEmpty) plan
    else plan.transformUp {
      // PushProjectionThroughLimit may have moved a post-limit
      // projection (e.g. score rounding) between the limit and the
      // sort — accept one deterministic Project there and re-apply it
      // on top of the probe
      case gl @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(IntegerLiteral(k2), body))
          if k == k2 && k > 0 &&
            gl.getTagValue(AnnIndexRule.noRewriteTag).isEmpty =>
        (body match {
          case s @ Sort(_, true, _, _) => Some((None: Option[Project], s))
          case p @ Project(pl, s @ Sort(_, true, _, _))
              if pl.forall(_.deterministic) => Some((Some(p), s))
          case _ => None
        }).flatMap { case (post, sort) =>
          rewrite(k, sort.order, sort.child).map { probed =>
            post.fold(probed: LogicalPlan)(p => Project(p.projectList, probed))
          }
        }.getOrElse(gl)

      // the batched lateral form: top-k PER QUERY ROW, written as
      // row_number() over (partition by qid order by cosine desc)
      // filtered to rn <= k over a cross join of queries × base — the
      // q78 hard-negatives shape. One stored-graph probe pass answers
      // every query.
      case f @ Filter(cond, w: Window)
          if f.getTagValue(AnnIndexRule.noRewriteTag).isEmpty =>
        rewriteMulti(cond, w).getOrElse(f)
    }

  /** Walk through attribute-only Projects and deterministic Filters to
    * the underlying V1 file relation; None if anything else (Join,
    * Aggregate, …) intervenes. Collected filter conditions AND together
    * — they become the post-probe re-filter of the join-back plan. */
  private def stripToRelation(plan: LogicalPlan)
      : Option[(LogicalRelation, Option[Expression])] = plan match {
    case lr: LogicalRelation => Some((lr, None))
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripToRelation(c)
    case Filter(cond, c)
        if cond.deterministic &&
          cond.find(_.isInstanceOf[PlanExpression[_]]).isEmpty =>
      stripToRelation(c).map { case (lr, p) =>
        (lr, Some(p.fold(cond)(And(cond, _))))
      }
    case _ => None
  }

  private def rewrite(k: Int, orders: Seq[SortOrder],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val (projList, below) = child match {
      case Project(pl, c) => (pl, c)
      case _ => return None
    }
    val (lr, pred) = stripToRelation(below).getOrElse(return None)
    val fs = lr.relation match {
      case f: HadoopFsRelation => f
      case _ => return None
    }
    val entry = AnnCatalog.lookup(fs.location.rootPaths.map(_.toString))
      .getOrElse(return None)

    // cost gate (Postgres planner analogue): below the size threshold a
    // single scan beats the probe's fixed job overheads — keep brute
    // force even though an index is registered
    val minBytes = java.lang.Long.parseLong(
      conf.getConfString("spark.graft.ann.minTableBytes",
        (1L << 30).toString))
    if (fs.sizeInBytes < minBytes) {
      logInfo(s"AnnIndexRule: table ${fs.location.rootPaths.head} " +
        s"(${fs.sizeInBytes} B) below spark.graft.ann.minTableBytes=" +
        s"$minBytes — keeping brute-force scan")
      return None
    }

    // the projection: one score alias over the registered embedding
    // column, everything else base-table attributes (payload). Two
    // score shapes are recognized: cosine SIMILARITY (sorted DESC)
    // and cosine DISTANCE `1.0 - cosine_sim` — the literal pgvector
    // `embedding <=> q` shape the reference's queries sort ASC
    // (database.py:201-210; VectorFunctions.cosine_dist emits it).
    def cosOf(e: Expression): Option[(Array[Float], AttributeReference)] =
      e match {
        case c: CosineSimilarity => (c.left, c.right) match {
          case (a: AttributeReference, Literal(v: ArrayData, ArrayType(FloatType, _))) =>
            Some((v.toFloatArray(), a))
          case (Literal(v: ArrayData, ArrayType(FloatType, _)), a: AttributeReference) =>
            Some((v.toFloatArray(), a))
          case _ => None
        }
        case _ => None
      }
    val (scoreAlias, queryVec, embAttr, isDistance) = projList.collectFirst {
      case al @ Alias(child, _) if cosOf(child).isDefined =>
        val (v, a) = cosOf(child).get
        (al, v, a, false)
      case al @ Alias(Subtract(Literal(one, _), child, _), _)
          if one == 1.0 && cosOf(child).isDefined =>
        val (v, a) = cosOf(child).get
        (al, v, a, true)
    }.getOrElse(return None)
    if (embAttr.name != entry.embCol || !lr.outputSet.contains(embAttr))
      return None
    // everything else must be a base-table column the join-back can
    // re-attach
    val payload = projList.filterNot(_.exprId == scoreAlias.exprId).map {
      case a: AttributeReference if lr.outputSet.contains(a) => a
      case _ => return None
    }
    val idAttrOpt = payload.find(_.name == entry.idCol)

    // sort: similarity DESC / distance ASC first, at most one id ASC
    // tiebreak after. Either form is only taken when a null score
    // cannot lead the output: the probe never emits null-embedding
    // rows, so a NULLS FIRST ordering (explicit desc_nulls_first, or
    // the plain-ASC default) would make brute force lead with rows the
    // probe cannot produce. Both branches therefore require NullsLast
    // (the DESC default) or a non-nullable embedding column. Residual
    // deviation, shared with pgvector (whose index scan never emits
    // NULL-vector rows): if the table has fewer than k non-null
    // embeddings the probe returns fewer rows than brute force, which
    // pads with null-score rows.
    val scoreLeads = orders.headOption.exists {
      case SortOrder(r: AttributeReference, Descending, no, _) if !isDistance =>
        r.exprId == scoreAlias.exprId &&
          (no == NullsLast || !embAttr.nullable)
      case SortOrder(r: AttributeReference, Ascending, no, _) if isDistance =>
        r.exprId == scoreAlias.exprId &&
          (no == NullsLast || !embAttr.nullable)
      case _ => false
    }
    val tieOk = orders.length match {
      case 1 => true
      case 2 => idAttrOpt.exists { idAttr =>
        orders(1) match {
          case SortOrder(r: AttributeReference, Ascending, _, _) =>
            r.exprId == idAttr.exprId
          case _ => false
        }
      }
      case _ => false
    }
    if (!scoreLeads || !tieOk) return None

    // bare (id, score) with no predicate → direct splice; anything else
    // (payload columns, predicate) → join-back + runtime fallback
    val simple = pred.isEmpty && projList.length == 2 && idAttrOpt.isDefined
    // post-filter over-fetch: ask the index for k' = k × expansion
    // candidates so a selective predicate still leaves k survivors
    val kProbe =
      if (pred.isEmpty) k
      else {
        val factor = math.max(1, Integer.parseInt(
          conf.getConfString("spark.graft.ann.overfetch", "4")))
        val cap = math.max(k, Integer.parseInt(
          conf.getConfString("spark.graft.ann.maxOverfetch", "100000")))
        math.min(math.max(k.toLong * factor, k.toLong), cap.toLong).toInt
      }

    // a stale registration (index files moved/deleted) must degrade to
    // the always-correct brute-force scan, not fail the user's query
    // from inside the optimizer
    val analyzed = try {
      val spark = SparkSession.active
      val probe = entry match {
        case AnnCatalog.IvfEntry(path, embCol, idCol, cs, nProbe) =>
          IvfIndex.search(spark.read.parquet(path), embCol, idCol, cs,
            queryVec, kProbe, nProbe)
        case AnnCatalog.HnswEntry(path, _, idCol, params) =>
          HnswIndex.searchGraphIndex(spark, path, idCol,
            Seq(0L -> queryVec), kProbe, params).drop("query_id")
        case AnnCatalog.RoutedHnswEntry(path, _, idCol, cs, nProbe, params) =>
          graft.vector.RoutedHnsw.search(spark, path, idCol, cs,
            queryVec, kProbe, nProbe, params)
      }
      probe.queryExecution.analyzed
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"AnnIndexRule: stored index for " +
          s"${fs.location.rootPaths.head} unusable (${e.getMessage}); " +
          "falling back to brute-force scan")
        return None
    }
    val pId = analyzed.output.head
    val pScore = analyzed.output(1)
    // the probe emits SIMILARITY; the distance form re-derives 1 - score
    // (probe order by similarity desc == distance asc, so ordering holds)
    val scoreExpr: Expression =
      if (isDistance) Subtract(Literal(1.0), pScore) else pScore

    if (simple) {
      // splice under aliases carrying the ORIGINAL exprIds so the parent
      // plan resolves against the probe unchanged. Output = the
      // sort-child Project's (id, score) attrs, in order — the caller
      // re-applies any post-limit projection on top.
      def as(src: Expression, target: Attribute): NamedExpression = {
        val cast: Expression =
          if (src.dataType == target.dataType) src else Cast(src, target.dataType)
        Alias(cast, target.name)(exprId = target.exprId,
          qualifier = target.qualifier)
      }
      val outProj = projList.map(_.toAttribute).map { a =>
        if (a.exprId == scoreAlias.exprId) as(scoreExpr, a)
        else as(pId, a)
      }
      logInfo(s"AnnIndexRule: rewrote brute-force top-$k over " +
        s"${fs.location.rootPaths.head} into ${entry.getClass.getSimpleName} probe")
      Some(Project(outProj, analyzed))
    } else {
      // ---- join-back plan ----------------------------------------
      // base side reads ONLY id + payload + predicate columns (explicit
      // pruning Project directly over the relation so FileSourceStrategy
      // never materializes the wide embedding column), pre-filtered by
      // the predicate; probe side is ≤ k' rows and broadcast. The join
      // recovers payload and re-checks the predicate; the original sort
      // + limit then run over ≤ k' rows.
      val lrId = lr.output.find(_.name == entry.idCol).getOrElse(return None)
      val needed = {
        val want = (payload ++ pred.toSeq.flatMap(_.references) :+ lrId)
          .map(_.exprId).toSet
        lr.output.filter(a => want.contains(a.exprId))
      }
      val pruned = Project(needed, lr)
      val filtered = pred.map(Filter(_, pruned)).getOrElse(pruned)
      val joinKey: Expression =
        if (lrId.dataType == pId.dataType) lrId else Cast(lrId, pId.dataType)
      val joined = Join(filtered, analyzed, Inner,
        Some(EqualTo(joinKey, pId)),
        JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
      val newProjList = projList.map {
        case al: Alias if al.exprId == scoreAlias.exprId =>
          val cast: Expression =
            if (scoreExpr.dataType == al.dataType) scoreExpr
            else Cast(scoreExpr, al.dataType)
          Alias(cast, al.name)(exprId = al.exprId, qualifier = al.qualifier)
        case other => other // payload attr, straight from the base side
      }
      val probeBranch = GlobalLimit(Literal(k), LocalLimit(Literal(k),
        Sort(orders, global = true, Project(newProjList, joined))))
      // the always-correct alternative: the ORIGINAL sort subtree under
      // a fresh limit (the post-projection, if any, is re-applied by the
      // caller on top of the fallback node). Tagged so the fixed-point
      // re-run of this rule doesn't rewrite it again.
      val brute = GlobalLimit(Literal(k), LocalLimit(Literal(k),
        Sort(orders, global = true, child)))
      brute.setTagValue(AnnIndexRule.noRewriteTag, ())
      logInfo(s"AnnIndexRule: rewrote filtered/payload top-$k over " +
        s"${fs.location.rootPaths.head} into ${entry.getClass.getSimpleName} " +
        s"probe (k'=$kProbe) + join-back with runtime brute fallback")
      Some(AnnFallbackNode(probeBranch, brute, k))
    }
  }

  /** Rewrite the multi-query (lateral) brute-force shape
    *
    * {{{
    *   Filter (rn <= k)
    *   +- Window [row_number() over (partition by qid
    *                                 order by score DESC (, id)) AS rn]
    *      +- [WindowGroupLimit]                 (InferWindowGroupLimit)
    *         +- Project [qid, id, cosine_sim(emb, qemb) AS score]
    *            +- Join Cross/Inner (no condition)
    *               :- <queries plan>            (qid, qemb, …)
    *               +- Relation <registered>     (either side)
    * }}}
    *
    * into ONE batched probe of the stored HNSW graph index
    * ([[HnswIndex.searchGraphIndexRanked]]): every partition's sub-graph
    * is deserialized once and answers every query, instead of the cross
    * join's |queries| × |base| cosine evaluations. The query side is
    * collected at plan time (bounded by
    * `spark.graft.ann.maxProbeQueries`, default 10 000 — pgvector's
    * lateral form is likewise a per-query nested index scan); a larger
    * or null-bearing query side keeps the brute plan. IVF entries are
    * not matched (cell choice is per-query; the window plan is already
    * the right distributed shape there).
    */
  private def rewriteMulti(cond: Expression, w: Window): Option[LogicalPlan] = {
    // exactly one window expression: a row_number rank column
    val rnAlias = w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(RowNumber(), _), _)) => al
      case _ => return None
    }
    // split the filter: exactly one rank conjunct on the rn attribute
    // gives k; the residual conjuncts (operators composed ABOVE the
    // lateral probe push their implied predicates — e.g. a join-back on
    // the id contributes isnotnull(id) — the q202 serving shape) are
    // re-applied as a Filter over the probe's output, which carries
    // every attribute the window's Filter carried
    val (rankConj, residual) = splitConjunctivePredicates(cond).partition {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(_)) =>
        a.exprId == rnAlias.exprId
      case LessThan(a: AttributeReference, IntegerLiteral(_)) =>
        a.exprId == rnAlias.exprId
      case EqualTo(a: AttributeReference, IntegerLiteral(n)) =>
        n == 1 && a.exprId == rnAlias.exprId
      case _ => false
    }
    val k = rankConj match {
      case Seq(LessThanOrEqual(_, IntegerLiteral(n))) => n
      case Seq(LessThan(_, IntegerLiteral(n))) => n - 1
      case Seq(EqualTo(_, IntegerLiteral(_))) => 1
      case _ => return None
    }
    if (k <= 0) return None
    if (!residual.forall(r => r.deterministic &&
        r.find(_.isInstanceOf[PlanExpression[_]]).isEmpty)) return None
    val qidAttr = w.partitionSpec match {
      case Seq(a: AttributeReference) => a
      case _ => return None
    }
    val below = w.child match {
      case wgl: WindowGroupLimit if wgl.rankLikeFunction.isInstanceOf[RowNumber] =>
        wgl.child
      case other => other
    }
    val (projList, join) = below match {
      case Project(pl, j: Join) => (pl, j)
      case _ => return None
    }
    if (join.condition.nonEmpty) return None
    join.joinType match {
      case org.apache.spark.sql.catalyst.plans.Cross | Inner => ()
      case _ => return None
    }
    // which join side is the registered base relation? (bare — a
    // predicate over the base is not matched in the lateral form)
    val resolved = Seq(join.left, join.right).map { s =>
      stripToRelation(s) match {
        case Some((lr, None)) => lr.relation match {
          case f: HadoopFsRelation =>
            AnnCatalog.lookup(f.location.rootPaths.map(_.toString))
              .map(e => (lr, f, e))
          case _ => None
        }
        case _ => None
      }
    }
    val (lr, fs, entry, queriesPlan) = (resolved.head, resolved(1)) match {
      case (Some((l, f, e)), None) => (l, f, e, join.right)
      case (None, Some((l, f, e))) => (l, f, e, join.left)
      case _ => return None
    }
    // graph-backed entries only: each sub-graph answers every query in
    // one deserialization pass (routed entries additionally prune to
    // the union of the queries' routed cells). IVF entries are not
    // matched — cell choice is per-query and the scan within a cell is
    // exhaustive, so the window plan is already the right shape there.
    val hnsw = entry match {
      case h: AnnCatalog.HnswEntry => h
      case r: AnnCatalog.RoutedHnswEntry => r
      case _ => return None
    }
    val minBytes = java.lang.Long.parseLong(
      conf.getConfString("spark.graft.ann.minTableBytes",
        (1L << 30).toString))
    if (fs.sizeInBytes < minBytes) return None

    // score = cosine(base emb, query emb), either argument order
    val scoreAlias = projList.collectFirst {
      case al @ Alias(_: CosineSimilarity, _) => al
    }.getOrElse(return None)
    val (embAttr, qembAttr) = scoreAlias.child match {
      case CosineSimilarity(a: AttributeReference, b: AttributeReference) =>
        if (lr.outputSet.contains(a) && queriesPlan.outputSet.contains(b)) (a, b)
        else if (lr.outputSet.contains(b) && queriesPlan.outputSet.contains(a)) (b, a)
        else return None
      case _ => return None
    }
    if (embAttr.name != hnsw.embCol) return None
    qembAttr.dataType match {
      case ArrayType(FloatType, _) => ()
      case _ => return None
    }
    val idAttr = projList.collectFirst {
      case a: AttributeReference
          if lr.outputSet.contains(a) && a.name == hnsw.idCol => a
    }.getOrElse(return None)
    // projection carries exactly {qid, base id, score}
    val okProj = projList.forall(e => e.exprId == scoreAlias.exprId ||
      e.exprId == idAttr.exprId || e.exprId == qidAttr.exprId)
    if (!okProj || !queriesPlan.outputSet.contains(qidAttr)) return None
    qidAttr.dataType match {
      case LongType | IntegerType => ()
      case _ => return None
    }
    // window order: score DESC NULLS LAST (+ optional base-id tiebreak)
    val orderOk = w.orderSpec.headOption.exists {
      case SortOrder(r: AttributeReference, Descending, no, _) =>
        r.exprId == scoreAlias.exprId && (no == NullsLast || !embAttr.nullable)
      case _ => false
    } && (w.orderSpec.length match {
      case 1 => true
      case 2 => w.orderSpec(1) match {
        case SortOrder(r: AttributeReference, Ascending, _, _) =>
          r.exprId == idAttr.exprId
        case _ => false
      }
      case _ => false
    })
    if (!orderOk) return None

    val maxQ = Integer.parseInt(
      conf.getConfString("spark.graft.ann.maxProbeQueries", "10000"))
    val analyzed = try {
      val spark = SparkSession.active
      val qDf = org.apache.spark.sql.graftbridge.PlanBridge.dataFrame(spark,
        Project(Seq(qidAttr, qembAttr), queriesPlan))
      val rows = qDf.limit(maxQ + 1).collect()
      if (rows.length > maxQ || rows.isEmpty) return None
      val queries: Seq[(Long, Array[Float])] = rows.toSeq.map { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) return None
        val qid = qidAttr.dataType match {
          case LongType => r.getLong(0)
          case _ => r.getInt(0).toLong
        }
        qid -> r.getSeq[Float](1).toArray
      }
      // duplicate qids would merge two query groups into one top-k
      if (queries.map(_._1).distinct.length != queries.length) return None
      (hnsw match {
        case h: AnnCatalog.HnswEntry =>
          HnswIndex.searchGraphIndexRanked(spark, h.indexPath, h.idCol,
            queries, k, h.params)
        case r: AnnCatalog.RoutedHnswEntry =>
          graft.vector.RoutedHnsw.searchMany(spark, r.indexPath, r.idCol,
            r.centroids, queries, k, r.nProbe, r.params, rankCol = Some("rn"))
        case _ => return None // IVF screened out above; keeps the match total
      }).queryExecution.analyzed
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"AnnIndexRule: batched probe for " +
          s"${fs.location.rootPaths.head} unusable (${e.getMessage}); " +
          "keeping brute-force window plan")
        return None
    }
    val pOut = analyzed.output // (query_id, id, score, rn)
    def as2(src: Expression, target: Attribute): NamedExpression = {
      val cast: Expression =
        if (src.dataType == target.dataType) src else Cast(src, target.dataType)
      Alias(cast, target.name)(exprId = target.exprId,
        qualifier = target.qualifier)
    }
    // Filter output = window child's projection ++ the rank attr
    val outProj = (projList.map(_.toAttribute) :+ rnAlias.toAttribute).map { a =>
      if (a.exprId == qidAttr.exprId) as2(pOut.head, a)
      else if (a.exprId == idAttr.exprId) as2(pOut(1), a)
      else if (a.exprId == scoreAlias.exprId) as2(pOut(2), a)
      else as2(pOut(3), a)
    }
    logInfo(s"AnnIndexRule: rewrote per-query top-$k window over " +
      s"${fs.location.rootPaths.head} into one batched HNSW probe")
    val probed = Project(outProj, analyzed)
    Some(if (residual.isEmpty) probed
         else Filter(residual.reduce(And), probed))
  }
}

object AnnIndexRule {

  /** Skip marker for the brute branch embedded in an [[AnnFallbackNode]]
    * — it IS the shape this rule matches, by construction. */
  private[plans] val noRewriteTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.ann.noRewrite")
}
