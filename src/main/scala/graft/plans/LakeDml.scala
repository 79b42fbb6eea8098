package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, ExprId, Expression, PlanExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, input_file_name, lit, max, when}
import org.apache.spark.sql.graft.ColumnBridge

import graft.sources.{GraftLakeCatalogTable, GraftLakeSource, LakeIo, LakeTable}

/** SQL `MERGE INTO` / `UPDATE` for graftlake catalog tables.
  *
  * Spark's own row-level-operation rewrite (`RewriteMergeIntoTable` /
  * `RewriteUpdateTable`) serves tables implementing the full
  * SupportsRowLevelOperations + executor-side V2 write stack; for every
  * other V2 table the analyzer resolves the command and the PLANNER
  * refuses it ("does not support MERGE INTO TABLE"). That planner seam
  * is exactly where a whole-operator extension belongs (the brief's
  * option (c): a custom planner strategy): [[LakeDmlStrategy]], which
  * [[graft.GraftExtensions]] injects into every graft session,
  * claims the RESOLVED `MergeIntoTable`/`UpdateTable` whose target is a
  * [[GraftLakeCatalogTable]] and lowers it onto the lake's native
  * transactional ops — the keyed copy-on-write [[LakeTable.mergeDelete]]
  * and the merge-on-read [[LakeTable.deleteDV]] — so SQL MERGE rides the
  * same O(batch + touched files) kernel as every other write path, ONE
  * atomic version per statement. Non-graftlake targets fall through
  * untouched.
  *
  * One MERGE lowering: the source's columns are renamed `__s_<i>` by
  * position and the target's `__t_<c>` (exprIds decide which side a
  * reference means, so shared names cannot collide), and ONE outer join
  * of the two classifies every row — matched when a target file came
  * back, NOT MATCHED when none did, NOT MATCHED BY SOURCE when no source
  * row did (a full outer join, for statements with such clauses only).
  * Each row takes the first clause of its class whose condition holds
  * (the SQL precedence); the update ∪ insert batch is one filtered
  * projection of the join and the delete batch another. Conditions and
  * values may reference either side, and `UPDATE SET` may be partial.
  * Column pruning cuts the target read to the columns the actions
  * reference: the key columns alone when they reference only the source.
  *
  * The classification read is ENVELOPE-PRUNED: the statement's source
  * keys bound a min/max box per key column and manifest stats prune
  * target files before any opens — sound, because a target row that
  * matches a source key lies inside the envelope, so its file always
  * survives the prune. A statement with NOT MATCHED BY SOURCE actions
  * reads the full target instead (it is semantically an O(table)
  * statement — every target row must be classified).
  *
  * Still refused, loudly and with the reason (never approximated):
  * subqueries in any clause; an ON that is not a conjunction of
  * target-key = source-expression equalities covering exactly the merge
  * identity; reassigning a merge-identity column to anything but the ON
  * clause's own source expression (rows are CLASSIFIED by the ON key —
  * landing them under a different identity would silently corrupt the
  * upsert); MERGE WITH SCHEMA EVOLUTION.
  *
  * Execution is read-modify-merge with snapshot isolation: the
  * statement reads the table's LATEST version, computes the batch, and
  * commits through the optimistic-concurrency merge (losing a publish
  * race rebases exactly like the programmatic API).
  *
  * ONE classification pass per statement. Every target row the
  * classification reads carries its source file ([[FileCol]]) into the
  * materialized batch, and the pass that materializes the batch also
  * counts it and collects those files ([[LakeTable.observe]]) — the
  * statement's touched-file set. The commit reuses that set while it
  * reads the version the statement classified against, so it runs no
  * second envelope aggregate and no discovery scan; a rebase onto a
  * newer version rediscovers. The job chain of the keyed refresh
  * upsert (`UPDATE SET *` / `INSERT *` over an exchange-free source),
  * and which pass answers what:
  *
  *   1. envelope (1 job): the source keys' min/max box, observed in one
  *      pass — prunes the files the classification opens;
  *   1. classification + batch (2 jobs): ONE left-outer join of the
  *      source with the pruned target keys (matched iff a target file
  *      came back), materialized by localCheckpoint — the target-keys
  *      broadcast, then the pass that also yields the row count and the
  *      touched files;
  *   1. cardinality guard (2 jobs): a grouped pass over the claimed
  *      keys, skipped when the statement claims at most one row;
  *   1. commit (2 jobs): the touched files' survivors plus the batch
  *      written as one version — the batch-keys broadcast, the write.
  *
  * Deletion sidecars on the target add no job: the classification read
  * is the lake's V2 scan, which applies them in its reader. UPDATE is
  * the same chain without the envelope. A row-level DELETE is two jobs: the doomed read's
  * materializing pass (count and touched files included) and the
  * sidecar write.
  */
object LakeDml extends PredicateHelper {
  /** Largest doomed-key set a row-level DELETE commits as an
    * equality-delete sidecar; beyond it the statement rewrites the
    * survivors instead (every executor reading the table would otherwise
    * hold the whole doomed key set in memory — the 'bounded by contract'
    * assumption the DV kernel documents). `var` so specs can drive the fallback
    * deterministically at test scale. */
  private[graft] var DvDeleteCap: Long = 2000000L

  /** Envelope-pruned target read for merge classification: `srcKeys`
    * (key-named columns) bound a per-column min/max box; manifest stats
    * prune entries before any file opens. Sound: every target row whose
    * key equals a source key lies inside the envelope, so its file
    * intersects the box and is kept — a pruned-out file cannot hold a
    * matched key, and a statement with no NOT MATCHED BY SOURCE clause
    * reads no unmatched target row. Records its
    * (kept, total) decision under `<path>@classify` for the pruning
    * observability hook. Cost: one observed pass over the source keys
    * ([[LakeTable.keyEnvelope]]) + an O(#files) driver-side stats pass. */
  private[graft] def prunedTargetRead(spark: SparkSession, path: String,
      srcKeys: DataFrame, keys: Seq[String]): Classified = {
    val m = LakeTable.manifest(path, LakeTable.latestVersion(path))
    if (m.files.isEmpty) return classified(spark, path, m, m.files)
    val preds = LakeTable.keyEnvelope(srcKeys, keys)
    val kept = m.files.filter(LakeTable.entryMatches(_, preds))
    GraftLakeSource.recordPrune(s"$path@classify", kept.size, m.files.size)
    classified(spark, path, m, kept)
  }

  /** Predicate-pruned target read for UPDATE / row-level DELETE: the
    * statement's WHERE conjuncts translate to source filters
    * (DataSourceStrategy — the same translation a scan's pushdown gets)
    * and prune manifest entries through the one `entryMatches` kernel.
    * Sound because the DML batch needs only MATCHING rows: a file whose
    * stats envelope cannot satisfy the predicate holds no row the
    * statement would touch, and copy-on-write carries it by reference.
    * Untranslatable conjuncts simply prune nothing (the full filter
    * re-applies on the survivors) — a selective keyed UPDATE reads
    * O(matching files), not O(table). `rows` is the same WHERE as a
    * column: the batch holds only the rows it matches, filtered on the
    * scan itself (below the file column) so the scan's pushdown tiers
    * see it. */
  private[graft] def prunedByPredicate(spark: SparkSession, path: String,
      cond: Option[Expression], rows: Column): Classified = {
    val m = LakeTable.manifest(path, LakeTable.latestVersion(path))
    val preds = cond.toSeq.flatMap(splitConjunctivePredicates)
      .flatMap(e => ColumnBridge.translateFilter(e))
      .flatMap(f => GraftLakeSource.toIntervals(f))
    val kept = m.files.filter(LakeTable.entryMatches(_, preds))
    GraftLakeSource.recordPrune(s"$path@dml", kept.size, m.files.size)
    classified(spark, path, m, kept, Some(rows))
  }

  /** Row-level DELETE (SQL `DELETE FROM … WHERE cond`, and TRUNCATE
    * with `cond` true): predicate-pruned read → filter → merge-on-read
    * DV commit over the matching keys — one version, zero data files
    * rewritten; a statement matching nothing commits nothing. Jobs:
    * the doomed read's materializing pass, which also counts the rows
    * and collects their files (the sidecar's touched set, so
    * [[LakeTable.deleteDV]] runs no envelope or discovery pass), then
    * the sidecar write. `condExpr` is `cond` as an expression, for file
    * pruning (None prunes nothing). */
  private[graft] def deleteRows(spark: SparkSession, path: String, keys: Seq[String],
      condExpr: Option[Expression], cond: Column): Unit = {
    // Materialized ONCE (review r17 #4): the cap decision and the
    // committed sidecar must reflect the SAME snapshot — a def would
    // re-resolve latestVersion on each use, and a concurrent commit
    // between the count and deleteDV could make them diverge.
    // The materializing pass also counts the doomed rows and collects
    // their files ([[LakeTable.observe]]): the sidecar's touched set.
    val snap = prunedByPredicate(spark, path, condExpr, cond)
    val (stats, doomedRows) = LakeTable.observe(
      snap.rows.select(keys.map(col) :+ col(FileCol): _*),
      Seq(count(lit(1)), collect_set(col(FileCol))), checkpoint = true)
    val n = stats.getLong(0)
    if (n == 0) {
      // a statement touching nothing commits nothing (the commitBatches
      // contract; review r16-2 #4) — no spurious empty versions for CDC
      // consumers or the vacuum horizon
      ()
    } else if (n <= DvDeleteCap) {
      LakeTable.deleteDV(spark, path, doomedRows.drop(FileCol), keys,
        Some(touched(snap.version, stats.getSeq[String](1))))
      ()
    } else {
      // UNSELECTIVE delete: the O(keys) sidecar contract no longer
      // holds — the doomed set is a sizable fraction of the table, and
      // every executor reading it would hold that whole key set
      // ([[DvDeleteCap]]). Rewrite the SURVIVORS as one forward commit instead
      // (layout and clustering preserved; history and pinned readers
      // survive as for any overwrite).
      val m = LakeTable.manifest(path, LakeTable.latestVersion(path))
      // SQL three-valued logic: a row where cond is NULL is NOT deleted
      // (DELETE removes rows where cond IS TRUE), so it must SURVIVE —
      // !cond alone would yield NULL and drop it. coalesce(cond, false)
      // makes the survivor filter match the DV path's filter(cond)
      // complement exactly.
      val survivors = LakeTable.read(spark, path).filter(!coalesce(cond, lit(false)))
      LakeTable.overwrite(spark, path, survivors, m.keys,
        nBuckets = if (m.clusterBuckets > 0) m.clusterBuckets else math.max(8, m.files.size),
        layout = if (m.clusterBuckets > 0) "cluster" else "hash",
        partitionBy = m.parts)
      ()
    }
  }

  /** Every classification read carries each target row's source file
    * in this column, through the statement's materialized batch:
    * `input_file_name()` over the scan, a percent-encoded URI that
    * [[touched]] decodes. */
  private[graft] val FileCol = LakeTable.PosFileCol

  /** A statement's classification read: the target rows of manifest
    * `version` (sidecars applied; for UPDATE / DELETE only the rows the
    * statement's WHERE matches), each with its source file in
    * [[FileCol]]. */
  private[graft] final case class Classified(version: Int, rows: DataFrame)

  /** The unpruned classification read: a NOT MATCHED BY SOURCE
    * statement classifies every target row. */
  private[graft] def fullTargetRead(spark: SparkSession, path: String): Classified = {
    val m = LakeTable.manifest(path, LakeTable.latestVersion(path))
    classified(spark, path, m, m.files)
  }

  /** The touched-file set of a statement classified against `version`,
    * from the [[FileCol]] values its batch carried. */
  private[graft] def touched(version: Int, files: Seq[String]): LakeTable.TouchedFiles =
    LakeTable.TouchedFiles(version, files.map(LakeIo.normUri).toSet)

  /** `filter` applies on the scan BEFORE the file column:
    * `input_file_name()` is nondeterministic, and no filter pushes
    * through a projection that computes one. */
  private def classified(spark: SparkSession, path: String, m: LakeTable.Manifest,
      entries: Seq[LakeTable.FileEntry], filter: Option[Column] = None): Classified = {
    val snap = LakeTable.readSnapshot(spark, path, m, entries)
    Classified(m.version,
      filter.fold(snap)(c => snap.filter(c)).withColumn(FileCol, input_file_name()))
  }
}

object LakeDmlStrategy extends SparkStrategy with PredicateHelper {

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(s"graftlake MERGE/UPDATE: $what")

  /** The lake table behind a resolved target plan, if any. */
  private def lakeTarget(plan: LogicalPlan): Option[(GraftLakeCatalogTable, Seq[Attribute])] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftLakeCatalogTable] =>
        (r.table.asInstanceOf[GraftLakeCatalogTable], r.output)
      case s: DataSourceV2ScanRelation if s.relation.table.isInstanceOf[GraftLakeCatalogTable] =>
        (s.relation.table.asInstanceOf[GraftLakeCatalogTable], s.output)
    }

  private def noSubqueries(e: Expression): Unit =
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      refuse(s"subqueries are not supported in this clause: $e")

  /** Rebind a resolved expression's attributes BY NAME so it can
    * re-resolve against the runtime frame the executor builds (the
    * original exprIds belong to the command's plan, not ours). Used by
    * UPDATE and DELETE, whose runtime frame IS the target snapshot. */
  private def byName(e: Expression): Column = {
    noSubqueries(e)
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  /** MERGE rebinding: provenance (exprId membership) decides which
    * side a reference means, and the name carries it — `__t_<c>` for
    * target columns, `__s_<i>` for the source's `i`-th output column —
    * so a condition like `tg.v < src.v` survives the shared name. */
  private def byProvenance(e: Expression, tgtSet: AttributeSet,
      srcOrdinal: Map[ExprId, Int]): Column = {
    noSubqueries(e)
    ColumnBridge.column(e.transform {
      case a: AttributeReference if tgtSet.contains(a) =>
        UnresolvedAttribute.quoted(s"__t_${a.name}")
      case a: AttributeReference if srcOrdinal.contains(a.exprId) =>
        UnresolvedAttribute.quoted(s"__s_${srcOrdinal(a.exprId)}")
      case a: AttributeReference =>
        refuse(s"reference $a resolves to neither the target nor the source")
    })
  }

  private def assignedName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => refuse(s"only top-level columns can be assigned, not $other")
  }

  /** First-match-wins effective conditions (the SQL MERGE precedence):
    * a row takes clause j iff its condition is TRUE and no earlier
    * clause's condition was (null = not taken, per SQL three-valued
    * filtering). */
  private def effConds(conds: Seq[Column]): Seq[Column] =
    conds.zipWithIndex.map { case (c, i) =>
      conds.take(i).foldLeft(coalesce(c, lit(false)))(
        (acc, prev) => acc && !coalesce(prev, lit(false)))
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {

    case u: UpdateTable =>
      lakeTarget(u.table) match {
        case None => Nil // not ours: the built-in planner handles (or refuses) it
        case Some((t, _)) =>
          val schema = t.m.schema
          val keys = t.m.keys
          val byCol = u.assignments.map(a => assignedName(a) -> a.value).toMap
          byCol.keys.foreach { c =>
            if (keys.contains(c)) refuse(
              s"reassigning merge-identity column $c would change row identity; " +
                "DELETE + INSERT instead")
            if (!schema.fieldNames.contains(c)) refuse(s"unknown column $c")
          }
          val condCol = u.condition.map(byName).getOrElse(lit(true))
          val setCols = byCol.map { case (c, v) =>
            c -> byName(v).cast(schema(c).dataType)
          }
          val condExpr = u.condition
          exec(s"graftlake UPDATE ${t.name()}", { () =>
            val spark = SparkSession.active
            // read-modify-merge: matching rows get their assigned
            // columns recomputed, everything else carries; merge's
            // copy-on-write keeps the rewrite O(touched files), and the
            // READ is predicate-pruned from the manifest stats — a
            // selective keyed UPDATE opens O(matching files)
            val snap = LakeDml.prunedByPredicate(spark, t.tablePath, condExpr, condCol)
            val updates = snap.rows
              .select(schema.fieldNames.toIndexedSeq.map(c =>
                setCols.get(c).map(_.as(c)).getOrElse(col(c))) :+ col(LakeDml.FileCol): _*)
            commitBatches(spark, t.tablePath, keys, snap.version, Some(updates), None)
          })
      }

    // Every SQL DELETE FROM on a graftlake table, translatable or not
    // (`WHERE id IN (…)` and `WHERE v % 7 = 3` alike — this strategy
    // plans before DataSourceV2Strategy). Subqueries stay refused
    // (byName).
    case d: DeleteFromTable =>
      lakeTarget(d.table) match {
        case None => Nil
        case Some((t, _)) =>
          val cond = byName(d.condition)
          val condExpr = d.condition
          exec(s"graftlake DELETE FROM ${t.name()} (row-level)", { () =>
            LakeDml.deleteRows(SparkSession.active, t.tablePath, t.m.keys,
              Some(condExpr), cond)
          })
      }

    case m: MergeIntoTable =>
      lakeTarget(m.targetTable) match {
        case None => Nil
        case Some((t, tgtOutput)) =>
          if (m.withSchemaEvolution)
            refuse("WITH SCHEMA EVOLUTION is not supported — the lake's SQL " +
              "surface evolves schemas through ALTER TABLE ADD COLUMN")
          val schema = t.m.schema
          val keys = t.m.keys
          val tgtSet = AttributeSet(tgtOutput)
          val srcSet = AttributeSet(m.sourceTable.output)
          // ON must equate exactly the table's merge identity with
          // source-side expressions — that is what makes the statement
          // lowerable onto the keyed merge
          val keyPairs = splitConjunctivePredicates(m.mergeCondition).map {
            case EqualTo(l: AttributeReference, r)
                if tgtSet.contains(l) && r.references.subsetOf(srcSet) => (l.name, r)
            case EqualTo(l, r: AttributeReference)
                if tgtSet.contains(r) && l.references.subsetOf(srcSet) => (r.name, l)
            case other => refuse(
              s"ON must be a conjunction of target-key = source-expression equalities, got $other")
          }
          if (keyPairs.map(_._1).sorted != keys.sorted)
            refuse(s"ON must cover exactly the table's merge identity " +
              s"(${keys.mkString(", ")}), got ${keyPairs.map(_._1).mkString(", ")}")
          val onKeyExpr = keyPairs.toMap

          // a KEY column's assigned value must BE the ON clause's source
          // expression: the lowering classifies matched/unmatched by the
          // ON key, so an action that assigns a key something else
          // (SET k = s.k + 1) would land rows under a different identity
          // than the one that classified them — refused, never
          // silently mis-keyed.
          def checkKeyAssign(c: String, v: Expression, what: String): Unit =
            if (keys.contains(c) && !v.semanticEquals(onKeyExpr(c)))
              refuse(s"$what assigns merge-identity column $c a value " +
                s"($v) different from the ON clause's (${onKeyExpr(c)}) — " +
                "rows are classified by the ON key; reassigning identity " +
                "needs DELETE + INSERT")

          def checkAssigns(assigns: Seq[Assignment], what: String): Map[String, Expression] = {
            val byCol = assigns.map(a => assignedName(a) -> a.value).toMap
            byCol.foreach { case (c, v) =>
              if (!schema.fieldNames.contains(c)) refuse(s"$what: unknown column $c")
              checkKeyAssign(c, v, what)
            }
            byCol
          }

          def srcOnly(e: Expression): Boolean = e.references.subsetOf(srcSet)
          def tgtOnly(e: Expression): Boolean = e.references.subsetOf(tgtSet)
          // the runtime source renames its columns BY POSITION (__s_<i>),
          // so a source whose output repeats a name still rebinds exactly
          val srcOrdinal = m.sourceTable.output.map(_.exprId).zipWithIndex.toMap
          def rebind(e: Expression): Column = byProvenance(e, tgtSet, srcOrdinal)
          def cond(a: MergeAction): Column = a.condition.map(rebind).getOrElse(lit(true))

          // every action either writes one full table row or deletes the
          // target row it classified
          sealed trait Act { def cond: Column }
          case class Upsert(cond: Column, row: Seq[Column]) extends Act
          case class Delete(cond: Column) extends Act

          // the full row an action writes: a key column holds the row's
          // identity — the ON value (__k_<key>: a matched target key equals
          // it, and an INSERT must assign it), or the target key for a NOT
          // MATCHED BY SOURCE row, which has no source row; any other
          // column its assigned value, or `unset` when the action does not
          // assign it
          def rowOf(byCol: Map[String, Expression], unset: String => Column): Seq[Column] =
            schema.fieldNames.toIndexedSeq.map(c =>
              if (keys.contains(c)) coalesce(col(s"__k_$c"), col(s"__t_$c"))
              else byCol.get(c).fold(unset(c))(v => rebind(v).cast(schema(c).dataType)))

          // an UPDATE keeps the target row's value in every column it does
          // not SET
          def update(ua: UpdateAction, what: String, ok: Expression => Boolean): Upsert = {
            val byCol = checkAssigns(ua.assignments, what)
            ua.condition.foreach(c => if (!ok(c)) refuse(
              s"$what condition may not cross match classes, got $c"))
            byCol.values.foreach(v => if (!ok(v)) refuse(
              s"$what values may not cross match classes, got $v"))
            Upsert(cond(ua), rowOf(byCol, c => col(s"__t_$c")))
          }

          val matched: Seq[Act] = m.matchedActions.map {
            case ua: UpdateAction => update(ua, "WHEN MATCHED UPDATE", _ => true)
            case da: DeleteAction => Delete(cond(da))
            case other => refuse(s"unsupported WHEN MATCHED action $other")
          }
          val inserts: Seq[Act] = m.notMatchedActions.map {
            case ia: InsertAction =>
              ia.condition.foreach(c => if (!srcOnly(c)) refuse(
                s"WHEN NOT MATCHED condition may reference SOURCE columns only " +
                  s"(the target row does not exist), got $c"))
              val byCol = checkAssigns(ia.assignments, "INSERT")
              byCol.values.foreach(v => if (!srcOnly(v)) refuse(
                s"INSERT values may reference SOURCE columns only, got $v"))
              keys.foreach(k => if (!byCol.contains(k)) refuse(
                s"INSERT must assign merge-identity column $k"))
              Upsert(cond(ia), rowOf(byCol, c => lit(null).cast(schema(c).dataType)))
            case other => refuse(s"unsupported WHEN NOT MATCHED action $other")
          }
          val bySource: Seq[Act] = m.notMatchedBySourceActions.map {
            case ua: UpdateAction =>
              update(ua, "WHEN NOT MATCHED BY SOURCE UPDATE", tgtOnly)
            case da: DeleteAction =>
              da.condition.foreach { c =>
                noSubqueries(c)
                if (!tgtOnly(c)) refuse(
                  "WHEN NOT MATCHED BY SOURCE condition may reference TARGET " +
                    s"columns only (the source row does not exist), got $c")
              }
              Delete(cond(da))
            case other => refuse(s"unsupported WHEN NOT MATCHED BY SOURCE action $other")
          }

          exec(s"graftlake MERGE INTO ${t.name()}", { () =>
            val spark = SparkSession.active
            val src = ColumnBridge.ofRows(spark, m.sourceTable)
            // computed ON keys ride as __k_<key>, cast to the target key
            // types: the envelope and the join see exactly the key values
            // the batch commits; __s_row is non-null on every source row
            val srcK = src.toDF(src.columns.indices.map(i => s"__s_$i"): _*)
              .select(col("*") +: lit(true).as("__s_row") +: keyPairs.map { case (n, e) =>
                rebind(e).cast(schema(n).dataType).as(s"__k_$n") }: _*)
            // a NOT MATCHED BY SOURCE statement classifies EVERY target
            // row — full read; otherwise the envelope-pruned read suffices
            // (matched keys cannot live in pruned files)
            val tgt =
              if (bySource.nonEmpty) LakeDml.fullTargetRead(spark, t.tablePath)
              else LakeDml.prunedTargetRead(spark, t.tablePath,
                srcK.select(keys.map(k => col(s"__k_$k").as(k)): _*), keys)
            // the target row's file rides as __t_<FileCol>. Column pruning
            // cuts the read to the target columns some action references:
            // the key columns alone for a statement whose actions read
            // only the source (the keyed refresh upsert)
            val tgtR = tgt.rows.select((schema.fieldNames.toIndexedSeq :+ LakeDml.FileCol)
              .map(c => col(c).as(s"__t_$c")): _*)
            // ONE join classifies every row; one live target row per key,
            // so it never fans out. Only a NOT MATCHED BY SOURCE statement
            // needs the target rows no source row matched: full outer.
            val joined = srcK.join(tgtR,
              keys.map(k => col(s"__k_$k") === col(s"__t_$k")).reduce(_ && _),
              if (bySource.isEmpty) "left_outer" else "full_outer")
            val tFile = col(s"__t_${LakeDml.FileCol}")
            val fromSource = col("__s_row").isNotNull
            // each row takes the first action of its class whose
            // condition holds
            val taken = Seq((tFile.isNotNull && fromSource, matched),
                (tFile.isNull, inserts), (!fromSource, bySource))
              .flatMap { case (cls, acts) =>
                acts.zip(effConds(acts.map(_.cond))).map { case (a, eff) => (a, cls && eff) }
              }
            val upserts = taken.collect { case (Upsert(_, row), c) => (c, row) }
            // update ∪ insert is ONE filtered projection of the join, and
            // the delete batch another: update ∪ insert ∪ delete commit as
            // ONE atomic version. A delete is scoped to the rows of its own
            // class: an unmatched source row that satisfies a MATCHED
            // delete's condition inserts and SURVIVES, per MERGE semantics.
            // A column every action writes alike (UPDATE SET * beside
            // INSERT *) needs no per-action choice.
            val upsertBatch = upserts.map(_._1).reduceOption(_ || _).map { keep =>
              joined.filter(keep).select(schema.fieldNames.toIndexedSeq.zipWithIndex.map {
                case (c, i) =>
                  val values = upserts.map(_._2(i))
                  (if (values.distinct.size == 1) values.head
                   else upserts.tail.foldLeft(when(upserts.head._1, values.head))(
                     (w, u) => w.when(u._1, u._2(i)))).as(c)
              } :+ tFile.as(LakeDml.FileCol): _*)
            }
            val deleteBatch = taken.collect { case (Delete(_), c) => c }.reduceOption(_ || _)
              .map(keep => joined.filter(keep).select(
                keys.map(k => col(s"__t_$k").as(k)) :+ tFile.as(LakeDml.FileCol): _*))
            commitBatches(spark, t.tablePath, keys, tgt.version, upsertBatch, deleteBatch)
          })
      }

    case _ => Nil
  }

  /** Commit a statement's upsert batch and delete keys as ONE version
    * through one [[LakeTable.mergeDelete]] call; an empty statement
    * commits nothing. Both batches carry [[LakeDml.FileCol]], the file of the
    * target row each claimed key matched at `version` (null for an
    * insert), and are committed without it.
    *
    * CARDINALITY GUARD (the SQL MERGE_CARDINALITY_VIOLATION contract,
    * extended to inserts because the table is KEYED): a duplicate key
    * across the statement's claimed rows means either one target row
    * was matched by several source rows or two source rows insert the
    * same identity — committing would silently break the one-row-per-
    * key invariant every later merge/delete relies on. One grouped pass
    * over the batch keys, refused loudly, never approximated. */
  private def commitBatches(spark: SparkSession, path: String,
      keys: Seq[String], version: Int, batch: Option[DataFrame],
      delKeys: Option[DataFrame]): Unit = {
    // the guard's alias would silently SHADOW a key column of the same
    // name — refuse loudly instead (ADVICE r18)
    for (reserved <- Seq("__n", LakeDml.FileCol))
      require(!keys.contains(reserved),
        s"graftlake MERGE: key column name $reserved collides with an " +
          "internal statement-guard alias; rename the key column")
    // ONE evaluation serves the guard and the commit (review r16-2 #1):
    // localCheckpoint materializes each batch, so the cardinality check
    // cannot diverge from the committed rows under a non-deterministic
    // source, and the merge kernel's survivor pass re-reads blocks
    // instead of re-running the source joins. Blocks are statement-sized
    // and reclaimed on GC. The materializing pass also counts the rows
    // and collects the files their claimed keys matched — no separate
    // count, and no discovery scan in the commit.
    def materialize(df: DataFrame): (Long, Seq[String], DataFrame) = {
      val (row, cp) = LakeTable.observe(df,
        Seq(count(lit(1)), collect_set(col(LakeDml.FileCol))), checkpoint = true)
      (row.getLong(0), row.getSeq[String](1), cp.drop(LakeDml.FileCol))
    }
    val b = batch.map(materialize)
    val d = delKeys.map(materialize)
    val nBatch = b.map(_._1).getOrElse(0L)
    val nDel = d.map(_._1).getOrElse(0L)
    // a key can repeat only among two or more claimed rows: the grouped
    // pass (its shuffle's map stage, then the observed largest group)
    // runs only then. Empty batches contribute no rows, so the test over
    // the union equals the test over the non-empty subset.
    if (nBatch + nDel > 1) {
      val claimed = (b.toSeq ++ d.toSeq).map(_._3.select(keys.map(col): _*))
        .reduce(_ unionByName _)
      val (row, _) = LakeTable.observe(
        claimed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n")),
        Seq(max(col("__n"))), checkpoint = false)
      if (Option(row.get(0)).exists(_.asInstanceOf[Long] > 1)) throw new IllegalStateException(
        "graftlake MERGE: cardinality violation — more than one source row " +
          "claimed the same target key (matched several times, or duplicate " +
          "insert identities); the keyed table admits one row per key, so " +
          "collapse the source per key first")
    }
    // Empty-statement contract (review r17 #3): a statement whose
    // batches carry ZERO rows commits NOTHING — same as the n == 0 path
    // of LakeDml.deleteRows; an empty MERGE must not mint a spurious
    // version for CDC consumers and the vacuum horizon. The classified
    // files replace the commit's discovery scan while it reads
    // `version`; an OCC rebase onto a newer version rediscovers.
    val known = Some(LakeDml.touched(version, (b.toSeq ++ d.toSeq).flatMap(_._2)))
    val bc = b.filter(_._1 > 0).map(_._3)
    val dc = d.filter(_._1 > 0).map(_._3)
    if (bc.nonEmpty || dc.nonEmpty)
      LakeTable.mergeDelete(spark, path, bc, dc, keys, known = known)
  }

  private def exec(label: String, run: () => Unit): Seq[SparkPlan] =
    Seq(LakeDmlExec(label, run))
}

/** Leaf command node: the statement's side effect runs ONCE (commands
  * execute eagerly through executeCollect; the lazy val keeps a later
  * doExecute from double-committing). */
case class LakeDmlExec(label: String, run: () => Unit) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def nodeName: String = label
  @transient private lazy val done: Unit = run()
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = { done; sparkContext.emptyRDD }
}
