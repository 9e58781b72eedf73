package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, DynamicPruningSubquery, EqualTo, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Runtime target pruning for DELTA-BASED row-level DML (`MERGE INTO`,
  * and any rewritten command that joins the target to a source).
  *
  * Spark's own `RowLevelOperationRuntimeGroupFiltering` plants a dynamic
  * filter on the target scan for GROUP-BASED (copy-on-write) plans only
  * — delta-based [[WriteDelta]] targets scan EVERYTHING, which at store
  * scale means a day's 1000-row delta reads the whole 100 TB table just
  * to find its matches. This rule closes that gap for scans that opt in
  * to [[SupportsRuntimeV2Filtering]] (the CDC store scan does: key
  * panels hash through the layout function and drop whole buckets).
  *
  * Shape: the DML rewrite plans `MergeRows(Join(target, source))` with
  * the target on the LEFT and join type Inner (matched-only) or
  * RightOuter (with not-matched clauses) — in both, target rows without
  * a source match are DROPPED, so pruning the target by the source's
  * key values is semantics-preserving. FullOuter / LeftOuter rewrites
  * (not-matched-by-source clauses) keep unmatched target rows and are
  * left untouched. The planted filter is
  * `DynamicPruningSubquery(targetKey, source, onlyInBroadcast = true)`:
  * the key panel rides the join's own broadcast exchange — reused, zero
  * extra execution — exactly when the source is broadcast-small, which
  * is also the only case a MaxInPanel-bounded scan panel can prune at
  * all; a source too big to broadcast drops the filter at physical
  * planning instead of running twice. Pruning stays layout advice: the
  * join still re-checks every key on the rows that survive.
  *
  * Registered by [[GraftExtensions.register]], which lands it in the
  * optimizer's final user batch, where the subquery feeds straight
  * into physical planning's dynamic-pruning machinery (the same
  * `BatchScanExec.filter` path the catalog's DPP law pins). */
object DeltaDmlRuntimeFiltering extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.dynamicPartitionPruningEnabled) return plan
    plan.transformDown {
      case wd: WriteDelta =>
        val pruned = wd.query.transformDown {
          case j @ Join(left, right, jt, Some(cond), _)
              if (jt == Inner || jt == RightOuter) && !alreadyPruned(left) =>
            injectedJoin(j, left, right, cond).getOrElse(j)
        }
        if (pruned eq wd.query) wd else wd.copy(query = pruned)
    }
  }

  private def injectedJoin(
      j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Option[Join] = {
    val target = left.collectFirst {
      case r: DataSourceV2ScanRelation
          if isRowLevelTable(r) && r.scan.isInstanceOf[SupportsRuntimeV2Filtering] => r
    }
    target.flatMap { rel =>
      // self-merge guard: a source derived from the same row-level scan
      // would prune the target with a subquery over itself — skip
      if (right.exists {
        case r: DataSourceV2ScanRelation => isRowLevelTable(r)
        case _ => false
      }) return None
      val filterNames = rel.scan.asInstanceOf[SupportsRuntimeV2Filtering]
        .filterAttributes().map(_.fieldNames.mkString(".")).toSeq
      if (filterNames.isEmpty) return None
      val (leftOut, rightOut) = (left.outputSet, right.outputSet)
      // every equi conjunct, in ON-clause order — the join's broadcast
      // mode is keyed on exactly this list, and reuse matches against it
      val pairs = splitConjunctivePredicates(cond).collect {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if leftOut.contains(a) && rightOut.contains(b) => (a, b)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if leftOut.contains(b) && rightOut.contains(a) => (b, a)
      }
      val keyIdx = pairs.indexWhere { case (t, _) =>
        rel.output.exists(_.semanticEquals(t)) &&
          filterNames.exists(n => conf.resolver(n, t.name))
      }
      if (keyIdx < 0) return None
      Some {
        val (tAttr, _) = pairs(keyIdx)
        // buildQuery = the RAW source side, onlyInBroadcast = true: the
        // panel rides the join's own broadcast exchange (reused, zero
        // extra work) when the source is small — exactly the case where
        // a bounded panel can prune at all (the scan caps panels at
        // MaxInPanel); a source too big to broadcast is dropped at
        // physical planning instead of being executed twice
        val dpp = DynamicPruningSubquery(
          tAttr, right, pairs.map(_._2),
          broadcastKeyIndices = Seq(keyIdx), onlyInBroadcast = true)
        // directly above the scan — below the rewrite's nondeterministic
        // __row_id projection, which would otherwise block any pushdown
        j.copy(left = left.transformUp {
          case r: DataSourceV2ScanRelation if r eq rel => Filter(dpp, r)
        })
      }
    }
  }

  /** The rewrite wraps the target in Spark's `RowLevelOperationTable`
    * (`private[sql]`, hence the name check): the one marker that the scan
    * under this join-side IS the command's target table read. */
  private def isRowLevelTable(r: DataSourceV2ScanRelation): Boolean =
    r.relation.table.getClass.getName ==
      "org.apache.spark.sql.connector.write.RowLevelOperationTable"

  /** Idempotence under fixed-point batches: one planted filter is enough. */
  private def alreadyPruned(left: LogicalPlan): Boolean =
    left.exists(_.expressions.exists(_.exists(_.isInstanceOf[DynamicPruningSubquery])))
}
