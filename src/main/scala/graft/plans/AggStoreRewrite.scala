package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-view matching for the [[graft.ops.IncrementalAggOps]]
  * rollup store — the optimizer half of incremental view maintenance:
  * once a `(fact table, keys, measures)` rollup is registered, any
  * `fact.groupBy(keys).agg(sum(measure)…)` in the session is rewritten
  * to read the (delta-maintained, key-sized) store instead of scanning
  * the fact table. At 100 TB that turns a full corpus scan into a read
  * of |keys| rows — and callers don't change a line: the match happens
  * on the LOGICAL PLAN, exactly how enterprise engines serve
  * materialized views.
  *
  * Matching is deliberately STRICT — a rewrite must never change
  * results, so anything not provably store-answerable scans the fact
  * table as before:
  *  - the aggregate's child is the registered fact relation, bare or
  *    under column-pruning Projects and Filters whose predicates touch
  *    ONLY key columns — a key predicate commutes with the rollup
  *    (every fact row it removes belongs wholly to removed groups), so
  *    it is replayed verbatim against the store scan; a predicate on
  *    any other column disqualifies (it splits groups, which partials
  *    cannot express). No joins;
  *  - every grouping expression is a bare column and the grouping set
  *    is a SUBSET of the store's key set: the exact set is served as a
  *    pure projection (the store holds one row per key), a coarser set
  *    by RE-AGGREGATING the store — sums are monoids, so partials of
  *    partials are the whole. Re-aggregation is restricted to integral
  *    measures (exact, type-stable); float and decimal stay 1:1-only
  *    because a rewrite must be bit- and type-identical, not close;
  *  - every output is a grouping column or `sum(<bare measure col>)`,
  *    non-distinct, unfiltered, with matching result type. Sums only:
  *    that is the monoid the store itself is restricted to (counts are
  *    sums of prepared 1-columns on both sides by convention).
  *
  * The store holds ONE row per key (merges re-aggregate per bucket), so
  * the replacement is a pure projection of the store scan aliased onto
  * the original output attribute ids — parents above notice nothing.
  * The rule is idempotent (the rewritten child no longer matches the
  * fact path), so the optimizer's fixed-point loop is safe.
  */
object AggStoreRegistry {
  /** `kinds` parallels `measures` (sum|min|max|hdr); empty = all sums —
    * mirroring [[graft.ops.IncrementalAggOps]]'s measure kinds.
    * `countMeasure` names a sum-kind measure that was prepared as
    * `lit(1)` per fact row (the sum-of-ones convention): with it
    * declared, plain `COUNT(*)` queries are store-servable too.
    * An `hdr` registration (built by
    * [[graft.ops.IncrementalAggOps.writeHdrStore]]) carries exactly one
    * measure — the integral value column whose
    * `hdr_percentile(measure, p, hdrSubBits)` aggregates are served by
    * re-folding the store's (bucket, count) rows; `hdrSubBits` must
    * match the store build or the rule will not serve (a different
    * bucket width answers a different question).
    *
    * There is deliberately NO `hll` kind: unioning persisted
    * DataSketches register blobs gives a VALID estimate but not the
    * SAME estimate as the one-shot `hll_sketch_agg` over the fact
    * table — the library promotes coupon-list sketches to dense
    * registers along a different path under union, and estimates drift
    * by ~1% (AggRewriteSpec pins a concrete divergence). A rewrite must
    * be bit-identical, so HLL store serving stays an EXPLICIT API
    * ([[graft.ops.SketchOps.readHllStore]]), never a silent plan swap. */
  final case class Registration(factPath: String, storePath: String,
                                keys: Seq[String], measures: Seq[String],
                                kinds: Seq[String] = Nil,
                                countMeasure: Option[String] = None,
                                hdrSubBits: Int = 5) {
    def kindOf(m: String): String =
      if (kinds.isEmpty) "sum" else kinds(measures.indexOf(m))
    /** Hdr stores hold >1 row per key (one per bucket): even exact-key
      * queries must re-aggregate, never project. */
    def isHdr: Boolean = kinds.contains("hdr")
  }

  private val entries =
    new java.util.concurrent.CopyOnWriteArrayList[Registration]()

  private def qualified(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Register a rollup built by
    * [[graft.ops.IncrementalAggOps.writeAggStore]] over `factPath`. */
  def register(spark: SparkSession, factPath: String, storePath: String,
               keys: Seq[String], measures: Seq[String],
               kinds: Seq[String] = Nil,
               countMeasure: Option[String] = None,
               hdrSubBits: Int = 5): Unit = {
    // malformed length pairing would surface later as an
    // IndexOutOfBounds inside the optimizer rule, failing unrelated
    // queries at planning time — reject it at registration
    require(kinds.isEmpty || kinds.length == measures.length,
      s"kinds (${kinds.length}) must pair 1:1 with measures (${measures.length})")
    require(kinds.forall(Set("sum", "min", "max", "hdr")),
      s"unknown measure kind in $kinds — hll is deliberately not " +
        "servable (union estimates ≠ one-shot estimates; use " +
        "SketchOps.readHllStore explicitly)")
    require(countMeasure.forall(cm =>
      measures.contains(cm) && (kinds.isEmpty ||
        kinds(measures.indexOf(cm)) == "sum")),
      "countMeasure must be a sum-kind measure")
    // an hdr store holds one row per (keys, bucket) for ONE measure; a
    // second measure would need its own grain
    require(!kinds.contains("hdr") || measures.length == 1,
      "an hdr registration carries exactly one measure")
    entries.add(Registration(
      qualified(spark, factPath), storePath, keys, measures, kinds,
      countMeasure, hdrSubBits))
  }

  def clear(): Unit = entries.clear()

  /** Every registration over `factPath` — several rollups with
    * different keys/measures may coexist for one fact table, and the
    * rule serves from the first that can answer the query. */
  private[plans] def lookupAll(factPath: String): Seq[Registration] = {
    val b = Seq.newBuilder[Registration]
    val it = entries.iterator()
    while (it.hasNext) {
      val r = it.next()
      if (r.factPath == factPath) b += r
    }
    b.result()
  }
}

case class AggStoreRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The fact relation's root path plus Filter predicates collected on
    * the way down, looking through column-pruning Projects and Filters
    * only (any other operator in between disqualifies). Predicate
    * admissibility (keys-only) is checked per registration by the
    * caller. */
  private def factRoot(p: LogicalPlan)
      : Option[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression])] =
    p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          // exactly ONE root path: a multi-path scan whose first root is
          // the registered fact would otherwise rewrite to the store and
          // silently drop every row under the other paths
          fs.location.rootPaths match {
            case Seq(only) => Some(only.toString -> Nil)
            case _ => None
          }
        case _ => None
      }
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        factRoot(child)
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
        factRoot(child).map { case (root, cs) => (root, cond +: cs) }
      case _ => None
    }

  /** Types whose re-summed sum keeps BOTH the value and the result
    * type: integral sums are exact and `sum(long) = long`. (Decimal
    * re-sums are exact too but widen the precision — the output type
    * would no longer match the original aggregate's — and float
    * re-association changes last-ulp results; both stay 1:1-only.) */
  private def reAggregatable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(grouping, aggExprs, child, _)
        if grouping.nonEmpty && grouping.forall(_.isInstanceOf[AttributeReference]) =>
      val groupNames = grouping
        .map(_.asInstanceOf[AttributeReference].name).toSet
      factRoot(child).toSeq
        .flatMap { case (root, conds) =>
          AggStoreRegistry.lookupAll(root).map(reg => (reg, conds))
        }
        .filter { case (reg, conds) =>
          groupNames.subsetOf(reg.keys.toSet) &&
            // a key-only DETERMINISTIC filter commutes with the rollup:
            // every fact row it removes belongs wholly to removed
            // groups, so it replays verbatim against the store. Any
            // other column disqualifies — and so does non-determinism
            // (rand() < 0.5 references no column at all, vacuously
            // passing the keys-only check, yet replaying it against the
            // store keeps/drops whole groups' full sums instead of
            // sampling fact rows)
            conds.forall(c => c.deterministic &&
              c.references.toSeq.forall(a => reg.keys.contains(a.name)))
        }
        // several rollups may cover one fact table: first answerer wins
        .iterator.map { case (reg, conds) =>
          rewrite(agg, reg, groupNames, conds)
        }
        .collectFirst { case Some(r) => r }
        .getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, reg: AggStoreRegistry.Registration,
                      groupNames: Set[String],
                      conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[LogicalPlan] = {
    val exact = groupNames == reg.keys.toSet
    // Deliberately NOT memoized per registration: a cached analyzed plan
    // would pin the store's RESOLVED VERSION DIRS, silently serving a
    // stale snapshot after mergeIntoAggStore commits a new version
    // (refreshByPath cannot reach a private memo). One manifest
    // resolution per MATCHED aggregate is the price of always serving
    // the current store — the versioned analog of the flat listing the
    // copy-on-write layout replaced.
    // a store whose manifest was deleted out from under a stale
    // registration, or whose every bucket is tombstoned, can't serve:
    // fall back to the fact scan rather than throw inside the optimizer
    if (!graft.util.ManifestIO.exists(spark,
        graft.util.ManifestIO.manifestDir(reg.storePath))) return None
    val liveDirs =
      graft.ops.IncrementalAggOps.liveStorePaths(spark, reg.storePath)
    if (liveDirs.isEmpty) return None
    val storePlan = spark.read.parquet(liveDirs: _*)
      .queryExecution.analyzed
    def storeAttr(name: String): Option[AttributeReference] =
      storePlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
    // every output must map onto a store column with the same type; the
    // exact key set is a pure projection (one store row per key), a
    // coarser set re-sums the store partials (exact-typed measures only)
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupNames(a.name) =>
        storeAttr(a.name).filter(_.dataType == a.dataType)
          .map(sa => Alias(sa, a.name)(exprId = a.exprId))
      // hdr_percentile over the registered value column: re-fold the
      // store's (bucket, count) rows through the SAME aggregate — exact
      // because the bucket function is idempotent on its lower bounds
      // and counts are sums. subBits must match the store build.
      case al @ Alias(AggregateExpression(
          hp @ graft.expressions.HdrPercentile(m: AttributeReference,
            org.apache.spark.sql.catalyst.expressions.Literal(1L,
              org.apache.spark.sql.types.LongType), _, sb, _, _),
          Complete, false, None, _), name)
          if reg.isHdr && reg.measures.contains(m.name) &&
            reg.kindOf(m.name) == "hdr" && sb == reg.hdrSubBits =>
        for {
          bAttr <- storeAttr(graft.ops.IncrementalAggOps.HdrBucketCol)
          nAttr <- storeAttr(graft.ops.IncrementalAggOps.HdrCountCol)
        } yield Alias(
          AggregateExpression(hp.copy(value = bAttr, weight = nAttr),
            Complete, isDistinct = false, filter = None),
          name)(exprId = al.exprId): NamedExpression
      // COUNT(*) over an hdr-registered fact: the per-key fact row count
      // IS the sum of the sketch's bucket counts — the hdr store answers
      // it for free (no countMeasure declaration needed)
      case al @ Alias(AggregateExpression(
          Count(Seq(l: org.apache.spark.sql.catalyst.expressions.Literal)),
          Complete, false, None, _), name)
          if reg.isHdr && l.value != null =>
        storeAttr(graft.ops.IncrementalAggOps.HdrCountCol)
          .filter(_.dataType == al.dataType)
          .map(na => Alias(
            AggregateExpression(Sum(na), Complete,
              isDistinct = false, filter = None),
            name)(exprId = al.exprId): NamedExpression)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        // (store column, its kind, rebuild-over-store-column) — the
        // query's aggregate must be the SAME monoid the store column
        // was built with, or the store value answers a different
        // question; COUNT(*) maps onto the declared sum-of-ones column
        val asked: Option[(String, String,
            AttributeReference => AggregateFunction)] = fn match {
          case Sum(m: AttributeReference, em)
              if reg.measures.contains(m.name) && reg.kindOf(m.name) == "sum" =>
            Some((m.name, "sum", sa => Sum(sa, em)))
          case Min(m: AttributeReference)
              if reg.measures.contains(m.name) && reg.kindOf(m.name) == "min" =>
            Some((m.name, "min", Min(_)))
          case Max(m: AttributeReference)
              if reg.measures.contains(m.name) && reg.kindOf(m.name) == "max" =>
            Some((m.name, "max", Max(_)))
          case Count(Seq(l: org.apache.spark.sql.catalyst.expressions.Literal))
              if l.value != null => // count(*) ≡ count(1); count(NULL) is 0s
            reg.countMeasure.map(cm => (cm, "sum",
              (sa: AttributeReference) => Sum(sa)))
          case _ => None
        }
        asked.flatMap { case (colName, kind, rebuild) =>
          storeAttr(colName)
            .filter(sa => sa.dataType == al.dataType &&
              // min-of-mins / max-of-maxes are exact and type-stable for
              // EVERY type; re-summing is integral-only (see above)
              (exact || kind != "sum" || reAggregatable(sa.dataType)))
            .map { sa =>
              val served =
                if (exact) sa
                else AggregateExpression(rebuild(sa), Complete,
                  isDistinct = false, filter = None)
              Alias(served, name)(exprId = al.exprId): NamedExpression
            }
        }
      case _ => None
    }
    // rebase admissible key filters onto the store's attributes; a key
    // name the store somehow lacks aborts the rewrite (None), never
    // silently drops a predicate
    val rebased: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = {
      val each = conds.map { c =>
        var ok = true
        val r = c.transform {
          case a: AttributeReference =>
            storeAttr(a.name) match {
              case Some(sa) if sa.dataType == a.dataType => sa
              case _ => ok = false; a
            }
        }
        if (ok) Some(r) else None
      }
      if (each.forall(_.isDefined)) Some(each.flatten) else None
    }
    if (mapped.forall(_.isDefined) && rebased.isDefined) {
      logInfo(s"redirecting aggregate over ${reg.factPath} " +
        s"to rollup store ${reg.storePath}" +
        (if (exact) "" else " (re-aggregated to a coarser grouping)") +
        (if (conds.isEmpty) "" else s" with ${conds.size} key filter(s)"))
      val outs = mapped.flatten
      val source = rebased.get.foldLeft(storePlan) { (p, c) =>
        org.apache.spark.sql.catalyst.plans.logical.Filter(c, p)
      }
      // an hdr store holds one row per (key, bucket) — even the exact
      // key set must re-aggregate (a projection would emit one row per
      // bucket); sum/min/max stores hold one row per key, where the
      // exact set is the pure projection
      if (exact && !reg.isHdr) Some(Project(outs, source))
      else {
        val groupAttrs = agg.groupingExpressions.map {
          case a: AttributeReference => storeAttr(a.name).get
        }
        Some(Aggregate(groupAttrs, outs, source))
      }
    } else None
  }
}
