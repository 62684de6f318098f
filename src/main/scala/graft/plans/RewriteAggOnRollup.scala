package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** MATERIALIZED-VIEW MATCHING for the revenue rollup — the §4.2 Rule
  * seam applied to the oldest warehouse trick there is: answer an
  * aggregate from a pre-aggregated table instead of the fact scan.
  *
  * The rewrite: an Aggregate of the canonical revenue report shape —
  *
  *   lineitem
  *     [.filter(l_shipdate >= LO && l_shipdate < HI)]   // optional
  *     .groupBy(l_returnflag)
  *     .agg(sum((l_extendedprice * (1.0 - l_discount)).cast(DEC(18,4))),
  *          count(1))
  *
  * — is redirected onto the day-grain rollup table
  * `Warehouse.writeDailyRevenueRollup` maintains (day, l_returnflag,
  * rev DECIMAL(28,4), cnt BIGINT): SUM(rev) re-aggregates the daily
  * partials (decimal sums are associative, so the answer is
  * BIT-IDENTICAL — the q336 oracle computes from RAW lineitem and the
  * hash must still match) and SUM(cnt) replaces COUNT(1). At 100 TB
  * this is the difference between scanning the fact table and scanning
  * |days|×|flags| rows — the rollup is maintained incrementally by the
  * ingest path (q151's agg-state discipline), and every dashboard
  * query rides it for free, through the OPTIMIZER, with no query
  * rewrite by the user.
  *
  * Soundness gates (each declines to the original plan):
  *  - the scan must be THE parquet source the rollup was built from
  *    (conf `spark.graft.rollup.daily.source`; the rollup path itself
  *    comes from `spark.graft.rollup.daily.path` — both unset ⇒ the
  *    rule is inert);
  *  - filter bounds must be MIDNIGHT-ALIGNED timestamp literals (the
  *    rollup is day-grain: an intra-day bound cannot be answered from
  *    it — the classic MV-matching limitation, honestly declined);
  *  - the aggregate list must be exactly the canonical shape (any
  *    other function, expression form, or grouping key declines —
  *    conservative, like RewriteDotProduct / RewriteGroupedTopK);
  *  - intervening Projects must be pure column selections.
  *
  * Output attributes keep the ORIGINAL names, exprIds, and dataTypes
  * (rev is stored DECIMAL(28,4); the rewritten SUM widens to (38,4)
  * and is cast back down, re-deriving the original DECIMAL(28,4)
  * output type exactly), so parent plan nodes
  * resolve untouched. MvRewriteSpec pins: the rewritten plan scans
  * the rollup; misaligned bounds / foreign aggregates / unset conf
  * decline; results are identical either way. */
object RewriteAggOnRollup extends Rule[LogicalPlan] {

  private val DayMicros = 86400000000L

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val path = conf.getConfString("spark.graft.rollup.daily.path", "")
    val source = conf.getConfString("spark.graft.rollup.daily.source", "")
    if (path.isEmpty || source.isEmpty) return plan
    plan.transform {
      case agg: Aggregate =>
        rewrite(agg, path, source).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, path: String,
                      source: String): Option[LogicalPlan] = {
    // Dispatch on the grouping shape: the rollup carries
    // (day, l_returnflag), so any grouping over a SUBSET of those
    // keys re-aggregates from it — [l_returnflag] (the original q336
    // shape) and [day-of-l_shipdate] (the daily report, r15:
    // re-aggregate over the flag). The day expression arrives in TWO
    // forms: inline in groupingExpressions, or — after the
    // optimizer's PullOutGroupingExpressions — as a
    // `_groupingexpression` attribute aliased in a Project directly
    // below the Aggregate. Anything else declines.
    agg.groupingExpressions match {
      case Seq(a: AttributeReference) if a.name == "l_returnflag" =>
        val range = extractBase(agg.child, source).getOrElse(return None)
        rewriteByFlag(agg, a, range, path)
      case Seq(e) if isDayOfShipdate(e) =>
        val range = extractBase(agg.child, source).getOrElse(return None)
        rewriteByDay(agg, _.semanticEquals(e), range, path)
      case Seq(a: AttributeReference) => agg.child match {
        case p: Project =>
          val pulled = p.projectList.exists {
            case al: Alias => al.exprId == a.exprId && isDayOfShipdate(al.child)
            case _ => false
          }
          val othersPure = p.projectList.forall(ne =>
            ne.exprId == a.exprId || ne.isInstanceOf[AttributeReference])
          if (!pulled || !othersPure) None
          else {
            val range = extractBase(p.child, source).getOrElse(return None)
            rewriteByDay(agg, {
              case ar: AttributeReference => ar.exprId == a.exprId
              case _ => false
            }, range, path)
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** Walk pure-projection nodes to [Filter over] the configured fact
    * scan; None = decline, Some(range) = matched (range None = whole
    * table). The filter must be a day-aligned [lo, hi) on l_shipdate:
    * conjuncts are split because InferFiltersFromConstraints has run
    * by the time extra rules fire — an IsNotNull(l_shipdate) rides
    * along and must not scare the matcher off; any OTHER conjunct
    * declines. */
  private def extractBase(child: LogicalPlan, source: String)
      : Option[Option[(Literal, Literal)]] = {
    var node = child
    while (node.isInstanceOf[Project] &&
        node.asInstanceOf[Project].projectList
          .forall(_.isInstanceOf[AttributeReference]))
      node = node.asInstanceOf[Project].child
    val (bounds, base) = node match {
      case Filter(cond, c) => (Some(cond), c)
      case other => (None, other)
    }
    var scan = base
    while (scan.isInstanceOf[Project] &&
        scan.asInstanceOf[Project].projectList
          .forall(_.isInstanceOf[AttributeReference]))
      scan = scan.asInstanceOf[Project].child
    if (!isSourceScan(scan, source)) return None
    bounds match {
      case None => Some(None)
      case Some(cond) =>
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(a, b) => conjuncts(a) ++ conjuncts(b)
          case other => Seq(other)
        }
        var lo: Option[Literal] = None
        var hi: Option[Literal] = None
        conjuncts(cond).foreach {
          case IsNotNull(a: AttributeReference) if a.name == "l_shipdate" =>
          case GreaterThanOrEqual(a: AttributeReference, l: Literal)
              if a.name == "l_shipdate" && dayAligned(l) && lo.isEmpty =>
            lo = Some(l)
          case LessThan(a: AttributeReference, l: Literal)
              if a.name == "l_shipdate" && dayAligned(l) && hi.isEmpty =>
            hi = Some(l)
          case _ => return None
        }
        (lo, hi) match {
          case (Some(l), Some(h)) => Some(Some((l, h)))
          case _ => None
        }
    }
  }

  /** cast(cast(l_shipdate AS date) AS timestamp_ntz) — exactly the
    * expression the rollup's `day` column was built from (Warehouse.
    * writeDailyRevenueRollup). A month-grain or date_trunc grouping
    * declines: conservative, like every other gate. */
  private def isDayOfShipdate(e: Expression): Boolean = e match {
    case Cast(Cast(a: AttributeReference, DateType, _, _),
        TimestampNTZType, _, _) => a.name == "l_shipdate"
    case _ => false
  }

  /** The original q336 shape: groupBy(l_returnflag) re-reads the
    * rollup's flag column and SUMs over days. */
  private def rewriteByFlag(agg: Aggregate, rf: AttributeReference,
                            range: Option[(Literal, Literal)],
                            path: String): Option[LogicalPlan] =
    withRollup(path, range) { (day, rr, rev, cnt, child) =>
      if (rr.dataType != rf.dataType) None
      else mapAggList(agg, {
        case a: AttributeReference => a.exprId == rf.exprId
        case _ => false
      }, rr, rev, cnt).map(Aggregate(Seq(rr), _, child))
    }

  /** The r15 subset-grouping shape: groupBy(day-of-l_shipdate)
    * re-aggregates the rollup OVER l_returnflag — grouping keys
    * {day} ⊂ rollup keys {day, flag}, the general MV re-aggregation
    * law demonstrated on a second key set. */
  private def rewriteByDay(agg: Aggregate, isGroupOut: Expression => Boolean,
                           range: Option[(Literal, Literal)],
                           path: String): Option[LogicalPlan] =
    withRollup(path, range) { (day, rr, rev, cnt, child) =>
      if (day.dataType != TimestampNTZType) None
      else mapAggList(agg, isGroupOut, day, rev, cnt)
        .map(Aggregate(Seq(day), _, child))
    }

  /** Rewrite the aggregate output list term by term, preserving each
    * term's POSITION, name, exprId, and dataType. CollapseProject has
    * usually folded the user's post-agg select into the Aggregate by
    * the time extra rules run (the r15 finding: the gated q336 plan
    * was silently DECLINING because the matcher pinned the
    * pre-collapse order and the bare sum — the hash gate passes either
    * way, only the new PlanShapeSpec plan pin caught it), so each
    * output term is an ARBITRARY scalar expression over three kinds of
    * subtree, substituted in place:
    *  - the grouping expression/attribute      → the rollup group attr;
    *  - sum(cast(price·(1−disc) as dec(18,4))) → cast(SUM(rev), 28,4);
    *  - count(1)                               → SUM(cnt);
    * After substitution the term must reference ONLY rollup columns
    * (a leftover fact attribute = a foreign expression ⇒ decline) and
    * must contain NO aggregate function other than the SUMs created
    * here (count(day) etc. would re-aggregate WRONGLY over rollup
    * grain ⇒ decline). At least one rev/cnt aggregate must appear
    * somewhere, else this is not an answerable report. rev is stored
    * DECIMAL(28,4) (never downcast — overflow would NULL and SUM would
    * silently skip it); SUM widens to (38,4) and is cast back to the
    * original (28,4) output type — exact, since the true total fits by
    * construction. */
  private def mapAggList(agg: Aggregate, isGroup: Expression => Boolean,
                         groupRepl: AttributeReference,
                         rev: AttributeReference, cnt: AttributeReference)
      : Option[Seq[NamedExpression]] = {
    val created =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Expression, java.lang.Boolean]())
    var sawAggregate = false
    def mkRev: Expression = {
      val ae = Sum(rev).toAggregateExpression()
      created.add(ae); sawAggregate = true
      Cast(ae, DecimalType(28, 4))
    }
    def mkCnt: Expression = {
      val ae = Sum(cnt).toAggregateExpression()
      created.add(ae); sawAggregate = true
      ae
    }
    val out = agg.aggregateExpressions.map { ne =>
      val rewritten = (ne: Expression).transformUp {
        case e if isCanonicalRevenueSum(e) => mkRev
        case e if isCountStar(e) => mkCnt
        case e if isGroup(e) => groupRepl
      }
      val foreignAgg = rewritten.exists {
        case ae: AggregateExpression => !created.contains(ae)
        case _ => false
      }
      val leftoverRef = rewritten.references.exists(r =>
        r.exprId != groupRepl.exprId && r.exprId != rev.exprId &&
          r.exprId != cnt.exprId)
      if (foreignAgg || leftoverRef) return None
      rewritten match {
        case a: Alias => a
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    if (sawAggregate) Some(out) else None
  }

  /** Resolve a fresh rollup relation, verify its column types (the
    * dtype gates that keep a legacy/foreign table from being read),
    * build the range filter, and hand the pieces to the shape-specific
    * assembler. */
  private def withRollup(path: String, range: Option[(Literal, Literal)])(
      assemble: (AttributeReference, AttributeReference, AttributeReference,
                 AttributeReference, LogicalPlan) => Option[LogicalPlan])
      : Option[LogicalPlan] = {
    val rel = rollupRelation(path).getOrElse(return None)
    def attrO(n: String): Option[AttributeReference] =
      rel.output.collectFirst {
        case a: AttributeReference if a.name == n => a
      }
    (attrO("day"), attrO("l_returnflag"), attrO("rev"), attrO("cnt")) match {
      case (Some(day), Some(rr), Some(rev), Some(cnt))
          if rev.dataType == DecimalType(28, 4) &&
            cnt.dataType == LongType &&
            // a type-mismatched comparison would UNRESOLVE the plan —
            // the day column must carry the literals' exact type
            range.forall(r => day.dataType == r._1.dataType) =>
        val child = range match {
          case Some((lo, hi)) =>
            Filter(And(GreaterThanOrEqual(day, lo), LessThan(day, hi)), rel)
          case None => rel
        }
        assemble(day, rr, rev, cnt, child)
      case _ => None
    }
  }

  private def dayAligned(l: Literal): Boolean = (l.dataType, l.value) match {
    case (TimestampNTZType | TimestampType, us: java.lang.Long) =>
      us % DayMicros == 0
    case _ => false
  }

  /** The fact scan must be EXACTLY the configured source: normalized
    * absolute-path equality, not a suffix match — a short/relative
    * conf value (e.g. bare "lineitem.parquet") would suffix-match any
    * fixture's lineitem scan and silently rewrite an aggregate over
    * the wrong table's data. Misconfiguration now DECLINES. (r15, ADVICE) */
  private def isSourceScan(plan: LogicalPlan, source: String): Boolean =
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val hc = fs.sparkSession.sessionState.newHadoopConf()
          val srcPath = new org.apache.hadoop.fs.Path(source)
          val srcQualified =
            try srcPath.getFileSystem(hc).makeQualified(srcPath)
            catch { case _: Throwable => return false }
          fs.location.rootPaths.exists { rp =>
            try rp.getFileSystem(hc).makeQualified(rp) == srcQualified
            catch { case _: Throwable => false }
          }
        case _ => false
      }
      case _ => false
    }

  /** sum(cast(l_extendedprice * (1.0 - l_discount) as decimal(18,4))) */
  private def isCanonicalRevenueSum(e: Expression): Boolean = e match {
    case AggregateExpression(Sum(c: Cast, _), Complete, false, None, _)
        if c.dataType == DecimalType(18, 4) =>
      c.child match {
        case Multiply(p: AttributeReference,
            Subtract(Literal(1.0, DoubleType), d: AttributeReference, _), _) =>
          p.name == "l_extendedprice" && d.name == "l_discount"
        case _ => false
      }
    case _ => false
  }

  private def isCountStar(e: Expression): Boolean = e match {
    case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false,
        None, _) => true
    case _ => false
  }

  /** A FRESH instance of the rollup's analyzed relation per rewrite
    * (newInstance re-ids the attributes — two rewrites in one plan, or
    * across queries, must not share exprIds). Read through
    * `Tables.parquet`, so only the first rewrite after the rollup is
    * (re)written pays a schema-inference job inside the optimizer. */
  private def rollupRelation(path: String): Option[LogicalPlan] = {
    try {
      val analyzed = graft.Tables.parquet(SparkSession.active, path)
        .queryExecution.analyzed
      analyzed match {
        case lr: LogicalRelation => Some(lr.newInstance())
        case _ => None
      }
    } catch { case _: Throwable => None }
  }
}
