package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types._

import graft.engine.Manifest

/** Manifest-stats file skipping in front of the stock parquet
  * [[ScanBuilder]]. Spark's push-down pass hands this builder the
  * catalyst filters FIRST (before column pruning / aggregate push-down);
  * the numeric conjuncts are intersected with the snapshot's `.stats`
  * sidecar envelopes ([[Manifest.planSkippingAsOf]]) and, when any file
  * falls out, the delegate is REBUILT over the kept file list — so the
  * files a predicate cannot match are never scheduled as tasks, never
  * have their footers opened, and never appear in the scan's file index
  * at all. Every push-down capability then forwards to the (possibly
  * rebuilt) parquet builder, so `PushedFilters`, column pruning, and
  * parquet aggregate push-down in `.explain` are exactly the stock
  * machinery.
  *
  * Skipping is a SUPERSET guarantee, mirroring [[graft.engine.FileStats
  * .prune]]: only numeric/date/timestamp envelopes prune; strict
  * inequalities widen to closed ranges; columns or files without stats
  * are kept; pruning to zero files keeps one representative file rather
  * than special-casing an empty relation — Spark still applies the full
  * predicate post-scan, so results never change, only task scheduling.
  * At 100 TB this is the plan-time difference between opening a
  * million footers and opening the overlapping handful.
  */
final class GraftScanBuilder(
    spark: SparkSession,
    path: String,
    version: Long,
    snapshotFiles: Seq[String],
    initial: ScanBuilder,
    rebuild: Seq[String] => ScanBuilder)
    extends SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var delegate: ScanBuilder = initial

  /** (kept, total) after stats + transform-dir pruning — for specs. */
  private[catalog] var pruned: (Int, Int) = (-1, -1)

  private def catalystDelegate: SupportsPushDownCatalystFilters =
    delegate.asInstanceOf[SupportsPushDownCatalystFilters]

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // two independent superset-safe pruners over the snapshot's file
    // list, intersected: per-file stats envelopes (numeric ranges) and
    // hidden-transform directory values (round 15 — day/bucket dirs
    // matched against the SOURCE-column predicates)
    val rs = filters.flatMap(ranges)
    val statsKept: Set[String] =
      if (rs.nonEmpty)
        Manifest.planSkippingAsOf(spark, path, version, rs)._1.toSet
      else snapshotFiles.toSet
    val ptKept: Set[String] =
      graft.engine.PartitionTransforms.pruneFiles(snapshotFiles, filters)
        .toSet
    val kept = snapshotFiles.filter(f => statsKept(f) && ptKept(f))
    if (kept.size < snapshotFiles.size) {
      // never build the scan over zero files (the dir-derived
      // partition columns, and an unpinned table's footer schema, come
      // from the files): keep one file — the post-scan filter still
      // eliminates its rows
      val keep = if (kept.nonEmpty) kept else snapshotFiles.take(1)
      pruned = (keep.size, snapshotFiles.size)
      delegate = rebuild(keep)
    }
    catalystDelegate.pushFilters(filters)
  }

  override def pushedFilters: Array[V2Predicate] =
    catalystDelegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(requiredSchema)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    delegate match {
      case a: SupportsPushDownAggregates => a.pushAggregation(aggregation)
      case _ => false
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    delegate match {
      case a: SupportsPushDownAggregates =>
        a.supportCompletePushDown(aggregation)
      case _ => false
    }

  override def build(): Scan = delegate.build()

  /** Conjunctive numeric ranges implied by a catalyst predicate —
    * only shapes whose envelope test is sound: `attr op literal` over
    * comparison-by-Double domains (ints, longs, floats, decimals,
    * dates as epoch days, timestamps as epoch micros — the same
    * encodings the parquet footers carry). Strict bounds widen to
    * closed ones (superset). Anything else contributes no range.
    */
  private def ranges(e: Expression): Seq[(String, Double, Double)] = {
    val inf = Double.PositiveInfinity
    e match {
      case And(l, r) => ranges(l) ++ ranges(r)
      case EqualTo(a: Attribute, NumLit(v)) => Seq((a.name, v, v))
      case EqualTo(NumLit(v), a: Attribute) => Seq((a.name, v, v))
      case GreaterThan(a: Attribute, NumLit(v)) => Seq((a.name, v, inf))
      case GreaterThan(NumLit(v), a: Attribute) => Seq((a.name, -inf, v))
      case GreaterThanOrEqual(a: Attribute, NumLit(v)) =>
        Seq((a.name, v, inf))
      case GreaterThanOrEqual(NumLit(v), a: Attribute) =>
        Seq((a.name, -inf, v))
      case LessThan(a: Attribute, NumLit(v)) => Seq((a.name, -inf, v))
      case LessThan(NumLit(v), a: Attribute) => Seq((a.name, v, inf))
      case LessThanOrEqual(a: Attribute, NumLit(v)) =>
        Seq((a.name, -inf, v))
      case LessThanOrEqual(NumLit(v), a: Attribute) =>
        Seq((a.name, v, inf))
      case In(a: Attribute, vs) if vs.nonEmpty =>
        val ds = vs.map { case NumLit(v) => Some(v); case _ => None }
        if (ds.exists(_.isEmpty)) Seq.empty
        else Seq((a.name, ds.flatten.min, ds.flatten.max))
      case _ => Seq.empty
    }
  }

  /** A non-null literal in a domain whose parquet footer envelope
    * compares correctly as Double (see [[graft.engine.FileStats.Stat]]).
    */
  private object NumLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(null, _) => None
      case Literal(v, t) => t match {
        case ByteType => Some(v.asInstanceOf[Byte].toDouble)
        case ShortType => Some(v.asInstanceOf[Short].toDouble)
        case IntegerType | DateType => Some(v.asInstanceOf[Int].toDouble)
        case LongType | TimestampType | TimestampNTZType =>
          Some(v.asInstanceOf[Long].toDouble)
        case FloatType => Some(v.asInstanceOf[Float].toDouble)
        case DoubleType => Some(v.asInstanceOf[Double])
        case _: DecimalType => Some(v.asInstanceOf[Decimal].toDouble)
        case _ => None
      }
      case _ => None
    }
  }
}
