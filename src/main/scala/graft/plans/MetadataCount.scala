package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** METADATA-ONLY `count(*)` — the Iceberg/Trino "answer from manifest
  * statistics" move as a Catalyst optimizer rule: a global
  * `Aggregate [count(1)]` over a BARE parquet relation is replaced by
  * a one-row [[LocalRelation]] whose value is the sum of the parquet
  * FOOTER record counts — zero tasks launched, zero bytes of data
  * read, the 100 TB `SELECT count(*) FROM t` answered at planner
  * metadata scale (one footer read per file on the driver, the same
  * catalog-scale envelope as [[graft.sources.ManifestFileIndex]]).
  *
  * Soundness gates, each with a negative arm in MetadataCountSpec:
  *  - grouping must be EMPTY and every aggregate a plain
  *    `count(1)` — `count(col)` skips nulls and MUST scan;
  *  - the child must be Project* over the relation (a Project never
  *    changes cardinality; column pruning inserts one) — a Filter
  *    anywhere disqualifies the plan;
  *  - the relation must be a parquet [[HadoopFsRelation]], and EVERY
  *    listed input file must be a parquet file — anything else bails
  *    to the scan;
  *  - the relation must not be streaming: a streaming global count
  *    is a running total kept in state, which one micro-batch's
  *    footers cannot stand in for;
  *  - any footer-read failure bails to the scan (the rule is an
  *    optimization, never a correctness dependency).
  *
  * Installed by [[Extensions.install]] into
  * `experimental.extraOptimizations`; runs in the user batch
  * after column pruning, so the replaced subtree is exactly what the
  * scan would have been. */
object MetadataCount extends Rule[LogicalPlan] {

  private def isCountStar(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) => true
        case _ => false
      }
    case _ => false
  }

  /** Descend through Projects only — they never change cardinality. */
  private def bareRelation(p: LogicalPlan): Option[LogicalRelation] = p match {
    case l: LogicalRelation => Some(l)
    case Project(_, child) => bareRelation(child)
    case _ => None
  }

  private def footerCount(fs: HadoopFsRelation): Option[Long] =
    try {
      val conf = fs.sparkSession.sessionState.newHadoopConf()
      val files = fs.location.inputFiles
      if (files.isEmpty || !files.forall(_.endsWith(".parquet"))) None
      else Some(files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case agg @ Aggregate(Seq(), aggExprs, child, _)
        if aggExprs.nonEmpty && aggExprs.forall(isCountStar) =>
      bareRelation(child) match {
        case Some(lr) if !lr.isStreaming => lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
            footerCount(fs) match {
              case Some(n) =>
                LocalRelation(agg.output,
                  Seq(InternalRow.fromSeq(aggExprs.map(_ => n))))
              case None => agg
            }
          case _ => agg
        }
        case _ => agg
      }
  }
}
