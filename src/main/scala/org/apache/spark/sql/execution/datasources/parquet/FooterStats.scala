package org.apache.spark.sql.execution.datasources.parquet

import java.time.{LocalDateTime, ZoneId}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types._

/** An upper bound on a column of a DataFrame, read from the parquet
  * footers of the files it scans, with no Spark job: the row-group max
  * of every file, carried up the plan.
  *
  * The column is followed down the plan through projections, filters,
  * joins and aliases (none of them can raise a column's max) to parquet
  * scans, and is bounded when every step is a non-decreasing function
  * of the columns below it: a rename, a cast to TIMESTAMP_NTZ,
  * `greatest`, `timestamp_micros`, or integer division by a positive
  * constant (the NANOS-as-long conversion of [[graft.Queries]]'
  * `events` read is the last three). The bound is that function
  * evaluated on the columns' bounds. None whenever the bound is in
  * doubt: any other plan node or expression, a cached or partitioned
  * relation, a file in a subdirectory, a row group without statistics,
  * a legacy-calendar file, or a column that is not a 64-bit integer
  * (NANOS timestamps read as one) or a microsecond TIMESTAMP_NTZ. */
object FooterStats {

  /** An upper bound on TIMESTAMP_NTZ `column` of `df`; None when in
    * doubt. */
  def upperBound(df: DataFrame, column: String): Option[LocalDateTime] = {
    val plan = df.queryExecution.withCachedData
    plan.output.find(_.name == column).flatMap(a => bound(df.sparkSession, plan, a)).collect {
      case Literal(v: Long, TimestampNTZType) => DateTimeUtils.microsToLocalDateTime(v)
    }
  }

  private def bound(spark: SparkSession, plan: LogicalPlan, a: Attribute): Option[Literal] =
    plan match {
      case Project(list, child) =>
        list.find(_.exprId == a.exprId).flatMap(e => boundOf(spark, e, child))
      case Filter(_, child) => bound(spark, child, a)
      case SubqueryAlias(_, child) => bound(spark, child, a)
      case j: Join => j.children.find(_.outputSet.contains(a)).flatMap(bound(spark, _, a))
      case LogicalRelation(fs: HadoopFsRelation, _, None, false, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty =>
        fs.location match {
          case index: PartitioningAwareFileIndex =>
            val roots = index.rootPaths.toSet
            val files = index.allFiles()
            if (files.isEmpty ||
                !files.forall(f => roots(f.getPath) || roots(f.getPath.getParent))) None
            else fileMax(spark, files, a.name, a.dataType).map(Literal(_, a.dataType))
          case _ => None
        }
      case _ => None
    }

  /** `e` evaluated on the bounds of the columns it reads, when it is
    * non-decreasing in each of them. */
  private def boundOf(spark: SparkSession, e: Expression, child: LogicalPlan): Option[Literal] =
    if (!monotone(e)) None
    else {
      val leaves = e.references.toSeq.map(a => a.exprId -> bound(spark, child, a))
      if (leaves.isEmpty || leaves.exists(_._2.isEmpty)) None
      else {
        val at = leaves.map { case (id, b) => id -> b.get }.toMap
        Try(e.transform { case a: Attribute => at(a.exprId) }.eval()).toOption
          .flatMap(Option(_)).map(Literal(_, e.dataType))
      }
    }

  private def monotone(e: Expression): Boolean = e match {
    case _: Attribute => true
    case Alias(c, _) => monotone(c)
    case Greatest(cs) => cs.forall(monotone)
    case MicrosToTimestamp(c) => monotone(c)
    case IntegralDivide(l, r, _) => r.foldable && r.references.isEmpty &&
      Try(r.eval()).toOption.exists {
        case n: Long => n > 0
        case n: Int => n > 0
        case _ => false
      } && monotone(l)
    case c: Cast => monotone(c.child) && ((c.child.dataType, c.dataType) match {
      case (TimestampNTZType, TimestampNTZType) => true
      // instant -> local time is non-decreasing only at a fixed offset
      case (TimestampType, TimestampNTZType) =>
        c.timeZoneId.exists(z => Try(ZoneId.of(z).getRules.isFixedOffset).getOrElse(false))
      case _ => false
    })
    case _ => false
  }

  /** The max of top-level column `name` over every row group of
    * `files`, in Spark's internal form of `dataType` as the parquet
    * reader produces it. */
  private def fileMax(spark: SparkSession, files: Seq[FileStatus], name: String,
                      dataType: DataType): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val path = ColumnPath.get(name)
    // per row group: Some(Some(max)), Some(None) when it holds only
    // nulls, None when in doubt
    val groups: Seq[Option[Option[Long]]] = files.flatMap { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER)
      if (footer.getFileMetaData.getKeyValueMetaData.keySet.asScala
          .exists(_.startsWith("org.apache.spark.legacy"))) Seq(None)
      else footer.getBlocks.asScala.toSeq.map(_.getColumns.asScala.find(_.getPath == path)
        .flatMap { c =>
          val s = c.getStatistics
          if (s == null) None
          else if (s.hasNonNullValue) internal(dataType, c.getPrimitiveType, s.genericGetMax).map(Some(_))
          else if (s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(None)
          else None
        })
    }
    if (groups.exists(_.isEmpty)) None else groups.flatten.flatten.reduceOption(_ max _)
  }

  /** A row-group max as Spark reads it into `dataType`. */
  private def internal(dataType: DataType, p: PrimitiveType, max: Any): Option[Long] =
    (dataType, p.getPrimitiveTypeName, p.getLogicalTypeAnnotation, max) match {
      case (LongType, INT64, null, v: java.lang.Long) => Some(v)
      case (LongType, INT64, i: IntLogicalTypeAnnotation, v: java.lang.Long)
        if i.isSigned && i.getBitWidth == 64 => Some(v)
      // NANOS under `nanosAsLong` reads as the raw long
      case (LongType, INT64, t: TimestampLogicalTypeAnnotation, v: java.lang.Long)
        if t.getUnit == TimeUnit.NANOS => Some(v)
      case (TimestampNTZType, INT64, t: TimestampLogicalTypeAnnotation, v: java.lang.Long)
        if t.getUnit == TimeUnit.MICROS && !t.isAdjustedToUTC => Some(v)
      case _ => None
    }
}
