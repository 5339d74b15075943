package graft.io

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.Arrays
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.{FileMetaData, Type, Util}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StringType
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Footer-only proof that a frame's rows of any one key value all sit in
  * one Parquet row group. A row group is always read whole by one task
  * (a file split reads the row groups whose midpoint it holds), so under
  * this layout every partition of the scan holds whole key groups, and a
  * per-key rank needs no exchange (ExtractPipeline).
  *
  * The check passes only when all of these hold:
  *  - the frame is Project/Filter over ONE Parquet file scan (no cache,
  *    RDD, local rows, union, repartition or stream on the way down);
  *  - the key is a plain column of that scan's data (a rename on the way
  *    is fine; a partition column or a computed value is not), a
  *    binary-collated string stored as BYTE_ARRAY with the type-defined
  *    (unsigned) column order;
  *  - every row group of every file carries min_value/max_value for it
  *    and a null count of 0;
  *  - those ranges are pairwise disjoint, compared as unsigned bytes.
  * Anything else, including an unreadable footer, answers false.
  *
  * The footers are decoded straight from their thrift bytes (two
  * positioned reads per file), not through ParquetFileReader. This is the
  * sandbox side of the seam in TableIO's header: an Iceberg table sorted
  * or bucketed on the key states the same layout in its own metadata,
  * and storage-partitioned join is the on-cluster equivalent.
  */
object ParquetLayout {

  /** Whether every value of `key` in `df` provably sits in one row group,
    * by the conditions above; reads the scan's footers only.
    */
  def rowGroupClustered(df: DataFrame, key: String): Boolean = {
    val plan = df.queryExecution.analyzed
    // a cached sub-plan is read from the cache, not from the files; looked
    // up now, since the frame's own withCachedData is fixed when first read
    val spark = df.queryExecution.sparkSession
    def cached(p: LogicalPlan) = spark.sharedState.cacheManager.lookupCachedData(spark, p).isDefined
    plan.output.find(_.name == key).flatMap(a => scanColumn(plan, a.exprId, cached)).exists {
      case (fs, col) =>
        val files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
        val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
        try {
          val ranges = files.map(keyRanges(_, col, conf))
          ranges.forall(_.isDefined) && disjoint(ranges.flatten.flatten)
        } catch { case NonFatal(_) => false }
    }
  }

  /** The Parquet relation and column name behind attribute `id`. */
  @tailrec private def scanColumn(p: LogicalPlan, id: ExprId,
      cached: LogicalPlan => Boolean): Option[(HadoopFsRelation, String)] =
    p match {
      case _ if cached(p) => None
      case Project(list, child) => list.find(_.exprId == id) match {
        case Some(a: Attribute) => scanColumn(child, a.exprId, cached)
        case Some(Alias(a: Attribute, _)) => scanColumn(child, a.exprId, cached)
        case _ => None
      }
      case Filter(_, child) => scanColumn(child, id, cached)
      case SubqueryAlias(_, child) => scanColumn(child, id, cached)
      case r: LogicalRelation if !r.isStreaming => (r.relation, r.output.find(_.exprId == id)) match {
        case (fs: HadoopFsRelation, Some(a)) if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.dataSchema.fieldNames.contains(a.name) &&
            !fs.partitionSchema.fieldNames.contains(a.name) &&
            a.dataType == StringType =>
          Some((fs, a.name))
        case _ => None
      }
      case _ => None
    }

  /** The (min, max) of `col` in each row group of `f`, or None when a row
    * group cannot prove its range.
    */
  private def keyRanges(f: FileStatus, col: String,
      conf: Configuration): Option[Seq[(Array[Byte], Array[Byte])]] = {
    val meta = footer(f, conf)
    val path = java.util.List.of(col)
    val ranges = meta.getRow_groups.asScala.toSeq.map { rg =>
      val cols = rg.getColumns
      val i = cols.asScala.indexWhere(c => c.isSetMeta_data && c.getMeta_data.getPath_in_schema == path)
      if (i < 0) None
      else {
        val cm = cols.get(i).getMeta_data
        val st = cm.getStatistics
        val unsigned = meta.isSetColumn_orders && meta.getColumn_orders.get(i).isSetTYPE_ORDER
        if (cm.getType == Type.BYTE_ARRAY && unsigned && st != null && st.isSetMin_value &&
            st.isSetMax_value && st.isSetNull_count && st.getNull_count == 0)
          Some((st.getMin_value, st.getMax_value))
        else None
      }
    }
    if (ranges.forall(_.isDefined)) Some(ranges.flatten) else None
  }

  /** Footer layout: ... FileMetaData | u32le length | "PAR1". */
  private def footer(f: FileStatus, conf: Configuration): FileMetaData = {
    val in = f.getPath.getFileSystem(conf).open(f.getPath)
    try {
      val tail = new Array[Byte](8)
      in.readFully(f.getLen - 8, tail)
      require(new String(tail, 4, 4, US_ASCII) == "PAR1", s"not a plain Parquet footer: ${f.getPath}")
      val n = (tail(0) & 0xff) | (tail(1) & 0xff) << 8 | (tail(2) & 0xff) << 16 | (tail(3) & 0xff) << 24
      val buf = new Array[Byte](n)
      in.readFully(f.getLen - 8 - n, buf)
      Util.readFileMetaData(new ByteArrayInputStream(buf))
    } finally in.close()
  }

  private def disjoint(ranges: Seq[(Array[Byte], Array[Byte])]): Boolean = {
    val sorted = ranges.sortWith((a, b) => Arrays.compareUnsigned(a._1, b._1) < 0)
    sorted.forall(r => Arrays.compareUnsigned(r._1, r._2) <= 0) &&
      sorted.zip(sorted.drop(1)).forall { case (a, b) => Arrays.compareUnsigned(a._2, b._1) < 0 }
  }
}
