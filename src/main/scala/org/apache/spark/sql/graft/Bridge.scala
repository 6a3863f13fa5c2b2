package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{HadoopFSUtils, Utils}

/** Accessor for the `private[sql]` Column ⇄ Expression converters — the
  * standard extension-point bridge for libraries that register custom
  * Catalyst expressions (Spark 4 moved these behind `classic`) — and for
  * the `private[spark]` file-listing, footer and local-property helpers
  * the driver-side artifact reader and the hybrid legs use. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a Catalyst expression tree
    * (builtins become `UnresolvedFunction`s the analyzer then resolves).
    * [[expression]] instead wraps the node in a lazy `ColumnNodeExpression`
    * leaf, which only Dataset analysis converts — inside a
    * `FunctionRegistry` builder that leaf would survive to codegen as
    * `Unevaluable`; use THIS from registry builders. */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The leaf files under `root` exactly as `InMemoryFileIndex` lists
    * them — Spark's own listing code, path filter, hidden-file rules and
    * block locations; one flat paged list on the file systems Spark
    * lists that way (`useListFilesFileSystemList`, S3A by default) — with
    * the parallel-listing threshold out of reach, so the listing runs on
    * the calling thread and never as a job. */
  def listLeafFiles(spark: SparkSession, root: Path): Seq[FileStatus] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    // InMemoryFileIndex's filter: the job's input path filter, if any,
    // and Spark's hidden-file rule (`_`/`.` names, `._COPYING_`)
    val inputFilter = FileInputFormat.getInputPathFilter(new JobConf(hadoopConf, getClass))
    val filter: PathFilter = p =>
      (inputFilter == null || inputFilter.accept(p)) &&
        !HadoopFSUtils.shouldFilterOutPathName(p.getName)
    val flat = conf.useListFilesFileSystemList.split(",").map(_.trim)
      .contains(root.getFileSystem(hadoopConf).getScheme)
    val listed =
      if (flat) HadoopFSUtils.listFiles(root, hadoopConf, filter)
      else HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, Seq(root), hadoopConf, filter,
        conf.ignoreMissingFiles, conf.ignoreDataLocality, Int.MaxValue, 1)
    listed.flatMap(_._2)
  }

  /** The session settings that shape a footer's Spark schema. */
  def footerSettings(spark: SparkSession): Seq[Boolean] = {
    val conf = spark.sessionState.conf
    Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
      conf.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The data schema a parquet relation over `file` gets: its footer,
    * read on the driver with the converter schema inference builds, made
    * nullable as `DataSource` makes it. */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val Seq(binaryAsString, int96AsTimestamp, inferNtz, nanosAsLong, respectUnknown) =
      footerSettings(spark)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = binaryAsString,
        assumeInt96IsTimestamp = int96AsTimestamp,
        inferTimestampNTZ = inferNtz,
        nanosAsLong = nanosAsLong,
        respectUnknownTypeAnnotation = respectUnknown)).asNullable
  }

  /** `body` as a task for another thread that runs it under a snapshot
    * of the CALLING thread's Spark local properties (job group,
    * description, scheduler pool), restoring the runner's own after. Pool
    * threads keep the properties they inherited when they were created;
    * work handed to one must carry its caller's. */
  def withCallerProperties[T](sc: SparkContext)(body: => T): () => T = {
    val props = Utils.cloneProperties(sc.getLocalProperties)
    () => {
      val saved = sc.getLocalProperties
      sc.setLocalProperties(props)
      try body finally sc.setLocalProperties(saved)
    }
  }
}
