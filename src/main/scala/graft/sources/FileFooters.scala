package graft

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Driver-side footer reads: the schema a reader needs and the row count
  * a manifest entry records, without launching a Spark job.
  *
  * A parquet read with no declared schema makes Spark infer one. With
  * schema merging off it reads ONE footer (a `_common_metadata` /
  * `_metadata` summary when the input has one, else the first data file
  * by path), but it does so inside a one-task job whose scheduling and
  * result round trip cost more than the read itself on a small table.
  * [[ofFiles]] and [[ofDirectory]] pick the same file, read its footer on
  * the driver through Spark's own conversion ([[GraftParquetFooter]]) and
  * return the data schema for the caller to pass as `.schema(...)`: the
  * same relation, no job. Partition columns are not part of it; Spark's
  * file index still derives them from the directory layout. Whatever this
  * does not reproduce exactly answers None, and the caller keeps Spark's
  * inference: other formats, merged-schema reads (the `mergeSchema`
  * option or the session default), summary files, layouts Spark would
  * refuse, a data column that shadows a partition column, and any error
  * reading the footer (Spark then raises its own). */
object FileFooters {

  private def isSummary(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata")

  /** Names Spark's file index skips (`HadoopFSUtils
    * .shouldFilterOutPathName`); summary files are kept there, and make
    * these helpers defer to Spark. */
  private def skipped(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !isSummary(name)

  private def merging(spark: SparkSession,
      options: Map[String, String]): Boolean =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("mergeSchema") => v }
      .getOrElse(spark.conf.get("spark.sql.parquet.mergeSchema", "false"))
      .toBoolean

  /** Data schema of a `format` load of exactly `files` (data files, with
    * partition directories derived under `basePath`). */
  def ofFiles(spark: SparkSession, format: String, files: Seq[String],
      basePath: String,
      options: Map[String, String] = Map.empty): Option[StructType] = {
    if (format != "parquet" || files.isEmpty || merging(spark, options))
      return None
    scala.util.Try {
      // one filesystem: Spark requires every file under `basePath`
      val fs = WarehouseIO.fs(new HPath(basePath))
      val baseStr = fs.makeQualified(new HPath(basePath)).toString + "/"
      val qualified = files.map(f => fs.makeQualified(new HPath(f)))
      val first = qualified.minBy(_.toString)
      val rel = first.toString.stripPrefix(baseStr)
      if (qualified.exists(p => skipped(p.getName) || isSummary(p.getName)) ||
          rel == first.toString) None
      else schemaOf(spark, fs.getFileStatus(first),
        rel.split('/').dropRight(1).toSeq, options)
    }.toOption.flatten
  }

  /** Data schema of a `format` load of directory `dir`: every file
    * Spark's file index would list (one recursive listing on the driver),
    * either all directly in `dir` or all under `col=value` directories. */
  def ofDirectory(spark: SparkSession, format: String, dir: String,
      options: Map[String, String] = Map.empty): Option[StructType] = {
    if (format != "parquet" || merging(spark, options)) return None
    scala.util.Try {
      val root = new HPath(dir)
      val fs = WarehouseIO.fs(root)
      val leaves = Vector.newBuilder[(Seq[String], FileStatus)]
      def walk(p: HPath, segs: Seq[String]): Unit =
        fs.listStatus(p).foreach { st =>
          val name = st.getPath.getName
          if (!skipped(name)) {
            if (st.isDirectory) walk(st.getPath, segs :+ name)
            else leaves += ((segs, st))
          }
        }
      walk(root, Nil)
      val all = leaves.result()
      val flat = all.forall(_._1.isEmpty)
      val partitioned = all.forall(l => l._1.nonEmpty && l._1.forall(_.contains("=")))
      if (all.isEmpty || all.exists(l => isSummary(l._2.getPath.getName)) ||
          !(flat || partitioned)) None
      else {
        val (segs, first) = all.minBy(_._2.getPath.toString)
        schemaOf(spark, first, segs, options)
      }
    }.toOption.flatten
  }

  private def schemaOf(spark: SparkSession, file: FileStatus,
      segs: Seq[String], options: Map[String, String]): Option[StructType] = {
    val partCols = segs.map(_.takeWhile(_ != '='))
    scala.util.Try(GraftParquetFooter.schema(spark, file, options))
      .toOption.flatten
      .filterNot(_.fieldNames.exists(f => partCols.exists(_.equalsIgnoreCase(f))))
  }

  /** Row count of one data file from its footer (parquet) or file tail
    * (orc) — the count a scan of the file returns. */
  def rowCount(status: FileStatus, format: String): Long = {
    val conf = WarehouseIO.hadoopConf
    format match {
      case "orc" =>
        val reader = org.apache.orc.OrcFile.createReader(status.getPath,
          org.apache.orc.OrcFile.readerOptions(conf)
            .filesystem(WarehouseIO.fs(status.getPath)))
        try reader.getNumberOfRows finally reader.close()
      case _ =>
        org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
          .readFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
            org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          .getBlocks.asScala.map(_.getRowCount).sum
    }
  }

  /** The facts a manifest entry records for data file `path`, read on the
    * driver: one status call plus one footer. */
  def factsOf(path: HPath, format: String): TableLog.FileFacts = {
    val st = WarehouseIO.fs(path).getFileStatus(path)
    TableLog.FileFacts(rowCount(st, format), st.getLen,
      st.getModificationTime)
  }
}
