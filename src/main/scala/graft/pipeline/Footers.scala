package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf

/** Table metadata from Parquet footers, read on the driver with no Spark
  * job. Every file under a [[Pipeline]] table was written by `Pipeline`
  * itself, so its footers already hold what Spark would otherwise launch a
  * job for: the Spark schema (`spark.read.parquet` runs a one-task
  * schema-inference job per call), row counts, and per-row-group column
  * statistics. This is how Iceberg plans too — from table metadata, not by
  * scanning data files. */
private[pipeline] object Footers {

  /** `dir` as a DataFrame whose data schema is the Spark schema stored in
    * one data file's footer (the `org.apache.spark.sql.parquet.row.metadata`
    * key — the schema inference would pick, since inference also reads a
    * single footer and assumes the files agree). Partition columns are still
    * discovered from directory names, so the result's schema is the one
    * `spark.read.parquet(dir)` gives. None while `dir` holds no data file. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    withFiles(dir)(_.nextOption()).map { f =>
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(new org.apache.hadoop.fs.Path(f.toUri), footer(f)),
        new ParquetToSparkSchemaConverter(SQLConf.get))
      spark.read.schema(schema).parquet(dir)
    }

  /** Rows stored under `dir`: the sum of its files' footer row counts. */
  def rowCount(dir: String): Long =
    withFiles(dir)(_.map(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum).sum)

  /** Whether some row under `dir` may have a `column` value `<= bound`: a
    * row group with rows whose `column` minimum is at most `bound`. A row
    * group without statistics for `column` answers true, so the answer is
    * false only when no such row exists. */
  def mayHoldAtMost(dir: String, column: String, bound: Long): Boolean =
    withFiles(dir)(_.exists(f => footer(f).getBlocks.asScala.exists { b =>
      b.getRowCount > 0 &&
        b.getColumns.asScala.find(_.getPath.toDotString == column).forall { c =>
          val st = c.getStatistics
          st == null || st.isEmpty || st.hasNonNullValue && (st.genericGetMin match {
            case n: java.lang.Number => n.longValue <= bound
            case _ => true
          })
        }
    }))

  private def footer(file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(new LocalInputFile(file))
    try r.getFooter finally r.close()
  }

  /** `f` over the data files under `dir` (empty when `dir` is missing),
    * skipping the names Spark's file index skips too: `_SUCCESS`,
    * `_temporary/` and `.crc` files, but not `_`-prefixed partition
    * directories. */
  private def withFiles[T](dir: String)(f: Iterator[Path] => T): T = {
    val root = Paths.get(dir.stripPrefix("file:"))
    if (!Files.isDirectory(root)) f(Iterator.empty)
    else {
      val s = Files.walk(root)
      try f(s.iterator.asScala.filter { p =>
        p.getFileName.toString.endsWith(".parquet") &&
          root.relativize(p).iterator.asScala.map(_.toString).forall { n =>
            !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
          }
      })
      finally s.close()
    }
  }
}
