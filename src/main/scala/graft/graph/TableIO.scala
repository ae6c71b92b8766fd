package graft.graph

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage abstraction for stage tables (SURVEY §7.0): the pipeline's
  * checkpoint semantics (write a table aside, publish it atomically,
  * exists-check for resume, read) behind one trait. The sandbox ships no
  * Iceberg runtime jar, so the default is the parquet implementation,
  * where a directory with `_SUCCESS` is the snapshot and one directory
  * rename is the commit; on a cluster an Iceberg implementation maps the
  * same four operations to `spark.table` / a staged write / its atomic
  * snapshot commit, and nothing above this trait changes.
  */
trait TableIO {
  def exists(spark: SparkSession, table: String): Boolean
  def overwrite(df: DataFrame, table: String): Unit
  /** Atomically moves the fully written table `staged` to `table`.
    * Returns false, leaving `staged` in place, if `table` already exists. */
  def publish(spark: SparkSession, staged: String, table: String): Boolean
  def read(spark: SparkSession, table: String): DataFrame
}

object ParquetTableIO extends TableIO {
  override def exists(spark: SparkSession, table: String): Boolean = {
    val p = new Path(table, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(table)
  /** `FileContext.rename` with `Rename.NONE` fails when the target exists.
    * `FileSystem.rename` would instead move the source INTO an existing
    * target directory, nesting the loser of a race inside the winner's
    * table. HDFS checks and renames in one NameNode operation; the local
    * file system checks just before it renames. */
  override def publish(spark: SparkSession, staged: String, table: String): Boolean =
    try {
      FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
        .rename(new Path(staged), new Path(table), Options.Rename.NONE)
      true
    } catch { case _: FileAlreadyExistsException => false }
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)
}
