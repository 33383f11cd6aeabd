package graft.sources

import org.apache.spark.sql.SparkSession

/** Catalog discovery over a directory of parquet tables — the
  * sqlite_master analog for file-based sources (main.py:144), used by
  * MigrationJob and the test harness.
  */
object CatalogDiscovery {
  def listTables(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }
}
