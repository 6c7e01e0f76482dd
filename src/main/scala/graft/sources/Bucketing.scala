package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout: the pre-shuffle join strategy for repeatedly
  * joined fact tables at cluster scale.
  *
  * Writing both sides bucketed (same bucket count, same key) lets every
  * subsequent equi-join run WITHOUT an Exchange on either side — the
  * shuffle is paid once at write time instead of per query. At 100 TB this
  * is the difference between re-shuffling the fact table for every join
  * and a local merge per bucket (verified by plan assertion in
  * BucketingSpec: no Exchange under the SortMergeJoin).
  *
  * Uses the session catalog's managed-table path (`saveAsTable` — Spark's
  * bucketing metadata only persists through the catalog, not plain
  * `parquet(path)` writes).
  */
object Bucketing {

  /** Write `df` as a bucketed, optionally sorted, managed parquet table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil
  ): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    // simple identifiers only: the location guard below derives the
    // managed path as <warehouse>/<table>, which is wrong for
    // db-qualified names, and the name is interpolated into SQL
    require(table.matches("[A-Za-z0-9_]+"),
      s"writeBucketed expects an unqualified table identifier, got '$table'")
    // A fresh session has an empty in-memory catalog but shares the
    // on-disk warehouse dir: a leftover location from a previous run makes
    // saveAsTable fail with LOCATION_ALREADY_EXISTS. Drop both.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Shuffle-free equi-join of two tables bucketed on the join keys with
    * matching bucket counts. */
  def cocolocatedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      keys: Seq[String]
  ): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys)
}
