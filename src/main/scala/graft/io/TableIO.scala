package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-format boundary for every persistent table the engine writes
  * (staged docs, packed postings groups, IVF cell segments): parquet
  * directories, the directory is the table and its `_SUCCESS` file marks
  * a complete write. A table is part of an index only once the index's commit record
  * names it (see [[graft.index.PackedIndex]]); a resumed build also uses
  * `committed` to skip a group whose write completed.
  * Spark's parquet reader/writer speak both scheme-less paths and Hadoop
  * URIs; the `_SUCCESS` probe goes through [[MetaIO]], so the
  * location's path picks the storage exactly as it does for the record.
  * Every table is read with a known schema (a constant for serving
  * tables and IVF cell segments, the writing frame's for staged ones), so
  * no read pays an inference job.
  *
  * SURVEY §1.2 specifies Iceberg tables for pages/postings; this container
  * has no Iceberg jars (verified: /opt/spark/jars, offline resolver). An
  * Iceberg implementation would map `write` to a table commit (snapshot),
  * `committed` to table existence, and the commit record to snapshot
  * metadata, behind these three methods.
  */
object TableIO {

  /** Write a table, replacing any previous content at the location. */
  def write(df: DataFrame, location: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(location)

  /** Locations of a known-schema table as ONE relation, columns in
    * `schema`'s order, all nullable; listing them is a Spark job only past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32).
    */
  def read(spark: SparkSession, schema: StructType, locations: String*): DataFrame =
    spark.read.schema(schema).parquet(locations: _*)

  /** True iff a COMPLETE write exists at the location (atomicity marker). */
  def committed(location: String): Boolean =
    MetaIO.exists(s"$location/_SUCCESS")
}
