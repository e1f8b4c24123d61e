package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-format boundary for every persistent table the engine writes
  * (staged docs, packed postings groups): parquet directories,
  * the directory is the table and its `_SUCCESS` file marks a complete
  * write. A table is part of an index only once the index's commit record
  * names it (see [[graft.index.PackedIndex]]); a resumed build also uses
  * `committed` to skip a group whose write completed.
  * Spark's parquet reader/writer speak both scheme-less paths and Hadoop
  * URIs; the `_SUCCESS` probe goes through [[MetaIO]], so the
  * location's path picks the storage exactly as it does for the record.
  * Index tables are read with a known schema (a constant for serving
  * tables, the writing frame's for staged ones), so those reads pay no
  * inference job; the schema-less read is left to the IVF index.
  *
  * SURVEY §1.2 specifies Iceberg tables for pages/postings; this container
  * has no Iceberg jars (verified: /opt/spark/jars, offline resolver). An
  * Iceberg implementation would map `write` to a table commit (snapshot),
  * `committed` to table existence, and the commit record to snapshot
  * metadata, behind these four methods.
  */
object TableIO {

  /** Write a table, replacing any previous content at the location. */
  def write(df: DataFrame, location: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(location)

  def read(spark: SparkSession, location: String): DataFrame =
    spark.read.parquet(location)

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
