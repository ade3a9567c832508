package graft.gtfs

import org.apache.spark.sql.SparkSession

/** D1/D2 catalog-native: idempotent namespace + table registration so
  * the parquet warehouse is SQL-addressable the way the reference's
  * Snowflake schemas are (`GTFS_DB.BRONZE.routes_static` ↔
  * `bronze.routes_static`). Tables are EXTERNAL (LOCATION) with the
  * `Schemas` on-disk layout, so a predicate on the partition column
  * prunes partitions from SQL exactly as the DataFrame path does.
  */
object Warehouse {

  private def ensure(spark: SparkSession, db: String, tables: Map[String, org.apache.spark.sql.types.StructType],
                     warehouseDir: String, layer: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    for ((name, schema) <- tables) {
      val path = s"$warehouseDir/$layer/$name"
      if (BronzeIngest.pathExists(spark, path)) {
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $db.$name (${Schemas.onDisk(schema).toDDL})
             |USING parquet PARTITIONED BY (${Schemas.insertDayCol})
             |LOCATION '$path'""".stripMargin)
        // pick up partitions written outside the catalog (append jobs)
        spark.sql(s"MSCK REPAIR TABLE $db.$name")
      }
    }
  }

  /** Register every existing bronze/silver table. Safe to call after
    * each load cycle — CREATE IF NOT EXISTS + MSCK keep it idempotent
    * and discover newly appended partitions.
    */
  def register(spark: SparkSession, warehouseDir: String): Unit = {
    ensure(spark, "bronze", Schemas.bronze, warehouseDir, "bronze")
    ensure(spark, "silver", Schemas.silver, warehouseDir, "silver")
  }
}
