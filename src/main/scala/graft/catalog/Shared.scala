package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Helpers more than one query family uses. */
private[catalog] object Shared {

  /** Exact, order-insensitive money sum: fold in decimal (exact,
    * associative), surface as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  def t(s: SparkSession, dir: String, name: String): DataFrame = Tables.table(s, dir, name)

  /** Integer cents -> exact "d.dd" money string — fixture values built
    * this way parse bit-identically in Spark decimal and DuckDB, with no
    * double->string round trip. */
  def centsStr(cents: Column): Column =
    concat(floor(cents / 100).cast("long").cast("string"), lit("."),
      lpad((cents % 100).cast("string"), 2, "0"))

  /** Temp tree for a self-contained gate (stream topic, index layout,
    * checkpoint). The returned DataFrames stay lazy over these files
    * until the caller materializes them, so the tree can't be deleted
    * inline — instead a JVM shutdown hook removes it, which bounds the
    * footprint of repeated Verify/Bench iterations (each is its own
    * JVM via run_local.sh) at exactly one run's worth. */
  def gateTempDir(prefix: String): java.io.File = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(base)
    }))
    base
  }
}
