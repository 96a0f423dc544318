package graft.core

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.SparkSpecBase

/** The schema memo behind [[Tables.table]] and [[Tables.events]]: an
  * unchanged file read again starts no schema-inference job, and a
  * changed file or different inference settings infer afresh. */
class TablesSpec extends SparkSpecBase {

  /** Writes `file` as plain parquet, without Spark's schema metadata, so
    * Spark infers its schema from the parquet types alone. */
  private def writeParquet(file: File, message: String, rows: Int)(fill: (Group, Int) => Unit): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(file.getPath)).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try (0 until rows).foreach { i =>
      val g = groups.newGroup()
      fill(g, i)
      writer.write(g)
    } finally writer.close()
  }

  test("a second read of an unchanged fixture file runs no Spark job") {
    val orders = Tables.table(spark, sf0001, "orders")
    val events = Tables.events(spark, sf0001)
    assert(jobsDuring {
      assert(Tables.table(spark, sf0001, "orders").schema == orders.schema)
      assert(Tables.events(spark, sf0001).schema == events.schema)
    } == 0)
  }

  test("a file rewritten with another schema is re-inferred") {
    val dir = tempDir("graft-tables").toFile
    val file = new File(dir, "t.parquet")
    writeParquet(file, "message t { required int64 k; }", 2)((g, i) => g.append("k", i.toLong))
    assert(Tables.table(spark, dir.getPath, "t").columns.toSeq == Seq("k"))
    writeParquet(file, "message t { required int64 k; required binary v (STRING); }", 1) { (g, i) =>
      g.append("k", i.toLong).append("v", "a")
    }
    val again = Tables.table(spark, dir.getPath, "t")
    assert(again.columns.toSeq == Seq("k", "v"))
    assert(again.collect().toSeq == Seq(Row(0L, "a")))
  }

  test("a session with another binaryAsString is not served this session's schema") {
    val dir = tempDir("graft-tables").toFile
    writeParquet(new File(dir, "t.parquet"), "message t { required binary b; }", 1) { (g, _) =>
      g.append("b", Binary.fromString("hi"))
    }
    assert(Tables.table(spark, dir.getPath, "t").schema("b").dataType == BinaryType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.table(other, dir.getPath, "t").schema("b").dataType == StringType)
    assert(Tables.table(spark, dir.getPath, "t").schema("b").dataType == BinaryType)
  }
}
