package graft

import graft.operators.DriverParquet
import graft.operators.DriverParquet.Field

class DriverParquetSpec extends SparkSpec {

  private val fields = Seq(Field("id", "int"), Field("x", "double"))

  /** Visible (non-hidden) files left in `dir`. */
  private def files(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))

  test("overwrite round-trips its rows through spark.read.parquet") {
    val dir = tempDir("graft_dp_") + "/sidecar"
    DriverParquet.overwrite(spark, dir, fields,
      Iterator(Seq(1, 0.5), Seq(2, 1.5)))
    assert(files(dir) === Seq("part-00000.parquet"))
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got === Set((1, 0.5), (2, 1.5)))
  }

  test("a row of the wrong width fails with a named cause and leaves no file") {
    val dir = tempDir("graft_dp_") + "/sidecar"
    val e = intercept[IllegalArgumentException] {
      DriverParquet.overwrite(spark, dir, fields,
        Iterator(Seq(1, 0.5), Seq(2)))
    }
    assert(e.getMessage.contains("row 1") &&
      e.getMessage.contains("1 values for 2 fields"))
    assert(files(dir).isEmpty)
    assert(new java.io.File(dir).list().isEmpty, "temporary file left behind")
  }

  test("a write that fails midway leaves no truncated file for readers") {
    val dir = tempDir("graft_dp_") + "/sidecar"
    DriverParquet.overwrite(spark, dir, fields, Iterator(Seq(0, 0.0)))
    val rows = Iterator.tabulate(10) { i =>
      if (i == 5) throw new IllegalStateException("source failed")
      Seq(i, i.toDouble)
    }
    val e = intercept[IllegalStateException] {
      DriverParquet.overwrite(spark, dir, fields, rows)
    }
    assert(e.getMessage === "source failed")
    // the old one-row generation, not a five-row prefix of the new one
    assert(files(dir) === Seq("part-00000.parquet"))
    assert(new java.io.File(dir).list().forall(n => !n.contains(".tmp")),
      "temporary file left behind")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got === Seq((0, 0.0)))
  }
}
