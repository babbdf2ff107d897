package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

/** Driver-side writer for metadata-scale parquet sidecars (an IVF coarse
  * codebook is kCells x dims doubles, a PQ codebook numSub x kCodes x
  * dsubLen, SQ8 ranges dims rows — a few KB to low MB, and the builder
  * already holds them on the driver). Routing these through
  * `df.coalesce(1).write.parquet` pays a Spark job (scheduling + a task
  * + the commit protocol, ~50-200 ms each) to move bytes the driver has
  * in hand; writing directly with parquet-java is the same discipline as
  * the `_meta` JSON sidecar (guide §1.2 "don't compute things you throw
  * away" / §5 driver-side metadata work). The output is an ordinary
  * parquet file under `<dir>/part-00000.parquet`: `spark.read.parquet`
  * reads it back identically (INT32/DOUBLE round-trip bit-exact; the
  * only schema difference vs the Spark writer is `required` instead of
  * `optional` fields, which reads as non-nullable — strictly tighter).
  *
  * Data-scale frames must NOT come through here (single-threaded,
  * driver-memory resident): callers pass rows they already collected.
  */
object DriverParquet {

  /** One column of a sidecar row layout: name plus "int" | "double". */
  final case class Field(name: String, tpe: String) {
    require(tpe == "int" || tpe == "double",
      s"DriverParquet supports int/double sidecar columns, got $tpe")
  }

  /** Overwrite `dir` with a single parquet file holding `rows` (each a
    * Seq aligned with `fields`). Snappy-compressed, like Spark's default.
    *
    * The file is written under a hidden temporary name next to the old
    * generation. Only after `close()` succeeds are the old files removed
    * and the temporary file renamed to `part-00000.parquet`. A row of the
    * wrong width fails with a named cause, and any failure deletes the
    * temporary file and rethrows, so a failed write leaves the previous
    * generation readable, never a well-formed but truncated file.
    */
  def overwrite(
      spark: SparkSession,
      dir: String,
      fields: Seq[Field],
      rows: Iterator[Seq[Any]]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    val schema = MessageTypeParser.parseMessageType(
      fields.map {
        case Field(n, "int") => s"required int32 $n;"
        case Field(n, _) => s"required double $n;"
      }.mkString("message sidecar { ", " ", " }"))
    val file = new Path(dirPath, "part-00000.parquet")
    val tmp = new Path(dirPath, s".part-00000.${java.util.UUID.randomUUID}.tmp")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      try rows.zipWithIndex.foreach { case (r, i) =>
        require(r.length == fields.length,
          s"DriverParquet row $i of $dir has ${r.length} values for " +
            s"${fields.length} fields (${fields.map(_.name).mkString(", ")})")
        val g = new SimpleGroup(schema)
        // via Number, not asInstanceOf[Int]: Scala widens Seq(int, int,
        // double) literals to Seq[Double] at call sites, so an int-typed
        // field may legitimately arrive as a boxed Double of exact value
        fields.zip(r).foreach {
          case (Field(n, "int"), v) => g.add(n, v.asInstanceOf[Number].intValue)
          case (Field(n, _), v) => g.add(n, v.asInstanceOf[Number].doubleValue)
        }
        writer.write(g)
      } finally writer.close()
      fs.listStatus(dirPath).map(_.getPath)
        .filterNot(_.getName == tmp.getName)
        .foreach(fs.delete(_, true))
      if (!fs.rename(tmp, file))
        throw new java.io.IOException(s"DriverParquet could not rename $tmp to $file")
    } catch {
      case e: Throwable =>
        fs.delete(tmp, false)
        throw e
    }
  }
}
