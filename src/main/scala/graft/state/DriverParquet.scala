package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Parquet tables the driver already holds, written and read on the
  * driver without a Spark job. The level-1 state a checkpoint carries
  * (the upper composition and the supergraph mirror) lives in driver
  * arrays; for a few thousand rows, a Spark write or collect is almost
  * all fixed cost (planning, scheduling, the commit protocol). The files
  * are ordinary parquet, one file per table, that `spark.read` reads
  * like the ones Spark writes, and [[foreach]] reads those too.
  */
object DriverParquet {

  /** Replaces the table at `dir` with one file holding the given int64
    * (`Array[Long]`) or double (`Array[Double]`) columns, all of one
    * length. */
  def write(conf: Configuration, dir: String,
      cols: (String, Array[_])*): Unit = {
    val path = new Path(dir)
    path.getFileSystem(conf).delete(path, true)
    val schema = new MessageType("spark_schema", cols.map {
      case (name, _: Array[Long]) =>
        Types.required(PrimitiveTypeName.INT64).named(name)
      case (name, _: Array[Double]) =>
        Types.required(PrimitiveTypeName.DOUBLE).named(name)
      case (name, a) =>
        throw new IllegalArgumentException(s"column $name: $a")
    }: _*)
    val n = cols.headOption.fold(0)(_._2.length)
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(path, "part-0.parquet"))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try
      for (i <- 0 until n) {
        val g = rows.newGroup()
        cols.foreach {
          case (name, a: Array[Long]) => g.add(name, a(i))
          case (name, a: Array[Double]) => g.add(name, a(i))
        }
        w.write(g)
      }
    finally w.close()
  }

  /** Applies `f` to every row of the parquet files in `dir`. A file that
    * cannot be read throws. */
  def foreach(conf: Configuration, dir: String)(f: Group => Unit): Unit = {
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .sortBy(_.getName)
      .foreach { p =>
        val r = ParquetReader.builder(new GroupReadSupport(), p)
          .withConf(conf).build()
        try {
          var g = r.read()
          while (g != null) { f(g); g = r.read() }
        } finally r.close()
      }
  }
}
