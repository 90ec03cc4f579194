package perfbench

import java.io.File
import java.nio.file.Paths
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Writes a workload's inputs for one seed, in a JVM of its own before the
  * timed one:
  *
  *   Stage --workload <name> --seed <n> --out <dir>
  *
  * It starts no Spark session, so in the timed JVM the cold pass is the
  * first Spark work after session creation, as in a `graft.Cli run`.
  */
object Stage {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a.getOrElse("out", sys.error("--out is required"))
    val w = Workloads(a.getOrElse("workload", sys.error("--workload is required")),
      a.getOrElse("seed", sys.error("--seed is required")).toLong)
    val t0 = System.nanoTime()
    w.stage(out)
    println(f"stage: wrote ${w.name} inputs in ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}

/** Parquet files written without Spark, in the layout Spark itself writes. */
object ParquetFiles {
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Writes `rows` under `dir` as `parts` files of contiguous slices, the
    * slices `parallelize(rows, parts)` would make, so a scan sees the same
    * partitions as for a Spark-written table. The Spark schema goes into the
    * footer, as Spark's writer puts it there.
    */
  def write[T](dir: String, schema: StructType, rows: IndexedSeq[T], parts: Int)(fill: (Group, T) => Unit): Unit = {
    val mt = new SparkToParquetSchemaConverter(new SQLConf).convert(schema)
    val groups = new SimpleGroupFactory(mt)
    new File(dir).mkdirs()
    (0 until parts).foreach { p =>
      val file = Paths.get(dir, f"part-$p%05d.snappy.parquet")
      val writer = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(mt)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withExtraMetaData(java.util.Map.of(SparkSchemaKey, schema.json)).build()
      try {
        val (from, until) = (p.toLong * rows.size / parts, (p + 1).toLong * rows.size / parts)
        (from.toInt until until.toInt).foreach { i =>
          val g = groups.newGroup()
          fill(g, rows(i))
          writer.write(g)
        }
      } finally writer.close()
    }
  }
}
