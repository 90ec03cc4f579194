package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.parquet.io.api.Binary

/** One benchmark workload: its seeded inputs, the pipeline config a pass
  * runs, and how the pass's outputs are read back for the output check.
  */
trait Workload {
  def name: String
  /** Generate the inputs and write them under `dir`, without Spark. */
  def stage(dir: String): Unit
  /** Input records of pass `i`. */
  def records(i: Int): Int
  /** The YAML config of pass `i`, reading from `inputDir`, writing under `root`. */
  def config(inputDir: String, root: String, i: Int): String
  /** The planted kind of each id in pass `i`'s input. */
  def kinds(i: Int): Map[Long, String]
  /** Planted rows that must be rejected, and by which operator, given the
    * operator that rejected each rejected id.
    */
  def mustReject(i: Int, rejectedBy: Map[Long, String]): Map[Long, String]
  /** Read a finished pass's outputs under `root`. */
  def outcome(spark: SparkSession, root: String): Checks.Outcome
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "text_curation" => new TextCuration(seed, 4000)
    case "multimodal_curation" => new MultimodalCuration(seed, 300)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (text_curation, multimodal_curation)")
  }

  val docSchema: StructType = StructType(Seq(
    StructField("id", LongType, false), StructField("text", StringType),
    StructField("lang", StringType), StructField("url", StringType)))

  private def normalized(c: org.apache.spark.sql.Column) =
    sha2(regexp_replace(lower(trim(c)), "\\s+", " "), 256)

  /** The passed ids, and how many passed rows share their dedup key with
    * another passed row.
    */
  def passedOutcome(passed: DataFrame, idCol: String, key: org.apache.spark.sql.Column,
      rejected: Seq[(Long, String)]): Checks.Outcome = {
    val rows = passed.select(col(idCol), key).collect().map(r => (r.getLong(0), r.getString(1)))
    val shared = rows.groupBy(_._2).values.filter(_.length > 1).map(_.length.toLong).sum
    Checks.Outcome(rows.map(_._1).toSeq, rejected, shared)
  }

  def rejected(spark: SparkSession, path: String, idCol: String): Seq[(Long, String)] =
    if (!new java.io.File(path).exists()) Nil
    else spark.read.parquet(path).select(col(idCol), col("operator")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  def textOutcome(spark: SparkSession, root: String, table: String): Checks.Outcome = {
    val passedPath = s"$root/out/$table"
    val passed = if (new java.io.File(passedPath).exists()) spark.read.parquet(passedPath)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], docSchema)
    passedOutcome(passed, "id", normalized(col("text")),
      rejected(spark, s"$root/out_rejected/${table}_rejected", "id"))
  }

  def yamlText(ops: String, loaderPath: String, writer: String, executor: String): String =
    s"""data_loader:
       |  type: ParquetLoader
       |  params:
       |    format: parquet
       |    path: "$loaderPath"
       |stages:
       |$ops
       |data_writer:
       |$writer
       |executor:
       |$executor
       |""".stripMargin
}

final class TextCuration(seed: Long, n: Int) extends Workload {
  val name = "text_curation"
  lazy val docs: Vector[Gen.Doc] = Gen.texts(seed, n)

  def stage(dir: String): Unit =
    ParquetFiles.write(s"$dir/docs.parquet", Workloads.docSchema, docs, 4) { (g, d) =>
      g.append("id", d.id).append("text", d.text).append("lang", d.lang).append("url", d.url)
    }
  def records(i: Int): Int = n
  def kinds(i: Int): Map[Long, String] = docs.map(d => d.id -> d.kind).toMap

  def config(inputDir: String, root: String, i: Int): String = Workloads.yamlText(
    """  - name: filtering
      |    operators:
      |      - name: text_length_filter
      |        params: {min_length: 200, text_field: text}
      |      - name: gopher_repetition_filter
      |        params: {text_field: text}
      |  - name: enrichment
      |    operators:
      |      - name: pii_redaction
      |        params: {text_field: text}
      |      - name: ngram_novelty
      |        params: {text_field: text, id_field: id}
      |  - name: dedup
      |    operators:
      |      - name: minhash_lsh_deduplicator
      |        params: {text_field: text, id_field: id, signature_scheme: oph}""".stripMargin,
    s"$inputDir/docs.parquet",
    s"""  type: ParquetDataWriter
       |  params: {output_path: "$root/out", table_name: docs, partition_by: lang}""".stripMargin,
    s"""  rejected_samples: {enabled: true}
       |  metrics: {enabled: true, output_path: "$root/metrics", report_path: "$root/report.html"}""".stripMargin)

  /** Filters that run before the dedup: an exact copy gets its origin's verdict there. */
  private val BeforeDedup = Set("text_length_filter", "gopher_repetition_filter")

  def mustReject(i: Int, rejectedBy: Map[Long, String]): Map[Long, String] = docs.collect {
    case d if d.kind == Gen.Short => d.id -> "text_length_filter"
    case d if d.kind == Gen.ExactCopy =>
      d.id -> rejectedBy.get(d.origin).filter(BeforeDedup).getOrElse("minhash_lsh_dedup")
  }.toMap

  def outcome(spark: SparkSession, root: String): Checks.Outcome =
    Workloads.textOutcome(spark, root, "docs")
}

final class MultimodalCuration(seed: Long, n: Int) extends Workload {
  val name = "multimodal_curation"
  lazy val rows: Vector[Gen.ImageRow] = Gen.images(seed, n)

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, false), StructField("url", StringType),
    StructField("caption", StringType),
    StructField("image", StructType(Seq(StructField("bytes", BinaryType), StructField("path", StringType)))),
    StructField("embedding", ArrayType(FloatType, false))))

  def stage(dir: String): Unit =
    ParquetFiles.write(s"$dir/images.parquet", schema, rows, 4) { (g, r) =>
      g.append("vec_id", r.id).append("url", r.url).append("caption", r.caption)
      g.addGroup("image").append("bytes", Binary.fromConstantByteArray(r.png)).append("path", s"${r.id}.png")
      val e = g.addGroup("embedding")
      r.embedding.foreach(x => e.addGroup("list").append("element", x))
    }
  def records(i: Int): Int = n
  def kinds(i: Int): Map[Long, String] = rows.map(r => r.id -> r.kind).toMap

  def config(inputDir: String, root: String, i: Int): String = Workloads.yamlText(
    """  - name: image_quality
      |    operators:
      |      - name: image_metadata
      |        params: {image_field: image}
      |      - name: image_technical_quality
      |        params: {image_field: image}
      |      - name: image_quality_filter
      |        params: {min_width: 32, min_height: 32, max_compression_artifacts: 0.8, min_information_entropy: 3.0}
      |      - name: image_phash_deduplicator
      |        params: {image_field: image, id_field: vec_id}
      |  - name: embedding
      |    operators:
      |      - name: embedding_outlier_filter
      |        params: {vector_field: embedding, id_field: vec_id, num_clusters: 8, ratio_num: 3, ratio_den: 1}
      |      - name: pca_projection
      |        params:
      |          embedding_field: embedding
      |          dims: 64
      |          components: {from_report: pca_q_operating_point, column: q_components}
      |      - name: embedding_cosine_deduplicator
      |        params:
      |          embedding_field: embedding
      |          id_field: vec_id
      |          threshold: 0.95
      |          num_buckets: 8
      |          nprobe: {from_report: semantic_probe_operating_point}""".stripMargin,
    s"$inputDir/images.parquet",
    s"""  type: JsonlDataWriter
       |  params: {output_path: "$root/out", table_name: pairs}""".stripMargin,
    """  rejected_samples: {enabled: true}""")

  /** Filters that run before the phash dedup: an exact copy gets its
    * origin's verdict there. The operators after it see only the origin.
    */
  private val BeforeDedup = Set("image_quality_filter")

  def mustReject(i: Int, rejectedBy: Map[Long, String]): Map[Long, String] = rows.collect {
    case r if r.kind == Gen.TinyImage => r.id -> "image_quality_filter"
    case r if r.kind == Gen.ImageCopy =>
      r.id -> rejectedBy.get(r.origin).filter(BeforeDedup).getOrElse("image_phash_dedup")
  }.toMap

  def outcome(spark: SparkSession, root: String): Checks.Outcome = {
    val path = s"$root/out/pairs"
    val passed = spark.read.schema("vec_id LONG, image STRUCT<bytes: STRING>").json(s"$path/part-*")
    Workloads.passedOutcome(passed, "vec_id", sha2(col("image.bytes"), 256),
      Workloads.rejected(spark, s"$root/out_rejected/pairs_rejected", "vec_id"))
  }
}
