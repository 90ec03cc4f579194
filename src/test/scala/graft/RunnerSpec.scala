package graft

import graft.runner.{LoaderConf, OperatorRegistry, Params, PipelineConf, PipelineRunner}
import graft.sources.SyntheticImages
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** YAML config → registry → runner end-to-end: the reference's
  * `mdf run -c config.yaml` lifecycle (SURVEY.md §3.1) on the fixture.
  */
class RunnerSpec extends AnyFunSuite {
  import TestSpark._

  private def yaml(out: String): String =
    s"""data_loader:
       |  type: ParquetLoader
       |  params:
       |    format: parquet
       |    path: "$sfDir/documents.parquet"
       |stages:
       |  - name: content_filtering
       |    operators:
       |      - name: text_length_filter
       |        params:
       |          min_length: 100
       |          max_length: 400
       |          text_field: "text"
       |          length_field: "n_chars"
       |      - name: text_exact_deduplicator
       |        params:
       |          text_field: "text"
       |          id_field: "doc_id"
       |data_writer:
       |  type: ParquetDataWriter
       |  params:
       |    output_path: "$out"
       |    table_name: "docs"
       |    partition_by: "lang"
       |executor:
       |  rejected_samples:
       |    enabled: true
       |  metrics:
       |    enabled: true
       |    output_path: "$out/_metrics"
       |    report_path: "$out/report.html"
       |""".stripMargin

  test("yaml parses into the config tree") {
    val conf = PipelineConf.fromYaml(yaml("/tmp/x"))
    assert(conf.loader.tpe == "ParquetLoader")
    assert(conf.stages.map(_.name) == Seq("content_filtering"))
    assert(conf.stages.head.operators.map(_.name) ==
      Seq("text_length_filter", "text_exact_deduplicator"))
    assert(conf.stages.head.operators.head.params.long("min_length") == Some(100L))
    assert(conf.executor.rejectedEnabled && conf.executor.metricsEnabled)
  }

  test("end-to-end run: output + rejects + metrics + report, counts consistent") {
    val out = java.nio.file.Files.createTempDirectory("graft_run").toString + "/o"
    val res = PipelineRunner.run(spark, PipelineConf.fromYaml(yaml(out)))

    val docs = table("documents")
    val written = spark.read.parquet(s"$out/docs")
    val rejected = spark.read.parquet(s"${out}_rejected/docs_rejected")
    assert(written.count() == res.run.output)
    assert(written.count() + rejected.count() == docs.count())
    assert(res.run.input == docs.count())
    // partitioned by lang
    assert(new java.io.File(s"$out/docs").listFiles()
      .exists(_.getName.startsWith("lang=")))
    // metrics written with counts matching the rollup
    val runs = spark.read.parquet(s"$out/_metrics/runs")
    val r = runs.select(col("total_input_records"), col("total_output_records")).head()
    assert(r.getLong(0) == res.run.input && r.getLong(1) == res.run.output)
    assert(spark.read.parquet(s"$out/_metrics/operators").count() == 2)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/report.html")))
  }

  test("metrics.publish_path publishes the report as index.html (HF-Space twin)") {
    val out = java.nio.file.Files.createTempDirectory("graft_pub").toString + "/o"
    val pub = java.nio.file.Files.createTempDirectory("graft_site").toString
    val conf = PipelineConf.fromYaml(yaml(out).replace(
      s"""report_path: "$out/report.html"""",
      s"""report_path: "$out/report.html"\n    publish_path: "$pub""""))
    assert(conf.executor.reportPublishPath.contains(pub))
    PipelineRunner.run(spark, conf)
    val idx = java.nio.file.Paths.get(pub, "index.html")
    assert(java.nio.file.Files.exists(idx), s"no index.html under $pub")
    val html = java.nio.file.Files.readString(idx)
    // the published page IS the rendered report
    assert(html == java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/report.html")))
    assert(html.contains("<html") && html.contains("content_filtering"))
  }

  test("csv and jsonl loaders read what parquet wrote (S1 format surface)") {
    val base = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val docs = table("documents").select(col("doc_id"), col("text"), col("n_chars"))
    docs.coalesce(1).write.option("header", "true").csv(s"$base/csv")
    docs.coalesce(1).write.json(s"$base/jsonl")
    val fromCsv = PipelineRunner.load(spark, graft.runner.LoaderConf("ParquetLoader",
      Params(Map("format" -> "csv", "path" -> s"$base/csv"))))
    val fromJson = PipelineRunner.load(spark, graft.runner.LoaderConf("ParquetLoader",
      Params(Map("format" -> "jsonl", "path" -> s"$base/jsonl"))))
    assert(fromCsv.count() == docs.count() && fromJson.count() == docs.count())
    assert(fromJson.columns.toSet == Set("doc_id", "text", "n_chars"))
    // orc round-trips schema exactly (columnar like parquet, no inference)
    docs.coalesce(1).write.orc(s"$base/orc")
    val fromOrc = PipelineRunner.load(spark, graft.runner.LoaderConf("ParquetLoader",
      Params(Map("format" -> "orc", "path" -> s"$base/orc"))))
    assert(fromOrc.count() == docs.count())
    assert(fromOrc.schema == docs.schema)
  }

  test("multi-stage pipeline: serial stages roll up first-in/last-out") {
    val out = java.nio.file.Files.createTempDirectory("graft_ms").toString + "/o"
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$sfDir/documents.parquet"}
         |stages:
         |  - name: filtering
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 100, max_length: 400, text_field: "text", length_field: "n_chars"}
         |  - name: dedup
         |    operators:
         |      - name: text_exact_deduplicator
         |        params: {text_field: "text", id_field: "doc_id"}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$out", table_name: "docs"}
         |executor: {}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    assert(res.run.stages.map(_.stageName) == Seq("filtering", "dedup"))
    assert(res.run.input == table("documents").count())
    assert(res.run.stages.head.output == res.run.stages.last.input)
    assert(res.run.output == spark.read.parquet(s"$out/docs").count())
  }

  test("metrics.timed profiling mode attributes per-operator wall time") {
    val out = java.nio.file.Files.createTempDirectory("graft_tm").toString + "/o"
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$sfDir/documents.parquet"}
         |stages:
         |  - name: filtering
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 100, max_length: 400, text_field: "text", length_field: "n_chars"}
         |      - name: text_exact_deduplicator
         |        params: {text_field: "text", id_field: "doc_id"}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$out", table_name: "docs"}
         |executor:
         |  metrics: {enabled: true, timed: true, output_path: "$out/_metrics"}
         |""".stripMargin)
    assert(conf.executor.metricsTimed)
    val res = PipelineRunner.run(spark, conf)
    val ops = res.run.stages.head.operators
    assert(ops.forall(_.timeSec > 0.0), s"profiling mode must attribute time: $ops")
    assert(res.run.output == spark.read.parquet(s"$out/docs").count())
    // metrics parquet carries the attributed times
    val written = spark.read.parquet(s"$out/_metrics/operators")
      .select(col("total_time")).collect().map(_.getDouble(0))
    assert(written.forall(_ > 0.0))
  }

  test("reject routing with materialize=recompute matches the cached path") {
    val out = java.nio.file.Files.createTempDirectory("graft_rc").toString + "/o"
    val conf = PipelineConf.fromYaml(yaml(out).replace(
      "  rejected_samples:\n    enabled: true",
      "  rejected_samples:\n    enabled: true\n    materialize: recompute"))
    assert(conf.executor.rejectedMaterialize == "recompute")
    val res = PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$out/docs")
    val rejected = spark.read.parquet(s"${out}_rejected/docs_rejected")
    assert(written.count() + rejected.count() == table("documents").count())
    assert(res.run.output == written.count())
  }

  test("batch resume: interrupted run + resume equals one-shot run") {
    val base = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val docs = table("documents").select(col("doc_id"), col("text"), col("n_chars"))
    // two-file input corpus
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$base/in/even")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$base/in/odd")
    def conf(inPath: String, out: String, ckpt: Option[String]): PipelineConf =
      PipelineConf.fromYaml(
        s"""data_loader:
           |  type: ParquetLoader
           |  params: {format: parquet, path: "$inPath"}
           |stages:
           |  - name: filtering
           |    operators:
           |      - name: text_length_filter
           |        params: {min_length: 100, max_length: 400, text_field: "text", length_field: "n_chars"}
           |data_writer:
           |  type: ParquetDataWriter
           |  params: {output_path: "$out", table_name: "docs"}
           |executor:${ckpt.map(c => s"\n  checkpoint: {path: \"$c\"}").getOrElse(" {}")}
           |""".stripMargin)

    // one-shot reference run over the whole corpus
    PipelineRunner.run(spark, conf(s"$base/in/*/", s"$base/oneshot", None))
    val oneShot = spark.read.parquet(s"$base/oneshot/docs")

    // "interrupted" run: only the even file was processed and committed
    val cp = s"$base/ckpt"
    PipelineRunner.run(spark, conf(s"$base/in/even", s"$base/resumed", Some(cp)))
    // resume over the FULL corpus: plans only the odd file
    val r2 = PipelineRunner.run(spark, conf(s"$base/in/*/", s"$base/resumed", Some(cp)))
    val resumed = spark.read.parquet(s"$base/resumed/docs")
    assert(r2.run.input < oneShot.count() || r2.run.input == resumed.count() - r2.run.output)
    assert(resumed.count() == oneShot.count())
    assert(resumed.select("doc_id").exceptAll(oneShot.select("doc_id")).isEmpty)

    // a third run is a no-op: everything already committed
    val r3 = PipelineRunner.run(spark, conf(s"$base/in/*/", s"$base/resumed", Some(cp)))
    assert(r3.run.stages.isEmpty && spark.read.parquet(s"$base/resumed/docs").count() == oneShot.count())
  }

  test("image pipeline e2e: refiners + filter + near-dedup through YAML with rejects") {
    val base = java.nio.file.Files.createTempDirectory("graft_img").toString
    // fixture plus two perturbed near-copies of id 7 (hamming 2 and 6;
    // id 7 passes the 64x64 quality filter, unlike id 3) as parquet source
    val input = SyntheticImages.df(spark).filter(col("id") <= 57).unionByName(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(100L, org.apache.spark.sql.Row(SyntheticImages.perturbed(7L, 53, 4))),
        org.apache.spark.sql.Row(101L, org.apache.spark.sql.Row(SyntheticImages.perturbed(7L, 23, 12)))), 1),
        SyntheticImages.schema))
    input.write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: image_curation
         |    operators:
         |      - name: image_metadata
         |        params: {image_field: "image"}
         |      - name: image_technical_quality
         |        params: {image_field: "image"}
         |      - name: image_quality_filter
         |        params: {min_width: 64, min_height: 64, max_compression_artifacts: 0.8, min_information_entropy: 3.0}
         |      - name: image_phash_near_deduplicator
         |        params: {image_field: "image", id_field: "id", max_hamming_distance: 8}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "images"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/images")
    val rejected = spark.read.parquet(s"$base/out_rejected/images_rejected")
    assert(written.count() + rejected.count() == input.count())
    assert(res.run.input == input.count() && res.run.output == written.count())
    // refiner columns flow to the output
    assert(written.columns.contains("image_width") && written.columns.contains("image_information_entropy"))
    // the perturbed copies reject as duplicates of id 7 (disposition mark
    // path of the pairwise family), quality rejects carry "filtered"
    val rejByOp = rejected.groupBy(col("operator")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rejByOp.contains("image_quality_filter") && rejByOp.contains("image_phash_near_dedup"))
    val dupIds = rejected
      .filter(col("_rejection_details.reason") === "duplicate")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dupIds.contains(100L) && dupIds.contains(101L))
    // kept ids pass quality AND are near-dup representatives only
    assert(!written.select("id").collect().map(_.getLong(0)).toSet.exists(Set(100L, 101L)))
  }

  test("yaml pipeline runs a real ONNX session via model_resource") {
    val base = java.nio.file.Files.createTempDirectory("graft_onnx").toString
    SyntheticImages.df(spark).write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: embed
         |    operators:
         |      - name: image_siglip_embedding
         |        params: {image_field: "image", model: "tiny_onnx", model_resource: "/graft/tiny_encoder.onnx", input_side: 16}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "images"}
         |executor: {}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    assert(res.run.output == SyntheticImages.N)
    val written = spark.read.parquet(s"$base/out/images")
    val embCol = "image_siglip_emb_tiny_onnx"
    assert(written.columns.contains(embCol))
    // the session's output dim (tiny_encoder.onnx: 256 → 8 → 12), L2-normed
    import org.apache.spark.sql.functions.{aggregate => agg_, _}
    val stats = written
      .select(size(col(embCol)).as("d"),
        sqrt(agg_(col(embCol).cast("array<double>"), lit(0.0),
          (a, x) => a + x * x)).as("n"))
      .groupBy(col("d")).agg(count(lit(1)).as("c"), max(col("n")).as("mx"), min(col("n")).as("mn"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(stats.keySet == Set(12), stats)
    // drawable ids L2-normalize to 1; garbage/null ids keep the zero vector
    assert(math.abs(stats(12)._2 - 1.0) < 1e-5 && stats(12)._3 == 0.0, stats)
  }

  test("model_path param loads a driver-local onnx file; bad resource fails loudly") {
    // copy the resource to a temp file and load through model_path
    val tmp = java.nio.file.Files.createTempFile("graft_enc", ".onnx")
    val in = getClass.getResourceAsStream("/graft/tiny_encoder.onnx")
    try java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING) finally in.close()
    val op = OperatorRegistry.create("image_siglip_embedding",
      Params(Map("image_field" -> "image", "model" -> "tiny_onnx",
        "model_path" -> tmp.toString)))
    val out = op(SyntheticImages.df(spark).filter(col("id") === 0L))
    assert(out.select(size(col("image_siglip_emb_tiny_onnx"))).head().getInt(0) == 12)
    val e = intercept[IllegalArgumentException] {
      OperatorRegistry.create("image_clip_embedding",
        Params(Map("model_resource" -> "/graft/nope.onnx")))
    }
    assert(e.getMessage.contains("not found on the classpath"))
  }

  test("yaml pipeline runs the full curation-operator family with rejects") {
    val base = java.nio.file.Files.createTempDirectory("graft_cur").toString
    // input: documents with a planted url and multi-line text; benchmark
    // corpus = a few held-out docs
    val docs = table("documents")
      .withColumn("url", concat(lit("HTTPS://Site"), col("doc_id") % 7,
        lit(".COM:443/doc/"), col("doc_id"), lit("?utm_source=x&k=v#top")))
      .withColumn("text", concat(col("text"), lit("\nshared boilerplate footer line"),
        lit("\nunique tail "), col("doc_id")))
    docs.write.parquet(s"$base/in")
    docs.filter(col("doc_id") % 101 === 0).select(col("text"))
      .write.parquet(s"$base/bench")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: curation
         |    operators:
         |      - name: deterministic_sample
         |        params: {fraction: 0.9, id_field: "doc_id", salt: "e2e"}
         |      - name: benchmark_decontamination
         |        params: {benchmark_path: "$base/bench", id_field: "doc_id", text_field: "text", ngram_width: 8}
         |      - name: url_canonicalize
         |        params: {url_field: "url"}
         |      - name: pii_redaction
         |        params: {text_field: "text"}
         |      - name: text_repetition
         |        params: {text_field: "text"}
         |      - name: line_dedup
         |        params: {text_field: "text", id_field: "doc_id", min_line_length: 10}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    val rejected = spark.read.parquet(s"$base/out_rejected/docs_rejected")
    assert(written.count() + rejected.count() == docs.count())
    assert(res.run.output == written.count() && written.count() > 0)
    // every new refiner's columns flow to the output
    Seq("url_canonical", "pii_email_count", "text_redacted",
      "text_dup_token_ratio", "text_line_deduped", "lines_removed")
      .foreach(c => assert(written.columns.contains(c), c))
    // both dropping operators actually rejected rows, with provenance
    val rejOps = rejected.select(col("_rejection_details.operator"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(rejOps.contains("deterministic_sample"), rejOps)
    assert(rejOps.contains("benchmark_decontamination"), rejOps)
    // the shared boilerplate line survives in AT MOST one kept document
    // (its global first-wins keeper may itself have been sampled or
    // decontaminated away — line dedup ranks over the whole input)
    assert(written.filter(col("text_line_deduped")
      .contains("shared boilerplate footer line")).count() <= 1)
    // ...but every kept doc keeps its own unique tail line
    assert(written.filter(col("text_line_deduped").contains("unique tail")).count()
      == written.count())
    // canonicalized urls: lowercase host, no tracking, no fragment
    val u = written.select("url_canonical").head().getString(0)
    assert(u.startsWith("https://site") && !u.contains("utm_") && !u.contains("#"), u)
  }

  test("yaml pipeline runs the training-mix family: dsir + paragraph dedup + token budget") {
    val base = java.nio.file.Files.createTempDirectory("graft_mix").toString
    val docs = table("documents").withColumn("text",
      concat(col("text"), lit("\n\nshared mix footer paragraph"),
        lit("\n\nunique mix tail "), col("doc_id")))
    docs.write.parquet(s"$base/in")
    // DSIR target: the src0 domain slice
    docs.filter(col("source") === "src0").select(col("text"))
      .write.parquet(s"$base/target")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: mix
         |    operators:
         |      - name: dsir_score
         |        params: {target_path: "$base/target", text_field: "text", buckets: 1024}
         |      - name: paragraph_dedup
         |        params: {text_field: "text", id_field: "doc_id", min_paragraph_length: 10}
         |      - name: token_budget_sample
         |        params:
         |          budgets: {src0: 200, src1: 900}
         |          default_budget: 400
         |          source_field: "source"
         |          id_field: "doc_id"
         |          text_field: "text"
         |          num_buckets: 8
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    val rejected = spark.read.parquet(s"$base/out_rejected/docs_rejected")
    assert(written.count() + rejected.count() == docs.count())
    assert(res.run.output == written.count() && written.count() > 0)
    // refiner columns flow through
    Seq("dsir_logw", "text_paragraph_deduped", "paragraphs_removed")
      .foreach(c => assert(written.columns.contains(c), c))
    // the sampler rejected with provenance
    val rejOps = rejected.select(col("_rejection_details.operator"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(rejOps == Set("token_budget_sample"), rejOps)
    // budgets hold on the RAW text tokens (the sampler's weight)
    val toks = size(split(trim(col("text")), "\\s+"))
    written.groupBy("source").agg(sum(toks).as("t"))
      .collect().foreach { r =>
        val budget = r.getString(0) match {
          case "src0" => 200L; case "src1" => 900L; case _ => 400L }
        assert(r.getLong(1) <= budget, s"${r.getString(0)}: ${r.getLong(1)}")
      }
    // the shared paragraph survives in at most one kept doc
    assert(written.filter(col("text_paragraph_deduped")
      .contains("shared mix footer paragraph")).count() <= 1)
  }

  test("tools/export_onnx.py tiny-head export loads through model_path") {
    // the dependency-free export mode emits the reference quality model's
    // exact head architecture (channel-attention gate + 3-layer sigmoid
    // head); loading it through the registry proves the export format is
    // SPI-compatible end-to-end
    val tmp = java.nio.file.Files.createTempFile("graft_export", ".onnx")
    val proc = new ProcessBuilder("python3", "tools/export_onnx.py", "tiny-head",
      "--in-dim", "256", "--hidden", "16", "--out-dim", "12",
      "--seed", "7", "--out", tmp.toString)
      .redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"export failed:\n$log")
    val op = OperatorRegistry.create("image_clip_embedding",
      Params(Map("image_field" -> "image", "model" -> "exported_head",
        "model_path" -> tmp.toString, "input_side" -> 16, "dim" -> 12)))
    val out = op(SyntheticImages.df(spark).filter(col("id") <= 10L))
      .select(col("id"), col("image_clip_emb_exported_head").as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // decodable images embed to the head's output dim, L2-normalized
    val good = out.filter(_._2.nonEmpty)
    assert(good.nonEmpty, out)
    good.values.foreach { e =>
      assert(e.size == 12, e.size)
      val norm = math.sqrt(e.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5, norm)
    }
    // deterministic: a second run through a fresh operator instance agrees
    val again = OperatorRegistry.create("image_clip_embedding",
      Params(Map("image_field" -> "image", "model" -> "exported_head",
        "model_path" -> tmp.toString, "input_side" -> 16, "dim" -> 12)))(
      SyntheticImages.df(spark).filter(col("id") <= 10L))
      .select(col("id"), col("image_clip_emb_exported_head").as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again == out)
  }

  test("yaml pipeline stages gopher signals then filters on them with rejects") {
    val base = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    table("documents").write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: quality
         |    operators:
         |      - name: gopher_quality
         |        params: {text_field: "text", min_words: 10, min_stopwords: 1}
         |      - name: gopher_quality_filter
         |        params: {text_field: "text", min_words: 10, min_stopwords: 1}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    val rejected = spark.read.parquet(s"$base/out_rejected/docs_rejected")
    assert(written.count() + rejected.count() == table("documents").count())
    assert(res.run.output == written.count() && written.count() > 0)
    assert(rejected.count() > 0, "fixture must reject some documents")
    // refiner signals flow to the output; every kept row passed the battery
    assert(written.columns.contains("gopher_word_count") &&
      written.columns.contains("gopher_keep"))
    assert(written.filter(!col("gopher_keep")).count() == 0)
    // rejects carry the filter's provenance
    assert(rejected.select(col("_rejection_details.operator")).distinct()
      .collect().map(_.getString(0)).toSet == Set("gopher_quality_filter"))
  }

  test("yaml pipeline exports token shards through the TokenShardWriter type") {
    val base = java.nio.file.Files.createTempDirectory("graft_tsw").toString
    table("documents").write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: passthrough
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 1, text_field: "text"}
         |data_writer:
         |  type: TokenShardWriter
         |  params:
         |    output_path: "$base/out"
         |    table_name: "tokens"
         |    num_shards: 2
         |    id_field: "doc_id"
         |    text_field: "text"
         |    vocab: ["the", "and", "of", "to", "a"]
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val idx = spark.read.parquet(s"$base/out/tokens/index")
    assert(idx.count() > 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/out/tokens/manifest.json")))
    // at least one shard file exists and its byte length is 4x its tokens
    val stats = idx.groupBy(col("shard"))
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens")).as("t"))
      .collect()
    stats.foreach { r =>
      val f = java.nio.file.Paths.get(f"$base/out/tokens/shard-${r.getInt(0)}%04d.bin")
      assert(java.nio.file.Files.size(f) == r.getLong(1) * 4)
    }
  }

  test("yaml pipeline bridges raw text to the vector family via hashed embeddings") {
    val base = java.nio.file.Files.createTempDirectory("graft_hde").toString
    // plant exact-duplicate texts so the lexical embedding collapses them
    table("documents")
      .withColumn("text", when(col("doc_id") % 4 === 0,
        lit("identical planted duplicate document body for the bridge test"))
        .otherwise(col("text")))
      .write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: vectorize
         |    operators:
         |      - name: hashed_doc_embedding
         |        params: {text_field: "text", id_field: "doc_id", dims: 16}
         |      - name: embedding_simhash_deduplicator
         |        params:
         |          embedding_field: "embedding"
         |          id_field: "doc_id"
         |          bits: 16
         |          dims: 16
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    val rejected = spark.read.parquet(s"$base/out_rejected/docs_rejected")
    val total = table("documents").count()
    assert(written.count() + rejected.count() == total)
    // the planted identical texts share an embedding, hence a simhash
    // signature: exactly one survivor from that group
    val planted = written.filter(col("doc_id") % 4 === 0).count()
    assert(planted == 1, s"planted dup group must collapse, kept $planted")
    assert(written.columns.contains("embedding"))
  }

  test("yaml pipeline runs the quality-vote ensemble with rejects") {
    val base = java.nio.file.Files.createTempDirectory("graft_qvote").toString
    // augment so the raters disagree: %3 docs gain three stopword-rich
    // terminal-punctuated sentences (gopher+c4 both pass there)
    val tail = " and more data that we have to consider with care." +
      " it should be of interest to everyone involved here." +
      " the results are ready for review and release."
    table("documents").withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(tail)))
          .otherwise(col("text")))
      .write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: quality
         |    operators:
         |      - name: quality_vote_filter
         |        params:
         |          raters: ["gopher", "c4", "wordlist"]
         |          min_votes: 2
         |          text_field: "text"
         |          wordlist_words: ["slow", "dup", "skew"]
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    val rejected = spark.read.parquet(s"$base/out_rejected/docs_rejected")
    assert(written.count() + rejected.count() == table("documents").count())
    assert(written.count() > 0 && rejected.count() > 0)
    assert(rejected.select(col("_rejection_details.operator")).distinct()
      .collect().map(_.getString(0)).toSet == Set("quality_vote_filter"))
    // every kept row really clears 2 of the 3 raters
    val g = new graft.operators.text.GopherQualityFilter("text").keepCol
    val c = new graft.operators.text.C4QualityFilter("text").keepCol
    val wl = new graft.operators.text.WordlistFilter(
      Seq("slow", "dup", "skew"), maxHitFrac = 0.1, textCol = "text").keepCol
    val votes = Seq(g, c, wl).map(r => coalesce(r, lit(false)).cast("int")).reduce(_ + _)
    assert(written.filter(votes < 2).count() == 0)
  }

  test("yaml pipeline runs the vector family: quantize + simhash dedup with rejects") {
    val base = java.nio.file.Files.createTempDirectory("graft_vec").toString
    val vecs = table("embeddings")
    vecs.write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: vec
         |    operators:
         |      - name: embedding_quantize
         |        params: {embedding_field: "embedding", codes_field: "codes"}
         |      - name: embedding_simhash_deduplicator
         |        params: {embedding_field: "embedding", id_field: "vec_id", bits: 12, dims: 64}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "vecs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/vecs")
    val rejected = spark.read.parquet(s"$base/out_rejected/vecs_rejected")
    assert(written.count() + rejected.count() == vecs.count())
    assert(res.run.output == written.count() && written.count() > 0)
    assert(written.columns.contains("codes"))
    // dedup actually collapsed something at 12 bits over this fixture
    assert(rejected.count() > 0)
    // kept set matches the operator applied directly
    val direct = new graft.operators.vector.EmbeddingSimHash(
      vecCol = "embedding", idCol = "vec_id", orderCol = "vec_id",
      bits = 12, dims = 64, seed = 7L)(vecs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = written.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == direct)
  }

  test("yaml pipeline scores with bm25 after a filter; stats come from alive rows only") {
    val base = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    val docs = table("documents")
    docs.write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: search
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 100, text_field: "text"}
         |      - name: bm25_scorer
         |        params: {query_terms: ["spark", "join"], text_field: "text", id_field: "doc_id"}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    assert(written.columns.contains("bm25_score"))
    // disposition semantics == sequential: scores equal the operator
    // applied directly to the filter survivors
    val survivors = docs.where(org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("text")) >= 100)
    val direct = new graft.operators.text.Bm25Retrieval(
      Seq("spark", "join"), "text", "doc_id").scored(survivors, survivors)
      .select("doc_id", "bm25_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = written.select("doc_id", "bm25_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == direct)
  }

  test("yaml pipeline drops embedding outliers with rejects; kept set matches direct") {
    val base = java.nio.file.Files.createTempDirectory("graft_outlier").toString
    val vecs = table("embeddings")
    vecs.write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: clean
         |    operators:
         |      - name: embedding_outlier_filter
         |        params: {vector_field: "embedding", id_field: "vec_id", num_clusters: 8}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "vecs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/vecs")
    val rejected = spark.read.parquet(s"$base/out_rejected/vecs_rejected")
    assert(written.count() + rejected.count() == vecs.count())
    val direct = new graft.operators.vector.EmbeddingOutlierFilter(
      "embedding", "vec_id", k = 8)(vecs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = written.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == direct && kept.nonEmpty)
  }

  test("yaml pipeline scores novelty after a filter; first-occurrence state is alive-rows-only") {
    val base = java.nio.file.Files.createTempDirectory("graft_novelty").toString
    val docs = table("documents")
    docs.write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: score
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 100, text_field: "text"}
         |      - name: ngram_novelty
         |        params: {text_field: "text", id_field: "doc_id", shingle_width: 3}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val written = spark.read.parquet(s"$base/out/docs")
    assert(written.columns.contains("novelty"))
    // disposition == sequential: novelty equals the op on the survivors
    val survivors = docs.where(org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("text")) >= 100)
    val direct = new graft.operators.text.NgramNovelty("text", "doc_id", 3)(survivors)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val got = written.select("doc_id", "novelty")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == direct)
  }

  test("jsonl loader: permissive mode surfaces corrupt lines, failfast raises") {
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/docs.jsonl"),
      ("""{"doc_id": 1, "text": "good one"}""" + "\n" +
       """{"doc_id": 2, "text": "also fine"}""" + "\n" +
       """{"doc_id": 3, "text": "broken""" + "\n").getBytes("UTF-8"))
    // cache(): Spark refuses corrupt-column-only queries straight off
    // raw json (SPARK-21610) — materializing first is the documented use
    val permissive = PipelineRunner.load(spark, LoaderConf("ParquetLoader",
      Params(Map("format" -> "jsonl", "path" -> s"$base/docs.jsonl")))).cache()
    assert(permissive.count() == 3)
    assert(permissive.columns.contains("_corrupt_record"))
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(permissive.filter(col("doc_id").isNotNull).count() == 2)
    // FAILFAST raises during eager schema inference, inside load itself
    intercept[org.apache.spark.SparkException] {
      PipelineRunner.load(spark, LoaderConf("ParquetLoader",
        Params(Map("format" -> "jsonl", "path" -> s"$base/docs.jsonl",
          "mode" -> "FAILFAST")))).collect()
    }
  }

  test("registry: bigram_lm_score and conversation_assembly build and run") {
    import spark.implicits._
    val lm = OperatorRegistry.create("bigram_lm_score",
      Params(Map("id_field" -> "doc_id")))
    val scored = lm(Seq((1L, "a b a"), (2L, "z")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("bigram_lm_bits"))).toMap
    assert(!scored(1L) && scored(2L)) // 2 bigrams score; 1-token doc NULL
    val ca = OperatorRegistry.create("conversation_assembly",
      Params(Map("max_turns" -> 2)))
    val convo = ca(Seq((1L, 10L, 100L, "user", "hi"))
        .toDF("user_id", "event_id", "us", "event_type", "props")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("us"))))
      .collect()
    assert(convo.length == 1 && convo.head.getLong(2) == 1L)
  }

  test("registry rejects unknown operators with the available list") {
    val e = intercept[IllegalArgumentException] {
      OperatorRegistry.create("nope", Params(Map.empty))
    }
    assert(e.getMessage.contains("not found in registry"))
    assert(e.getMessage.contains("text_length_filter"))
    assert(OperatorRegistry.listOperators.size >= 10)
  }

  test("config validation: missing sections and unknown types fail loudly") {
    val noLoader = intercept[IllegalArgumentException] {
      PipelineConf.fromYaml("data_writer:\n  type: ParquetDataWriter\n")
    }
    assert(noLoader.getMessage.contains("data_loader"))
    val badLoader = intercept[IllegalArgumentException] {
      PipelineRunner.load(spark, graft.runner.LoaderConf("NopeLoader", Params(Map.empty)))
    }
    assert(badLoader.getMessage.contains("unknown loader type"))
  }

  test("cli runs the shipped example config") {
    // the shipped example writes to /tmp/graft_out; clear between runs
    val outDir = new java.io.File("/tmp/graft_out")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    if (outDir.exists()) rm(outDir)
    rm(new java.io.File("/tmp/graft_out_rejected"))
    val conf = PipelineConf.fromYamlFile("configs/example_pipeline.yaml")
    val res = PipelineRunner.run(spark, conf)
    assert(res.run.output > 0)
    assert(new java.io.File("/tmp/graft_out/documents_curated").exists())
  }

  test("corpus analyze writes the five reports with consistent totals") {
    val out = java.nio.file.Files.createTempDirectory("graft_analyze").toString
    val docs = table("documents")
    val s = graft.runner.CorpusAnalyze.run(spark, docs, out)
    assert(s.rows == docs.count())
    assert(s.sources == 20 && s.tokensTotal > 0)
    val inv = spark.read.parquet(s"$out/source_inventory")
    assert(inv.agg(org.apache.spark.sql.functions.sum("docs")).head().getLong(0) == s.rows)
    assert(inv.columns.toSeq == Seq("source", "docs", "tokens", "mean_quality"))
    assert(spark.read.parquet(s"$out/column_profile").count() > 0)
    val lp = spark.read.parquet(s"$out/length_percentiles").head()
    assert(lp.getDouble(0) <= lp.getDouble(1) && lp.getDouble(1) <= lp.getDouble(3))
    val nov = spark.read.parquet(s"$out/novelty_deciles")
    assert(nov.agg(org.apache.spark.sql.functions.sum("docs")).head().getLong(0) <= s.rows)
    val drift = spark.read.parquet(s"$out/source_drift")
    assert(drift.count() == s.sources)
    assert(drift.columns.toSeq == Seq("source", "n", "psi"))
    // every per-source PSI is finite and non-negative (p=q ⇒ 0 floor)
    assert(drift.collect().forall(r => !r.isNullAt(2) && r.getDouble(2) >= -1e-9))
    // dataset card renders the inventory and every (≤20) source row
    val card = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "DATASET_CARD.md"))
    assert(card.contains(s"documents: **${s.rows}**"))
    assert(card.contains(s"sources: **${s.sources}**"))
    assert(card.contains("| src0 |") && card.contains("PSI vs corpus"))
    assert(card.contains("Drift flags"))
  }

  test("named corpus reports all run end-to-end and reject unknown names") {
    val out = java.nio.file.Files.createTempDirectory("graft_reports").toString
    val docs = table("documents")
    graft.runner.CorpusReports.names.foreach { name =>
      val rows = graft.runner.CorpusReports.run(spark, name, docs, out)
      // overlap_matrix on the raw fixture is LEGITIMATELY empty (no
      // cross-source duplicate texts = clean corpus); everything else
      // must produce rows
      if (name != "overlap_matrix") assert(rows > 0, s"report $name wrote no rows")
    }
    // spot-check shapes: per-source reports have one row per source
    assert(spark.read.parquet(s"$out/source_drift").count() == 20)
    assert(spark.read.parquet(s"$out/token_fertility").count() == 20)
    // cardinality sketch: the fixture has no exact-dup texts, so the
    // distinct-text estimate must sit within the sketch's error band of
    // the doc count, and every source carries a positive vocab estimate
    val cardRows = spark.read.parquet(s"$out/source_cardinality").collect()
    assert(cardRows.length == 20)
    cardRows.foreach { r =>
      val n = r.getAs[Long]("n_docs").toDouble
      val est = r.getAs[Double]("est_distinct_texts")
      assert(math.abs(est - n) < 0.1 * n + 5, s"source ${r.get(0)}: est $est vs n $n")
      assert(r.getAs[Double]("est_vocab") > 0.0)
    }
    assert(spark.read.parquet(s"$out/ngram_diversity").count() == 3)
    // the raw fixture is contamination-free; planting one cross-source
    // duplicate text makes exactly one pair cell light up
    assert(spark.read.parquet(s"$out/overlap_matrix").count() == 0)
    val planted = docs.unionByName(
      docs.limit(1)
        .withColumn("doc_id", col("doc_id") + 900000L)
        .withColumn("source", lit("srcX")))
    val m = graft.runner.CorpusReports.run(spark, "overlap_matrix", planted, out)
    assert(m == 1L, s"expected exactly one contaminated pair, got $m")
    // the embedding-convention tuner reports run against the embeddings
    // fixture and each emit exactly one chosen config row
    val emb = table("embeddings")
    graft.runner.CorpusReports.embeddingNames.foreach { name =>
      val rows = graft.runner.CorpusReports.run(spark, name, emb, out)
      assert(rows > 0, s"report $name wrote no rows")
      val chosen = spark.read.parquet(s"$out/$name")
        .filter(col("chosen")).count()
      assert(chosen == 1L, s"report $name: expected one chosen row, got $chosen")
    }
    // the minhash tuner (documents conventions) also lands a chosen row
    assert(spark.read.parquet(s"$out/minhash_operating_point")
      .filter(col("chosen")).count() == 1L)
    intercept[IllegalArgumentException](
      graft.runner.CorpusReports.run(spark, "nope", docs, out))
  }

  test("yaml pipeline loads CommonCrawl warc through the DSv2 source end-to-end") {
    val base = java.nio.file.Files.createTempDirectory("graft_warcpipe")
    def rec(tpe: String, uri: String, content: String): String = {
      val c = content.getBytes("UTF-8")
      s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: 2024-12-01T00:00:00Z\r\nContent-Length: ${c.length}\r\n\r\n" +
        content + "\r\n\r\n"
    }
    val html = "<html><head><title>T</title></head><body><p>" +
      "Readable paragraph with plenty of ordinary words to clear the extractor minimum today." +
      "</p></body></html>"
    val bytes = rec("response", "http://ex.com/a",
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html").getBytes("UTF-8")
    java.nio.file.Files.write(base.resolve("a.warc"), bytes)
    java.nio.file.Files.write(base.resolve("b.warc"), bytes)
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: CommonCrawlLoader
         |  params: {path: "$base/*.warc", crawl_id: "CC-TEST"}
         |stages:
         |  - name: clean
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 50, text_field: "text"}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    assert(res.run.output == 2)
    val out = spark.read.parquet(s"$base/out/docs")
    assert(out.columns.contains("url") && out.count() == 2)
  }

  test("cli runs the shipped curation-stack and vector example configs") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    Seq("/tmp/graft_stack_out", "/tmp/graft_stack_out_rejected",
      "/tmp/graft_vec_out", "/tmp/graft_vec_out_rejected")
      .foreach(p => rm(new java.io.File(p)))
    val stack = PipelineRunner.run(spark,
      PipelineConf.fromYamlFile("configs/example_curation_stack.yaml"))
    assert(stack.run.output > 0)
    val curated = spark.read.parquet("/tmp/graft_stack_out/documents_curated")
    assert(curated.columns.contains("novelty"))
    assert(new java.io.File("/tmp/graft_stack_out/report.html").exists())
    val vec = PipelineRunner.run(spark,
      PipelineConf.fromYamlFile("configs/example_vectors.yaml"))
    assert(vec.run.output > 0 && vec.run.output < vec.run.input)
    assert(new java.io.File("/tmp/graft_vec_out/embeddings_curated/manifest.json").exists())
    // the PCA width came from the q tuner's chosen row (r18): the
    // report persisted as run evidence, and the written projection is
    // exactly chosen-q wide — the projector and the downstream dedup
    // read the SAME row, so they can never disagree
    val qRep = spark.read.parquet("/tmp/graft_vec_out/_reports/pca_q_operating_point")
      .filter(col("chosen")).collect()
    assert(qRep.length == 1)
    val chosenQ = qRep.head.getAs[Long]("q_components").toInt
    assert(chosenQ >= 1 && chosenQ <= 8)
    val curatedVecs = spark.read.json("/tmp/graft_vec_out/embeddings_curated/part-*.json.gz")
    assert(curatedVecs.select(org.apache.spark.sql.functions.size(col("embedding_pca")))
      .distinct().collect().map(_.getInt(0)).toSeq == Seq(chosenQ),
      s"projection width must equal the chosen q=$chosenQ")
    // the r15 frozen-scoring stack: external-reference LM bits attached
    // in disposition mode, then the budget sampler cuts src0
    rm(new java.io.File("/tmp/graft_frozen_out"))
    rm(new java.io.File("/tmp/graft_frozen_out_rejected"))
    val frozen = PipelineRunner.run(spark,
      PipelineConf.fromYamlFile("configs/example_frozen_scoring.yaml"))
    assert(frozen.run.output > 0 && frozen.run.output < frozen.run.input)
    val scored = spark.read.parquet("/tmp/graft_frozen_out/documents_scored")
    assert(scored.columns.contains("bigram_lm_bits"))
    assert(scored.filter(org.apache.spark.sql.functions.col("bigram_lm_bits").isNotNull)
      .count() > 0, "survivors must carry frozen-LM scores")
  }

  test("shipped tuned-semantic-dedup config: the runner consumes the tuner's chosen nprobe and persists the report") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    Seq("/tmp/graft_tuned_dedup_out", "/tmp/graft_tuned_dedup_out_rejected")
      .foreach(p => rm(new java.io.File(p)))
    val res = PipelineRunner.run(spark,
      PipelineConf.fromYamlFile("configs/example_tuned_semantic_dedup.yaml"))
    assert(res.run.output > 0 && res.run.output < res.run.input,
      "the fixture must yield semantic drops")
    // the tuner report persisted as run evidence, exactly one chosen row
    val rep = spark.read.parquet(
      "/tmp/graft_tuned_dedup_out/_reports/semantic_probe_operating_point")
    val chosen = rep.filter(org.apache.spark.sql.functions.col("chosen")).collect()
    assert(chosen.length == 1, s"exactly one chosen row, got ${chosen.length}")
    val nprobe = chosen.head.getAs[Int]("nprobe")
    assert(nprobe >= 1 && nprobe <= 4)
    // the cap tuner persisted too, with its own single chosen row
    val capRep = spark.read.parquet(
      "/tmp/graft_tuned_dedup_out/_reports/semantic_cap_operating_point")
    val capChosen = capRep.filter(org.apache.spark.sql.functions.col("chosen")).collect()
    assert(capChosen.length == 1, s"exactly one chosen cap row, got ${capChosen.length}")
    val cap = capChosen.head.getAs[Int]("max_cell_size")
    assert(Seq(25, 50, 100, 200, 400, 800).contains(cap))
    // the pipeline's kept set equals a direct operator run at the
    // chosen nprobe AND chosen cap under the same trained buckets (the
    // shipped config uses the ANCHORED cap mode)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val want = new graft.operators.vector.AutoBucketedCosineDedup(
        "embedding", "vec_id", 0.35, numBuckets = 8, seed = 42L,
        nprobe = nprobe, maxCellSize = Some(cap), anchoredCap = true)(emb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(
        "/tmp/graft_tuned_dedup_out/embeddings_deduped")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"config-driven kept (${got.size}) must equal the direct run at the " +
        s"tuner-chosen nprobe=$nprobe (${want.size})")
  }

  test("shipped trained-quality config: fits on the length-surviving corpus, rejects routed") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    Seq("/tmp/graft_trained_quality_out", "/tmp/graft_trained_quality_out_rejected")
      .foreach(p => rm(new java.io.File(p)))
    val res = PipelineRunner.run(spark,
      PipelineConf.fromYamlFile("configs/example_trained_quality.yaml"))
    assert(res.run.output > 0 && res.run.output < res.run.input,
      "the trained threshold must split the fixture")
    val got = spark.read.parquet("/tmp/graft_trained_quality_out/documents_curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the API path: the filter must FIT on the length-surviving frame
    // (the stage's sequential semantics), not the raw corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lengthKept = new graft.operators.text.TextLengthFilter(
      minLength = 100, maxLength = None, textCol = "text",
      lengthCol = Some("n_chars"))(docs)
    val want = new graft.operators.ml.LogregQualityFilter(
        textCol = "text", idCol = "doc_id", labelCol = "lang",
        labelValue = Some("en"), threshold = 0.384)(lengthKept)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"config-driven kept (${got.size}) must equal the staged API run (${want.size})")
  }

  test("config-driven trained-quality filter equals the API path; one fit per stage; params plumb") {
    val base = java.nio.file.Files.createTempDirectory("graft_logreg_cfg").toString
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "/root/testdata/sf0.001/documents.parquet"}
         |stages:
         |  - name: quality
         |    operators:
         |      - name: logreg_quality_filter
         |        params:
         |          text_field: "text"
         |          id_field: "doc_id"
         |          label_field: "lang"
         |          label_value: "en"
         |          threshold: 0.384
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    assert(res.run.output > 0 && res.run.output < res.run.input,
      "the threshold must split the fixture")
    val got = spark.read.parquet(s"$base/out/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val want = new graft.operators.ml.LogregQualityFilter(
        textCol = "text", idCol = "doc_id", labelCol = "lang",
        labelValue = Some("en"), threshold = 0.384)(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"config-driven kept (${got.size}) must equal the API path (${want.size})")
    // apply + rejected over ONE frame share one fit (the single-slot cache)
    val f2 = new graft.operators.ml.LogregQualityFilter(
      textCol = "text", idCol = "doc_id", labelCol = "lang",
      labelValue = Some("en"), threshold = 0.384)
    assert(f2(docs).count() + f2.rejected(docs).count() == docs.count())
    assert(f2.refiner.fitCount.get() == 1, "apply+rejected must share one fit")
    // trainer knobs pinned on the registry-built operator — output
    // equality alone can't catch a dropped learning_rate/fit_sample_mod
    val built = graft.runner.OperatorRegistry.create("logreg_quality_filter",
      graft.runner.Params(Map("text_field" -> "text", "id_field" -> "doc_id",
        "label_field" -> "lang", "label_value" -> "en", "threshold" -> 0.41,
        "learning_rate" -> 0.5, "iterations" -> 4, "fit_sample_mod" -> 2,
        "pos_weight" -> 3.0, "l2" -> 0.05)))
      .asInstanceOf[graft.operators.ml.LogregQualityFilter]
    assert(built.threshold == 0.41)
    assert(built.refiner.trainer.lr == 0.5 && built.refiner.trainer.iters == 4 &&
      built.refiner.trainer.fitSampleMod.contains(2))
    assert(built.refiner.trainer.posWeight == 3.0 && built.refiner.trainer.l2 == 0.05)
  }

  test("config-driven OPH minhash dedup equals the API path (the shipped stack's scheme)") {
    // the shipped curation stack ships signature_scheme: oph (r18);
    // this pins the YAML plumbing — a config-driven OPH run keeps
    // exactly the rows the direct operator keeps
    val base = java.nio.file.Files.createTempDirectory("graft_oph_cfg").toString
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "/root/testdata/sf0.001/documents.parquet"}
         |stages:
         |  - name: dedup
         |    operators:
         |      - name: minhash_lsh_deduplicator
         |        params:
         |          text_field: "text"
         |          id_field: "doc_id"
         |          num_hashes: 16
         |          num_bands: 4
         |          threshold: 0.8
         |          signature_scheme: "oph"
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |""".stripMargin)
    val res = PipelineRunner.run(spark, conf)
    assert(res.run.output > 0)
    val got = spark.read.parquet(s"$base/out/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = new graft.operators.dedup.MinHashLSHDedup(
        textCol = "text", idCol = "doc_id",
        shingleWidth = 3, numHashes = 16, numBands = 4, threshold = 0.8,
        preCollapseExact = true, signatureScheme = "oph")(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"config-driven OPH kept (${got.size}) must equal the API path (${want.size})")
    // output equality alone can't catch a dropped signature_scheme param
    // (kmin and oph keep identical rows at this geometry — measured
    // recall 1.0) — pin the plumbing on the constructed operator itself
    val built = graft.runner.OperatorRegistry.create("minhash_lsh_deduplicator",
      graft.runner.Params(Map("text_field" -> "text", "id_field" -> "doc_id",
        "signature_scheme" -> "oph")))
    assert(built.asInstanceOf[graft.operators.dedup.MinHashLSHDedup]
      .signatureScheme == "oph")
  }

  test("shipped anchor-mining config: pair table equals a direct mutualKnnLshOr run") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File("/tmp/graft_anchor_out"))
    val res = PipelineRunner.run(spark,
      PipelineConf.fromYamlFile("configs/example_anchor_mining.yaml"))
    assert(res.run.output > 0, "the fixture must yield mutual pairs")
    val got = spark.read.parquet("/tmp/graft_anchor_out/anchor_pairs")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.vector.AnnSearch.mutualKnnLshOr(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "embedding", "vec_id", k = 5,
        bands = (0 until 4).map(b => 4 * b until 4 * (b + 1)),
        maxBucketSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"config-driven pairs (${got.size}) must equal the direct run (${want.size})")
    // the geometry params construct the documented contiguous bands
    val op = new graft.operators.vector.MutualKnnAnchorMiner(
      numBands = 3, bandWidth = 2)
    assert(op.bands == Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5)))
  }

  test("yaml pipeline runs the probed semantic deduplicator (nprobe param reaches the registry)") {
    def run(nprobe: Int): Long = {
      val base = java.nio.file.Files.createTempDirectory(s"graft_probed$nprobe").toString
      val conf = PipelineConf.fromYaml(
        s"""data_loader:
           |  type: ParquetLoader
           |  params: {format: parquet, path: "/root/testdata/sf0.001/embeddings.parquet"}
           |stages:
           |  - name: dedup
           |    operators:
           |      - name: embedding_cosine_deduplicator
           |        params: {embedding_field: "embedding", id_field: "vec_id", threshold: 0.35, num_buckets: 8, nprobe: $nprobe}
           |data_writer:
           |  type: ParquetDataWriter
           |  params: {output_path: "$base/out", table_name: "vecs"}
           |""".stripMargin)
      PipelineRunner.run(spark, conf).run.output
    }
    val k1 = run(1)
    val k2 = run(2)
    assert(k2 > 0 && k2 <= k1,
      s"probing can only widen the drop set: nprobe=2 kept $k2 vs nprobe=1 kept $k1")
  }

  test("keep_policy reaches the registry: semdedup equals the direct operator run") {
    val base = java.nio.file.Files.createTempDirectory("graft_keeppol").toString
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "/root/testdata/sf0.001/embeddings.parquet"}
         |stages:
         |  - name: dedup
         |    operators:
         |      - name: embedding_cosine_deduplicator
         |        params: {embedding_field: "embedding", id_field: "vec_id", threshold: 0.35, num_buckets: 8, nprobe: 2, keep_policy: semdedup}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "vecs"}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val got = spark.read.parquet(s"$base/out/vecs")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = new graft.operators.vector.AutoBucketedCosineDedup(
        "embedding", "vec_id", 0.35, numBuckets = 8, seed = 42L, nprobe = 2,
        keepPolicy = "semdedup")(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"config-driven kept (${got.size}) vs direct (${want.size})")
  }

  test("cell_cap_mode reaches the registry: anchored keeps no more than first at the same cap, bad value rejected") {
    def run(mode: String): Long = {
      val base = java.nio.file.Files.createTempDirectory(s"graft_capmode_$mode").toString
      val conf = PipelineConf.fromYaml(
        s"""data_loader:
           |  type: ParquetLoader
           |  params: {format: parquet, path: "/root/testdata/sf0.001/embeddings.parquet"}
           |stages:
           |  - name: dedup
           |    operators:
           |      - name: embedding_cosine_deduplicator
           |        params: {embedding_field: "embedding", id_field: "vec_id", threshold: 0.35, num_buckets: 8, nprobe: 2, max_cell_size: 10, cell_cap_mode: $mode}
           |data_writer:
           |  type: ParquetDataWriter
           |  params: {output_path: "$base/out", table_name: "vecs"}
           |""".stripMargin)
      PipelineRunner.run(spark, conf).run.output
    }
    val kFirst = run("first")
    val kAnchored = run("anchored")
    // anchored pairs ⊇ first-cap pairs at the same cap ⇒ kept no more
    assert(kAnchored > 0 && kAnchored <= kFirst,
      s"anchored kept $kAnchored vs first kept $kFirst")
    assertThrows[IllegalArgumentException](run("sideways"))
  }

  test("yaml pipeline runs the containment deduplicator with rejects") {
    val base = java.nio.file.Files.createTempDirectory("graft_cont").toString
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val excerpt = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    import spark.implicits._
    Seq((1L, long), (2L, excerpt), (3L, "wholly different content entirely"))
      .toDF("doc_id", "text").write.parquet(s"$base/in")
    val conf = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: dedup
         |    operators:
         |      - name: ngram_containment_deduplicator
         |        params: {text_field: "text", id_field: "doc_id", shingle_width: 3, threshold: 0.8, max_doc_freq: 100}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$base/out", table_name: "docs"}
         |executor:
         |  rejected_samples: {enabled: true}
         |""".stripMargin)
    PipelineRunner.run(spark, conf)
    val kept = spark.read.parquet(s"$base/out/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    val rej = spark.read.parquet(s"$base/out_rejected/docs_rejected")
    assert(rej.select("doc_id").head().getLong(0) == 2L)
    assert(rej.select(col("_rejection_details.operator")).head().getString(0)
      == "ngram_containment_dedup")
  }

  test("fitting operators read a staged chain: the upstream refiner runs once per row, outputs unchanged") {
    val base = java.nio.file.Files.createTempDirectory("graft_fitstage").toString
    val emb = table("embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
    // planted near-copies under fresh ids, so the cosine dedup rejects too
    emb.unionByName(emb.limit(30).withColumn("vec_id", col("vec_id") + lit(100000L)))
      .repartition(4).write.parquet(s"$base/in")
    val n = spark.read.parquet(s"$base/in").count()
    // the upstream refiner counts its evaluations: every fit job that
    // replays the chain below it evaluates it again
    val evals = spark.sparkContext.longAccumulator("fit_stage_evals")
    val embed = udf { (v: Seq[Double]) => evals.add(1); v }
    OperatorRegistry.register("counted_embedding", _ => new graft.core.Refiner {
      val name = "counted_embedding"
      def added(df: org.apache.spark.sql.DataFrame) = Seq("embedding" -> embed(col("raw")))
    })
    def conf(out: String, materialize: String) = PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: embed
         |    operators:
         |      - name: counted_embedding
         |  - name: fit
         |    operators:
         |      - name: embedding_outlier_filter
         |        params: {vector_field: embedding, id_field: vec_id, num_clusters: 4}
         |      - name: pca_projection
         |        params: {embedding_field: embedding, dims: 64, components: 8}
         |      - name: embedding_cosine_deduplicator
         |        params: {embedding_field: embedding, id_field: vec_id, threshold: 0.95, num_buckets: 4}
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "$out", table_name: vecs}
         |executor:
         |  rejected_samples: {enabled: true, materialize: $materialize}
         |""".stripMargin)
    def outputs(out: String) = (spark.read.parquet(s"$out/vecs"),
      spark.read.parquet(s"${out}_rejected/vecs_rejected"))

    evals.reset()
    PipelineRunner.run(spark, conf(s"$base/staged", "cache"))
    assert(evals.value == n, s"refiner evaluated ${evals.value} times over $n rows")

    // materialize=recompute builds the same chain with no staging: every
    // fit replays the refiner (the behavior staging removes)
    evals.reset()
    PipelineRunner.run(spark, conf(s"$base/unstaged", "recompute"))
    assert(evals.value > 2 * n, s"unstaged chain evaluated the refiner ${evals.value} times")

    val (passed, rejected) = outputs(s"$base/staged")
    val (passed0, rejected0) = outputs(s"$base/unstaged")
    assert(passed.count() > 0 && passed.count() + rejected.count() == n)
    val rejOps = rejected.select(col("_rejection_details.operator")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(rejOps == Set("embedding_outlier_filter", "embedding_cosine_dedup"), rejOps)
    assert(passed.exceptAll(passed0).isEmpty && passed0.exceptAll(passed).isEmpty)
    assert(rejected.exceptAll(rejected0).isEmpty && rejected0.exceptAll(rejected).isEmpty)
  }
}
