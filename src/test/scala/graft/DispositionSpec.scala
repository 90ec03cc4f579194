package graft

import graft.core.{Disposition, Rejection}
import graft.operators.dedup.TextExactDedup
import graft.operators.text.TextLengthFilter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Single-pass reject disposition (core.Disposition + the runner's
  * rejectedEnabled path): mark-don't-drop must agree row-for-row with the
  * sequential apply/rejected chain, and the whole passed+rejected lineage
  * must read the source exactly once (the reference replays the chain per
  * stage — the scale defect this mode removes).
  */
class DispositionSpec extends AnyFunSuite {
  import TestSpark._

  private val filterOp = new TextLengthFilter(100L, Some(400L), "text", Some("n_chars"))
  private val dedupOp = TextExactDedup("text", idCol = "doc_id", orderCol = "doc_id")

  private def chain(docs: DataFrame): DataFrame = {
    var df = Disposition.init(docs)
    df = Disposition.step(df, filterOp, "_t0")
    Disposition.step(df, dedupOp, "_t1")
  }

  test("disposition passed equals the sequential chain") {
    val docs = table("documents")
    val sequential = dedupOp(filterOp(docs)).select("doc_id")
    val disposition = Disposition.passed(chain(docs)).select("doc_id")
    assert(disposition.exceptAll(sequential).isEmpty &&
      sequential.exceptAll(disposition).isEmpty)
  }

  test("disposition rejects equal the union of sequential complements") {
    // plant exact-text duplicates under fresh ids so BOTH operators reject
    val base = table("documents")
    val docs = base.unionByName(
      base.limit(40).withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val seqFilter = filterOp.rejected(docs)
    val seqDedup = dedupOp.rejected(filterOp(docs))
    val disp = Disposition.rejected(chain(docs)).persist()
    try {
      val dispByOp = disp
        .groupBy(col(s"${Rejection.ColName}.operator").as("op")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = Map(
        filterOp.name -> seqFilter.count(), dedupOp.name -> seqDedup.count())
        .filter(_._2 > 0)
      assert(expected.size == 2, "fixture must reject through both operators")
      assert(dispByOp == expected)
      // dedup rejects carry the kept row's id as representative
      val reps = disp.filter(col(s"${Rejection.ColName}.reason") === "duplicate")
        .select(col(s"${Rejection.ColName}.representative_id"))
      val seqReps = seqDedup.select(col(s"${Rejection.ColName}.representative_id"))
      assert(reps.exceptAll(seqReps).isEmpty && seqReps.exceptAll(reps).isEmpty)
    } finally disp.unpersist()
  }

  test("passed + rejected cover the input exactly once per row") {
    val docs = table("documents")
    val annotated = chain(docs)
    val total = Disposition.passed(annotated).count() +
      Disposition.rejected(annotated).count()
    assert(total == docs.count())
  }

  test("blocklist filter marks via left join, agreeing with apply/rejected") {
    import spark.implicits._
    val docs = table("documents").withColumn("url",
      concat(lit("http://"),
        when(col("doc_id") % 3 === 0, lit("sub.spam.net")).otherwise(lit("ok.org")),
        lit("/page")))
    val blocklist = Seq("example.com", "spam.net").toDF("domain")
    val op = new graft.operators.text.DomainBlocklistFilter(blocklist, idCol = "doc_id")
    var d = Disposition.init(docs)
    d = Disposition.step(d, op, "_b0")
    val passedIds = Disposition.passed(d).select("doc_id").as[Long].collect().toSet
    val seqIds = op(docs).select("doc_id").as[Long].collect().toSet
    assert(passedIds == seqIds)
    val rejected = Disposition.rejected(d)
    assert(rejected.count() == op.rejected(docs).count())
    assert(rejected.select(col(s"${Rejection.ColName}.reason")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("filtered"))
  }

  test("refiners after a reject are gated: dead rows keep null enrichment") {
    import graft.sources.SyntheticImages
    val idFilter = new graft.core.RowFilter {
      val name = "keep_small_ids"
      def keep(df: DataFrame) = col("id") < 30
    }
    var d = Disposition.init(SyntheticImages.df(spark))
    d = Disposition.step(d, idFilter, "_g0")
    d = Disposition.step(d, new graft.operators.image.ImageMetadataRefiner("image"), "_g1")
    // alive rows carry computed metadata, identical to the sequential chain
    val passed = Disposition.passed(d)
    val seq = new graft.operators.image.ImageMetadataRefiner("image")(
      SyntheticImages.df(spark).filter(col("id") < 30))
    assert(passed.select("id", "image_width", "image_format")
      .exceptAll(seq.select("id", "image_width", "image_format")).isEmpty)
    // dead rows never reached the refiner: enrichment is null, decode skipped
    val deadMeta = Disposition.rejected(d)
      .select(col("image_width"), col("image_format")).collect()
    assert(deadMeta.nonEmpty && deadMeta.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("corpus-global refiners train on alive rows only, matching sequential") {
    import spark.implicits._
    // doc 0 and doc 10 share a tail (and a boilerplate line); doc 0 is
    // filtered upstream. Sequentially, the survivors' corpus holds ONE
    // copy: dup_ngram must not remove the tail from doc 10, line_dedup
    // must keep the shared line in doc 10 (not award it to dead doc 0),
    // and the LM trains without doc 0's tokens.
    val tail = " alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, "drop me" + tail + "\nshared boilerplate line of text"),
      (10L, "keep me around here" + tail + "\nshared boilerplate line of text"),
      (20L, "another surviving document with plain words\nunique line twenty"),
      (30L, "a third surviving document full of words\nunique line thirty"))
      .toDF("doc_id", "text")
    val idFilter = new graft.core.RowFilter {
      val name = "drop_doc_zero"
      def keep(df: DataFrame) = col("doc_id") =!= 0L
    }
    val dupOp = new graft.operators.text.DupNgramRefiner(
      "text", "doc_id", ngramWidth = 8, minCount = 2)
    val lineOp = new graft.operators.text.LineDedupRefiner(
      "text", "doc_id", "doc_id", minLineLength = 5, hashName = "portable")
    val lmOp = new graft.operators.text.NgramLmScoreRefiner("text", "doc_id")

    val seq = lmOp(lineOp(dupOp(idFilter(docs))))
      .select("doc_id", "dup_ngram_count", "text_dedup_spans",
        "text_line_deduped", "lines_removed", "lm_logprob_avg")
    var d = Disposition.init(docs)
    d = Disposition.step(d, idFilter, "_c0")
    d = Disposition.step(d, dupOp, "_c1")
    d = Disposition.step(d, lineOp, "_c2")
    d = Disposition.step(d, lmOp, "_c3")
    val disp = Disposition.passed(d)
      .select("doc_id", "dup_ngram_count", "text_dedup_spans",
        "text_line_deduped", "lines_removed", "lm_logprob_avg")
    assert(disp.exceptAll(seq).isEmpty && seq.exceptAll(disp).isEmpty,
      s"disposition:\n${disp.collect().mkString("\n")}\nsequential:\n${seq.collect().mkString("\n")}")
    // the dead doc's tail must NOT have been counted: doc 10 keeps it
    val d10 = disp.filter(col("doc_id") === 10L).head()
    assert(d10.getAs[Long]("dup_ngram_count") == 0L, d10)
    assert(d10.getAs[String]("text_line_deduped").contains("shared boilerplate"), d10)
    // dead rows carry null corpus outputs (never computed)
    val dead = Disposition.rejected(d)
      .select("dup_ngram_count", "text_line_deduped", "lm_logprob_avg").head()
    assert(dead.isNullAt(0) && dead.isNullAt(1) && dead.isNullAt(2), dead)
  }

  test("single source scan: the annotated chain has one relation leaf") {
    val leaves = chain(table("documents")).queryExecution.optimizedPlan
      .collect { case l: LeafNode => l }
    assert(leaves.size == 1, s"expected 1 scan leaf, got: $leaves")
  }

  // ---- operators that fit on their input (core.FitsOnInput) ----

  /** Every registry operator's input shape at once: documents with a
    * 64-d embedding, label, media and event columns. The upstream filter
    * counts its evaluations, so a job that replays the chain below an
    * operator shows up in `evals`.
    */
  private lazy val (fitFixture, evals, sidePath) = {
    val emb = table("embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val side = java.nio.file.Files.createTempDirectory("graft_fit_side").toString + "/t"
    table("documents").select(col("doc_id"), col("doc_id").as("id"), col("text"))
      .limit(20).write.parquet(side)
    val acc = spark.sparkContext.longAccumulator("fit_fixture_evals")
    val probe = udf { (_: Long) => acc.add(1); true }
    val nullMedia = struct(lit(null).cast("binary").as("bytes"), lit("x").as("path"))
    val docs = table("documents")
      .join(emb, col("vec_id") === col("doc_id"), "left").drop("vec_id")
      .withColumn("id", col("doc_id"))
      .withColumn("url", concat(lit("https://site"), col("doc_id") % 7, lit(".com/p/"), col("doc_id")))
      .withColumn("label_num", (col("doc_id") % 3).cast("long"))
      .withColumn("label_bool", col("doc_id") % 2 === 0)
      .withColumn("lm_perplexity", (col("doc_id") % 97).cast("double"))
      .withColumn("image", nullMedia).withColumn("audio", nullMedia)
      .withColumn("video", nullMedia)
      .withColumn("image_embedding", col("embedding"))
      .withColumn("text_embedding", col("embedding"))
      .withColumn("user_id", col("doc_id") % 10).withColumn("event_id", col("doc_id"))
      .withColumn("ts", timestamp_seconds(col("doc_id")))
      .withColumn("event_type", lit("user")).withColumn("props", col("text"))
      .filter(probe(col("doc_id")))
    (Disposition.init(docs), acc, side)
  }

  /** (jobs started, upstream row evaluations) while building one
    * disposition step of `op` over the fixture.
    */
  private def stepCost(op: graft.core.Operator): (Int, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    val e0 = evals.value
    try {
      // operators that stage their own intermediates release them here
      graft.core.Staging.scoped { Disposition.step(fitFixture, op, "_fit") }
      org.apache.spark.ListenerDrain(sc)
      (jobs.get(), evals.value - e0)
    } finally sc.removeSparkListener(l)
  }

  private def create(name: String, params: (String, Any)*): graft.core.Operator =
    graft.runner.OperatorRegistry.create(name, graft.runner.Params(params.toMap))

  test("marked operators run jobs over their input while the chain is built; text_curation's run none") {
    val marked = Seq(
      create("embedding_outlier_filter", "vector_field" -> "embedding", "id_field" -> "doc_id"),
      create("pca_projection", "embedding_field" -> "embedding", "dims" -> 64, "components" -> 4),
      create("embedding_cosine_deduplicator", "embedding_field" -> "embedding",
        "id_field" -> "doc_id", "num_buckets" -> 4),
      create("mutual_knn_anchor_miner", "embedding_field" -> "embedding", "id_field" -> "doc_id"),
      create("centroid_label", "embedding_field" -> "embedding", "id_field" -> "doc_id",
        "label_field" -> "label_num", "dims" -> 64),
      create("bigram_lm_score", "text_field" -> "text", "id_field" -> "doc_id"),
      create("dup_ngram", "text_field" -> "text", "id_field" -> "doc_id"),
      create("dsir_score", "target_path" -> sidePath, "text_field" -> "text"),
      create("logreg_quality", "id_field" -> "doc_id", "label_field" -> "label_bool"),
      create("logreg_quality_filter", "id_field" -> "doc_id", "label_field" -> "label_bool"),
      create("minhash_lsh_deduplicator", "id_field" -> "doc_id", "max_bucket_size" -> 5),
      create("token_budget_waterfill", "budget_num" -> 1, "budget_den" -> 2),
      create("domain_quality_shrunk"))
    marked.foreach { op =>
      assert(graft.core.FitsOnInput(op), op.name)
      val (jobs, ev) = stepCost(op)
      assert(jobs >= 1 && ev > 0, s"${op.name}: $jobs jobs, $ev upstream evaluations")
    }
    // the text_curation chain (perfbench's params): none is marked, and
    // building it runs no job — it never takes the staging path
    val text = Seq(
      create("text_length_filter", "min_length" -> 200, "text_field" -> "text"),
      create("gopher_repetition_filter", "text_field" -> "text"),
      create("pii_redaction", "text_field" -> "text"),
      create("ngram_novelty", "text_field" -> "text", "id_field" -> "id"),
      create("minhash_lsh_deduplicator", "text_field" -> "text", "id_field" -> "id",
        "signature_scheme" -> "oph"))
    text.foreach { op =>
      assert(!graft.core.FitsOnInput(op), op.name)
      assert(stepCost(op) == (0, 0L), op.name)
    }
  }

  test("every registry operator is marked iff building its step replays the input") {
    // defaults plus the fixture's column names; operators with a side
    // input (a benchmark set, a prior snapshot, a training corpus) read
    // it from `sidePath` — jobs over a side input replay nothing
    val base = Map[String, Any](
      "text_field" -> "text", "id_field" -> "doc_id", "embedding_field" -> "embedding",
      "vector_field" -> "embedding", "url_field" -> "url", "source_field" -> "source",
      "length_field" -> "n_chars", "image_field" -> "image", "label_field" -> "lang",
      "words" -> java.util.Arrays.asList("the", "a"),
      "query_terms" -> java.util.Arrays.asList("the"),
      "raters" -> java.util.Arrays.asList("gopher"), "min_votes" -> 1,
      "benchmark_path" -> sidePath, "target_path" -> sidePath, "train_path" -> sidePath,
      "prior_path" -> sidePath, "dims" -> 64, "in_dims" -> 64, "budget_num" -> 1)
    val overrides = Map[String, Map[String, Any]](
      "centroid_label" -> Map("label_field" -> "label_num"),
      "logreg_quality" -> Map("label_field" -> "label_bool"),
      "logreg_quality_filter" -> Map("label_field" -> "label_bool"))
    val builtIn = graft.runner.OperatorRegistry.listOperators
      .map(name => name -> graft.runner.OperatorRegistry.create(name,
        graft.runner.Params(base ++ overrides.getOrElse(name, Map.empty))))
      // other suites in this JVM register operators of their own
      .filter { case (_, op) =>
        val c = op.getClass.getName
        c.startsWith("graft.operators.") || c.startsWith("graft.runner.")
      }
    assert(builtIn.size > 80, builtIn.size)
    val wrong = builtIn.flatMap { case (name, op) =>
      val (jobs, ev) = stepCost(op)
      if (graft.core.FitsOnInput(op) == (ev > 0)) None
      else Some(s"$name: marked=${graft.core.FitsOnInput(op)}, $jobs jobs, $ev upstream evaluations")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("dispositionChain stages the chain once before each fitting operator, never under stageFits=false") {
    val ops = Seq(
      create("text_length_filter", "min_length" -> 200, "text_field" -> "text"),
      create("embedding_outlier_filter", "vector_field" -> "embedding", "id_field" -> "doc_id"),
      create("pca_projection", "embedding_field" -> "embedding", "dims" -> 64, "components" -> 4))
    def stagedBy(stageFits: Boolean): Int = graft.core.Staging.scoped {
      val before = graft.core.Staging.liveCount
      new graft.metrics.MeteredPipeline("s", ops)
        .dispositionChain(fitFixture, "_st", stageFits)
      graft.core.Staging.liveCount - before
    }
    assert(stagedBy(stageFits = true) == 2)
    assert(stagedBy(stageFits = false) == 0)
  }
}
