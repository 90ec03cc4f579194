package perfbench

import java.io.File

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero if any fails. Needs no Spark session.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    test("same seed gives identical text inputs, another seed different ones") {
      check(Gen.texts(7, 500) == Gen.texts(7, 500), "seed 7 twice differs")
      check(Gen.texts(7, 500) != Gen.texts(8, 500), "seeds 7 and 8 agree")
    }
    test("same seed gives identical image inputs, another seed different ones") {
      def flat(rs: Seq[Gen.ImageRow]) = rs.map(r => (r.id, r.kind, r.origin, r.png.toSeq, r.embedding.toSeq))
      check(flat(Gen.images(7, 120)) == flat(Gen.images(7, 120)), "seed 7 twice differs")
      check(flat(Gen.images(7, 120)) != flat(Gen.images(8, 120)), "seeds 7 and 8 agree")
    }
    test("planted copies keep a larger id than their origin") {
      val docs = Gen.texts(3, 1000)
      check(docs.count(_.kind == Gen.ExactCopy) == 50, "want 5% exact copies")
      check(docs.filter(_.origin >= 0).forall(d => d.id > d.origin), "a copy has a smaller id")
      val imgs = Gen.images(3, 200)
      check(imgs.filter(_.origin >= 0).forall(r => r.id > r.origin), "an image copy has a smaller id")
      check(imgs.filter(_.kind == Gen.ImageCopy).forall(r =>
        imgs.find(_.id == r.origin).exists(_.png.sameElements(r.png))), "an exact image copy differs")
    }

    // a correct outcome over ids 0..9: 8 is a planted copy of 1, 9 a short doc
    val inputs = (0L until 10L).toSeq
    val must = Map(8L -> "dedup", 9L -> "length")
    val good = Checks.Outcome((0L until 8L).toSeq, Seq(8L -> "dedup", 9L -> "length"), 0)
    val digest = Checks.digest(good.passed)
    test("output check accepts a correct outcome") {
      check(Checks.verify(inputs, good, must, Some(digest)).isEmpty, "rejected a correct outcome")
      check(Checks.digest(good.passed.reverse) == digest, "digest depends on order")
    }
    test("output check rejects a kept planted duplicate") {
      val bad = good.copy(passed = good.passed :+ 8L, rejected = good.rejected.filterNot(_._1 == 8L), sharedKeys = 2)
      val errs = Checks.verify(inputs, bad, must, Some(digest))
      check(errs.exists(_.startsWith("planted")) && errs.exists(_.startsWith("dedup")) &&
        errs.exists(_.startsWith("digest")), s"got $errs")
    }
    test("output check rejects a lost row") {
      val errs = Checks.verify(inputs, good.copy(passed = good.passed.tail), must, None)
      check(errs.exists(_.contains("in no output")), s"got $errs")
    }
    test("output check rejects a row in both outputs") {
      val errs = Checks.verify(inputs, good.copy(rejected = good.rejected :+ (3L -> "dedup")), must, None)
      check(errs.exists(_.contains("more than once")), s"got $errs")
    }
    test("output check rejects a planted row rejected by the wrong operator") {
      val errs = Checks.verify(inputs, good.copy(rejected = Seq(8L -> "length", 9L -> "length")), must, None)
      check(errs.exists(_.startsWith("planted")), s"got $errs")
    }

    test("an exact copy takes its origin's verdict only from a filter before the dedup") {
      val mm = new MultimodalCuration(3, 200)
      val copy = mm.rows.find(_.kind == Gen.ImageCopy).get
      def want(originOp: String) = mm.mustReject(0, Map(copy.origin -> originOp))(copy.id)
      check(want("image_quality_filter") == "image_quality_filter", "origin filtered before phash")
      check(want("embedding_outlier_filter") == "image_phash_dedup", "origin rejected after phash")
      check(want("embedding_cosine_dedup") == "image_phash_dedup", "origin rejected after phash")
      val text = new TextCuration(3, 1000)
      val doc = text.docs.find(_.kind == Gen.ExactCopy).get
      check(text.mustReject(0, Map(doc.origin -> "gopher_repetition_filter"))(doc.id) == "gopher_repetition_filter",
        "text origin filtered before the dedup")
      check(text.mustReject(0, Map.empty)(doc.id) == "minhash_lsh_dedup", "text origin kept")
    }

    test("tail: highest percentile with at least ten samples beyond") {
      val xs = (1 to 100).map(_.toDouble)
      check(Checks.tail(xs) == ((90.0, 90.0, 100)), s"got ${Checks.tail(xs)}")
      val ys = (1 to 20).map(_.toDouble)
      check(Checks.tail(ys) == ((10.0, 50.0, 20)), s"got ${Checks.tail(ys)}")
      check(ys.count(_ > Checks.tail(ys)._1) == 10, "not ten beyond")
      check(Checks.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0, 3)), "under eleven samples: the slowest")
    }

    test("job attribution maps a call site to its module") {
      val m = Modules.scan(new File("src/main/scala/graft"))
      check(m.of("collect at KMeansBuckets.scala:70").contains("operators.ml"), "KMeansBuckets")
      check(m.of("parquet at ParquetDataWriter.scala:85").contains("io"), "ParquetDataWriter")
      check(m.of("count at PipelineRunner.scala:12").contains("runner"), "PipelineRunner")
      check(m.of("run at ThreadPoolExecutor.java:1136").isEmpty, "a JDK frame has no module")
      val long = "org.apache.spark.ml.clustering.KMeans.fit(KMeans.scala:470)\n" +
        "graft.operators.vector.AutoBucketedCosineDedup.fit(EmbeddingCosineDedup.scala:1180)\n" +
        "perfbench.Runner.pass(Bench.scala:100)"
      check(m.of("first at KMeans.scala:470", long).contains("operators.vector"), "the long form's graft frame")
      check(m.of("count at SyntheticTexts.scala:40").isEmpty, "sources is not a layer")
      check(m.of("collect at Cli.scala:12").isEmpty, "top-level graft is not a layer")
      val helper = "graft.functions.TextFunctions.tokens(TextFunctions.scala:9)\n" + long.linesIterator.drop(1).mkString("\n")
      check(m.of("first at KMeans.scala:470", helper).contains("operators.vector"), "a helper frame is skipped")
      check(m.of("collect at X.scala:1", "graft.functions.TextFunctions.tokens(TextFunctions.scala:9)").isEmpty,
        "a stack in no layer has no module")
    }
    test("timeline pieces add up to the pass and go to the earliest running job") {
      val jobs = Seq(JobRec(1, 10, 50, "", Some("io"), 0, 0, 0, 0, 1),
        JobRec(2, 20, 70, "", Some("plans"), 0, 0, 0, 0, 1), JobRec(3, 80, 90, "", None, 0, 0, 0, 0, 1))
      val s = Timeline.split(0, 100, jobs)
      check(s.values.sum == 100, s"sum ${s.values.sum}")
      check(s == Map("io" -> 40L, "plans" -> 20L, "unattributed" -> 40L), s"got $s")
    }
    test("BENCHMARK.json lists exactly the per-layer metrics a traced run emits") {
      val src = scala.io.Source.fromFile("BENCHMARK.json")
      val text = try src.mkString finally src.close()
      val perLayer = text.substring(text.indexOf("\"per_layer\""))
      val names = """"name":\s*"([^"]+)"""".r.findAllMatchIn(perLayer).map(_.group(1)).toSeq
      check(names == Layers.all.map(_._1), s"BENCHMARK.json per_layer differs from Layers.all")
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

}
