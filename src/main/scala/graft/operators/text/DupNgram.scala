package graft.operators.text

import graft.core.FitsOnInput
import graft.functions.{HashFunctions, TextFunctions}
import graft.plans.kernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-global duplicated n-gram span detection and removal — the
  * practical tier of exact-substring training-data dedup (Lee et al.
  * 2022 "Deduplicating Training Data Makes Language Models Better" use
  * a suffix array at 50-token granularity; fixed-width n-gram matching
  * is the bounded-memory distributed equivalent, the same trade the
  * decontamination filter makes). A w-token gram is *duplicated* when
  * it occurs at least `minCount` times across the whole corpus; a token
  * is *covered* when any duplicated gram instance overlaps it. Outputs
  * per document: the duplicated-gram instance count and fraction, the
  * text rebuilt from uncovered (normalized) tokens, and the number of
  * tokens removed.
  *
  * Scale shape: the fused [[kernels.ShingleHashesPositional]] kernel
  * turns each document into an array of gram hashes in ONE JVM pass, so
  * gram instances explode as `(id, pos, hash64)` — fixed width, never
  * text. The corpus-duplicated hash set comes from a partial-aggregated
  * `groupBy(hash).count` (map-side combine collapses repeats; the
  * singleton majority dies at the `>= minCount` filter), and instances
  * semi-join against that small set — AQE broadcasts it when small and
  * skew-splits the probe when one boilerplate gram runs hot, so no
  * single hash key ever buffers a whole partition (the window form this
  * replaces buffered every instance of the hottest gram in one
  * partition — skew death at scale). Covered positions come back as one
  * sorted int array per document (bounded by document length), and the
  * span mask is the O(tokens + dups) two-pointer
  * [[kernels.CoverageMask]] sweep on the document row — the declarative
  * HOF mask was O(tokens × dups) per row, quadratic on repetitive text.
  */
/** `keepFirst = true` (r17) switches to the Lee et al. "all but one"
  * policy: the corpus-FIRST instance of each duplicated gram (smallest
  * `(id, pos)` lexicographically) stays uncovered, so one canonical
  * copy of every duplicated passage survives — removing every copy
  * (the default, the decontamination stance) deletes legitimate
  * content that merely happens to be quoted elsewhere. First-instance
  * selection is a per-hash `min(struct(id, pos))` aggregate — two
  * thin shuffle rows per duplicated gram, never a window partitioned
  * by the hot gram key (the skew trap the class note calls out).
  */
final class DupNgramRefiner(
    textCol: String = "text",
    idCol: String = "id",
    ngramWidth: Int = 8,
    minCount: Int = 2,
    hashName: String = "portable",
    keepFirst: Boolean = false) extends FitsOnInput {

  require(ngramWidth >= 1, s"ngramWidth $ngramWidth must be >= 1")
  require(minCount >= 2, s"minCount $minCount must be >= 2")
  val name = "dup_ngram"

  private val w = ngramWidth

  def apply(df: DataFrame): DataFrame = build(df, df, None)

  /** Disposition mode: corpus gram counts come from ALIVE rows only —
    * a page rejected upstream never contributed grams in the sequential
    * chain, so it must not push a gram over `minCount` here either.
    * Dead rows keep null outputs and skip the (regexp-heavy) token
    * split entirely.
    */
  override def applyGated(df: DataFrame, alive: Column): DataFrame =
    build(df, df.filter(alive), Some(alive))

  /** Per-document gram-hash arrays `(id, hashes)` — hashed before any
    * explode, so nothing downstream ever shuffles a string. The fused
    * kernel covers the long-keyed families; md5/sha256 (string hashes)
    * fall back to the declarative path, same semantics.
    */
  private[graft] def staged(corpus: DataFrame): DataFrame = hashName match {
    case "portable" | "xxhash64" =>
      corpus.select(col(idCol).as("_dn_id"),
        kernels.shingle_hashes_positional(col(textCol), w, hashName).as("_dn_hs"))
    case _ =>
      // declarative fallback: stage the token array first — the shingle
      // lambda references it (w+1) times and unstaged tokensOf re-runs
      // normalize+split per reference (the NgramDiversity lesson)
      corpus.select(col(idCol).as("_dn_id"),
          TextFunctions.tokensOf(col(textCol)).as("_dn_toks"))
        .select(col("_dn_id"),
          transform(TextFunctions.shingles(col("_dn_toks"), w),
            g => HashFunctions.hashByName(hashName)(g)).as("_dn_hs"))
  }

  /** The lazy corpus-global dup state `(_dn_id, _dn_dups, _dn_cnt)` over
    * staged gram-hash arrays — exposed (pre-materialization) so PlanSpec
    * can assert its shape: duplicated hashes from a partial-aggregated
    * groupBy, instances semi-joined against that set, NO window.
    */
  private[graft] def dupState(hashed: DataFrame): DataFrame = {
    val inst = hashed.select(col("_dn_id"),
      posexplode(col("_dn_hs")).as(Seq("_dn_pos", "_dn_h")))
    val dupHashes = inst
      .groupBy("_dn_h").agg(count(lit(1)).as("_dn_tc"))
      .filter(col("_dn_tc") >= minCount)
      .select("_dn_h")
    val dupInst =
      if (!keepFirst) inst.join(dupHashes, "_dn_h")
      else {
        // corpus-first instance per duplicated gram: a lexicographic
        // min(struct) aggregate (map-side combining, one row per dup
        // hash), then an anti-filter — the first copy stays uncovered.
        // The dup-instance frame is STAGED: it has two consumers here
        // (the firsts aggregate and the join), and unstaged each would
        // re-run the full posexplode + corpus gram-count semi-join —
        // the r9 multi-consumer recompute amplification this file's
        // build() comment documents
        val dupInst0 = graft.core.Staging.stage(inst.join(dupHashes, "_dn_h"))
        val firsts = dupInst0.groupBy("_dn_h")
          .agg(min(struct(col("_dn_id").as("_fi"), col("_dn_pos").as("_fp")))
            .as("_dn_first"))
        dupInst0.join(firsts, "_dn_h")
          .filter(!(col("_dn_id") === col("_dn_first._fi") &&
            col("_dn_pos") === col("_dn_first._fp")))
          .drop("_dn_first")
      }
    dupInst
      .groupBy("_dn_id")
      .agg(sort_array(collect_list(col("_dn_pos"))).as("_dn_dups"),
        count(lit(1)).as("_dn_cnt"))
  }

  private def build(
      df: DataFrame, corpus: DataFrame, alive: Option[Column]): DataFrame = {
    // The instance stream has two consumers (the corpus gram count and
    // the per-document dup join); left lazy, each downstream ACTION
    // re-ran the tokenize+shingle kernel twice over the whole corpus —
    // under memory pressure that recompute amplified into the r9
    // curation_stack blowup (3.7 s → 61 s contended). Stage the per-doc
    // hash ARRAYS once (compact: ~8 B/token, the pre-explode form),
    // materialize the small per-document dup state eagerly, and release
    // the scratch cache before returning — the ConnectedComponents
    // idiom; a plain persist of a lazily-consumed output would leak for
    // the session's life (the r8 ngram_lm lesson).
    val hashed = staged(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one flat (id, positions, count) table — the dedup state a real
    // cluster would checkpoint to shared storage; eager so the scratch
    // cache can be dropped NOW instead of on an unknowable consumer
    val dups = dupState(hashed).localCheckpoint(true)
    hashed.unpersist()

    def gated(c: Column): Column = alive.fold(c)(a => when(a, c))
    // tokens staged ONCE as a scratch column (regexp work is non-cheap,
    // so CollapseProject will not inline it into its three consumers)
    val joined = df.join(dups, col(idCol) === col("_dn_id"), "left")
      .withColumn("_dn_toks", gated(TextFunctions.tokensOf(col(textCol))))
      .withColumn("_dn_kept", kernels.coverage_mask(col("_dn_toks"),
        coalesce(col("_dn_dups"), array().cast("array<int>")), w))
    val n = size(col("_dn_toks"))
    val total = when(n >= w, (n - w + 1).cast("long")).otherwise(lit(0L))
    joined
      .withColumn("_dn_total", total)
      .withColumn("dup_ngram_count", gated(coalesce(col("_dn_cnt"), lit(0L))))
      .withColumn("dup_ngram_fraction", gated(
        when(col("_dn_total") === 0L, lit(0.0))
          .otherwise(col("dup_ngram_count").cast("double") / col("_dn_total").cast("double"))))
      .withColumn("text_dedup_spans", gated(array_join(col("_dn_kept"), " ")))
      .withColumn("dup_tokens_removed", gated((n - size(col("_dn_kept"))).cast("long")))
      .drop("_dn_id", "_dn_dups", "_dn_cnt", "_dn_total", "_dn_toks", "_dn_kept")
  }

  /** DuckDB twin as CTEs; `_dn` ends with one row per duplicated-gram
    * document: `(id, dups, dup_cnt)`. The caller left-joins and applies
    * [[maskSql]] / [[statsSql]] over the token list. Mirrors the
    * groupBy-then-semi-join shape (duplicated hash set first, instances
    * joined against it) rather than a window, like the Spark plan.
    */
  def dupCteSql(docsSql: String, idExpr: String): String = {
    require(hashName == "portable", "oracle covers the portable hash family")
    val toksSql = TextFunctions.tokensOfSql(textCol)
    val gramsSql = TextFunctions.shinglesSql("_toks", w)
    // keepFirst: drop the corpus-first instance per duplicated gram
    // (oracle-side window — DuckDB is single-node; the Spark side uses
    // the skew-safe min(struct) aggregate with identical semantics)
    val kept =
      if (!keepFirst) "SELECT id, pos FROM _dn_h JOIN _dn_dup_h USING (h)"
      else
        s"""SELECT id, pos FROM (
           |    SELECT id, pos, h FROM _dn_h JOIN _dn_dup_h USING (h)
           |    QUALIFY row_number() OVER (PARTITION BY h ORDER BY id, pos) > 1)""".stripMargin
    s"""_dn_docs AS (
       |  SELECT $idExpr AS id, $gramsSql AS _grams FROM (
       |    SELECT *, $toksSql AS _toks FROM $docsSql)),
       |_dn_inst AS (
       |  SELECT id, unnest(range(0, len(_grams))) AS pos, _grams FROM _dn_docs),
       |_dn_h AS (
       |  SELECT id, pos, ${HashFunctions.portableHash64Sql("_grams[pos + 1]")} AS h
       |  FROM _dn_inst),
       |_dn_dup_h AS (
       |  SELECT h FROM _dn_h GROUP BY h HAVING count(*) >= $minCount),
       |_dn AS (
       |  SELECT id, list_sort(list(pos)) AS dups, count(*) AS dup_cnt
       |  FROM ($kept) GROUP BY id)""".stripMargin
  }

  /** Uncovered-token list over `toksCol` given the (possibly NULL)
    * sorted dup-start list `dupsCol`. DuckDB list lambdas index 1-based
    * where Spark's are 0-based — `i - 1` realigns.
    */
  def maskSql(toksCol: String, dupsCol: String): String =
    s"list_filter($toksCol, (t, i) -> len(list_filter(" +
      s"coalesce($dupsCol, []), d -> d <= i - 1 AND i - 1 < d + $w)) = 0)"
}
