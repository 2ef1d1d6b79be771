package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: token counting, quality scoring, n-gram-heuristic
  * language id, and document fingerprinting.
  *
  * Everything is built-in `functions._` / higher-order functions — no UDFs —
  * so the whole module stays inside whole-stage codegen and the parquet scan
  * keeps column pruning (only `doc_id`/`text` are read).
  *
  * Portability: ratios are int/int divisions (bit-exact IEEE across
  * engines); weighted sums use one fixed parenthesization mirrored in the
  * oracle SQL; hashes are md5 hex strings (identical across engines).
  */
object TextOps {

  /** Whitespace tokens of `text` — the reference vocabulary is
    * space-separated lowercase words, so a plain single-space split is
    * exact (and matches DuckDB's string_split). */
  private def tokens: Column = split(col("text"), " ")

  private val StopEn = Seq("the", "a")

  // q49/q50 defaults — interpolated into the oracle SQL so the two sides
  // cannot drift when a default changes
  // shared with DedupOps' split-leakage oracle (q113) so the split rule
  // cannot drift between the splitter and its auditor
  // private[graft], not [queries]: CorpusMain's split assignment and the
  // leakage audit's split recomputation must share ONE pair of cuts (the
  // r13 advisory — two call sites each relying on "the default" would
  // silently desynchronize the moment the cuts became configurable)
  private[graft] val DefaultTrainUpper = "cc" // 204/256 ~ 80%
  private[graft] val DefaultValUpper = "e6"   // +26/256 ~ 10%

  /** SQL mirror of [[splitColumn]] over an id EXPRESSION — one
    * definition for the q49 oracle and DedupOps' q113 auditor, so the
    * rule's SQL SHAPE (not just its cut constants) cannot drift. */
  private[queries] def splitCaseSql(id: String): String =
    s"""CASE WHEN substr(md5(CAST($id AS VARCHAR)), 1, 2) < '$DefaultTrainUpper' THEN 'train'
              WHEN substr(md5(CAST($id AS VARCHAR)), 1, 2) < '$DefaultValUpper' THEN 'val'
              ELSE 'test' END"""
  private val DefaultCapacity = 2048
  private val DefaultQuota = 10        // q55 per-domain cap
  private val DefaultSampleK = 25      // q71 per-source sample size

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))

  /** Token counting over any frame with (doc_id, text) — the q40
    * operator as a DataFrame-in function. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_word_tokens"),
      length(col("text")).as("n_chars_measured"))

  /** Quality scoring (q41): stopword ratio, mean token length, weighted
    * quality — the length/punct/stopword heuristics of a filter pass. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens
    val nTok = size(toks)
    val stopHits = hitCount(toks, StopEn)
    val totTokLen = aggregate(toks, lit(0), (acc, t) => acc + length(t))
    val stopRatio = stopHits.cast("double") / nTok.cast("double")
    val meanTokLen = totTokLen.cast("double") / nTok.cast("double")
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars_measured"),
      nTok.as("n_tokens"),
      stopRatio.as("stop_ratio"),
      meanTokLen.as("mean_tok_len"),
      qualityExpr.as("quality"))
  }

  /** [[qualityExpr]] for sibling modules (DedupOps' canonical-pick and
    * CorpusMain's --keep-best rank dedup survivors by the same scalar the
    * scoring pass reports). */
  private[graft] def docQuality: Column = qualityExpr

  /** The quality scalar as a DuckDB CTE chain ending in
    * `qq(doc_id, source, quality)` — shared by every oracle that ranks or
    * picks by quality (q55, q56, DedupOps' q74) so the SQL mirror cannot
    * drift from [[qualityExpr]]. */
  private[queries] val QualityCteSql: String =
    """qt AS (
         SELECT doc_id, source, string_split(text, ' ') AS toks
         FROM documents),
       qm AS (
         SELECT doc_id, source,
           len(toks) AS n_tokens,
           len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS stop_hits,
           list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
             (acc, v) -> acc + v) AS tot_tok_len
         FROM qt),
       qq AS (
         SELECT doc_id, source,
           (1.0 - CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
             + (CASE WHEN CAST(tot_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3.0
                      AND CAST(tot_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 6.0
                     THEN 0.5 ELSE 0.0 END) AS quality
         FROM qm)"""

  /** The q41 weighted-quality scalar as one Column — shared by
    * [[qualityScore]] and [[domainQuota]] so a quota cut can never rank by
    * a different quality than the scoring pass reports. */
  private def qualityExpr: Column = {
    val toks = tokens
    val nTok = size(toks)
    val stopRatio = hitCount(toks, StopEn).cast("double") / nTok.cast("double")
    val meanTokLen = aggregate(toks, lit(0), (acc, t) => acc + length(t))
      .cast("double") / nTok.cast("double")
    (lit(1.0) - stopRatio) * lit(0.5) +
      when(meanTokLen >= 3.0 && meanTokLen <= 6.0, 0.5).otherwise(0.0)
  }

  /** Per-domain quota (q55): cap every source at its `k` best-quality
    * documents — the per-domain ceiling every web-scale corpus recipe
    * applies so one crawl-heavy domain cannot dominate the mix (mixing
    * reweights a source's RATE; the quota bounds its absolute share).
    * Ranking is (quality DESC, doc_id ASC): the unique-id tiebreak makes
    * the cut deterministic under any partitioning.
    *
    * Shape at scale: quality is computed per row in the same pass (no
    * join back to a scored table), then ONE window partitioned by the
    * quota key — the only shuffle is the hash exchange on `source`, and
    * each domain's sort is local to its partition. Domains are many and
    * individually small next to the corpus, so there is no global sort
    * and no skew beyond a genuinely degenerate single-domain crawl (for
    * which [[domainQuotaByThreshold]] is the lever: a pre-aggregated
    * per-domain quality histogram cut by threshold instead of rank). */
  def domainQuota(docs: DataFrame, k: Int = DefaultQuota): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"quota must be >= 1, got $k")
    docs
      .select(col("doc_id"), col("source"), qualityExpr.as("quality"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[domainQuota]] on the bounded-heap aggregate ([[topKPerSource]] /
    * q96's `graft_topk`): identical output — same total order, same
    * columns, rk as long — computed with O(k) state per domain instead of
    * a per-domain partition sort. The third quota form, and the
    * structurally scale-proof one: [[domainQuota]] when domains are many
    * and small, [[domainQuotaByThreshold]] when an approximate histogram
    * cut is acceptable on a degenerate domain, this when the cut must be
    * EXACT and a domain may be enormous. */
  def domainQuotaHeap(docs: DataFrame, k: Int = DefaultQuota): DataFrame =
    topKPerSource(docs, k)
      .select(col("doc_id"), col("source"), col("quality"),
        col("rk").cast("long").as("rk"))

  /** [[domainQuota]] for the degenerate-domain crawl (q56): the same cut
    * — each source capped at its `k` best by (quality DESC, doc_id ASC) —
    * computed WITHOUT sorting whole domains. [[domainQuota]]'s one window
    * sorts each domain inside a single partition, the right shape when
    * domains are many and individually small; a single-domain crawl puts
    * the entire corpus in that one partition. Here the rank is replaced
    * by a histogram threshold:
    *   1. bin each doc's quality into one of `bins` equal-width buckets
    *      (quality lives in [0, 1] by construction; 1.0 clamps into the
    *      top bin);
    *   2. aggregate the per-(source, bin) histogram — the only
    *      corpus-wide shuffle, map-side combinable, ≤ domains × bins
    *      output rows;
    *   3. per domain, walk bins from the top to find the boundary bin
    *      where the cumulative count first reaches `k` — windows over
    *      HISTOGRAM rows, never documents (a domain with under `k` docs
    *      has no boundary and keeps everything);
    *   4. keep every doc strictly above its domain's boundary bin
    *      (guaranteed fewer than `k` of them), and rank only WITHIN the
    *      boundary bin — a window whose input a filter has already cut
    *      to ~1/bins of the domain — for the remaining seats.
    * The per-domain (boundary bin, seats) table is one row per domain
    * and broadcast, so the documents themselves are never shuffled for
    * it. Binning is monotone in quality, so the kept set is EXACTLY
    * [[domainQuota]]'s (TextOpsSpec pins the equivalence, ties
    * included); only `rk` is not produced — a global per-domain rank is
    * precisely the sort this variant exists to avoid. */
  def domainQuotaByThreshold(docs: DataFrame, k: Int = DefaultQuota,
      bins: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"quota must be >= 1, got $k")
    require(bins >= 2, s"need >= 2 histogram bins, got $bins")
    val scored = docs
      .select(col("doc_id"), col("source"), qualityExpr.as("quality"))
      .withColumn("bin",
        least(floor(col("quality") * bins).cast("long"), lit(bins - 1L)))
    val hist = scored.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val cum = hist.withColumn("cum", sum(col("n")).over(
      Window.partitionBy(col("source")).orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the HIGHEST bin whose from-the-top cumulative reaches k; seats =
    // what k leaves after every doc in the bins strictly above it
    val boundary = cum.filter(col("cum") >= k)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("bin").desc)))
      .filter(col("r") === 1)
      .select(col("source"), col("bin").as("bbin"),
        (lit(k.toLong) - (col("cum") - col("n"))).as("seats"))
    val withB = scored.join(broadcast(boundary), Seq("source"), "left")
    val above = withB.filter(col("bbin").isNull || col("bin") > col("bbin"))
    val atBoundary = withB.filter(col("bin") === col("bbin"))
      .withColumn("rb", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rb") <= col("seats"))
    above.select("doc_id", "source", "quality")
      .unionByName(atBoundary.select("doc_id", "source", "quality"))
  }


  /** Language id (q42) by n-gram/stopword heuristic: score per candidate
    * set, argmax with a fixed precedence tiebreak. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens
    val sEn = hitCount(toks, Seq("the", "a", "row", "table"))
    val sDb = hitCount(toks, Seq("data", "query", "value"))
    val sOp = hitCount(toks, Seq("merge", "join", "sort"))
    docs.select(
      col("doc_id"),
      sEn.as("s_en"), sDb.as("s_db"), sOp.as("s_op"),
      when(sEn >= sDb && sEn >= sOp, "en")
        .when(sDb >= sOp, "db").otherwise("op").as("predicted"))
  }

  /** Document fingerprinting (q43): md5 of normalized text, grouped — the
    * canonical-doc map an exact-dedup pass keys on. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Repetition signals (q29) — the Gopher-style quality filters that
    * catch degenerate/looping generations: per doc, the fraction of all
    * bigrams taken by the single most frequent bigram and the
    * distinct-to-total bigram ratio. All counts are integers and the
    * ratios int/int double divisions, so the result is engine-exact.
    *
    * Shape at scale: entirely per-row — the signals are per-document, so
    * the right plan never moves a bigram across the wire. The sorted
    * bigram array is scanned once (equal bigrams are adjacent after the
    * sort): the longest run is the top-bigram count and distinct count is
    * `array_distinct`. Zero shuffles, zero explode — the previous
    * explode + two-hash-aggregation form both shuffled every bigram in
    * the corpus AND paid the generator-child re-evaluation pitfall
    * (Catalyst collapses the staging projection back into the generator,
    * so the bigram-building `transform` re-ran per OUTPUT row — measured
    * 3.1s vs 0.4s at sf0.1). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val bigrams = transform(sequence(lit(0), size(col("w")) - 2), i =>
      concat(element_at(col("w"), i + 1), lit(" "),
        element_at(col("w"), i + 2)))
    // longest run of equal adjacent elements in the sorted array; the ""
    // seed never equals a real bigram (tokens are non-empty words)
    val topRun = aggregate(col("bg"),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs
      .select(col("doc_id"), tokens.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), array_sort(bigrams).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct_bigrams"),
        topRun.as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"),
        (col("n_distinct_bigrams").cast("double") / col("n_bigrams").cast("double"))
          .as("distinct_ratio"))
  }

  /** Deterministic train/val/test splitting (q49) — the reproducible-split
    * primitive of a training-data pipeline: each document's split is a
    * pure function of its id (first two hex chars of md5(id) compared
    * against the cut points), so the assignment is stable across runs,
    * partitionings, engines, and corpus growth — adding documents never
    * moves an existing one between splits, which `randomSplit` (seeded
    * per-partition RNG) cannot promise. Granularity is 1/256 per cut;
    * boundaries are hex-STRING comparisons, bit-portable to any engine
    * without hex-to-int casts. Default cuts: 'cc' (204/256 ~ 80% train),
    * 'e6' (26/256 ~ 10% val), rest test. */
  def hashSplit(docs: DataFrame, idCol: String = "doc_id",
      trainUpper: String = DefaultTrainUpper,
      valUpper: String = DefaultValUpper): DataFrame =
    docs.select(col(idCol),
      substring(md5(col(idCol).cast("string")), 1, 2).as("bucket"),
      splitColumn(col(idCol), trainUpper, valUpper).as("split"))

  /** The split assignment as a bare Column — the in-place form a pipeline
    * composes with (`withColumn("split", splitColumn(col("doc_id")))`):
    * joining [[hashSplit]]'s id projection back onto full rows would
    * shuffle the whole corpus twice on the id for a value that is a pure
    * per-row function of it. */
  def splitColumn(id: Column,
      trainUpper: String = DefaultTrainUpper,
      valUpper: String = DefaultValUpper): Column = {
    // md5 buckets are lowercase hex: an uppercase cut like "CC" would pass
    // the ordering check yet silently skew the split (every 'a'-'f' bucket
    // compares above it), so malformed cuts must fail loudly
    Seq("trainUpper" -> trainUpper, "valUpper" -> valUpper).foreach {
      case (name, v) => require(HexPair.matches(v),
        s"$name must be two lowercase hex chars, got '$v'")
    }
    require(trainUpper < valUpper,
      s"cut points must be increasing hex pairs, got '$trainUpper' >= '$valUpper'")
    val h = substring(md5(id.cast("string")), 1, 2)
    when(h < trainUpper, "train").when(h < valUpper, "val").otherwise("test")
  }

  /** Sequential context-window packing (q50): lay each source's documents
    * end-to-end in doc_id order and chunk the token stream into
    * `capacity`-token windows — every doc gets its start offset and the
    * window (bin) that offset lands in, the bookkeeping a pretraining
    * pipeline needs to build fixed-length examples deterministically.
    *
    * Shape at scale: ONE window pass partitioned by `source` (ROWS frame
    * cumsum — explicit, so unique-key RANGE semantics can't differ), so
    * parallelism = number of sources and no global sort exists. A corpus
    * whose single source dwarfs the rest re-partitions the stream key
    * (source, shard) upstream — packing is per-stream by definition, so
    * the key choice IS the parallelism lever. Offsets stay < 2^53 by
    * construction (token counts), making the floor-divide bin exact in
    * double on every engine. */
  def packWindows(docs: DataFrame, capacity: Int = DefaultCapacity,
      streamCols: Seq[String] = Seq("source")): DataFrame =
    packColumns(
      docs.select(col("doc_id") +: streamCols.map(col) :+ size(tokens).as("n_tokens"): _*),
      capacity, streamCols)

  /** [[packWindows]] with every input column retained — the in-place form
    * a pipeline publishes from: joining the packed projection back onto
    * full rows would shuffle the corpus twice on doc_id for columns the
    * window pass can append directly. */
  def packWindowsAll(docs: DataFrame, capacity: Int = DefaultCapacity,
      streamCols: Seq[String] = Seq("source")): DataFrame = {
    Seq("n_tokens", "offset", "bin").foreach(c =>
      require(!docs.columns.contains(c), s"docs already has a '$c' column"))
    packColumns(docs.withColumn("n_tokens", size(tokens)), capacity, streamCols)
  }

  /** Offset + bin over a frame that already carries `n_tokens`. */
  private def packColumns(df: DataFrame, capacity: Int,
      streamCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(streamCols.nonEmpty, "packing needs at least one stream key")
    // n_tokens tiebreak: rows sharing (stream, doc_id) would otherwise get
    // task-order-dependent offsets; with it, order is deterministic except
    // for FULLY identical rows, whose either order yields the same output
    // set (the streams they describe are indistinguishable)
    val w = Window.partitionBy(streamCols.map(col): _*)
      .orderBy(col("doc_id"), col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("offset", (sum(col("n_tokens")).over(w) - col("n_tokens")).cast("long"))
      .withColumn("bin", floor(col("offset") / lit(capacity.toDouble)).cast("long"))
  }

  // q52 defaults — a named subset of sources with explicit keep rates, the
  // rest on the default; interpolated into the oracle SQL like q49's cuts
  private val DefaultMixRates = Seq(
    "src0" -> "ff", // 256/256: keep everything
    "src1" -> "7f", // 128/256 ~ 50%
    "src2" -> "33", //  52/256 ~ 20%
    "src3" -> "0c") //  13/256 ~ 5%
  private val DefaultMixOther = "bf" // 192/256 = 75%

  private val HexPair = "^[0-9a-f]{2}$".r

  /** Deterministic corpus mixing (q52) — domain reweighting, the sampling
    * pass that turns a raw crawl into a training mixture (keep all of a
    * high-quality source, 5% of a noisy one). Membership is a pure
    * function of doc_id: a doc is kept iff hex chars 3-4 of md5(doc_id)
    * compare <= its source's rate cut, so the sample is stable across
    * runs, partitionings, and corpus growth, and keep-fraction =
    * (cut + 1)/256 at 1/256 granularity ('ff' keeps everything). Chars
    * 3-4 — NOT 1-2, which [[hashSplit]] consumes — so mixing and
    * splitting are independent coordinates of the same digest: sampling
    * does not skew the train/val/test proportions within a source.
    *
    * Shape at scale: the rate table is one row per source — broadcast by
    * construction — so the pass is a map-side join + filter; nothing
    * shuffles, nothing is collected. Sources absent from `rates` take
    * `defaultRate`. */
  def mixCorpus(docs: DataFrame,
      rates: Seq[(String, String)] = DefaultMixRates,
      defaultRate: String = DefaultMixOther,
      sourceCol: String = "source"): DataFrame =
    withMixColumns(docs, rates, defaultRate, sourceCol)
      .filter(col("mix_bucket") <= col("keep_below"))
      .select(col("doc_id"), col(sourceCol), col("mix_bucket"), col("keep_below"))

  /** [[mixCorpus]] as an in-place filter: the KEPT rows of `docs` with
    * every original column intact — the entry a pipeline composes with
    * (joining full rows back against mixCorpus's id projection would
    * shuffle the whole corpus twice on doc_id; this is a broadcast join on
    * the rate table plus a filter, zero shuffles). */
  def mixFilter(docs: DataFrame,
      rates: Seq[(String, String)] = DefaultMixRates,
      defaultRate: String = DefaultMixOther,
      sourceCol: String = "source"): DataFrame =
    withMixColumns(docs, rates, defaultRate, sourceCol)
      .filter(col("mix_bucket") <= col("keep_below"))
      .select(docs.columns.map(col).toSeq: _*)

  private def withMixColumns(docs: DataFrame, rates: Seq[(String, String)],
      defaultRate: String, sourceCol: String): DataFrame = {
    (rates.map { case (src, cut) => s"rates($src)" -> cut } :+
      ("defaultRate" -> defaultRate)).foreach { case (name, v) =>
      require(HexPair.matches(v),
        s"$name must be two lowercase hex chars, got '$v'")
    }
    require(rates.map(_._1).distinct.size == rates.size,
      s"duplicate sources in rates: ${rates.map(_._1).mkString(",")}")
    Seq("mix_bucket", "keep_below").foreach(c =>
      require(!docs.columns.contains(c), s"docs already has a '$c' column"))
    val spark = docs.sparkSession
    import spark.implicits._
    val rateTbl = rates.toDF(sourceCol, "rate_cut")
    // empty rates = a flat global sample at defaultRate: skip the join
    // (an empty broadcast side would turn an inner look-up into nothing,
    // and a left join against zero rows is pure overhead)
    val withCut =
      if (rates.isEmpty) docs.withColumn("rate_cut", lit(null).cast("string"))
      else docs.join(broadcast(rateTbl), Seq(sourceCol), "left")
    withCut
      .withColumn("mix_bucket", substring(md5(col("doc_id").cast("string")), 3, 2))
      .withColumn("keep_below", coalesce(col("rate_cut"), lit(defaultRate)))
      .drop("rate_cut")
  }

  // q57/q58 defaults — interpolated into the oracle SQL like q49's cuts
  private val DefaultTokenBudget = 1200L
  private val DefaultBoilerDfFrac = 0.01
  private val DefaultBoilerFlagFrac = 0.05
  // budget * 65536 must stay inside a long — 1.4e14 tokens (~100x any
  // published pretraining corpus) before the cut arithmetic overflows
  private val MaxTokenBudget = Long.MaxValue / 65536

  /** Token-budget corpus mixing (q57) — the data-mixture op that samples
    * each source DOWN TO a target token budget, the way a pretraining
    * recipe balances sources by token share rather than document rate
    * ([[mixCorpus]] reweights a source's RATE; this bounds its absolute
    * token contribution). A source whose total is within `budget` is kept
    * whole (`tb_cut` null); an over-budget source is hash-sampled at rate
    * budget/total, so its EXPECTED kept tokens ≈ the budget (sampling is
    * per-document — the exact total depends on which docs fall under the
    * cut; a hard cap would need a sequential scan no parallel engine
    * should pay).
    *
    * Membership is a pure function of doc_id: hex chars 5-8 of
    * md5(doc_id) — a THIRD independent coordinate of the same digest
    * ([[hashSplit]] consumes 1-2, [[mixCorpus]] 3-4), so budget
    * sampling skews neither the split nor the rate mix — compared
    * lexicographically against the source's 4-hex-char cut
    * (1/65536 granularity; the cut is `floor(budget * 65536 / total)`
    * in pure long arithmetic, exact on every engine).
    *
    * Shape at scale: one map-side-combinable per-source token sum (≤
    * |sources| rows), broadcast back, then a per-row hash filter —
    * the corpus itself never shuffles. */
  def mixToTokenBudget(docs: DataFrame, budget: Long = DefaultTokenBudget,
      sourceCol: String = "source"): DataFrame = {
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    require(budget <= MaxTokenBudget,
      s"token budget past $MaxTokenBudget overflows the cut arithmetic")
    val withTok = docs.select(col("doc_id"), col(sourceCol),
      size(tokens).cast("long").as("n_tokens"))
    val cuts = withTok.groupBy(col(sourceCol))
      .agg(sum(col("n_tokens")).as("total_tokens"))
      .select(col(sourceCol),
        when(col("total_tokens") <= budget, lit(null).cast("string"))
          .otherwise(lower(lpad(
            hex(expr(s"(${budget}L * 65536L) div total_tokens")), 4, "0")))
          .as("tb_cut"))
    withTok
      .join(broadcast(cuts), Seq(sourceCol))
      .withColumn("tb_bucket", substring(md5(col("doc_id").cast("string")), 5, 4))
      .filter(col("tb_cut").isNull || col("tb_bucket") < col("tb_cut"))
      .select(col("doc_id"), col(sourceCol), col("n_tokens"),
        col("tb_bucket"), col("tb_cut"))
  }

  private val PpsStride = 200L

  /** Probability-proportional-to-size systematic sampling (q112): pick
    * documents with probability proportional to their TOKEN length — the
    * eval/inspection sample whose token mass mirrors what the trainer
    * actually consumes. A uniform doc sample ([[stratifiedSample]])
    * under-represents long documents per token; the textbook PPS fix is
    * exponential random keys (u^(1/w) order), but cross-engine
    * float `pow`/`ln` can flip a boundary pick between engines — so
    * this is the SYSTEMATIC form, pure integer arithmetic: lay each
    * source's docs along its cumulative token axis (doc_id order —
    * deterministic, growth of other sources moves nothing) and pick
    * every doc whose token interval [cum_before+1, cum_before+n] covers
    * a multiple of `stride`. A doc longer than the stride is picked
    * with MULTIPLICITY (`n_picks` = multiples covered) — exactly the
    * with-replacement PPS weight, and the audit a weighted-eval reader
    * needs.
    *
    * Cross-engine determinism: the cumulative sum, the interval cover
    * test, and `n_picks` are long additions and integer divisions —
    * engine-exact by construction (the same reason q106 uses integer
    * cut indexes).
    *
    * Shape at scale: one hash exchange on the source + a per-partition
    * running sum (the [[packWindows]] stream shape — no self-join, no
    * second pass); the same degenerate-single-source caveat and remedy
    * as [[domainQuota]]. */
  def ppsTokenSample(docs: DataFrame, stride: Long = PpsStride): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(tokens).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("n_picks",
        expr(s"(cum_before + n_tokens) DIV ${stride}L - cum_before DIV ${stride}L"))
      .filter(col("n_picks") > 0)
  }

  /** Deterministic stratified sample (q71): a uniform, reproducible `k`
    * documents from EACH source — the eval-set / human-review-set
    * construction pass ([[TextOps.domainQuota]] picks each source's BEST k
    * by quality; this picks a REPRESENTATIVE k, uniformly at random but
    * stable across runs, partitionings, and corpus growth of OTHER
    * sources).
    *
    * The sampling key is hex chars 9-16 of md5(doc_id) — a FOURTH
    * independent coordinate of the shared digest ([[hashSplit]] consumes
    * 1-2, [[mixCorpus]] 3-4, [[mixToTokenBudget]] 5-8), so the sample is
    * unbiased w.r.t. split, mix, and budget membership; doc_id breaks the
    * (rare) 32-bit hash ties so the selection is total-order
    * deterministic.
    *
    * Shape at scale: ONE hash exchange on the stratum + a per-partition
    * rank — the same shape (and the same degenerate-single-source caveat
    * and remedy) as [[domainQuota]]: for a corpus that is one giant
    * source, hash-rate sampling ([[mixCorpus]]) is the lever, trading the
    * exact-k guarantee for a per-row filter. */
  def stratifiedSample(docs: DataFrame, k: Int = DefaultSampleK,
      sourceCol: String = "source"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("sample_key").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col(sourceCol),
        substring(md5(col("doc_id").cast("string")), 9, 8).as("sample_key"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .select(col("doc_id"), col(sourceCol), col("sample_rank"))
  }

  /** Boilerplate signals (q58) — the RefinedWeb/CCNet-style pass that
    * finds template text: a shingle (word 3-gram, [[DedupOps.shingledOf]]'s
    * unit) is BOILERPLATE when it appears in at least `minDfFrac` of all
    * documents, and each document reports what fraction of its distinct
    * shingles are boilerplate (`boiler_frac`, flagged at `flagFrac`) — the
    * navigation-chrome/license-footer signal a quality filter drops on.
    *
    * Shape at scale: the posting explode feeds ONE map-side-combinable
    * df aggregation; the boilerplate set is df-bounded small (shingles in
    * >= 1% of a corpus are few by Zipf) and broadcast into a semi-join,
    * so the only doc-keyed shuffle is the per-doc hit count. A pipeline
    * calling this alongside other shingle passes shares one staged
    * shingle table (the q31 discipline — the persist below is
    * CacheManager-keyed, so a session's dedup queries over the same docs
    * share ONE cache entry and the bench's `staged` list marks the
    * rebuild); with a pathologically low `minDfFrac` the broadcast
    * becomes a plain shuffled semi-join — drop the hint, nothing else
    * changes. */
  def boilerplateSignals(docs: DataFrame,
      minDfFrac: Double = DefaultBoilerDfFrac,
      flagFrac: Double = DefaultBoilerFlagFrac): DataFrame = {
    require(minDfFrac > 0 && minDfFrac <= 1,
      s"minDfFrac must be in (0, 1], got $minDfFrac")
    require(flagFrac > 0 && flagFrac <= 1,
      s"flagFrac must be in (0, 1], got $flagFrac")
    // four consumers (df agg, hit semi-join, totals, doc count) — without
    // the persist the shingle explode re-evaluates per consumer
    val sh = graft.ops.Staged.persist(DedupOps.shingledOf(docs))
    val post = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    // one-row doc count joined on a constant key: the threshold needs the
    // corpus size, and a 1-row broadcast equi-join keeps the plan free of
    // driver actions and cartesians alike
    val nDocs = sh.agg(count(lit(1)).as("n_docs")).withColumn("_k", lit(1))
    val boiler = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .withColumn("_k", lit(1))
      .join(broadcast(nDocs), Seq("_k"))
      .filter(col("df").cast("double") / col("n_docs").cast("double") >= minDfFrac)
      .select(col("g"))
    val totals = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
    val hits = post.join(broadcast(boiler), Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_shingles").cast("double"))
      .withColumn("flagged", col("boiler_frac") >= flagFrac)
  }

  // q59/q60/q61 defaults — interpolated into the oracle SQL like q49's cuts
  private val DefaultVocabK = 50
  private val DefaultChunkSize = 32
  private val DefaultChunkStride = 24
  private val DefaultSources = (0 until 20).map(i => s"src$i")

  /** Corpus vocabulary top-k (q59) — the tokenizer-training prefix of a
    * pretraining pipeline (BPE/unigram trainers start from exactly this
    * table): the `k` terms with the highest document frequency, each with
    * its total term frequency. Ranking is (df desc, tf desc, term asc) —
    * term is unique per row, so the cut at `k` is total-ordered and
    * engine-exact.
    *
    * Shape at scale: both aggregations are map-side combinable (the
    * (doc_id, term) pre-aggregation collapses a doc's repeats before the
    * shuffle; the per-term rollup moves one row per distinct (doc, term)),
    * and the final top-k plans as TakeOrderedAndProject — every partition
    * keeps its own k rows and the driver merges |partitions|·k, never a
    * global sort of the vocabulary. */
  def vocabTopK(docs: DataFrame, k: Int = DefaultVocabK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs.select(col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("term"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tf").desc, col("term").asc)
      .limit(k)
  }

  /** Context-window chunking (q60) — the pass that turns variable-length
    * documents into fixed-length training examples: each document's token
    * stream is cut into `chunk`-token windows starting every `stride`
    * tokens (stride < chunk = overlapping windows, the standard way to
    * keep context across chunk boundaries). The final window of a doc may
    * be short (`n_chunk_tokens` < chunk); `stride <= chunk` is required so
    * no token is silently skipped.
    *
    * [[packWindows]] is the other half of the same story: packing
    * concatenates SMALL docs up to capacity, chunking splits LARGE docs
    * down to it; a pipeline applies both around the capacity midpoint.
    *
    * Shape at scale: pure per-row generate — the only cost is the output
    * fan-out (ceil(n/stride) rows per doc), zero shuffles, and the
    * parquet scan still prunes to (doc_id, text). */
  def chunkWindows(docs: DataFrame, chunk: Int = DefaultChunkSize,
      stride: Int = DefaultChunkStride): DataFrame = {
    require(chunk > 0, s"chunk must be positive, got $chunk")
    require(stride > 0 && stride <= chunk,
      s"stride must be in [1, chunk], got $stride (chunk $chunk)")
    docs.select(col("doc_id"), tokens.as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "start")))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        least(lit(chunk), size(col("w")) - col("start")).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("w"), col("start") + 1, lit(chunk)), " ")
          .as("chunk_text"))
  }

  /** [[chunkWindows]] with every input column retained — the form a
    * pipeline publishes training examples from: the generate keeps its
    * child's output, so appending the chunk columns costs zero joins
    * (joining chunks back onto full rows would shuffle the corpus on
    * doc_id once per side). */
  def chunkWindowsAll(docs: DataFrame, chunk: Int = DefaultChunkSize,
      stride: Int = DefaultChunkStride): DataFrame = {
    require(chunk > 0, s"chunk must be positive, got $chunk")
    require(stride > 0 && stride <= chunk,
      s"stride must be in [1, chunk], got $stride (chunk $chunk)")
    Seq("w", "chunk_id", "start", "n_chunk_tokens", "chunk_text").foreach(c =>
      require(!docs.columns.contains(c), s"docs already has a '$c' column"))
    val keep = docs.columns.map(col).toSeq
    docs.withColumn("w", tokens)
      .select(keep :+ col("w") :+
        posexplode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "start")): _*)
      .select(keep ++ Seq(
        col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        least(lit(chunk), size(col("w")) - col("start")).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("w"), col("start") + 1, lit(chunk)), " ")
          .as("chunk_text")): _*)
  }

  /** Corpus composition report (q61) — the lang × source document-count
    * matrix a mixture designer reads before choosing rates: one row per
    * language, one column per listed source, plus the row total over the
    * listed sources. The column set is an explicit parameter — a report's
    * columns should be declared, and it is also what makes the plan cheap:
    * `Dataset.pivot` without values runs a hidden collect-distinct JOB
    * (a full extra scan at 100 TB), and even WITH values it plans two
    * exchanges (a (lang, source) pre-aggregation feeding a non-codegen
    * `pivotfirst` rollup). The conditional-aggregate form below is what
    * pivot compiles to minus that extra hop.
    *
    * Shape at scale: ONE hash aggregation keyed by `lang` (cardinality ~
    * hundreds) with map-side partials, so each task emits at most |langs|
    * rows regardless of input size and every counter stays inside
    * whole-stage codegen; missing (lang, source) cells are 0, not null. */
  def corpusComposition(docs: DataFrame,
      sources: Seq[String] = DefaultSources): DataFrame = {
    require(sources.nonEmpty, "composition needs at least one source column")
    require(sources.distinct.size == sources.size,
      s"duplicate sources: ${sources.mkString(",")}")
    val cells = sources.map(s =>
      sum(when(col("source") === s, 1L).otherwise(0L)).as(s))
    val total = sum(when(col("source").isInCollection(sources), 1L)
      .otherwise(0L)).as("n_docs")
    docs.groupBy(col("lang")).agg(cells.head, cells.tail :+ total: _*)
  }

  /** Sketch-based corpus statistics — the numbers a 100 TB curation run
    * reads FIRST (vocabulary size, token volume, length distribution),
    * computed with mergeable sketches so the driver receives O(sketch
    * bytes), never O(corpus): HyperLogLog++ for the distinct-term count
    * (`rsd` relative error) and the approx-percentile sketch for the
    * per-doc token-length quantiles. Exact forms of both exist in this
    * module ([[vocabTopK]]'s df table IS the exact vocabulary) — this is
    * the cheap first pass that sizes them. Spec-checked against the exact
    * values within `rsd`-scaled tolerance (TextOpsSpec); not
    * oracle-checked because sketch estimates are engine-specific by
    * design. */
  def approxCorpusStats(docs: DataFrame, rsd: Double = 0.05): DataFrame = {
    require(rsd > 0 && rsd < 1, s"rsd must be in (0, 1), got $rsd")
    val termStats = docs.select(explode(tokens).as("term"))
      .agg(count(lit(1)).as("total_tokens"),
        approx_count_distinct(col("term"), rsd).as("approx_vocab"))
      .withColumn("_k", lit(1))
    val lenStats = docs.select(size(tokens).as("n"))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n"), array(lit(0.5), lit(0.9), lit(0.99)),
          lit(10000)).as("len_quantiles"))
      .withColumn("_k", lit(1))
    termStats.join(broadcast(lenStats), Seq("_k")).drop("_k")
      .select(col("n_docs"), col("total_tokens"), col("approx_vocab"),
        col("len_quantiles").getItem(0).as("p50_tokens"),
        col("len_quantiles").getItem(1).as("p90_tokens"),
        col("len_quantiles").getItem(2).as("p99_tokens"))
  }

  /** TF-IDF keyword extraction (q45): top-`k` terms per document ranked by
    * (tf desc, df asc, term asc) — the idf ordering without the float: a
    * term with higher tf and lower df ranks first, and the integer tuple
    * order equals the tf·log(N/df) order whenever that order is
    * well-defined, while staying bit-exact across engines.
    *
    * Shape at scale: the document-frequency table has one row per vocab
    * term — broadcast by construction — so the fact-side tf table never
    * shuffles for the join; the ranking window partitions by doc_id
    * (millions of small partitions, never a global sort). */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), tokens.as("w"))
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf has one row per (doc, term), so count(*) per term IS the df
    val dfTbl = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(broadcast(dfTbl), "term")
      .withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  /** q63 redaction patterns — (name, regex, replacement), applied IN ORDER
    * with each pattern seeing the previous pattern's output: emails go
    * first (they contain digit runs a later pattern would half-eat),
    * dotted quads before bare digit runs. The regexes stay inside the
    * Java-regex/RE2 common subset (char classes, bounded repeats, `\b`)
    * so the oracle's DuckDB engine matches byte-for-byte. */
  val DefaultRedactPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\b[0-9]{7,15}\\b", "<PHONE>"))

  private val RedactName = "[a-z][a-z0-9_]*".r

  /** The redaction chain over one text column: the scrubbed text plus, per
    * pattern, the match count AT THE MOMENT that pattern ran (progressive
    * counts — a digit run consumed by the email pass is never also billed
    * to the phone pass, so the per-pattern counts sum to the total number
    * of replacements made). */
  private def redactionColumns(text: Column,
      patterns: Seq[(String, String, String)]): (Column, Seq[(String, Column)]) = {
    require(patterns.nonEmpty, "redact needs at least one pattern")
    val names = patterns.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate pattern names: ${names.mkString(",")}")
    names.foreach(n => require(RedactName.matches(n),
      s"pattern name must be a lowercase identifier, got '$n'"))
    patterns.foldLeft((text, Vector.empty[(String, Column)])) {
      case ((t, acc), (name, re, repl)) =>
        (regexp_replace(t, re, repl), acc :+ (name -> regexp_count(t, lit(re))))
    }
  }

  /** PII redaction (q63) — the scrub pass a training corpus runs before
    * anything is published (emails, IPs, phone-shaped digit runs →
    * typed placeholder tokens), reported as (doc_id, scrubbed text,
    * per-pattern counts, total). The C4/Dolma-style cleanup, expressed as
    * a pure per-row `regexp_replace` chain.
    *
    * Shape at scale: zero shuffles and zero joins — every column is a
    * scalar function of `text`, the whole chain runs inside one
    * whole-stage-codegen'd project over the scan, and the scan itself
    * prunes to (doc_id, text). The audit a pipeline wants ("which docs
    * had PII, how much") is a filter on `n_redacted > 0` over this same
    * projection — see CorpusMain's `--redact` stage. */
  def redact(docs: DataFrame,
      patterns: Seq[(String, String, String)] = DefaultRedactPatterns,
      textCol: String = "text"): DataFrame = {
    val (red, counts) = redactionColumns(col(textCol), patterns)
    val total = counts.map(_._2).reduce(_ + _)
    docs.select(col("doc_id") +: red.as(textCol) +:
      counts.map { case (n, c) => c.as(s"n_$n") } :+
      total.as("n_redacted"): _*)
  }

  /** [[redact]] as an in-place rewrite: every original column intact with
    * `textCol` scrubbed — the form a pipeline composes with. Redaction is
    * a pure per-row function, so this costs no join against [[redact]]'s
    * projection (the same no-rejoin rule as [[splitColumn]] /
    * [[mixFilter]]). */
  def redactInPlace(docs: DataFrame,
      patterns: Seq[(String, String, String)] = DefaultRedactPatterns,
      textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, redactionColumns(col(textCol), patterns)._1)

  /** The synthetic corpus carries no PII by construction, so the q63 demo
    * query deterministically injects a PII-shaped suffix (email + dotted
    * quad + 7-digit phone) on every third doc before scrubbing — the
    * oracle mirrors the same injection SQL, so the hash compare exercises
    * real matches AND the two-thirds of rows that must pass untouched. */
  private def withSyntheticPii(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example from 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 tel "),
          (col("doc_id") % 9000000 + 1000000).cast("string")))
        .otherwise(col("text")))

  private val SyntheticPiiSql =
    """CASE WHEN doc_id % 3 = 0
            THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@mail.example from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
                 '.7 tel ' || CAST(doc_id % 9000000 + 1000000 AS VARCHAR)
            ELSE text END"""

  /** Whitespace / control-character normalization (q85) — the cleanup pass
    * every crawl pipeline runs before tokenization: map every whitespace
    * variant (tab, CR, LF, VT, FF) to a plain space, STRIP the remaining
    * C0/DEL control characters (they carry no text and break downstream
    * tokenizers), collapse space runs, and trim. Reported as (doc_id, raw
    * and normalized lengths, normalized text, changed flag) so the audit
    * ("how dirty was the crawl") is a filter on `changed`.
    *
    * The three regexes stay inside the Java-regex/RE2 common subset
    * (explicit char classes and bounded repeats — q63's portability rule)
    * so the DuckDB oracle matches byte-for-byte.
    *
    * Shape at scale: pure per-row scalar chain — zero shuffles, zero
    * joins, whole-stage codegen over a (doc_id, text)-pruned scan, the
    * same shape as [[redact]]. */
  /** The normalization itself as a reusable Column — whitespace variants
    * to space, C0/DEL controls stripped, runs collapsed, trim — so the
    * corpus pipeline can rewrite `text` in place (CorpusMain --normalize)
    * with the exact scalar q85 reports on. */
  def normalizedCol(t: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(t,
      "[\\t\\n\\r\\x0B\\x0C]", " "),
      "[\\x00-\\x08\\x0E-\\x1F\\x7F]", ""),
      " {2,}", " "))

  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val norm = normalizedCol(t)
    docs.select(col("doc_id"),
      length(t).as("n_chars_raw"),
      norm.as("text_norm"),
      length(norm).as("n_chars_norm"),
      (norm =!= t).as("changed"))
  }

  /** The synthetic corpus is single-space-clean by construction, so the
    * q85 demo query deterministically dirties every fourth doc (leading
    * tab, trailing CR LF, and on every eighth doc all spaces doubled)
    * before normalizing — the oracle mirrors the same injection SQL, so
    * the hash compare exercises real cleanup AND the three-quarters of
    * rows that must pass through untouched. */
  private def withSyntheticMess(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(lit("\t "),
          when(col("doc_id") % 8 === 0, replace(col("text"), lit(" "), lit("  ")))
            .otherwise(col("text")),
          lit(" \r\n")))
        .otherwise(col("text")))

  private val SyntheticMessSql =
    """CASE WHEN doc_id % 4 = 0
            THEN chr(9) || ' ' ||
                 (CASE WHEN doc_id % 8 = 0 THEN replace(text, ' ', '  ')
                       ELSE text END) ||
                 ' ' || chr(13) || chr(10)
            ELSE text END"""

  /** URL extraction + canonicalization (q93) — the crawl-pipeline URL
    * cleanup: pull the first URL out of each document, then canonicalize
    * it the way a crawl deduper keys pages — scheme and host lowercased,
    * `utm_*` tracking parameters stripped from the query (dangling `&`
    * mended), the fragment dropped (it never reaches the server). Output
    * is (doc_id, host, path, canonical); docs with no URL report nulls.
    * Grouping by `host` (or by `canonical`) downstream is URL-keyed crawl
    * dedup — the cheap first pass before any content hash.
    *
    * All regexes live in the Java/RE2 common subset (explicit classes,
    * no backrefs in patterns, no group refs in replacements — q63's
    * portability rule), so the DuckDB oracle matches byte-for-byte.
    *
    * Shape at scale: a pure per-row scalar chain — zero shuffles, whole
    * stage codegen over a (doc_id, text)-pruned scan, the same shape as
    * [[redact]] and [[normalizeText]]. */
  def urlCanonicalize(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val raw = regexp_extract(col(textCol), "url=(\\S+)", 1)
    // regexp_extract returns "" on no match; surface nulls instead
    val url = when(raw === "", lit(null)).otherwise(raw)
    docs.select(col("doc_id"),
      hostOf(url).as("host"),
      pathOf(url).as("path"),
      canonicalUrlCol(url).as("canonical"))
  }

  private def hostOf(url: Column): Column = {
    val h = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1))
    // a scheme-less or host-less string is not a canonicalizable URL:
    // null, never a '://'-prefixed fragment
    when(h === "", lit(null)).otherwise(h)
  }

  private def pathOf(url: Column): Column =
    when(hostOf(url).isNull, lit(null))
      .otherwise(regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))

  /** [[urlCanonicalize]]'s normalization as a reusable Column over a URL
    * VALUE (a crawl dump's `url` column — CorpusMain --url-dedup): null
    * for anything without a parseable scheme://host. */
  def canonicalUrlCol(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val cleanQuery = regexp_replace(
      regexp_replace(query, "(^|&)utm_[^&]*", ""), "^&+", "")
    when(hostOf(url).isNull, lit(null)).otherwise(
      concat(scheme, lit("://"), hostOf(url), pathOf(url),
        when(cleanQuery === "", lit(""))
          .otherwise(concat(lit("?"), cleanQuery))))
  }

  /** The synthetic corpus carries no URLs, so the q93 demo query
    * deterministically appends one per doc — uppercase scheme, mixed-case
    * host, utm params in leading AND trailing positions around a keeper,
    * and a fragment — so the canonicalization exercises every rule and
    * the oracle mirrors the same injection SQL. */
  private def withSyntheticUrl(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        lit(" url=HTTP://WWW.Site"), (col("doc_id") % 7).cast("string"),
        lit(".Example.COM/p"), (col("doc_id") % 5).cast("string"),
        lit("/d"), col("doc_id").cast("string"),
        lit("?utm_source=feed"), (col("doc_id") % 3).cast("string"),
        lit("&id="), col("doc_id").cast("string"),
        lit("&utm_medium=rss#s"), (col("doc_id") % 4).cast("string")))

  private val SyntheticUrlSql =
    """text || ' url=HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
       '.Example.COM/p' || CAST(doc_id % 5 AS VARCHAR) ||
       '/d' || CAST(doc_id AS VARCHAR) ||
       '?utm_source=feed' || CAST(doc_id % 3 AS VARCHAR) ||
       '&id=' || CAST(doc_id AS VARCHAR) ||
       '&utm_medium=rss#s' || CAST(doc_id % 4 AS VARCHAR)"""

  /** URL-keyed crawl dedup (q94) — the cheap first dedup pass of any crawl
    * pipeline, run on [[urlCanonicalize]]'s output BEFORE any content
    * hash: group by canonical URL, keep the min-doc_id fetch as survivor,
    * report the group size. Different fetches of the same canonical URL
    * are re-crawls by construction; content-level dedup (q30-q33) then
    * only pays for what this pass could not key. URL-less docs can't be
    * URL-keyed and pass through as their own survivor.
    *
    * Shape at scale: ONE map-side-combinable aggregation keyed by
    * canonical — the min/count partials absorb re-crawl runs before the
    * shuffle, so the exchange carries ~distinct URLs, not fetches. */
  def urlDedup(canon: DataFrame): DataFrame =
    canon
      .withColumn("k", coalesce(col("canonical"),
        concat(lit("doc:"), col("doc_id").cast("string"))))
      .groupBy(col("k"))
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_fetches"))
      .select(col("k").as("canonical"), col("survivor_id"), col("n_fetches"))

  /** q94's injection: unlike q93's per-doc-unique URL, the path and the
    * surviving query param are keyed by doc_id % 40, so ~n/40 fetches
    * collide on each canonical — real re-crawl shape. */
  private def withSyntheticSharedUrl(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        lit(" url=http://WWW.Example.COM/p/"), (col("doc_id") % 40).cast("string"),
        lit("?utm_campaign=x&ref="), (col("doc_id") % 40).cast("string"),
        lit("#top")))

  private val SyntheticSharedUrlSql =
    """text || ' url=http://WWW.Example.COM/p/' || CAST(doc_id % 40 AS VARCHAR) ||
       '?utm_campaign=x&ref=' || CAST(doc_id % 40 AS VARCHAR) || '#top'"""

  private val TopKDefault = 3

  /** Per-source top-k by quality via the native bounded-heap aggregate
    * (q96) — the same "k best docs per domain" read as q55, rebuilt on
    * `graft_topk` ([[graft.expressions.TopKByScore]]): aggregation state
    * is O(k) per group and combines map-side, so no partition ever sorts
    * (or holds) a whole domain — the window form's failure mode on a
    * single-domain crawl, solved structurally instead of by q56's
    * histogram workaround. Ranks by quality descending, ties to the
    * lower doc_id (the aggregate's stated total order), exploded back to
    * one row per kept doc with its 1-based rank.
    *
    * Shape at scale: ONE map-side-combinable aggregation keyed by
    * source; the exchange carries k-bounded buffers, never doc rows. */
  def topKPerSource(docs: DataFrame, k: Int = TopKDefault): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs.select(col("source"), col("doc_id"), qualityExpr.as("q"))
      .groupBy(col("source"))
      .agg(call_function("graft_topk", col("q"), col("doc_id"), lit(k)).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("doc_id"), col("col.score").as("quality"))
  }

  private val TermTopKDefault = 5

  /** Per-source top-k terms by term frequency (q102) — the
    * source-granular slice of the vocabulary table (q59 is the corpus
    * rollup): for each source, the `k` most frequent terms with their
    * counts. This is `graft_topk` with a STRING id — the widened input
    * path ([[graft.expressions.TopKByScore]] takes any numeric score
    * and a bigint-or-string id), because real quota keys are terms and
    * URLs, not synthetic longs. Ranking is (tf desc, term asc) — the
    * aggregate's stated total order under binary-UTF-8 string compare,
    * which DuckDB's default collation mirrors on this ASCII vocabulary.
    *
    * Shape at scale: two map-side-combinable aggregations — the
    * (source, term) count collapses repeats before its exchange, then
    * the per-source heap moves k-bounded buffers, never term rows. No
    * partition ever sorts a source's vocabulary (the window form's
    * failure mode when one crawl dominates the mix). The count rides
    * the aggregate's double score exactly (tf < 2^53 by a wide margin). */
  def topTermsPerSource(docs: DataFrame, k: Int = TermTopKDefault): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs.select(col("source"), explode(tokens).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(call_function("graft_topk", col("tf"), col("term"), lit(k)).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("term"), col("col.score").cast("long").as("tf"))
  }

  /** Per-source quality calibration (q101) — the comparability pass a
    * heterogeneous-mix threshold needs: the raw quality scalar (q41) is
    * NOT comparable across sources (a boilerplate-heavy crawl's best doc
    * can score below a clean feed's worst), so a single global cut keeps
    * whatever the easiest source emits. Rank-normalizing within each
    * source (`q_pr` = percent_rank over (quality ASC, doc_id ASC) — the
    * deterministic tie order, a singleton source calibrates to 0.0)
    * makes "keep the top 30% of every source" one global `q_pr >= 0.7`
    * filter.
    *
    * Cross-engine determinism: percent_rank is (rank-1)/(n-1), one
    * division of exact ints under a tie-free total order.
    *
    * Shape at scale: ONE window exchange hash-partitioned by source with
    * a local per-source sort — q55's shape and q55's degenerate-domain
    * caveat: a corpus one source dominates takes the histogram (q56) or
    * heap (q96) form of its downstream cut instead. */
  def calibratedQuality(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"), qualityExpr.as("quality"))
      .withColumn("q_pr", percent_rank().over(w))
  }

  /** Per-source quality floor (CorpusMain --quality-floor): the DROPPED
    * rows when each source sheds its worst `p` fraction — exactly
    * `floor(p * n_src)` docs per source (count-based, NOT a percent_rank
    * cut: `q_pr >= p` would drop every singleton source's only doc, which
    * always calibrates to 0). Rank-from-worst over the tie-free
    * (quality ASC, doc_id ASC) order; the cut count is
    * `floor(p * n + 1e-9)` — the epsilon guards the boundary where p*n is
    * mathematically an integer but the double product rounds just below
    * it (p=0.29, n=100 gives 28.999999999999996; the documented contract
    * is 29 drops, and 1e-9 is far below the 1-ulp error of any feasible
    * p*n while far above nothing — n would need to exceed ~4e7/ulp(p) for
    * a legitimate sub-integer product to sit within it). Same guard in
    * [[qualityFloorByThreshold]], so the two forms cannot disagree at
    * boundaries. Returned rows carry the
    * evidence (quality, rank-from-worst, source size) — the audit
    * CorpusMain publishes and reads membership back from.
    *
    * Shape at scale: ONE window exchange on source (row_number and the
    * source-count share it), q55/q101's shape and caveat. */
  def qualityFloorDrops(docs: DataFrame, p: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p >= 0 && p < 1, s"quality floor must be in [0, 1), got $p")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"), qualityExpr.as("quality"))
      .withColumn("rn_worst", row_number().over(w).cast("long"))
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy(col("source"))))
      .filter(col("rn_worst") <= floorCutCount(col("n_src"), p))
  }

  /** `floor(p * n)` with the boundary guard both floor forms share — see
    * [[qualityFloorDrops]]'s scaladoc for why the epsilon is correct. */
  private def floorCutCount(n: Column, p: Double): Column =
    floor(lit(p) * n + lit(1e-9))

  /** [[qualityFloorDrops]] for the degenerate-source corpus — the same
    * lever [[domainQuotaByThreshold]] is for [[domainQuota]], pointed at
    * the floor: the window form sorts each source inside ONE partition,
    * so a corpus one source dominates pays a single-task sort of nearly
    * the whole corpus. Here the bottom `floor(p * n_src)` docs are found
    * by histogram instead:
    *   1. bin each doc's quality into `bins` equal-width buckets (the
    *      monotone binning [[domainQuotaByThreshold]] uses — quality is
    *      in [0, 1] by construction, 1.0 clamps into the top bin);
    *   2. aggregate the per-(source, bin) histogram — the only
    *      corpus-wide shuffle, map-side combinable, ≤ sources × bins
    *      rows — and its per-source total `n_src`;
    *   3. per source, walk bins from the BOTTOM to the boundary bin where
    *      the cumulative count first reaches the cut `floor(p·n_src)`
    *      (the shared [[floorCutCount]] guard, so the two forms cannot
    *      disagree at p·n integer boundaries) — windows over HISTOGRAM
    *      rows, never documents;
    *   4. drop every doc strictly BELOW its source's boundary bin, and
    *      rank ascending only WITHIN the boundary bin — a window whose
    *      input is already cut to ~1/bins of the source — for the
    *      remaining drop seats.
    * The per-source (boundary bin, seats, n_src) table is one row per
    * source and broadcast; the documents themselves are never shuffled.
    * Binning is monotone in quality, so the dropped set is EXACTLY the
    * window form's (TextOpsSpec pins the equivalence, ties included);
    * only `rn_worst` is not produced — the global per-source rank is
    * precisely the sort this variant exists to avoid. Wired as
    * CorpusMain's `--floor-threshold` switch on the `--quality-floor`
    * stage. */
  def qualityFloorByThreshold(docs: DataFrame, p: Double,
      bins: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p >= 0 && p < 1, s"quality floor must be in [0, 1), got $p")
    require(bins >= 2, s"need >= 2 histogram bins, got $bins")
    val scored = docs
      .select(col("doc_id"), col("source"), qualityExpr.as("quality"))
      .withColumn("bin",
        least(floor(col("quality") * bins).cast("long"), lit(bins - 1L)))
    val hist = scored.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val withCut = hist
      .withColumn("n_src", sum(col("n")).over(
        Window.partitionBy(col("source"))))
      .withColumn("cut", floorCutCount(col("n_src"), p))
      .withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("source")).orderBy(col("bin").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the LOWEST bin whose from-the-bottom cumulative reaches the cut;
    // seats = what the cut leaves after every doc in the bins below it
    val boundary = withCut.filter(col("cut") >= 1 && col("cum") >= col("cut"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("bin").asc)))
      .filter(col("r") === 1)
      .select(col("source"), col("bin").as("bbin"), col("n_src"),
        (col("cut") - (col("cum") - col("n"))).as("seats"))
    val withB = scored.join(broadcast(boundary), Seq("source"), "inner")
    val below = withB.filter(col("bin") < col("bbin"))
    val atBoundary = withB.filter(col("bin") === col("bbin"))
      .withColumn("rb", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("quality").asc, col("doc_id").asc)))
      .filter(col("rb") <= col("seats"))
    below.select("doc_id", "source", "quality", "n_src")
      .unionByName(atBoundary.select("doc_id", "source", "quality", "n_src"))
  }

  private val DefaultNgramN = 2
  private val DefaultNgramK = 30

  /** Corpus n-gram top-k (q64) — the repeated-phrase table ([[vocabTopK]]
    * is the n=1 story, [[boilerplateSignals]] the df-thresholded 3-gram
    * one; this is the raw occurrence count ranking for any n, the table a
    * tokenizer trainer or template-text analyst reads).
    *
    * Shape at scale: a per-row generate (fan-out ~n_tokens rows/doc, no
    * shuffle), ONE map-side-combinable count aggregation over the gram
    * key, and a TakeOrdered(k) — the driver receives k rows, never the
    * gram table. Zipf guarantees the partial-agg maps absorb the head
    * grams, so the shuffle carries roughly the distinct-gram tail, not
    * the corpus. */
  def ngramTopK(docs: DataFrame, n: Int = DefaultNgramN,
      k: Int = DefaultNgramK): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(k > 0, s"k must be positive, got $k")
    // the filter (not a when/otherwise) keeps sequence() ascending: for a
    // doc shorter than n tokens, size-(n-1) < 1 would generate a
    // DESCENDING sequence, not an empty one. Tokens are materialized into
    // a column BEFORE the lambda (Shingles.wordNGrams' rule): a split
    // referenced inside the lambda re-splits the text on every element —
    // measured 8x slower at sf0.1.
    docs.filter(size(tokens) >= n)
      .select(tokens.as("w"))
      .select(explode(transform(sequence(lit(1), size(col("w")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(col("w"), i + lit(j))): _*)))
        .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  private val SoftFilterScale = 65536L // 16-bit coordinate: md5 hex 17-20

  /** Quality-weighted stochastic filter (q77) — soft quality sampling:
    * every doc survives with probability equal to its quality score,
    * decided by a deterministic hash coordinate (a doc's fate never
    * changes across reruns). The soft alternative to a hard threshold
    * cut: a hard cut at q >= 0.8 discards EVERY 0.79 doc — this keeps
    * 79% of them, preserving distributional diversity while still
    * down-weighting junk (the FineWeb-style soft filter).
    *
    * The coordinate is md5 hex chars 17-20 — the FIFTH independent slice
    * of the digest (split 1-2, mix 3-4, budget 5-8, sample 9-16), so soft
    * filtering biases none of the other sampling stages. The cut is
    * `floor(quality * 65536)` rendered as 4 hex chars; quality is a
    * bit-exact double on both engines and 65536 is a power of two, so the
    * scaling multiply — and therefore the cut — is exact. quality >= 1
    * renders a NULL cut (keep unconditionally, q57's convention). Pure
    * per-row scan: zero shuffles, zero joins. */
  def softQualityFilter(docs: DataFrame): DataFrame = {
    val qScaled = floor(qualityExpr * lit(SoftFilterScale.toDouble)).cast("long")
    val cut = when(qScaled >= SoftFilterScale, lit(null).cast("string"))
      .otherwise(lpad(lower(hex(qScaled)), 4, "0"))
    docs
      .select(col("doc_id"), col("source"),
        substring(md5(col("doc_id").cast("string")), 17, 4).as("sq_bucket"),
        cut.as("sq_cut"))
      .filter(col("sq_cut").isNull || col("sq_bucket") < col("sq_cut"))
  }

  /** Exact grouped length quantiles (q78): per source, the median and p90
    * token counts picked as RANKED ROWS — `percentile_cont`-style
    * interpolation differs across engines, a rank pick cannot (rank
    * targets are pure integer arithmetic: ceil(q*n) = (q_num*n + q_den-1)
    * div q_den). The exact counterpart of approxCorpusStats' sketch
    * quantiles — run the sketch first, this only where exactness matters.
    *
    * One exchange on source: row_number and the per-source count share the
    * partitioning, the final agg rides it too (subset clustering). The
    * per-source sort is the cost of exactness — the degenerate-domain
    * remedy is the same as the quota's (q56): at one-giant-domain scale,
    * use the sketch. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"),
      size(tokens).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    base
      .withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(when(col("rk") === expr("(n_docs + 1) div 2"), col("n_tokens")))
          .as("p50_tokens"),
        max(when(col("rk") === expr("(9 * n_docs + 9) div 10"), col("n_tokens")))
          .as("p90_tokens"))
  }

  private val LmKnownMin = 2L

  /** Bigram-LM familiarity scoring (q73) — the in-corpus analog of the
    * CCNet-style language-model quality filter: train bigram counts over
    * the WHOLE corpus, then score every document by how familiar its own
    * token transitions are. A doc whose bigrams are mostly unseen
    * elsewhere (machine-garbled text, boilerplate soup, wrong-language
    * fragments) scores low and is a drop candidate.
    *
    * Per doc: `n_bigrams`, `known_bigrams` (corpus count >= `knownMin` —
    * every bigram self-counts once, so >= 2 means "seen beyond this
    * occurrence"), `sum_bigram_count`, and two derived scores —
    * `familiarity` = known/n and `mean_bigram_freq` = sum/n. Both are ONE
    * int/int division of exactly-aggregated longs, so they are bit-exact
    * across engines (the reason this scores by count ratios, not by
    * avg-log-prob: a float SUM is reduction-order-dependent and could
    * never hash-match an oracle).
    *
    * Shape at scale: one generate pass produces (doc_id, gram) rows; the
    * count table is ONE map-side-combinable aggregation on gram (Zipf head
    * absorbed by the partial maps); scoring joins the gram rows back to
    * the post-agg count table — build side is 1 row per DISTINCT bigram,
    * so the hot-gram skew sits only on the streaming probe side of the
    * sort-merge join, never in a buffer; then one integer agg per doc_id.
    * The corpus is scanned twice (train + score) — at 100 TB either accept
    * it (the train pass is a full scan regardless) or persist the gram
    * frame; a `dfMax`-style cap is NOT needed because the join build side
    * is post-aggregation. */
  def lmFamiliarity(docs: DataFrame, knownMin: Long = LmKnownMin): DataFrame = {
    require(knownMin >= 1, s"knownMin must be >= 1, got $knownMin")
    // filter (not when/otherwise) keeps sequence() ascending — same guard
    // as ngramTopK, and the same materialize-tokens-first rule.
    // STAGED (r22): the gram frame is repartitioned by doc_id before the
    // tokenize/explode kernel (§2.5 — the single-row-group scan would run
    // it on one core) and persisted — it is consumed TWICE (the count
    // aggregation and the scoring probe side), and unpersisted each
    // reference re-ran the whole generate (the scaladoc's "persist the
    // gram frame" option, now taken).
    val grams = graft.ops.Staged.persist(docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .filter(size(tokens) >= 2)
      .select(col("doc_id"), tokens.as("w"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
          .as("gram")))
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    grams.join(counts, "gram")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") >= knownMin, 1L).otherwise(0L)).as("known_bigrams"),
        sum(col("cnt")).as("sum_bigram_count"))
      .select(col("doc_id"), col("n_bigrams"), col("known_bigrams"),
        col("sum_bigram_count"),
        (col("known_bigrams").cast("double") / col("n_bigrams").cast("double"))
          .as("familiarity"),
        (col("sum_bigram_count").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bigram_freq"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + a BPE-ish word-regex token count.
    "q40_token_count" -> { (s, dir) => tokenCounts(Tables.documents(s, dir)) },

    // Quality scoring (see qualityScore).
    "q41_quality_score" -> { (s, dir) => qualityScore(Tables.documents(s, dir)) },

    // Language id (see langId).
    "q42_lang_id" -> { (s, dir) => langId(Tables.documents(s, dir)) },

    // Fingerprinting (see fingerprint).
    "q43_fingerprint" -> { (s, dir) => fingerprint(Tables.documents(s, dir)) },

    // Repetition signals (see repetitionSignals).
    "q29_repetition" -> { (s, dir) => repetitionSignals(Tables.documents(s, dir)) },

    // TF-IDF keyword extraction (see tfIdfTopTerms).
    "q45_tfidf_terms" -> { (s, dir) => tfIdfTopTerms(Tables.documents(s, dir)) },

    // Deterministic hash split (see hashSplit).
    "q49_hash_split" -> { (s, dir) => hashSplit(Tables.documents(s, dir)) },

    // Sequential context-window packing (see packWindows).
    "q50_pack_windows" -> { (s, dir) => packWindows(Tables.documents(s, dir)) },

    // Deterministic corpus mixing (see mixCorpus).
    "q52_corpus_mix" -> { (s, dir) => mixCorpus(Tables.documents(s, dir)) },

    // Per-domain quota (see domainQuota).
    "q55_domain_quota" -> { (s, dir) => domainQuota(Tables.documents(s, dir)) },

    // Per-domain quota via histogram threshold (see domainQuotaByThreshold).
    "q56_domain_quota_threshold" -> { (s, dir) =>
      domainQuotaByThreshold(Tables.documents(s, dir)) },

    // Token-budget corpus mixing (see mixToTokenBudget).
    "q57_token_budget_mix" -> { (s, dir) =>
      mixToTokenBudget(Tables.documents(s, dir)) },

    // Boilerplate shingle signals (see boilerplateSignals).
    "q58_boilerplate" -> { (s, dir) =>
      boilerplateSignals(Tables.documents(s, dir)) },

    // Token-proportional systematic sampling (see ppsTokenSample).
    "q112_pps_token_sample" -> { (s, dir) =>
      ppsTokenSample(Tables.documents(s, dir)) },

    // Corpus vocabulary top-k (see vocabTopK).
    "q59_vocab_topk" -> { (s, dir) => vocabTopK(Tables.documents(s, dir)) },

    // Context-window chunking (see chunkWindows).
    "q60_chunk_windows" -> { (s, dir) => chunkWindows(Tables.documents(s, dir)) },

    // Corpus composition pivot (see corpusComposition).
    "q61_composition" -> { (s, dir) => corpusComposition(Tables.documents(s, dir)) },

    // PII redaction over a synthetic-PII-injected corpus (see redact).
    "q63_redact" -> { (s, dir) =>
      redact(withSyntheticPii(Tables.documents(s, dir))) },

    // Whitespace/control normalization over a synthetically-dirtied corpus
    // (see normalizeText).
    "q85_normalize" -> { (s, dir) =>
      normalizeText(withSyntheticMess(Tables.documents(s, dir))) },

    // URL canonicalization over a synthetically URL-tagged corpus
    // (see urlCanonicalize).
    "q93_url_canonicalize" -> { (s, dir) =>
      urlCanonicalize(withSyntheticUrl(Tables.documents(s, dir))) },

    // URL-keyed crawl dedup over colliding re-crawl URLs (see urlDedup).
    "q94_url_dedup" -> { (s, dir) =>
      urlDedup(urlCanonicalize(withSyntheticSharedUrl(Tables.documents(s, dir)))) },

    // Per-source top-k by quality via the bounded-heap native aggregate
    // (see topKPerSource).
    "q96_topk_per_source" -> { (s, dir) => topKPerSource(Tables.documents(s, dir)) },

    // Per-source quality calibration (see calibratedQuality).
    "q101_quality_calibrated" -> { (s, dir) =>
      calibratedQuality(Tables.documents(s, dir)) },

    // Per-source top-k terms via the string-id heap aggregate
    // (see topTermsPerSource).
    "q102_top_terms_per_source" -> { (s, dir) =>
      topTermsPerSource(Tables.documents(s, dir)) },

    // Corpus bigram top-k (see ngramTopK).
    "q64_ngram_topk" -> { (s, dir) => ngramTopK(Tables.documents(s, dir)) },

    // Bigram-LM familiarity scoring (see lmFamiliarity).
    "q73_lm_score" -> { (s, dir) => lmFamiliarity(Tables.documents(s, dir)) },

    // Quality-weighted stochastic filter (see softQualityFilter).
    "q77_soft_quality" -> { (s, dir) => softQualityFilter(Tables.documents(s, dir)) },

    // Exact grouped length quantiles (see lengthQuantiles).
    "q78_length_quantiles" -> { (s, dir) => lengthQuantiles(Tables.documents(s, dir)) },

    // Deterministic per-source uniform sample (see stratifiedSample).
    "q71_stratified_sample" -> { (s, dir) =>
      stratifiedSample(Tables.documents(s, dir)) })

  val oracles: Map[String, String] = Map(
    "q40_token_count" ->
      """SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
           length(text) AS n_chars_measured
         FROM documents""",
    "q41_quality_score" ->
      """WITH t AS (
           SELECT doc_id, length(text) AS n_chars_measured,
             string_split(text, ' ') AS toks
           FROM documents),
         m AS (
           SELECT doc_id, n_chars_measured,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS stop_hits,
             list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
               (acc, v) -> acc + v) AS tot_tok_len
           FROM t)
         SELECT doc_id, n_chars_measured, n_tokens,
           CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           CAST(tot_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
           (1.0 - CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
             + (CASE WHEN CAST(tot_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3.0
                      AND CAST(tot_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 6.0
                     THEN 0.5 ELSE 0.0 END) AS quality
         FROM m""",
    "q42_lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         sc AS (
           SELECT doc_id,
             len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'row' OR x = 'table')) AS s_en,
             len(list_filter(toks, x -> x = 'data' OR x = 'query' OR x = 'value')) AS s_db,
             len(list_filter(toks, x -> x = 'merge' OR x = 'join' OR x = 'sort')) AS s_op
           FROM t)
         SELECT doc_id, s_en, s_db, s_op,
           CASE WHEN s_en >= s_db AND s_en >= s_op THEN 'en'
                WHEN s_db >= s_op THEN 'db' ELSE 'op' END AS predicted
         FROM sc""",
    "q43_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS fp,
           min(doc_id) AS canonical_id, count(*) AS n_docs
         FROM documents GROUP BY 1""",
    "q29_repetition" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         b AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
           FROM w),
         c AS (SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY 1, 2)
         SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct_bigrams,
           max(n) AS top_bigram_n,
           CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_bigram_frac,
           CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS distinct_ratio
         FROM c GROUP BY doc_id""",
    "q49_hash_split" ->
      s"""SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           ${splitCaseSql("doc_id")} AS split
         FROM documents""",
    "q50_pack_windows" ->
      s"""WITH t AS (
           SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, n_tokens
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS BIGINT) AS "offset"
           FROM t)
         SELECT doc_id, source, n_tokens, "offset",
           CAST(floor("offset" / $DefaultCapacity.0) AS BIGINT) AS bin
         FROM c""",
    // percent_rank shares its definition across engines; the (quality,
    // doc_id) order is tie-free, so the division is of exact ints
    "q101_quality_calibrated" ->
      s"""WITH $QualityCteSql
         SELECT doc_id, source, quality,
           percent_rank() OVER (PARTITION BY source
             ORDER BY quality ASC, doc_id ASC) AS q_pr
         FROM qq""",
    // row_number mirror of the heap aggregate's stated total order
    // (quality DESC, doc_id ASC) — the sketch-free literal form
    "q96_topk_per_source" ->
      s"""WITH $QualityCteSql,
         r AS (
           SELECT source, doc_id, quality,
             row_number() OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id ASC) AS rk
           FROM qq)
         SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, quality
         FROM r WHERE rk <= $TopKDefault""",
    // row_number mirror of the string-id heap's total order (tf DESC,
    // term ASC — binary compare matches DuckDB on this ASCII vocabulary)
    "q102_top_terms_per_source" ->
      s"""WITH t AS (
           SELECT source, unnest(string_split(text, ' ')) AS term
           FROM documents),
         g AS (SELECT source, term, count(*) AS tf FROM t GROUP BY 1, 2),
         r AS (
           SELECT source, term, tf,
             row_number() OVER (PARTITION BY source
               ORDER BY tf DESC, term ASC) AS rk
           FROM g)
         SELECT source, CAST(rk AS INTEGER) AS rk, term, CAST(tf AS BIGINT) AS tf
         FROM r WHERE rk <= $TermTopKDefault""",
    "q45_tfidf_terms" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         r AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
           FROM tf JOIN df USING (term))
         SELECT doc_id, term, tf, df, rnk FROM r WHERE rnk <= 3""",
    "q52_corpus_mix" -> {
      val cases = DefaultMixRates
        .map { case (src, cut) => s"WHEN source = '$src' THEN '$cut'" }
        .mkString(" ")
      s"""WITH r AS (
           SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 3, 2) AS mix_bucket,
             CASE $cases ELSE '$DefaultMixOther' END AS keep_below
           FROM documents)
         SELECT doc_id, source, mix_bucket, keep_below
         FROM r WHERE mix_bucket <= keep_below"""
    },
    "q55_domain_quota" ->
      s"""WITH $QualityCteSql,
         r AS (
           SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id) AS rk
           FROM qq)
         SELECT doc_id, source, quality, rk FROM r WHERE rk <= $DefaultQuota""",
    // the oracle for the THRESHOLD variant is the exact rank form: the
    // histogram cut must keep precisely the top-k per domain
    "q56_domain_quota_threshold" ->
      s"""WITH $QualityCteSql,
         r AS (
           SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id) AS rk
           FROM qq)
         SELECT doc_id, source, quality FROM r WHERE rk <= $DefaultQuota""",
    // the integer interval-cover test verbatim; window sum cast to
    // BIGINT (DuckDB window sums of BIGINT promote to HUGEINT, which
    // the driver's pandas compare cannot represent)
    "q112_pps_token_sample" ->
      s"""WITH t AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM t)
         SELECT doc_id, source, n_tokens, cum_before,
           (cum_before + n_tokens) // $PpsStride
             - cum_before // $PpsStride AS n_picks
         FROM c
         WHERE (cum_before + n_tokens) // $PpsStride
             > cum_before // $PpsStride""",
    "q57_token_budget_mix" ->
      s"""WITH t AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         tot AS (
           SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           FROM t GROUP BY 1),
         c AS (
           SELECT source,
             CASE WHEN total_tokens <= $DefaultTokenBudget THEN NULL
                  ELSE lpad(lower(to_hex(
                    ($DefaultTokenBudget * 65536) // total_tokens)), 4, '0')
             END AS tb_cut
           FROM tot),
         r AS (
           SELECT t.doc_id, t.source, t.n_tokens,
             substr(md5(CAST(t.doc_id AS VARCHAR)), 5, 4) AS tb_bucket,
             c.tb_cut
           FROM t JOIN c USING (source))
         SELECT doc_id, source, n_tokens, tb_bucket, tb_cut
         FROM r WHERE tb_cut IS NULL OR tb_bucket < tb_cut""",
    "q58_boilerplate" ->
      s"""WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE len(string_split(text, ' ')) >= 3),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM w),
         post AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         nd AS (SELECT count(*) AS n_docs FROM sh),
         dfx AS (SELECT g, count(*) AS df FROM post GROUP BY 1),
         boiler AS (
           SELECT g FROM dfx, nd
           WHERE CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) >= $DefaultBoilerDfFrac),
         tot AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM sh),
         hits AS (
           SELECT doc_id, count(*) AS n_boiler FROM post
           WHERE g IN (SELECT g FROM boiler) GROUP BY 1)
         SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_boiler, 0) AS n_boiler,
           CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
             AS boiler_frac,
           CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
             >= $DefaultBoilerFlagFrac AS flagged
         FROM tot t LEFT JOIN hits h USING (doc_id)""",
    "q59_vocab_topk" ->
      s"""WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         g AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2)
         SELECT term, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
         FROM g GROUP BY term
         ORDER BY df DESC, tf DESC, term ASC LIMIT $DefaultVocabK""",
    "q60_chunk_windows" ->
      s"""WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (
           SELECT doc_id, w,
             unnest(range(0, len(w), $DefaultChunkStride)) AS "start"
           FROM t)
         SELECT doc_id,
           "start" // $DefaultChunkStride AS chunk_id,
           "start",
           CAST(least($DefaultChunkSize, len(w) - "start") AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(w["start" + 1 : "start" + $DefaultChunkSize], ' ')
             AS chunk_text
         FROM s""",
    "q61_composition" -> {
      val cells = DefaultSources.map(s =>
        s"""CAST(count(*) FILTER (WHERE source = '$s') AS BIGINT) AS $s""")
        .mkString(",\n           ")
      val inList = DefaultSources.map(s => s"'$s'").mkString(", ")
      s"""SELECT lang,
           $cells,
           CAST(count(*) FILTER (WHERE source IN ($inList)) AS BIGINT)
             AS n_docs
         FROM documents GROUP BY lang"""
    },
    // generated from DefaultRedactPatterns so the chain (order, regexes,
    // replacements, progressive counts) cannot drift from redact()'s fold
    "q63_redact" -> {
      val chain = DefaultRedactPatterns.zipWithIndex.map {
        case ((name, re, repl), i) =>
          val carried = DefaultRedactPatterns.take(i)
            .map { case (nm, _, _) => s"n_$nm, " }.mkString
          s"""s$i AS (
           SELECT doc_id, $carried
             len(regexp_extract_all(t$i, '$re')) AS n_$name,
             regexp_replace(t$i, '$re', '$repl', 'g') AS t${i + 1}
           FROM ${if (i == 0) "inj" else s"s${i - 1}"})"""
      }.mkString(",\n         ")
      val names = DefaultRedactPatterns.map { case (nm, _, _) => s"n_$nm" }
      val last = DefaultRedactPatterns.size - 1
      s"""WITH inj AS (
           SELECT doc_id, $SyntheticPiiSql AS t0 FROM documents),
         $chain
         SELECT doc_id, t${last + 1} AS text, ${names.mkString(", ")},
           ${names.mkString(" + ")} AS n_redacted
         FROM s$last"""
    },
    // Same injection + the same three-regex chain (DuckDB needs the 'g'
    // flag; Spark's regexp_replace is global by default).
    "q85_normalize" ->
      s"""WITH inj AS (
           SELECT doc_id, $SyntheticMessSql AS t0 FROM documents),
         n AS (
           SELECT doc_id, t0,
             trim(regexp_replace(regexp_replace(regexp_replace(t0,
               '[\\t\\n\\r\\x0B\\x0C]', ' ', 'g'),
               '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
               ' {2,}', ' ', 'g')) AS text_norm
           FROM inj)
         SELECT doc_id, length(t0) AS n_chars_raw, text_norm,
           length(text_norm) AS n_chars_norm,
           text_norm <> t0 AS changed
         FROM n""",
    // same injection, same regex chain; DuckDB regexp_extract returns ''
    // on no match like Spark, but the injection guarantees a match, so
    // the NULLIF mirror of the Spark-side null surface never fires here
    "q93_url_canonicalize" ->
      s"""WITH inj AS (
           SELECT doc_id, $SyntheticUrlSql AS t FROM documents),
         u AS (
           SELECT doc_id, NULLIF(regexp_extract(t, 'url=(\\S+)', 1), '') AS url
           FROM inj),
         p AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_replace(regexp_replace(
               regexp_extract(url, '\\?([^#]*)', 1),
               '(^|&)utm_[^&]*', '', 'g'), '^&+', '') AS clean_query
           FROM u)
         SELECT doc_id, host, path,
           scheme || '://' || host || path ||
             (CASE WHEN clean_query = '' THEN ''
                   ELSE '?' || clean_query END) AS canonical
         FROM p""",
    // the colliding injection + the same canonicalization, then one
    // min/count group per canonical; COALESCE mirrors the URL-less
    // pass-through key (never fires under this injection)
    "q94_url_dedup" ->
      s"""WITH inj AS (
           SELECT doc_id, $SyntheticSharedUrlSql AS t FROM documents),
         u AS (
           SELECT doc_id, NULLIF(regexp_extract(t, 'url=(\\S+)', 1), '') AS url
           FROM inj),
         p AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_replace(regexp_replace(
               regexp_extract(url, '\\?([^#]*)', 1),
               '(^|&)utm_[^&]*', '', 'g'), '^&+', '') AS clean_query
           FROM u),
         c AS (
           SELECT doc_id,
             scheme || '://' || host || path ||
               (CASE WHEN clean_query = '' THEN ''
                     ELSE '?' || clean_query END) AS canonical
           FROM p)
         SELECT COALESCE(canonical, 'doc:' || CAST(doc_id AS VARCHAR)) AS canonical,
           min(doc_id) AS survivor_id, count(*) AS n_fetches
         FROM c GROUP BY 1""",
    "q64_ngram_topk" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
         b AS (
           SELECT unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS gram
           FROM t)
         SELECT gram, count(*) AS n FROM b
         GROUP BY 1 ORDER BY n DESC, gram ASC LIMIT $DefaultNgramK""",
    // Scores are single int/int divisions of exactly-aggregated counts —
    // the only float-producing ops, mirrored verbatim (see lmFamiliarity).
    "q73_lm_score" ->
      s"""WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i + 1])) AS gram
           FROM t),
         c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
         s AS (
           SELECT g.doc_id, count(*) AS n_bigrams,
             CAST(sum(CASE WHEN c.cnt >= $LmKnownMin THEN 1 ELSE 0 END)
               AS BIGINT) AS known_bigrams,
             CAST(sum(c.cnt) AS BIGINT) AS sum_bigram_count
           FROM g JOIN c USING (gram) GROUP BY 1)
         SELECT doc_id, n_bigrams, known_bigrams, sum_bigram_count,
           CAST(known_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS familiarity,
           CAST(sum_bigram_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS mean_bigram_freq
         FROM s""",
    // Fifth digest slice (hex 17-20); cut = floor(quality * 2^16) as 4
    // hex chars, NULL (keep) at quality >= 1 — q57's degenerate-cut idiom.
    "q77_soft_quality" ->
      s"""WITH $QualityCteSql,
         r AS (
           SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) AS sq_bucket,
             CASE WHEN CAST(floor(quality * 65536.0) AS BIGINT) >= $SoftFilterScale
                  THEN NULL
                  ELSE lpad(lower(to_hex(
                    CAST(floor(quality * 65536.0) AS BIGINT))), 4, '0')
             END AS sq_cut
           FROM qq)
         SELECT doc_id, source, sq_bucket, sq_cut
         FROM r WHERE sq_cut IS NULL OR sq_bucket < sq_cut""",
    // Rank targets in pure integer arithmetic — never a float quantile.
    "q78_length_quantiles" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, source, n_tokens,
             row_number() OVER (PARTITION BY source
               ORDER BY n_tokens, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n_docs
           FROM t)
         SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rk = (n_docs + 1) // 2 THEN n_tokens END)
             AS BIGINT) AS p50_tokens,
           CAST(max(CASE WHEN rk = (9 * n_docs + 9) // 10 THEN n_tokens END)
             AS BIGINT) AS p90_tokens
         FROM r GROUP BY 1""",
    // Same sampling coordinate (md5 hex chars 9-16) and doc_id tie-break.
    "q71_stratified_sample" ->
      s"""SELECT doc_id, source, sample_rank FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 9, 8) ASC,
                        doc_id ASC) AS sample_rank
           FROM documents)
         WHERE sample_rank <= $DefaultSampleK""")
}
