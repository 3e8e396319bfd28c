package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Deduplication operators for web-scale corpora. Design constraints at
  * 100 TB:
  *  - never materialize all-pairs similarity (an O(n^2) crossJoin is dead
  *    on arrival) — candidates come from hash buckets (LSH bands), so the
  *    only wide operation is a shuffle on band-hash keys;
  *  - signatures are computed with built-in hash expressions (xxhash64)
  *    inside codegen, not UDFs;
  *  - exact verification runs only within buckets (candidate pairs are a
  *    tiny fraction of n^2).
  */
object Dedup {

  /** Default LSH bucket cap for candidate-pair formation. Pair formation
    * is quadratic in bucket size, and an UNCAPPED run on a 2M-doc corpus
    * with ~2,800-doc boilerplate buckets was measured to stop making
    * progress entirely (BASELINE.md r4 probe) — so the safe cap is the
    * DEFAULT and exhaustive pairing (`maxBucketSize = 0`) is the explicit
    * opt-in for corpora the caller controls. Recall cost is negligible: a
    * true near-dup pair in a skipped fat bucket is still found via any of
    * its other bands-1 band collisions (measured 6 of 380k pairs at the
    * 2M-doc probe with cap 200).
    */
  val DefaultMaxBucketSize: Int = 1000

  /** The fat-block valve — the ONE definition every size-capped blocking
    * step shares (MinHash bands, sign-sketch buckets, SemDeDup cells):
    * within-block pairing is quadratic in block size, so the blocks of
    * `blocked` (keyed by `keys`) holding more than `cap` rows are skipped.
    * [[list]] is both the skip list and the audit of what was skipped, so
    * the report comes from the computation that causes the loss.
    *
    * Plan shape: [[kept]] counts each block with a window partitioned by
    * `keys`, so the count runs on the one exchange by `keys` that the
    * within-block self-join reuses for both of its sides — no aggregate
    * of its own (the earlier broadcast anti-join against [[list]] ran
    * that aggregate once under each join side: two more full shuffles of
    * the blocked rows, which cannot combine map-side because block keys
    * are nearly all distinct).
    */
  private[graft] final case class FatBlocks(blocked: DataFrame,
      keys: Seq[String], cap: Int) {
    require(cap > 0, s"block cap must be positive, got $cap")

    /** The blocks holding more than `cap` rows, as `(keys..., n_rows)`. */
    lazy val list: DataFrame =
      blocked.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"))
        .filter(col("n_rows") > cap)

    /** `blocked` without the rows of a fat block, partitioned by `keys`.
      * A row with a NULL key is never dropped (no key equals NULL). */
    lazy val kept: DataFrame =
      blocked
        .withColumn("__block_rows",
          count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__block_rows") <= cap || keys.map(col(_).isNull).reduce(_ || _))
        .drop("__block_rows")

    /** `df` — another frame over the same keys — without the rows of a fat
      * block of `blocked` (a broadcast anti-join against [[list]]). */
    def drop(df: DataFrame): DataFrame =
      df.join(broadcast(list.select(keys.map(col): _*)), keys, "left_anti")
  }

  /** Corpus size from which the MinHash paths run the sig-agreement
    * prefilter ([[sigAgreementPrefilter]]): below it the two signature
    * joins cost more than the exact verify they save (measured +0.3 s at
    * 5k docs vs -100 s at 500k).
    */
  private val PrefilterMinDocs = 50000L

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content hash: one shuffle on the 256-bit digest.
    * Returns one row per distinct content with the smallest id kept and
    * the duplicate count (deterministic survivor choice).
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(sha2(col(textCol), 256).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus itself (keep min-id row per content hash). */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(docs, textCol, idCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Shingle a named text column: adds `shingles` array<string> of word
    * n-grams via the native codegen expression
    * [[graft.functions.WordShingles]] (single byte-level pass; the
    * interpreted split/slice/concat_ws pipeline it replaces was the
    * second-largest cost in the dedup benchmark).
    */
  def withShingles(docs: DataFrame, textCol: String, n: Int): DataFrame =
    docs.withColumn("shingles",
      graft.functions.WordShingles.col(col(textCol), n))

  // -------------------------------------------------------------- MinHash

  /** MinHash signature via the standard double-hashing trick:
    * h_j(s) = (h1(s) + j * h2(s)) mod p, p = 2^31-1; sig[j] = min over
    * shingles. Computed by the native codegen expression
    * [[graft.functions.MinHashSig]] — two xxhash64 evaluations per shingle
    * in a compiled loop (the interpreted higher-order-function version was
    * ~50x slower and dominated the benchmark).
    */
  def withMinHashSignature(docs: DataFrame, numHashes: Int): DataFrame =
    docs.withColumn("minhash_sig",
      graft.functions.MinHashSig.col(col("shingles"), numHashes))

  /** LSH banding: split the signature into `bands` bands of r rows and
    * hash each band. Documents sharing any band hash become candidates.
    * THE scale-critical step: the shuffle key is (band_id, band_hash) —
    * pairs are only formed inside buckets.
    */
  def withBands(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Band hashes come from the native single-pass expression — the
    // transform/slice/xxhash64 lambda formulation is interpreted (HOF
    // lambdas never enter codegen) and was 10x the signature-pass cost at
    // 500k docs. Values are identical (same XXH64 fold, seed 42).
    docs
      .select(docs.columns.toIndexedSeq.map(col) :+
        posexplode(graft.functions.BandHashes.col(col("minhash_sig"), bands))
          .as(Seq("__band_id", "__band_hash")): _*)
      .withColumn("band", struct(col("__band_id").as("band_id"),
                                 col("__band_hash").as("band_hash")))
      .drop("__band_id", "__band_hash")
  }

  /** One-pass reusable signature table: `(id, sh, minhash_sig)` — the
    * distinct shingle set and the MinHash signature from a SINGLE scan of
    * the corpus. Every similarity stage hangs off this frame: LSH banding
    * and the sig-agreement prefilter read `minhash_sig`, the exact
    * Jaccard verify reads `sh`, and downstream similarity joins /
    * contamination scans can reuse it instead of re-shingling (at 100 TB
    * this is an explicit materialized table computed once per corpus
    * snapshot — see [[minHashCandidatesFromSigs]]).
    */
  def signatureTable(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64): DataFrame =
    withSignature(docs.select(col(idCol), col(textCol)), textCol,
        shingleSize, numHashes)
      .select(col(idCol).as("id"), col("sh"), col("minhash_sig"))

  /** `df` plus the [[signatureTable]] columns `sh` and `minhash_sig` of
    * its `textCol`. */
  private def withSignature(df: DataFrame, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    withMinHashSignature(withShingles(df, textCol, shingleSize), numHashes)
      .withColumn("sh", array_distinct(col("shingles")))
      .drop("shingles")

  /** Candidate duplicate pairs (id_a < id_b) with exact Jaccard verify on
    * the shingle sets, computed only within LSH buckets.
    *
    * RECALL BOUND — read before relying on verify-exhaustive behavior:
    * for corpora >= 50k docs a signature-agreement prefilter drops banded
    * candidates whose ESTIMATED Jaccard (k = numHashes agreement) is
    * below `minJaccard - prefilterMargin` BEFORE the exact verify. With
    * the defaults (k=64, margin=0.2) a true pair at exactly `minJaccard`
    * is dropped only when its estimator lands > 3.2 sigma low — about
    * 7e-4 per borderline pair — and the loss probability falls
    * exponentially for pairs above the threshold. Callers that need the
    * pre-r3 verify-every-banded-candidate behavior can set
    * `prefilterMargin = 1.0` (prefilter threshold clamps to 0, passing
    * everything); smaller corpora (< 50k docs) always verify exhaustively.
    *
    * LIVENESS at scale: pair formation is quadratic in LSH bucket size.
    * Buckets above [[DefaultMaxBucketSize]] are therefore SKIPPED by
    * default (see the constant's scaladoc for the measured wedge this
    * prevents and the recall bound); pass `maxBucketSize = 0` to opt into
    * exhaustive pairing on a corpus you control. Run exact dedup first
    * (identical-text clusters are the usual fat-bucket cause) either way.
    *
    * @param prefilterMargin slack between `minJaccard` and the estimated-
    *        similarity prefilter threshold; 1.0 disables the prefilter
    * @param maxBucketSize skip LSH buckets larger than this (0 = no cap)
    * @return (id_a, id_b, jaccard) — pairs with estimated similarity from
    *         banding, verified exactly.
    */
  def minHashCandidates(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      prefilterMargin: Double = 0.2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // the signatures feed banding and the verify: materialize them once,
    // with the corpus size observed on that same job
    val (sigs, nDocs) = countedCheckpoint(
      signatureTable(docs, textCol, idCol, shingleSize, numHashes))
    val (pairs, nPairs) = bandPairs(sigs, nDocs, numHashes, bands,
      minJaccard, prefilterMargin, maxBucketSize)
    verifyPairs(pairs, sigs, minJaccard, bounded(nPairs)).localCheckpoint()
  }

  /** Duplicate marks for a corpus: every column of `docs` but the text,
    * plus `dup_reason` — "exact_dup" on all but the smallest id of each
    * identical text (sha-256), "near_dup" on all but the smallest id of
    * each transitive near-duplicate cluster of the rest (MinHash LSH
    * with the [[minHashCandidates]] defaults, exact Jaccard at least
    * `minJaccard`, closed by [[connectedComponents]]), NULL on survivors.
    * These are the marks of [[exactGroups]] followed by
    * [[minHashCandidates]] and [[connectedComponents]] over the exact
    * survivors, taken in a fixed handful of jobs:
    *  - the exact mark, the shingle sets and the signatures land in ONE
    *    checkpoint, which observes the survivor count;
    *  - the band pairs land in a second, which observes the pair count;
    *  - a bounded pair set ([[LocalMaxEdges]]) is verified by one collect
    *    that feeds the driver union-find; a larger one is checkpointed
    *    and runs the distributed loop.
    */
  private[graft] def markDuplicates(docs: DataFrame, textCol: String,
      idCol: String, minJaccard: Double, maxBucketSize: Int): DataFrame = {
    val (numHashes, bands) = (64, 16)
    val dupGroups = exactGroups(docs, textCol, idCol)
      .filter(col("n_copies") > 1).select("content_hash", "keep_id")
    val exact = coalesce(col(idCol) =!= col("keep_id"), lit(false))
    // only survivors are shingled: the exact copies' text goes in as NULL
    val (marked, nDocs) = countedCheckpoint(
      withSignature(
          docs.withColumn("content_hash", sha2(col(textCol), 256))
            .join(dupGroups, Seq("content_hash"), "left")
            .withColumn("__exact", exact)
            .withColumn(textCol, when(!col("__exact"), col(textCol))),
          textCol, 3, numHashes)
        .drop(textCol, "content_hash", "keep_id"),
      count(when(!col("__exact"), lit(1))))
    val sigs = marked.filter(!col("__exact"))
      .select(col(idCol).as("id"), col("sh"), col("minhash_sig"))
    val (pairs, nPairs) = bandPairs(sigs, nDocs, numHashes, bands,
      minJaccard, prefilterMargin = 0.2, maxBucketSize)
    val verified = verifyPairs(pairs, sigs, minJaccard, bounded(nPairs))
      .select("id_a", "id_b")
    val comps =
      if (bounded(nPairs)) localComponents(verified.collect(),
        sigs.schema("id"), docs.sparkSession)
      else connectedComponents(verified.localCheckpoint(), maxIter = 20,
        LocalMaxEdges)
    val near = comps.filter(col("id") =!= col("component"))
      .select(col("id").as("__near"))
    marked.join(near, marked(idCol) === col("__near"), "left")
      .select(docs.columns.filter(_ != textCol).map(col) :+
        when(col("__exact"), "exact_dup")
          .when(col("__near").isNotNull, "near_dup").as("dup_reason"): _*)
  }

  /** `df` materialized (an eager local checkpoint) with `tally` (an
    * aggregate, row count by default) observed on that same job — a
    * tally with no job of its own. */
  private def countedCheckpoint(df: DataFrame,
      tally: Column = count(lit(1))): (DataFrame, Long) = {
    val obs = new Observation()
    val ck = df.observe(obs, tally.as("n")).localCheckpoint()
    val n = obs.get.get("n") match {
      case Some(n: java.lang.Number) => n.longValue()
      case _ => 0L // NULL: an aggregate like sum over zero rows
    }
    (ck, n)
  }

  /** C4/RefinedWeb-style corpus-wide SEGMENT dedup: split every document
    * on `sep` (lines, paragraphs, sentences — caller's choice), drop each
    * segment's repeat occurrences ACROSS the whole corpus (first
    * occurrence by (id, position) survives), and reassemble the surviving
    * segments in document order. Returns
    * `(id, text_kept, n_kept, n_dropped)` — one row per input document,
    * including documents whose every segment was dropped.
    *
    * Scale shape: first-occurrence selection is `groupBy(segment).agg(
    * min(struct(id, pos)))` — a partial-aggregating shuffle, NOT a
    * per-segment window (a window's row_number cannot map-side combine,
    * so a boilerplate segment appearing 10^9 times would pile into one
    * reducer). The join back is keyed on the segment with exactly one
    * build row per segment.
    */
  def dedupSegments(docs: DataFrame, textCol: String, idCol: String,
                    sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val segs = docs.select(col(idCol),
      posexplode(split(col(textCol), quoted)).as(Seq("pos", "seg")))
    val firsts = segs.groupBy("seg").agg(
      min(struct(col(idCol).as("fid"), col("pos").as("fpos"))).as("f"))
    val kept = segs.join(firsts, "seg")
      .filter(col(idCol) === col("f.fid") && col("pos") === col("f.fpos"))
    val reassembled = kept.groupBy(idCol).agg(
      array_join(
        expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
        sep).as("text_kept"),
      count(lit(1)).as("n_kept"))
    // totals come from the DOCS frame, not the exploded segments: a
    // NULL-text document explodes to zero rows but must still emit its
    // output row (0 segments), per the one-row-per-document contract
    val totals = docs.select(col(idCol),
      coalesce(size(split(col(textCol), quoted)).cast("long"), lit(0L))
        .as("n_segs"))
    totals.join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Exact substring dedup, Lee et al. 2022 style ("Deduplicating
    * Training Data Makes Language Models Better"): any `windowTokens`-
    * token window that occurs more than once ACROSS THE WHOLE CORPUS is
    * a duplicated passage; every occurrence except the global first (by
    * (id, pos) struct-min) has its covered token positions removed, and
    * each document is rebuilt from its surviving tokens. Returns
    * `(id, text_kept, n_kept_words, n_dropped_words)` — one row per
    * input document (NULL/empty/short docs pass through whole).
    *
    * Scale shape: window hashing is a pure fan-out scan (md5 of each
    * window — the suffix-array construction the paper uses is a
    * single-node algorithm; hashing costs windowTokens x more bytes but
    * is embarrassingly parallel and oracle-portable); first-occurrence
    * selection is the same min-struct PARTIAL-AGG shuffle as
    * [[dedupSegments]] (never a per-window window function); only
    * windows with >1 occurrence fan out to covered positions, so the
    * explode term is bounded by the duplicate mass, not the corpus.
    */
  def dedupSubstrings(docs: DataFrame, textCol: String, idCol: String,
                      windowTokens: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val ws = docs.select(col(idCol), col(textCol).as("__t"),
      graft.text.TextAnalysis.spaceTokens(col(textCol)).as("__ws"))
    // window strings from the native single-pass WordShingles expression
    // (identical output to slicing the token array and joining with one
    // space — the shared SpaceTokens tokenizer guarantees it); the
    // interpreted transform/slice/concat_ws lambda this replaces cost
    // 1.6x at 500k docs (34.2 s -> 21.8 s; md5 of ~44M windows is the
    // remaining floor). Docs shorter than the window
    // are filtered FIRST: WordShingles would collapse them to one whole-
    // doc shingle, which must not act as a (shorter) duplicate window.
    val wins = ws.filter(size(col("__ws")) >= windowTokens)
      .select(col(idCol),
        posexplode(graft.functions.WordShingles.col(col("__t"), windowTokens))
          .as(Seq("pos", "win")))
      .select(col(idCol), col("pos"), md5(col("win")).as("h"))
    val firsts = wins.groupBy("h").agg(
      min(struct(col(idCol).as("fid"), col("pos").as("fpos"))).as("f"),
      count(lit(1)).as("__nocc"))
    val dupWins = wins.join(firsts.filter(col("__nocc") > 1), "h")
      .filter(!(col(idCol) === col("f.fid") && col("pos") === col("f.fpos")))
      .select(col(idCol).as("__cid"), col("pos"))
    val covered = dupWins
      .select(col("__cid"),
        explode(expr(s"sequence(pos, pos + ${windowTokens - 1})")).as("cpos"))
      .distinct()
    val words = ws.select(col(idCol), posexplode(col("__ws")).as(Seq("wpos", "word")))
    val kept = words.join(covered,
      words(idCol) === covered("__cid") && col("wpos") === col("cpos"),
      "left_anti")
    val rebuilt = kept.groupBy(idCol).agg(
      expr("array_join(transform(array_sort(collect_list(struct(wpos, word))), x -> x.word), ' ')")
        .as("text_kept"),
      count(lit(1)).as("n_kept_words"))
    val totals = docs.select(col(idCol),
      coalesce(size(graft.text.TextAnalysis.spaceTokens(col(textCol))), lit(0))
        .cast("long").as("__n_words"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        coalesce(col("n_kept_words"), lit(0L)).as("n_kept_words"),
        (col("__n_words") - coalesce(col("n_kept_words"), lit(0L)))
          .as("n_dropped_words"))
  }

  /** Incremental near-dup candidates for an APPEND-ONLY corpus: given the
    * existing corpus's [[signatureTable]] and the signature table of a
    * newly arrived batch, emit exactly the verified pairs that TOUCH the
    * new batch (new-new and new-old) — old-old pairs were already known.
    *
    * Scale shape: the banding self-join shrinks to bandedNew ⋈ bandedAll
    * (|delta| x bucket width, not |corpus|^2 worth of buckets), and only
    * the delta gets shingled at all. This is the daily-crawl-increment
    * path at 100 TB: signatures are a maintained table (append the
    * delta's rows after the scan), never a recompute.
    *
    * Caller persists both signature frames; `sigsNew` ids must be
    * disjoint from `sigsOld` ids.
    */
  def incrementalCandidates(
      sigsOld: DataFrame,
      sigsNew: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      prefilterMargin: Double = 0.2,
      maxBucketSize: Int = DefaultMaxBucketSize,
      corpusSize: Option[Long] = None,
      bandedOld: Option[DataFrame] = None,
      broadcastDelta: Boolean = false): DataFrame = {
    val all = sigsOld.unionByName(sigsNew)
    def banded(df: DataFrame) =
      withBands(df.select("id", "minhash_sig"), numHashes, bands)
        .select(col("id"), col("band.band_id").as("band_id"),
                col("band.band_hash").as("band_hash"))
    // The corpus-side banded form is consumed TWICE (fat-bucket sizing +
    // the join's b side). A maintaining caller passes it precomputed via
    // `bandedOld` (schema id, band_id, band_hash — IncrementalNearDedup
    // appends it at each ingest alongside the signatures): the per-fold
    // cost then reads a slim 3-column table instead of re-hashing every
    // corpus signature twice per batch. Without it, banding is
    // recomputed from `sigsOld` (correct, just O(corpus) extra work).
    val bandedNew = banded(sigsNew)
    val bandedAll = bandedOld match {
      case Some(pre) => pre.select("id", "band_id", "band_hash")
        .unionByName(bandedNew)
      case None => banded(all)
    }
    // Same fat-bucket valve as minHashCandidatesFromSigs: the join term
    // is |delta ∩ bucket| x |bucket| per bucket, so a boilerplate bucket
    // on the CORPUS side wedges the increment just as badly as a full
    // run. Bucket sizes are measured over the whole corpus (old + new).
    // The count only steers the cap-skip and prefilter heuristics, so a
    // caller that MAINTAINS the corpus (IncrementalNearDedup owns the
    // signature table) passes it via `corpusSize` — at 100 TB an
    // all.count() here is a full scan of the largest table per daily
    // batch, paid for two boolean decisions.
    val nDocs = corpusSize.getOrElse(all.count())
    // skipped when the whole corpus fits inside one cap (no bucket can
    // exceed it)
    val capped: DataFrame => DataFrame =
      if (maxBucketSize > 0 && nDocs > maxBucketSize)
        FatBlocks(bandedAll, Seq("band_id", "band_hash"), maxBucketSize).drop
      else identity
    // The natural plan shuffles BOTH join sides on (band_id, band_hash) —
    // an O(corpus) shuffle per fold. The incremental contract is
    // delta ≪ corpus, so a maintaining caller sets `broadcastDelta` when
    // the delta's banded rows fit a broadcast (IncrementalNearDedup
    // gates on the delta count it already has): the join then probes the
    // corpus-banded scan MAP-SIDE — one pass, zero corpus shuffle.
    val aSide = capped(bandedNew)
    val a = (if (broadcastDelta) broadcast(aSide) else aSide).alias("a")
    val b = capped(bandedAll).alias("b")
    // pair (min, max) so new-old and new-new pairs normalize identically;
    // a.id != b.id excludes self-pairs, distinct collapses multi-band hits
    val candidates = a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
              greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val prefiltered = if (nDocs < PrefilterMinDocs) candidates else {
      // `all` is typically a parquet-backed maintained table here (not a
      // caller-persisted frame like minHashCandidatesFromSigs'), so
      // joining it twice re-scans the corpus twice per fold. Fetch the
      // candidate-involved signatures in ONE semi-join pass and join the
      // (small, checkpointed) lookup instead.
      val cand = candidates.localCheckpoint()
      val ids = cand.select(col("id_a").as("id"))
        .unionByName(cand.select(col("id_b").as("id"))).distinct()
      val sigLookup = all.select("id", "minhash_sig")
        .join(ids, Seq("id"), "left_semi")
        .localCheckpoint()
      sigAgreementPrefilter(cand, sigLookup, minJaccard, prefilterMargin)
    }
    val (pairs, nPairs) = countedCheckpoint(prefiltered)
    verifyPairs(pairs, all, minJaccard, bounded(nPairs))
  }

  /** [[minHashCandidates]] over a precomputed (persisted or materialized)
    * [[signatureTable]] — the reuse path when several pipeline stages
    * share one corpus snapshot: compute signatures once, run near-dup
    * candidates, similarity joins, and cluster resolution off the same
    * frame without re-shingling the corpus per stage.
    *
    * The caller owns the signature frame's lifecycle (persist before,
    * unpersist after); this method only reads it.
    *
    * Same RECALL BOUND as [[minHashCandidates]]: >= 50k docs enables the
    * sig-agreement prefilter at `minJaccard - prefilterMargin`;
    * `prefilterMargin = 1.0` restores verify-exhaustive behavior.
    */
  def minHashCandidatesFromSigs(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      prefilterMargin: Double = 0.2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (pairs, nPairs) = bandPairs(sigs, sigs.count(), numHashes, bands,
      minJaccard, prefilterMargin, maxBucketSize)
    verifyPairs(pairs, sigs, minJaccard, bounded(nPairs))
  }

  /** The capped within-bucket pairs of a signature table of `nDocs` rows
    * ([[cappedBucketPairs]]), pruned by the sig-agreement prefilter from
    * [[PrefilterMinDocs]] docs on, materialized with their count observed
    * on the same job.
    *
    * Skew valve, ON by default ([[DefaultMaxBucketSize]]): pair formation
    * is QUADRATIC in bucket size, so one pathological bucket (boilerplate
    * cluster, template spam) can dominate — or wedge — the whole job at
    * crawl scale. Buckets above the cap are skipped; a true near-dup pair
    * in a skipped bucket is still found via any of its other bands-1 band
    * collisions (P[miss] ~ (1-j^r)^(bands-1), negligible at j >=
    * minJaccard), and identical-text clusters — the usual cause of huge
    * buckets — belong to the exact-dedup stage that runs first in the
    * curation pipeline. maxBucketSize = 0 is the exhaustive-pairing
    * opt-in. The banded rows are NOT persisted: the native BandHashes
    * explode feeds the one band exchange directly (persisting them
    * measured 2x SLOWER end-to-end at 500k docs).
    */
  private def bandPairs(sigs: DataFrame, nDocs: Long, numHashes: Int,
      bands: Int, minJaccard: Double, prefilterMargin: Double,
      maxBucketSize: Int): (DataFrame, Long) = {
    val banded = withBands(sigs.select("id", "minhash_sig"), numHashes, bands)
      .select(col("id"), col("band.band_id").as("band_id"),
              col("band.band_hash").as("band_hash"))
    val pairs = cappedBucketPairs(banded, maxBucketSize)
    countedCheckpoint(
      if (nDocs < PrefilterMinDocs) pairs
      else sigAgreementPrefilter(pairs, sigs, minJaccard, prefilterMargin))
  }

  /** [[minHashCandidates]] on the ENGINE-PORTABLE md5 double-hash
    * signature construction ([[graft.functions.PortableMinHashSig]] /
    * [[graft.functions.PortableBandHashes]] — the `minhash_portable`
    * oracle's exact math) instead of the native xxhash64 signatures.
    * Because every step — signatures, band hashes, the bucket self-join,
    * the fat-bucket cap, and the exact-Jaccard verify — is reproducible
    * in any engine that can compute md5, the VERIFIED PAIR SET is a
    * data-derived cross-engine identity at ANY corpus scale: the oracle
    * recomputes banding-reachable pairs itself rather than asserting the
    * corpus-specific "banding reaches every true pair here" (which held
    * at sf0.01 but measurably not at sf0.001 — one jaccard≈0.5 pair
    * missing all bands is expected LSH behavior, not a defect).
    *
    * Differences from the production path, both deliberate: no
    * sig-agreement prefilter (the estimator's 3-sigma tail would break
    * the exact identity; every banded candidate is verified), and md5
    * instead of xxhash64 (~2x slower per shingle). Production corpora
    * should use [[minHashCandidates]]; this is the audit/oracle path —
    * the same role `minhash_portable` plays for the signature step
    * alone. The [[DefaultMaxBucketSize]] liveness valve applies
    * identically (a plain bucket-size cap, expressible in SQL).
    */
  def minHashCandidatesPortable(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = docs
      .select(col(idCol).as("id"), array_distinct(
        graft.functions.WordShingles.col(col(textCol), shingleSize)).as("sh"))
      .withColumn("minhash_sig",
        graft.functions.PortableMinHashSig.col(col("sh"), numHashes))
      .localCheckpoint()
    val bandedAll = sigs.select(col("id"), posexplode(
        graft.functions.PortableBandHashes.col(col("minhash_sig"), bands))
        .as(Seq("band_id", "band_hash")))
    val (pairs, nPairs) =
      countedCheckpoint(cappedBucketPairs(bandedAll, maxBucketSize))
    verifyPairs(pairs, sigs, minJaccard, bounded(nPairs)).localCheckpoint()
  }

  /** Fat-bucket liveness cap + within-bucket pairing — the ONE
    * definition shared by [[minHashCandidates]] and
    * [[minHashCandidatesPortable]] (and mirrored literally by the
    * `dedup_minhash` oracle SQL: `HAVING COUNT(*) > cap`, `a.id <
    * b.id`). Buckets holding more than `maxBucketSize` rows are dropped
    * by the [[FatBlocks]] valve, whose bucket count rides the band
    * exchange the self-join reuses for both sides; `maxBucketSize = 0`
    * disables it. A cap change edited here cannot silently diverge the
    * claimed cross-engine identity. A pair colliding in several bands
    * comes out once per band ([[verifyPairs]] keeps one).
    */
  private def cappedBucketPairs(bandedAll: DataFrame,
      maxBucketSize: Int): DataFrame = {
    val banded =
      if (maxBucketSize > 0)
        FatBlocks(bandedAll, Seq("band_id", "band_hash"), maxBucketSize).kept
      else bandedAll
    // a sort-merge join: both sides read the one band exchange, already
    // sorted by the window; a broadcast side (what adaptive execution
    // picks for a small exchange) would cost a job and a second window
    val a = banded.alias("a")
    val b = banded.alias("b").hint("merge")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** The sig-agreement prefilter of the MinHash paths (corpora of at
    * least [[PrefilterMinDocs]] docs): banding's S-curve has a heavy
    * low-similarity tail (one colliding band admits the pair no matter
    * how dissimilar) — on a 500k-doc corpus 90% of distinct candidates
    * had true Jaccard < 0.1 — and those must not reach the exact verify,
    * whose shingle-set join is the expensive step. The signature-
    * agreement estimator (64 long compares per pair) keeps the pairs
    * estimated at `minJaccard - prefilterMargin` or more; the margin
    * keeps the estimator's sampling noise (sigma ~ 1/sqrt(k)) from
    * dropping true pairs: a j=minJaccard pair estimating below
    * minJaccard - 0.2 is a >3-sigma event at k=64. The prefilter only
    * prunes pairs the minJaccard cut would mostly drop anyway; the
    * oracle (exact Jaccard recomputed independently) certifies recall
    * end to end. `sigs` holds `(id, minhash_sig)` for every id in
    * `candidates`.
    */
  private def sigAgreementPrefilter(candidates: DataFrame, sigs: DataFrame,
      minJaccard: Double, prefilterMargin: Double): DataFrame = {
    val prefilterAt = math.max(0.0, minJaccard - prefilterMargin)
    candidates
      .join(sigs.select(col("id").as("id_a"), col("minhash_sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("minhash_sig").as("sig_b")), "id_b")
      .filter(graft.functions.SigAgreement.col(col("sig_a"), col("sig_b"))
        >= prefilterAt)
      .select("id_a", "id_b")
  }

  /** Exact-Jaccard verify of candidate pairs against a signature table's
    * `sh` column: `(id_a, id_b, jaccard)`, one row per distinct pair at
    * or above `minJaccard`. Each pair goes in as its two sides
    * `(id_a, id_b, id)`; ONE join fetches every side's shingle set and a
    * group-by on the pair brings the two sets together (dropping the
    * repeats of a pair found in several bands).
    *
    * Only the shingle sets of ids in some pair may move: at real-corpus
    * candidate rates most documents are in no pair, and not shuffling
    * their (large) arrays measured 13.3 s -> 4.8 s on the 1M-doc verify
    * stage. `broadcastPairs` (the pair set is [[bounded]]) broadcasts the
    * sides, so the join runs map-side in the `sigs` scan and `sigs` never
    * shuffles; otherwise a semi-join on the paired ids prunes `sigs`
    * before the join shuffles it.
    */
  private def verifyPairs(pairs: DataFrame, sigs: DataFrame,
      minJaccard: Double, broadcastPairs: Boolean): DataFrame = {
    val sides = pairs.select(col("id_a"), col("id_b"), col("id_a").as("id"))
      .unionByName(pairs.select(col("id_a"), col("id_b"), col("id_b").as("id")))
    val sh = sigs.select("id", "sh")
    val fetched =
      if (broadcastPairs) broadcast(sides).join(sh, "id")
      else sides.join(
        sh.join(sides.select("id").distinct(), Seq("id"), "left_semi"), "id")
    def shOf(side: String) =
      first(when(col("id") === col(side), col("sh")), ignoreNulls = true)
    fetched
      .groupBy("id_a", "id_b")
      .agg(shOf("id_a").as("sh_a"), shOf("id_b").as("sh_b"))
      .withColumn("jaccard",
        graft.functions.JaccardSim.col(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Edge count up to which a duplicate graph is bounded: its pairs
    * broadcast into the verify join and its components solve in the
    * driver union-find (O(edges α) over a few MB — the same driver-cost
    * class as the Ranking stitch or the Packing solve). */
  private val LocalMaxEdges = 200000L

  /** A set of `nPairs` pairs (`2 * nPairs` directed edges) is bounded. */
  private def bounded(nPairs: Long): Boolean = 2 * nPairs <= LocalMaxEdges

  /** Near-dedup: drop the higher-id member of every verified pair. */
  def minHashDedup(docs: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   minJaccard: Double = 0.5,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val drop = minHashCandidates(docs, textCol, idCol, shingleSize, numHashes,
        bands, minJaccard, maxBucketSize = maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word hashes: per-bit vote accumulated with
    * aggregate/zip_with — one pass over the words, all in codegen.
    */
  /** Adds `simhash` (64-bit) for a named text column via the native
    * codegen expression [[graft.functions.SimHashSig]] (single compiled
    * pass over the tokens).
    */
  def withSimHash(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("simhash",
      graft.functions.SimHashSig.col(split(col(textCol), " +")))

  /** SimHash near-dup candidates: docs whose hashes agree on one of the
    * four 16-bit quadrants (standard pigeonhole blocking for Hamming
    * distance <= 3) — shuffle on (quadrant_id, quadrant_value), never
    * all-pairs. Verified with exact Hamming distance via bit_count.
    */
  def simHashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val hashed = withSimHash(docs.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol).as("id"), col("simhash"))
    val blocked = hashed.withColumn("block", explode(expr(
      """transform(sequence(0, 3),
           q -> named_struct('q', q, 'v', shiftright(simhash, q * 16) & 65535))""")))
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    a.join(b, col("a.block.q") === col("b.block.q") &&
              col("a.block.v") === col("b.block.v") &&
              col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------ cross-corpus contamination scan

  /** Train/eval decontamination: find corpusA documents sharing at least
    * `minShared` word n-grams with any corpusB document (the standard
    * benchmark-leakage check before training).
    *
    * Scale shape: both corpora reduce to (shingle-hash, id) pairs and
    * meet in ONE equi-join keyed on the 64-bit shingle hash — no
    * all-pairs term. Ubiquitous shingles (df > maxDocFreq on the B side)
    * are dropped first: they carry no evidence and are exactly the keys
    * that would skew the join.
    *
    * @return (id_a, id_b, n_shared) pairs with n_shared >= minShared
    */
  def crossCorpusContamination(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minShared: Int = 1,
      maxDocFreq: Long = 10): DataFrame =
    crossCorpusContaminationFromShingles(
      distinctShingleFrame(corpusA, textCol, idCol, n),
      distinctShingleFrame(corpusB, textCol, idCol, n),
      minShared, maxDocFreq)

  /** `(id, sh)` distinct word-shingle sets — the shared prep of every
    * contamination/novelty consumer (one definition, like
    * [[contaminationHashed]]). */
  private def distinctShingleFrame(df: DataFrame, textCol: String,
                                   idCol: String, n: Int): DataFrame =
    withShingles(df.select(col(idCol), col(textCol)), textCol, n)
      .select(col(idCol).as("id"), array_distinct(col("shingles")).as("sh"))

  /** Materialized df-capped key set + the Bloom filter built from it —
    * the shared build of both Bloom consumers (batch prefilter +
    * streaming gate): sized by the DISTINCT capped key count, built
    * from that same frame (never from a duplicate-bearing (id, h)
    * frame, which would re-insert each key once per eval doc). */
  private def cappedKeyBloom(b: DataFrame, maxDocFreq: Long, fpp: Double)
      : (DataFrame, org.apache.spark.util.sketch.BloomFilter) = {
    val keep = contaminationCappedKeys(b, maxDocFreq).localCheckpoint()
    val nKeys = keep.count()
    (keep, keep.stat.bloomFilter("h", math.max(nKeys, 1000L), fpp))
  }

  /** [[crossCorpusContamination]] over precomputed `(id, sh)` shingle-set
    * frames — e.g. the `sh` column of a shared [[signatureTable]], so one
    * corpus scan feeds near-dedup AND decontamination (shingle sizes must
    * match, or pass purpose-built shingle frames).
    */
  /** `(as, h)` per (doc, distinct shingle): the shared hashing step of
    * every contamination variant — ONE definition so the exact path,
    * the Bloom path, and the streaming gate can never silently diverge
    * on shingle hashing.
    */
  private def contaminationHashed(shingleFrame: DataFrame, as: String): DataFrame =
    shingleFrame.select(col("id").as(as), explode(col("sh")).as("__sh"))
      .withColumn("h", xxhash64(col("__sh")))
      .select(as, "h")

  /** The df-capped eval-side key set (`h` only, distinct) — likewise
    * shared by all three contamination consumers. */
  private def contaminationCappedKeys(b: DataFrame, maxDocFreq: Long): DataFrame =
    b.groupBy("h").agg(count_distinct(col("id_b")).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("h")

  def crossCorpusContaminationFromShingles(
      shinglesA: DataFrame,
      shinglesB: DataFrame,
      minShared: Int = 1,
      maxDocFreq: Long = 10): DataFrame = {
    val b = contaminationHashed(shinglesB, "id_b")
    val bKept = b.join(contaminationCappedKeys(b, maxDocFreq), "h")
    contaminationHashed(shinglesA, "id_a")
      .join(bKept, "h")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[crossCorpusContamination]] with a Bloom PREFILTER on the corpus
    * side — the shape that survives 100 TB. The exact path shuffles
    * every corpus-side shingle into the equi-join even though almost
    * none match an eval-side key; here the (bounded, df-capped) eval
    * shingle keys collapse into a Bloom filter that rides the closure
    * ([[graft.functions.BloomContainsLong]], map-only inside the scan),
    * so non-matching corpus shingles die before the Exchange. Bloom
    * false positives pass the prefilter but are eliminated by the SAME
    * exact equi-join + verify as the exact path — so the result is
    * IDENTICAL to [[crossCorpusContamination]] (any `fpp`, by
    * construction), and `fpp` tunes only the prefilter's selectivity.
    * False negatives are impossible; no real contamination is lost.
    */
  def crossCorpusContaminationBloom(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minShared: Int = 1,
      maxDocFreq: Long = 10,
      fpp: Double = 0.01): DataFrame =
    crossCorpusContaminationBloomFromShingles(
      distinctShingleFrame(corpusA, textCol, idCol, n),
      distinctShingleFrame(corpusB, textCol, idCol, n),
      minShared, maxDocFreq, fpp)

  /** [[crossCorpusContaminationBloom]] over precomputed `(id, sh)`
    * frames (the [[signatureTable]] reuse contract of
    * [[crossCorpusContaminationFromShingles]]).
    *
    * EAGER, unlike the exact path: building the Bloom filter runs Spark
    * jobs at CALL time (a `localCheckpoint` + `count` + the bloom
    * aggregation over the df-capped eval keys — the filter must be a
    * driver-held value before it can ride the corpus scan's closure),
    * and the checkpointed key frame stays pinned in executor storage for
    * the session. Call it once and reuse the returned frame; re-invoking
    * the builder re-runs the eval-side jobs. The eval/reference side is
    * bounded by contract (eval suites, not corpora), so the eager cost
    * is small and independent of corpus size.
    */
  def crossCorpusContaminationBloomFromShingles(
      shinglesA: DataFrame,
      shinglesB: DataFrame,
      minShared: Int = 1,
      maxDocFreq: Long = 10,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val b = contaminationHashed(shinglesB, "id_b")
    val (keep, bloom) = cappedKeyBloom(b, maxDocFreq, fpp)
    val bKept = b.join(keep, "h")
    contaminationHashed(shinglesA, "id_a")
      .filter(graft.functions.BloomContains.col(col("h"), bloom))
      .join(bKept, "h")
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The df-capped eval shingle-key Bloom filter as a standalone,
    * driver-held artifact — the reference-set half of
    * [[crossCorpusContaminationBloom]], exposed so STREAMING curation
    * can run the same contamination gate per-row
    * ([[graft.pipelines.TrainingDataPipeline.contaminationGateExpr]]):
    * the eval set is static by contract, so its filter is built once
    * batch-side and rides every micro-batch's closure. Default `fpp` is
    * tight (1e-4): the per-row gate has no exact verify join behind it,
    * so false positives translate into (bounded, documented) false
    * drops rather than being filtered away.
    */
  def evalShingleBloom(
      reference: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      maxDocFreq: Long = 10,
      fpp: Double = 1e-4): org.apache.spark.util.sketch.BloomFilter =
    cappedKeyBloom(
      contaminationHashed(distinctShingleFrame(reference, textCol, idCol, n),
        "id_b"),
      maxDocFreq, fpp)._2

  /** Per-document reference-overlap stats: for every corpus document,
    * how many of its distinct word n-grams appear anywhere in the
    * reference corpus — `(id, n_shingles, n_seen)`, from which novelty
    * `1 - n_seen/n_shingles` follows (kept out of the frame so the
    * output stays pure integers). The per-document companion to
    * [[crossCorpusContamination]]'s pair-level scan: a QA signal for
    * eval-set overlap, memorization probes, and "how much of this crawl
    * is boilerplate we already have".
    *
    * Plan shape: corpus shingles fan out in the scan (explode_outer, so
    * a null/empty doc keeps its row and reports 0/0), the reference key
    * SET (distinct hashes — bounded by reference vocabulary, not
    * documents) meets them in one equi-join on the 64-bit hash, and the
    * doc-id aggregation has map-side partials.
    */
  def referenceOverlapStats(
      corpus: DataFrame,
      reference: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    // explode_outer (not the inner-explode contaminationHashed): a
    // null/empty doc must keep its row for the 0/0 contract
    def prep(df: DataFrame) =
      distinctShingleFrame(df, textCol, idCol, n)
        .select(col("id"), explode_outer(col("sh")).as("__sh"))
        .withColumn("h", when(col("__sh").isNotNull, xxhash64(col("__sh"))))
    // reference is bounded by contract (eval benchmarks / curated sets):
    // broadcast EXPLICITLY — the optimizer's post-aggregate size estimate
    // can silently fall back to shuffling the corpus into a merge join
    val refKeys = prep(reference).filter(col("h").isNotNull)
      .select("h").distinct()
      .withColumn("__seen", lit(1L))
    prep(corpus)
      .join(broadcast(refKeys), Seq("h"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(col("__sh")).as("n_shingles"),
        coalesce(sum(col("__seen")), lit(0L)).as("n_seen"))
  }

  /** Pairwise shingle-overlap matrix between corpus slices (source,
    * domain, crawl snapshot, …) — the corpus-audit view behind "which
    * slices share content, and how much" that drives mixing and dedup
    * ordering decisions. One row per unordered slice pair (a < b):
    * `(source_a, source_b, n_shared, n_a, n_b)` over DISTINCT word
    * n-gram shingles, zero-overlap pairs included, so Jaccard/containment
    * ratios derive downstream without a second pass.
    *
    * Scale shape: one corpus scan → shingle explode → (slice, key)
    * distinct (THE big shuffle, the same class as segment dedup), then a
    * self-join on the key whose fan-out is bounded by |slices|² per key
    * — slices are few by construction (a mixing config names tens, not
    * millions), which is what makes the full matrix tractable where a
    * doc-pair matrix would not be. The distinct frame is persisted: it
    * feeds the totals and both join sides.
    *
    * `hashShingles = true` (default) joins on xxhash64 of the shingle —
    * right at 100 TB where shingle strings dominate shuffle bytes;
    * `false` joins on the shingle text itself (the engine-portable form
    * the `cross_source_overlap` oracle replays verbatim).
    */
  def crossSourceOverlap(docs: DataFrame, textCol: String,
                         sourceCol: String, n: Int = 8,
                         hashShingles: Boolean = true): DataFrame = {
    val base = withShingles(
        docs.select(col(sourceCol).as("source"), col(textCol)), textCol, n)
      .select(col("source"), explode(col("shingles")).as("__sh"))
    val keyed = base
      .withColumn("k",
        if (hashShingles) xxhash64(col("__sh")) else col("__sh"))
      .select("source", "k").distinct()
      .persist()
    val totals = keyed.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = keyed.select(col("k"), col("source").as("source_a"))
      .join(keyed.select(col("k"), col("source").as("source_b")), Seq("k"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
    totals.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("source").as("source_b"), col("n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_a"), col("n_b"))
  }

  /** Snapshot diff between two corpus versions — the dataset-governance
    * primitive behind "what changed since the last training set":
    * `(id, status)` with status ∈ added | removed | modified |
    * unchanged, decided by id presence and sha256 content equality. A
    * full outer join on the id plus a hash compare: one shuffle on the
    * id, no content movement beyond the hash (computed in the scan).
    * Deterministic and engine-portable (sha256 both sides).
    */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame,
                 textCol: String, idCol: String): DataFrame = {
    // presence is decided by explicit markers, NOT hash nullity: a row
    // with NULL text must still count as present (sha2(NULL) is NULL,
    // which would otherwise misread null-text rows as absent), and two
    // null texts compare as unchanged via the null-safe <=>
    def hashed(df: DataFrame, pres: String, hash: String) =
      df.select(col(idCol), lit(true).as(pres),
        sha2(col(textCol), 256).as(hash))
    hashed(oldCorpus, "__old_p", "__old_h")
      .join(hashed(newCorpus, "__new_p", "__new_h"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__old_p").isNull, "added")
          .when(col("__new_p").isNull, "removed")
          .when(col("__old_h") <=> col("__new_h"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Drop the corpus documents a contamination scan flagged: `pairs` is
    * the `(id_a, id_b, n_shared)` output of any
    * [[crossCorpusContamination]] variant; every corpus row whose id
    * appears as an `id_a` is removed (left_anti — no fan-out, no
    * duplicate survivors). The standard eval-decontamination final step.
    */
  def decontaminate(corpus: DataFrame, pairs: DataFrame,
                    idCol: String): DataFrame =
    corpus.join(pairs.select(col("id_a").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  // --------------------------------------- duplicate-cluster resolution

  /** Connected components over a candidate-pair graph by iterative
    * min-label propagation: each vertex adopts the smallest id reachable
    * so far; converges in O(diameter) joins. This resolves TRANSITIVE
    * duplicate chains (a~b, b~c => one cluster) that pairwise dropping
    * handles only approximately. Graphs of more than 200k edges run as
    * DataFrame joins — no graph library — so they scale with the
    * shuffle; smaller ones solve with a driver-side union-find.
    *
    * @param pairs (id_a, id_b) undirected candidate edges
    * @return (id, component) — component = min id in the cluster;
    *         isolated ids absent from `pairs` are not returned
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponents(pairs, maxIter, LocalMaxEdges)

  /** [[connectedComponents]] with the driver union-find's edge cap
    * explicit (0 forces the distributed loop). */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int,
      localMaxEdges: Long): DataFrame = {
    // Iterative algorithms MUST truncate lineage each round: with plain
    // persist the logical plan under every action still carries the whole
    // upstream pipeline (re-analysis/canonicalization per iteration blew
    // a 6 s CC up to ~400 s when fed from a long curation DAG) and a
    // partially-materialized cache re-computes through it. localCheckpoint
    // materializes eagerly and replaces the plan with the stored blocks.
    // (On a real cluster prefer reliable checkpoints / an explicit
    // intermediate table for fault tolerance.)
    //
    // BOUNDED duplicate graphs solve on the driver: the edge count is
    // EXACT (observed on the checkpoint job, no extra action) and the
    // cap is a hard bound ([[LocalMaxEdges]]), replacing the iterative
    // loop's ~5 jobs/round fixed cost (the dominant per-action price of
    // small curation pipelines). Graphs past the cap — the 100 TB shape,
    // where duplicate pairs are unbounded — run the distributed loop.
    val (edges, nEdges) = countedCheckpoint(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    if (nEdges <= localMaxEdges)
      return localComponents(edges.collect(), edges.schema("src"),
        edges.sparkSession)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // each vertex takes the min of its own label and its neighbors'
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("n_comp"))
      // carry the pre-iteration label through as __old so the convergence
      // check is row-local — the previous next⋈labels equality join cost
      // one extra shuffle per iteration purely to detect "nothing
      // changed" (guide §2.4)
      val propagated = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("n_comp"), col("component")))
            .as("component"))
      // pointer jumping: also adopt the label of our current label's vertex
      // (component ids are vertex ids), halving chain lengths each round —
      // neighbor propagation alone needs diameter iterations; combined the
      // loop converges in O(log diameter)
      val byLabel = propagated
        .select(col("id").as("component"), col("component").as("__cc2"))
      // the convergence count rides the CHECKPOINT materialization as an
      // observed metric — the previous limit(1).count() paid a whole
      // extra job per iteration just to ask "did anything change"
      val (next, changed) = countedCheckpoint(
        propagated.join(byLabel, Seq("component"), "left")
          .select(col("id"), col("__old"),
            least(col("component"), coalesce(col("__cc2"), col("component")))
              .as("component")),
        count(when(col("component") =!= col("__old"), lit(1))))
      labels = next.drop("__old")
      converged = changed == 0
      iter += 1
    }
    // A silent partial merge is a correctness bug (split clusters keep
    // duplicates downstream) — fail loudly instead of returning it.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations; " +
        "raise maxIter (propagation needs ~log2(graph diameter) rounds)")
    labels
  }

  /** Exact union-find over COLLECTED (cap-bounded, see callers) edges —
    * rows whose first two fields are the two ids — with the distributed
    * loop's contract: every vertex labeled with the MIN id of its
    * component, id-type-generic (ids are Comparable: long/int/string
    * across the dedup APIs; `idField` types the output). Repeated and
    * reversed edges are harmless. */
  private def localComponents(edges: Array[Row], idField: StructField,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
    }
    // strings order by UNSIGNED UTF-8 bytes — Spark `min`'s ordering
    // (UTF8String binary); String.compareTo is UTF-16 code-unit order,
    // which disagrees above U+E000 vs supplementary planes and would
    // pick a DIFFERENT survivor than the distributed loop
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val minOf = mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { v =>
      val r = find(v)
      if (minOf.get(r).forall(m => lt(v, m))) minOf(r) = v
    }
    val rows = new java.util.ArrayList[Row](parent.size)
    parent.keys.foreach(v => rows.add(Row(v, minOf(find(v)))))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", idField.dataType, idField.nullable),
      StructField("component", idField.dataType, idField.nullable))))
  }

  /** Cluster-aware near-dedup: build candidate pairs (MinHash LSH), close
    * them transitively, keep the min-id document of every duplicate
    * cluster.
    */
  def minHashDedupClustered(docs: DataFrame, textCol: String, idCol: String,
                            shingleSize: Int = 3, numHashes: Int = 64,
                            bands: Int = 16, minJaccard: Double = 0.5,
                            maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = minHashCandidates(docs, textCol, idCol, shingleSize, numHashes,
      bands, minJaccard, maxBucketSize = maxBucketSize)
    val comps = connectedComponents(pairs.select("id_a", "id_b"))
    val drop = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** [[minHashDedupClustered]] with a caller-chosen SURVIVOR per cluster:
    * keep the member maximizing `scoreCol` (quality score, length, a
    * recency stamp — whatever the curation policy values), ties broken by
    * the smaller id for determinism. The min-id policy answers "which
    * rows to drop"; this answers the real curation question — "which
    * copy is the best one to keep".
    *
    * One extra shuffle vs the min-id variant: argmax per component via a
    * (component)-keyed max of (score, -id) structs — map-side partials,
    * no window.
    */
  def minHashDedupClusteredBy(docs: DataFrame, textCol: String, idCol: String,
                              scoreCol: String,
                              shingleSize: Int = 3, numHashes: Int = 64,
                              bands: Int = 16,
                              minJaccard: Double = 0.5,
                              maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = minHashCandidates(docs, textCol, idCol, shingleSize, numHashes,
      bands, minJaccard, maxBucketSize = maxBucketSize)
    val comps = connectedComponents(pairs.select("id_a", "id_b"))
    // null scores sort below every real score (a cluster whose members
    // are ALL null-scored still keeps one survivor); -Inf keeps the
    // comparison total without special cases
    val members = comps.join(
      docs.select(col(idCol).as("id"),
        coalesce(col(scoreCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__score")), Seq("id"))
    // argmax(score) with min-id tie-break, id-type agnostic (ids are
    // compared with their own ordering, never negated/cast): max score
    // per component, then min id among the members achieving it
    val best = members.groupBy("component").agg(max(col("__score")).as("__best"))
    val winners = members.join(best, Seq("component"))
      .filter(col("__score") === col("__best"))
      .groupBy("component").agg(min(col("id")).as("__keep_id"))
      .select("__keep_id")
    val losers = comps.join(winners, comps("id") === winners("__keep_id"),
        "left_anti")
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/val/test assignment: split on the NEAR-DUP
    * CLUSTER, not the document — two near-duplicate documents in
    * different splits are silent eval contamination, and a doc-id hash
    * split produces exactly that. Members of a [[connectedComponents]]
    * cluster share the cluster's min-id as their split key (singletons
    * key on their own id — for them this IS the doc-id split), so a
    * duplicate pair can never straddle splits by construction.
    *
    * Returns `docs` + a `split` column. Same hash-threshold semantics as
    * [[graft.ops.Sampling.splitExpr]]; same candidate knobs as the dedup
    * paths. Note the split FRACTIONS are over clusters, not documents —
    * a heavy-duplication corpus has fewer clusters than docs, and each
    * lands whole.
    */
  def splitByNearDupClusters(docs: DataFrame, textCol: String, idCol: String,
                             splits: Seq[(String, Double)],
                             shingleSize: Int = 3, numHashes: Int = 64,
                             bands: Int = 16, minJaccard: Double = 0.8,
                             maxBucketSize: Int = DefaultMaxBucketSize,
                             asCol: String = "split"): DataFrame = {
    val pairs = minHashCandidates(docs, textCol, idCol, shingleSize,
      numHashes, bands, minJaccard, maxBucketSize = maxBucketSize)
    val comps = connectedComponents(pairs.select("id_a", "id_b"))
      .withColumnRenamed("id", "__cc_id")
    docs
      .join(comps, docs(idCol) === col("__cc_id"), "left")
      .withColumn(asCol, graft.ops.Sampling.splitExpr(
        coalesce(col("component"), docs(idCol)), splits))
      .drop("__cc_id", "component")
  }

  // -------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram Jaccard similarity for given candidate pairs — the
    * verification primitive shared by the LSH paths; exposed for direct
    * use on small candidate sets.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, textCol: String,
                   idCol: String, n: Int = 3): DataFrame = {
    val sh = withShingles(docs.select(col(idCol), col(textCol)), textCol, n)
      .select(col(idCol).as("id"), array_distinct(col("shingles")).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardSim.col(col("sh_a"), col("sh_b")))
      .select("id_a", "id_b", "jaccard")
  }
}
