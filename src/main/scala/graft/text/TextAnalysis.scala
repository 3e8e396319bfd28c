package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * Everything is built from codegen'd Catalyst expressions (length /
  * replace / position / arithmetic) — no UDFs — so the scan stays inside
  * one whole-stage-codegen span and scales linearly with input bytes.
  */
object TextAnalysis {

  /** Whitespace-token count via length arithmetic (robust across engines,
    * no regex): tokens = spaces + 1 for single-space-separated text.
    */
  def nWords(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  private def nSpaces(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", ""))).cast("long")

  /** Per-document surface statistics. */
  def textStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      nWords(t).as("n_words"),
      (length(regexp_replace(t, " ", "")).cast("double") / nWords(t)).as("avg_word_len"))
  }

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, and single
    * punctuation marks — the word-boundary split BPE vocabularies are
    * trained over (GPT-2-style, minus the unicode categories).
    */
  val bpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Token counting: exact whitespace tokens, a BPE-ish regex token count
    * (codegen'd regexp_count, no UDF), and the chars/4 estimate.
    */
  def tokenCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      nWords(t).as("n_ws_tokens"),
      regexp_count(t, lit(bpeishPattern)).cast("long").as("n_bpe_tokens"),
      ceil(length(t) / lit(4.0)).cast("long").as("n_bpe_est"))
  }

  /** Stopword-hit language ID: cheap n-gram-free heuristic — count hits of
    * high-frequency function words and threshold. At 100 TB this is a pure
    * map-side scan; a real model would broadcast per-language n-gram
    * tables and score the same way.
    */
  val enStopwords: Seq[String] = Seq(" the ", " and ", " of ")

  def langId(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hits = enStopwords
      .map(s => when(instr(col(textCol), s) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    docs.select(
      col(idCol),
      hits.as("en_hits"),
      when(hits >= 2, "en").otherwise("other").as("lang_pred"))
  }

  /** Built-in character-trigram profiles for the n-gram language ID.
    * Deliberately tiny (high-frequency function-word trigrams); a real
    * deployment swaps in learned profiles — the scoring plan is identical:
    * the profile table is broadcast, the corpus never shuffles until the
    * per-document aggregate.
    */
  val defaultTrigramProfiles: Seq[(String, String, Double)] = Seq(
    ("en", "the", 3.0), ("en", "he ", 2.0), ("en", "and", 2.5), ("en", "ing", 2.0),
    ("en", " of", 2.0), ("en", "ion", 1.5), ("en", " to", 1.5),
    ("es", " de", 3.0), ("es", "de ", 2.5), ("es", "la ", 2.0), ("es", "os ", 2.0),
    ("es", "ar ", 1.5), ("es", "que", 2.0), ("es", "ión", 1.5),
    ("de", "der", 3.0), ("de", "ein", 2.5), ("de", "sch", 2.5), ("de", "und", 2.5),
    ("de", "ich", 2.0), ("de", "en ", 1.5), ("de", "die", 2.0),
    ("fr", "le ", 2.5), ("fr", " le", 2.0), ("fr", "es ", 1.5), ("fr", "ent", 2.0),
    ("fr", "eur", 1.5), ("fr", "ais", 1.5), ("fr", "une", 2.0))

  /** (lang_pred, lang_score) column pair for a text column: each
    * document's character trigrams scored against per-language profile
    * weights, argmax kept (ties to the lexicographically largest
    * language), 'unknown' for a document with no profile hit. Exposed so
    * single-scan pipelines can inline it; [[langIdNgram]] is built from
    * it.
    *
    * One native byte-level pass for all profile counts and the argmax
    * ([[graft.functions.TrigramLangScore]]), which scores the lowercased
    * text and lowers it itself, so the raw column goes in. It computes
    * the values of the earlier Column formulation over `lower(text)` —
    * one lookahead `regexp_count` per profile entry, struct `greatest()`
    * for the argmax, the same left-associated IEEE sum order — which paid
    * 28 regex passes per document, and it never calls Spark's `lower()`,
    * whose first use in a JVM pays a 1.5 s ICU table build (see
    * TrigramLangScore). Zero shuffles and no join: the profile table is
    * literal metadata.
    */
  def langIdNgramCols(
      textCol: Column,
      prof: Seq[(String, String, Double)] = defaultTrigramProfiles)
      : (Column, Column) = {
    val best = graft.functions.TrigramLangScore.col(textCol, prof)
    (when(best.getField("score") > 0, best.getField("lang"))
       .otherwise(lit("unknown")),
     best.getField("score"))
  }

  def langIdNgram(docs: DataFrame, textCol: String, idCol: String,
                  profiles: Option[DataFrame] = None): DataFrame = {
    val prof: Seq[(String, String, Double)] = profiles match {
      case Some(df) => df.select("lang", "trigram", "weight").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      case None => defaultTrigramProfiles
    }
    val (pred, score) = langIdNgramCols(col(textCol), prof)
    docs.select(col(idCol), pred.as("lang_pred"), score.as("lang_score"))
  }

  /** Composite quality score from surface ratios (length, punctuation
    * density, word shape) — the usual first-pass filter before expensive
    * model-based scoring.
    */
  /** The composite score alone, as a column (for single-scan pipelines).
    * Empty text scores 0.0 up front — under ANSI mode the ratio divisions
    * would otherwise raise DIVIDE_BY_ZERO and kill the whole annotation
    * scan (empty docs are routine after line-level cleaning).
    */
  def qualityScoreCol(t: Column): Column = {
    val nc = length(t).cast("double")
    val words = nWords(t).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "\\.", ""))).cast("double")
    val punctRatio = punct / nc
    val avgWordLen = (nc - nSpaces(t).cast("double")) / words
    val lengthScore = when(nc >= 200 && nc <= 100000, lit(1.0))
      .otherwise(nc / lit(200.0))
    when(length(t) === 0, lit(0.0)).otherwise(
      lengthScore * lit(0.5) +
        when(avgWordLen >= 3 && avgWordLen <= 10, lit(0.3)).otherwise(lit(0.0)) +
        when(punctRatio <= 0.1, lit(0.2)).otherwise(lit(0.0)))
  }

  def qualityScore(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val nc = length(t).cast("double")
    val words = nWords(t).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "\\.", ""))).cast("double")
    // empty text: ratio pinned to 0.0 (ANSI would raise DIVIDE_BY_ZERO)
    val punctRatio = when(length(t) === 0, lit(0.0)).otherwise(punct / nc)
    val avgWordLen = (nc - nSpaces(t).cast("double")) / words
    docs.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      words.cast("long").as("n_words"),
      punctRatio.as("punct_ratio"),
      avgWordLen.as("avg_word_len"),
      qualityScoreCol(t).as("quality_score"))
  }

  /** Gopher/MassiveText document-level quality rules (Rae et al. 2021
    * A1.1) as per-rule audit flags — the "why was this doc dropped"
    * report a curation pipeline needs, not just the final boolean.
    * Every ratio test is an integer cross-multiplication (never a float
    * division), so the flags are bit-identical across engines and the
    * whole operator is a map-only codegen scan. Words are space/newline
    * run tokens; lines are non-empty `[^\n]+` runs. The two repetition
    * rules of the same appendix live in [[repetitionStats]].
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio (# / …) <= 10%; <= 90% of lines
    * bullet-led; <= 30% of lines ellipsis-terminated; >= 80% of words
    * contain an alphabetic character; >= 2 distinct English stopword
    * hits.
    */
  def gopherQualityFlags(docs: DataFrame, textCol: String, idCol: String,
                         minWords: Long = 50L,
                         maxWords: Long = 100000L): DataFrame = {
    val t = col(textCol)
    val nWordsC = regexp_count(t, lit("[^ \n]+")).cast("long")
    val nLines = regexp_count(t, lit("[^\n]+")).cast("long")
    val wordChars =
      length(regexp_replace(t, "[ \n]", "")).cast("long")
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEllipsis = regexp_count(t, lit("\\.\\.\\.")).cast("long")
    val nBulletLines = regexp_count(t, lit("(?m)^ *[-*]")).cast("long")
    val nEllipsisLines = regexp_count(t, lit("(?m)\\.\\.\\.$")).cast("long")
    val nAlphaWords =
      regexp_count(t, lit("[^ \n]*[A-Za-z][^ \n]*")).cast("long")
    val stopHits = enStopwords
      .map(s => when(instr(t, s) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    val rules: Seq[(String, Column)] = Seq(
      "ok_word_count" -> (nWordsC >= minWords && nWordsC <= maxWords),
      "ok_mean_word_len" -> (wordChars >= lit(3L) * nWordsC &&
        wordChars <= lit(10L) * nWordsC),
      "ok_symbol_ratio" -> (lit(10L) * (nHash + nEllipsis) <= nWordsC),
      "ok_bullet_lines" -> (lit(10L) * nBulletLines <= lit(9L) * nLines),
      "ok_ellipsis_lines" -> (lit(10L) * nEllipsisLines <= lit(3L) * nLines),
      "ok_alpha_words" -> (lit(5L) * nAlphaWords >= lit(4L) * nWordsC),
      "ok_stopwords" -> (stopHits >= 2L))
    docs.select(
      (col(idCol) +: nWordsC.as("n_words") +: nLines.as("n_lines") +:
        rules.map { case (n, c) => flag(c).as(n) }) :+
        flag(rules.map(_._2).reduce(_ && _)).as("gopher_pass"): _*)
  }

  /** Content fingerprint of the normalized document (case/whitespace
    * insensitive md5) — the exact-dedup key that survives formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", "")))

  def fingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))

  /** PII scrubbing for training corpora: emails, IPv4 addresses, and
    * NNN-NNN-NNNN phone numbers replaced with stable placeholder tokens
    * (stable tokens — rather than deletion — keep sentence structure for
    * the model and make the scrub auditable/countable downstream).
    *
    * Pure regexp_replace expression pipeline: one codegen'd pass per
    * pattern, no UDF, no shuffle. The patterns deliberately stay in the
    * RE2-compatible subset (no backrefs/lookahead) so the very same
    * regexes run on other engines (the DuckDB oracle executes them
    * verbatim).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** (id, redacted text, per-kind match counts) — counts audit what was
    * scrubbed without retaining the PII itself.
    */
  def redactPiiReport(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      redactPii(col(textCol)).as("redacted"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col(textCol), lit(PhoneRe)).cast("long").as("n_phones"))

  // ------------------------- C4-style cleaning -------------------------
  // Line/document-level corpus cleaning after Raffel et al. 2020 §2.2
  // (the C4 rules): keep only lines that end in terminal punctuation and
  // carry a minimum word count, drop lines mentioning javascript, and
  // drop whole documents containing curly braces (code/markup) or the
  // "lorem ipsum" placeholder phrase. (C4's remaining rule — the
  // three-sentence-span global dedup — is the segment/substring dedup
  // family in graft.dedup.Dedup, composable after this.)
  //
  // Each rule is ONE codegen'd regexp_replace pass deleting whole bad
  // lines (match includes the trailing newline). The patterns stay in
  // the RE2-compatible subset (no lookahead/backrefs; `(?m)`/`(?i:)`
  // inline flags; `\n` excluded from every char class so a match can
  // never leak across lines) — the DuckDB oracle runs them verbatim.

  /** Lines mentioning javascript (case-insensitive), C4's "enable
    * javascript" boilerplate rule.
    */
  val C4JsLineRe = "(?m)^[^\n]*(?i:javascript)[^\n]*\n?"

  /** Non-empty lines whose last character is not terminal punctuation
    * (`.` `!` `?` `"`). Empty lines are left to the min-words pass.
    */
  val C4NoPunctLineRe = "(?m)^[^\n]*[^.!?\"\n]$\n?"

  /** Lines with fewer than minWords space-run words (leading/trailing
    * spaces allowed, empty lines included). All-optional body, so the
    * pattern can only complete on genuinely short lines — a line with
    * >= minWords words has no path to `$`.
    */
  def c4ShortLineRe(minWords: Int): String = {
    require(minWords >= 2, s"minWords must be >= 2, got $minWords")
    s"(?m)^ *(?:[^ \n]+(?: +[^ \n]+){0,${minWords - 2}})? *$$\n?"
  }

  /** Line-filtered text: javascript lines, no-terminal-punctuation lines,
    * then short lines deleted — three sequential full-line deletions, each
    * a codegen'd scan-local pass.
    */
  def c4CleanCol(text: Column, minWords: Int = 5): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, C4JsLineRe, ""),
        C4NoPunctLineRe, ""),
      c4ShortLineRe(minWords), "")

  /** Document-level drop: code/markup braces or the lorem-ipsum
    * placeholder phrase anywhere in the document.
    */
  def c4DocDropCol(text: Column): Column =
    text.contains("{") || text.contains("}") ||
      lower(text).contains("lorem ipsum")

  /** Per-document C4 cleaning report: `kept` (0 = whole doc dropped by
    * the brace / lorem-ipsum rules), the line-filtered `clean_text`
    * (empty when dropped), and kept/total line counts. Pure per-row
    * expression pipeline — no shuffle, no UDF; at 100 TB this is a
    * single map-only scan.
    */
  def c4Clean(docs: DataFrame, textCol: String, idCol: String,
              minWords: Int = 5): DataFrame = {
    val t = col(textCol)
    val dropped = c4DocDropCol(t)
    val clean = when(dropped, lit("")).otherwise(c4CleanCol(t, minWords))
    docs.select(
      col(idCol),
      when(dropped, lit(0L)).otherwise(lit(1L)).as("kept"),
      clean.as("clean_text"),
      // non-empty maximal [^\n] runs == non-empty lines, unanchored so a
      // trailing newline never counts as a phantom final line
      regexp_count(clean, lit("[^\n]+")).cast("long").as("n_lines_kept"),
      regexp_count(t, lit("[^\n]+")).cast("long").as("n_lines_total"))
  }

  /** Token array with the same semantics as the native space-run
    * tokenizer (graft.functions SpaceTokens): maximal runs of non-space
    * characters, so space runs / leading / trailing spaces never produce
    * empty-string tokens. Empty or all-space text yields an empty array.
    * Built from codegen'd split+filter — stays inside the scan.
    */
  def spaceTokens(text: Column): Column =
    filter(split(text, " +"), w => w =!= "")

  /** Word-level vocabulary construction: corpus-wide counts, a minimum
    * frequency floor, and a deterministic total rank (count desc, word
    * asc) assigning contiguous token ids from 0. The rank uses
    * [[graft.ops.Ranking.globalRowNumber]] — a vocabulary over a 100 TB
    * corpus is still tens of millions of rows, which must not funnel
    * into a single-partition window.
    *
    * @param topV keep only the topV highest-ranked words (0 = all)
    */
  def buildVocab(docs: DataFrame, textCol: String,
                 minCount: Long = 1L, topV: Long = 0L): DataFrame = {
    val counts = docs
      .select(explode(spaceTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val ranked = graft.ops.Ranking.globalRowNumber(
        counts, Seq(col("n").desc, col("word")), "__rn")
      .select(col("word"), col("n"), (col("__rn") - 1).as("token_id"))
    if (topV > 0) ranked.filter(col("token_id") < topV) else ranked
  }

  /** Encode documents as token-id arrays against a [[buildVocab]] frame:
    * explode words with positions, join the vocabulary (out-of-vocabulary
    * words become -1), and re-pack per document in word order. The join
    * keys on the word string; at scale the capped vocabulary broadcasts
    * (AQE converts the join once the filtered side is small).
    *
    * One output row per input document: posexplode_outer keeps a
    * placeholder row for NULL/empty/all-space text (the null-pos struct
    * is dropped by collect_list's null-skipping), so those documents
    * encode to an empty token_ids array instead of silently vanishing —
    * the same per-document contract dedupSegments keeps.
    */
  def encodeDocs(docs: DataFrame, textCol: String, idCol: String,
                 vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol),
        posexplode_outer(spaceTokens(col(textCol))).as(Seq("pos", "word")))
      .join(vocab.select(col("word"), col("token_id")), Seq("word"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(-1L)).as("tid"))
      .groupBy(idCol)
      .agg(expr(
        "transform(array_sort(collect_list(" +
          "CASE WHEN pos IS NOT NULL THEN struct(pos, tid) END)), x -> x.tid)")
        .as("token_ids"))

  /** Fixed-size word-window chunking with overlap — the standard
    * RAG-indexing / long-document training prep: chunk k starts at word
    * `k * (chunkWords - overlapWords)` and covers up to `chunkWords`
    * words; the last chunk may be shorter. One row per (doc, chunk).
    *
    * Pure expression pipeline (split → sequence/explode → slice →
    * array_join): the explode fans out executor-side, no UDF, no
    * shuffle; at 100 TB the output is written partitioned by the same
    * keys as the input corpus.
    */
  def chunkDocs(docs: DataFrame, textCol: String, idCol: String,
                chunkWords: Int, overlapWords: Int = 0): DataFrame = {
    require(chunkWords > 0 && overlapWords >= 0 && overlapWords < chunkWords,
      "need 0 <= overlapWords < chunkWords")
    val stride = chunkWords - overlapWords
    docs
      .select(col(idCol), spaceTokens(col(textCol)).as("__ws"))
      .select(col(idCol), col("__ws"),
        explode(expr(s"sequence(0L, (size(__ws) - 1) div $stride)"))
          .as("chunk_id"))
      .select(
        col(idCol),
        col("chunk_id"),
        (col("chunk_id") * stride).as("word_start"),
        least(size(col("__ws")) - col("chunk_id") * stride, lit(chunkWords))
          .cast("long").as("n_chunk_words"),
        array_join(
          slice(col("__ws"),
            (col("chunk_id") * stride + 1).cast("int"), lit(chunkWords)),
          " ").as("chunk_text"))
  }

  /** GPT-style sequence packing: documents are concatenated into one
    * global token stream in `idCol` order and the stream is cut into
    * fixed `maxTokens` training sequences (documents may straddle a cut —
    * the standard pretraining packing, zero padding waste). Output maps
    * each document to its place in the packed stream:
    * `(id, n_tokens, tok_start, seq_first, seq_last, n_seqs)`.
    *
    * The only global state is the exclusive prefix sum of token counts,
    * computed scalably via [[graft.ops.Ranking.globalRunningSum]] (range
    * partition + per-partition window + O(numPartitions) driver stitch) —
    * never a single-partition window. Zero-token documents are dropped
    * (they occupy no stream positions).
    *
    * @param nTokensCol integral per-document token count (e.g.
    *                   [[tokenCounts]]' n_ws_tokens or n_bpe_tokens)
    * @param extraOrderCols additional stream-order tie-breakers after
    *                   `idCol` — e.g. the copy index from
    *                   [[graft.ops.Sampling.upsampled]], so repeated
    *                   epochs of a document pack at distinct positions
    */
  def packSequences(docs: DataFrame, idCol: String, nTokensCol: String,
                    maxTokens: Long,
                    extraOrderCols: Seq[String] = Nil): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val orderCols = (idCol +: extraOrderCols).map(col)
    val cum = graft.ops.Ranking.globalRunningSum(
      docs.select((idCol +: extraOrderCols).map(col) :+
          col(nTokensCol).cast("long").as(nTokensCol): _*)
        .filter(col(nTokensCol) > 0),
      nTokensCol, orderCols, "__cum")
    val start = col("__cum") - col(nTokensCol)
    val seqFirst = expr(s"(`__cum` - `$nTokensCol`) div $maxTokens")
    val seqLast = expr(s"(`__cum` - 1) div $maxTokens")
    cum.select((idCol +: extraOrderCols).map(col) ++ Seq(
      col(nTokensCol).as("n_tokens"),
      start.as("tok_start"),
      seqFirst.as("seq_first"),
      seqLast.as("seq_last"),
      (seqLast - seqFirst + 1).as("n_seqs")): _*)
  }

  /** Per-SEQUENCE document boundaries over [[packSequences]]' output —
    * the metadata a trainer needs when packed documents straddle
    * sequence cuts: block-diagonal attention masks and position-id
    * resets are built from exactly these ranges (each sequence's rows
    * say which documents occupy which 0-based token positions inside
    * it). One explode over each document's seq span (documents span
    * `n_seqs` sequences — amortized ~1 row per document plus one per
    * cut), no shuffle beyond what the caller already has. Returns
    * `(seq_id, idCol, start_in_seq, end_in_seq)`, end exclusive;
    * within a sequence the ranges tile it without gaps (the last
    * sequence ends early at the stream's end).
    */
  def sequenceBoundaries(packed: DataFrame, idCol: String,
                         maxTokens: Long): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val seqBase = col("seq_id") * maxTokens
    packed
      .select(col(idCol), col("tok_start"),
        (col("tok_start") + col("n_tokens")).as("tok_end"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(col("seq_id"), col(idCol),
        (greatest(col("tok_start"), seqBase) - seqBase).as("start_in_seq"),
        (least(col("tok_end"), seqBase + maxTokens) - seqBase)
          .as("end_in_seq"))
  }

  /** Gopher/MassiveText-style repetition statistics, the standard quality
    * gate against degenerate (template/boilerplate/babble) documents:
    * fraction of duplicate words, fraction of the most common word, and
    * the same two measures over word bigrams. This variant measures
    * token-count fractions (Gopher's char-fraction flavor differs only by
    * a length weighting); filter thresholds like `dup_word_frac > 0.3 OR
    * top_bigram_frac > 0.18` are the published regime.
    *
    * Shape: gram frequencies are a PER-DOCUMENT property, so the whole
    * computation stays inside the scan — the native
    * [[graft.functions.GramStats]] expression counts each document's
    * unigram and bigram multisets in one pass over the bytes (gram
    * stream ≡ [[graft.functions.WordShingles]]). Zero shuffle, zero
    * spill; the first formulation shuffled every (id, gram) of the
    * corpus to count them and went spill-bound at 1M docs (18.2 s vs
    * scan speed).
    *
    * Documents with fewer than 2 words inherit WordShingles' fallback
    * (the whole token sequence as one "bigram"), keeping every row
    * defined; fractions are single divisions of exact integer counts
    * (cross-engine deterministic).
    */
  /** Canonical normalization for dedup keys (see
    * [[graft.functions.NormalizeText]] for the exact contract: NFD +
    * combining-mark strip, locale-independent lowercase, whitespace-run
    * collapse + trim). Emits the normalized text and its length — feed
    * `md5(norm_text)` to [[graft.dedup.Dedup.exactDedup]] to collapse
    * case/accent/whitespace variants the byte-exact key would miss.
    * Map-only scan work via the native codegen expression.
    */
  def normalizeDocs(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.NormalizeText.col(col(textCol)).as("norm_text"))
      .withColumn("norm_len", length(col("norm_text")).cast("long"))

  // --------------------------------------------- HTML boilerplate strip

  // RE2-subset patterns (run verbatim in both engines): script/style
  // blocks die first (their content is not prose), then every remaining
  // tag. Entity decode happens AFTER tag stripping so decoded '<'/'>'
  // can never resurrect a tag; '&amp;' decodes LAST so '&amp;lt;' yields
  // the literal '&lt;' (the HTML-correct order).
  private val HtmlBlockRe = "(?is)<(script|style)[^>]*>.*?</(script|style)>"
  private val HtmlTagRe = "(?s)<[^>]*>"
  private val HtmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Tag-stripped text column: blocks, tags, entities, then whitespace
    * collapse + trim — one codegen'd expression chain inside the scan.
    */
  def htmlStripCol(text: Column): Column = {
    val noTags = regexp_replace(
      regexp_replace(text, HtmlBlockRe, " "), HtmlTagRe, " ")
    // entity names contain no regex metacharacters, so the patterns run
    // verbatim (and identically) as Java and RE2 regexes
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (from, to)) =>
      regexp_replace(c, from, to)
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** HTML boilerplate removal for web-crawl corpora (the step before any
    * of the text-quality gates can run on markup-bearing sources):
    * script/style blocks and tags stripped, the five ubiquitous entities
    * decoded, whitespace normalized. `n_tags` audits how much markup was
    * removed (a high-tag/low-text page is navigation, not prose). Pure
    * per-row regexp pipeline — map-only at any corpus size.
    */
  def htmlStrip(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      htmlStripCol(col(textCol)).as("clean_text"),
      regexp_count(col(textCol), lit(HtmlTagRe)).cast("long").as("n_tags"))

  // ------------------------------------------------- markdown strip

  /** Markdown-to-prose normalization (the htmlStrip companion for
    * docs/wiki/code-adjacent corpora, run before prose quality gates):
    * images dropped, links keep their anchor text, fence marker lines
    * dropped (fenced CONTENT is kept — it is corpus text), header /
    * blockquote / bullet line prefixes stripped, emphasis asterisks and
    * backticks removed (underscores are deliberately left alone —
    * snake_case identifiers are content), whitespace normalized.
    * RE2-subset patterns; the only construct needing engine-specific
    * spelling is the link backreference (Spark `$1` vs RE2/DuckDB `\1`
    * replacement syntax — same semantics, per-engine literal).
    * Pure codegen regexp chain — map-only at any corpus size.
    */
  def markdownStripCol(text: Column): Column = {
    val noImages = regexp_replace(text, "!\\[[^\\]]*\\]\\([^)]*\\)", " ")
    val links = regexp_replace(noImages, "\\[([^\\]]*)\\]\\(([^)]*)\\)", "$1")
    val noFences = regexp_replace(links, "(?m)^```[^\\n]*$", " ")
    val noHeaders = regexp_replace(noFences, "(?m)^#{1,6} *", "")
    val noQuotes = regexp_replace(noHeaders, "(?m)^> ?", "")
    val noBullets = regexp_replace(noQuotes, "(?m)^[-*+] +", "")
    val noEmph = regexp_replace(regexp_replace(noBullets, "\\*+", ""), "`+", "")
    trim(regexp_replace(noEmph, "[ \\t\\n\\r]+", " "))
  }

  /** Per-document markdown strip report: the normalized prose plus the
    * link/image counts (a high-link/low-text doc is navigation).
    */
  def markdownStrip(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      markdownStripCol(col(textCol)).as("clean_text"),
      regexp_count(col(textCol), lit("\\[[^\\]]*\\]\\([^)]*\\)"))
        .cast("long").as("n_links"),
      regexp_count(col(textCol), lit("!\\[[^\\]]*\\]\\([^)]*\\)"))
        .cast("long").as("n_images"))

  // ------------------------------------------------ sentence segmentation

  /** Portable sentence segmentation: split on terminal-punctuation runs
    * ([.!?]+), trim each segment, drop blanks. Deliberately NOT a
    * lookbehind split (RE2 — and thus any RE2-based oracle engine — has
    * no lookbehind) and deliberately abbreviation-naive: "e.g." counts
    * two boundaries in EVERY engine identically, which is what a
    * cross-engine-exact gate needs. Linguistic sentence precision is not
    * the point — C4's three-sentence rule is a coarse prose-vs-fragment
    * gate.
    */
  def sentencesCol(text: Column): Column =
    filter(transform(split(text, "[.!?]+"), s => trim(s)), s => s =!= "")

  /** C4 §2.2 document gate: `n_sentences` + `ok_min_sentences`
    * (>= minSentences, default 3 — the published rule). Map-only.
    */
  def sentenceStats(docs: DataFrame, textCol: String, idCol: String,
                    minSentences: Int = 3): DataFrame = {
    val sents = sentencesCol(col(textCol))
    docs.select(col(idCol),
      coalesce(size(sents), lit(0)).cast("long").as("n_sentences"),
      (coalesce(size(sents), lit(0)) >= minSentences).as("ok_min_sentences"))
  }

  /** One row per sentence with its 0-based in-document index — the
    * sentence-granularity feed for segment-level dedup and citation
    * span work. NULL/blank docs yield no rows (join back to the doc
    * table for the one-row-per-doc contract).
    */
  def explodeSentences(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(sentencesCol(col(textCol))).as(Seq("sent_idx", "sentence")))

  // ------------------------------------------------ blocklist word gate

  /** C4-style blocklist gate (Raffel et al. 2020 kept only pages with
    * zero "bad word" hits; the list itself is deployment-specific and
    * passed in by the caller). Matching is word-exact on lowercased
    * whitespace tokens — the published rule's granularity — so
    * substring false-positives ("Scunthorpe") are structurally
    * impossible. The list rides the closure as a literal array (these
    * lists are hundreds of entries, KB-scale), keeping the whole gate a
    * map-only codegen scan: per doc the token count, blocklist-hit
    * count, and `kept` = zero hits.
    */
  def blocklistFlags(docs: DataFrame, textCol: String,
                     blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val listCol = array(blocklist.map(w => lit(w.toLowerCase)): _*)
    val toks = spaceTokens(lower(col(textCol)))
    val hits = filter(toks, w => array_contains(listCol, w))
    // input columns pass through: the gate composes with upstream
    // annotation stages without a re-join
    docs.select(col("*"),
      size(toks).cast("long").as("n_words"),
      size(hits).cast("long").as("n_blocked"),
      (size(hits) === 0).as("kept"))
  }

  def repetitionStats(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
        graft.functions.GramStats.col(col(textCol), 1).as("__w"),
        graft.functions.GramStats.col(col(textCol), 2).as("__g"))
      .select(col(idCol),
        col("__w.n_grams").as("n_words"),
        col("__w.n_distinct").as("n_distinct_words"),
        (col("__w.max_count").cast("double") / col("__w.n_grams"))
          .as("top_word_frac"),
        ((col("__w.n_grams") - col("__w.n_distinct")).cast("double") /
          col("__w.n_grams")).as("dup_word_frac"),
        (col("__g.max_count").cast("double") / col("__g.n_grams"))
          .as("top_bigram_frac"),
        ((col("__g.n_grams") - col("__g.n_distinct")).cast("double") /
          col("__g.n_grams")).as("dup_bigram_frac"))
}
