package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{MinHashSig, RollingFingerprint, SimHashSig}

/** Session extensions registering graft's native expressions so they are
  * callable from SQL / `expr(...)` in any session configured with
  * `spark.sql.extensions=graft.GraftExtensions`, plus the ASOF JOIN SQL
  * syntax and the parse-time time-travel rewrite and write-target binding
  * of registered Iceberg names (parser extension, see
  * [[graft.sql.GraftSqlParser]]). Every SQL write to a graft Iceberg
  * table is Spark's own V2 statement; none needs an analyzer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((session, delegate) =>
      new graft.sql.GraftSqlParser(session, delegate))
    // whole-operator as-of join (logical node -> sort-merge SparkPlan)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_rolling_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_rolling_fingerprint"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => RollingFingerprint(text, 8)
        case Seq(text, Literal(w: Int, _)) => RollingFingerprint(text, w)
        case _ => throw new IllegalArgumentException(
          "graft_rolling_fingerprint(text[, window]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => MinHashSig(arr, 64)
        case Seq(arr, Literal(k: Int, _)) => MinHashSig(arr, k)
        case _ => throw new IllegalArgumentException(
          "graft_minhash_sig(shingles[, numHashes]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "graft_simhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => SimHashSig(arr)
        case _ => throw new IllegalArgumentException(
          "graft_simhash_sig(tokens) expects 1 arg")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[graft.functions.LshBucket].getName, "graft_lsh_bucket"),
      (args: Seq[Expression]) => args match {
        case Seq(vec) => graft.functions.LshBucket(vec, 8)
        case Seq(vec, Literal(b: Int, _)) => graft.functions.LshBucket(vec, b)
        case Seq(vec, Literal(b: Int, _), Literal(t: Int, _)) =>
          graft.functions.LshBucket(vec, b, t)
        case _ => throw new IllegalArgumentException(
          "graft_lsh_bucket(vec[, bits[, table]]) expects 1-3 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize_text"),
      new ExpressionInfo(classOf[graft.functions.NormalizeText].getName,
        "graft_normalize_text"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => graft.functions.NormalizeText(text)
        case _ => throw new IllegalArgumentException(
          "graft_normalize_text(text) expects 1 arg")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_robots_allowed"),
      new ExpressionInfo(classOf[graft.functions.RobotsAllowed].getName,
        "graft_robots_allowed"),
      (args: Seq[Expression]) => args match {
        case Seq(path, rules) => graft.functions.RobotsAllowed(path, rules)
        case _ => throw new IllegalArgumentException(
          "graft_robots_allowed(path, rules) expects 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_gram_stats"),
      new ExpressionInfo(classOf[graft.functions.GramStats].getName, "graft_gram_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => graft.functions.GramStats(text, 1)
        case Seq(text, Literal(n: Int, _)) => graft.functions.GramStats(text, n)
        case _ => throw new IllegalArgumentException(
          "graft_gram_stats(text[, n]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[graft.functions.WordShingles].getName, "graft_word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => graft.functions.WordShingles(text, 3)
        case Seq(text, Literal(n: Int, _)) => graft.functions.WordShingles(text, n)
        case _ => throw new IllegalArgumentException(
          "graft_word_shingles(text[, n]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_band_hashes"),
      new ExpressionInfo(classOf[graft.functions.BandHashes].getName, "graft_band_hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(sig) => graft.functions.BandHashes(sig, 16)
        case Seq(sig, Literal(b: Int, _)) => graft.functions.BandHashes(sig, b)
        case _ => throw new IllegalArgumentException(
          "graft_band_hashes(sig[, bands]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_portable_minhash_sig"),
      new ExpressionInfo(
        classOf[graft.functions.PortableMinHashSig].getName,
        "graft_portable_minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(sh) => graft.functions.PortableMinHashSig(sh, 64)
        case Seq(sh, Literal(k: Int, _)) =>
          graft.functions.PortableMinHashSig(sh, k)
        case _ => throw new IllegalArgumentException(
          "graft_portable_minhash_sig(shingles[, numHashes]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_portable_band_hashes"),
      new ExpressionInfo(
        classOf[graft.functions.PortableBandHashes].getName,
        "graft_portable_band_hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(sig) => graft.functions.PortableBandHashes(sig, 16)
        case Seq(sig, Literal(b: Int, _)) =>
          graft.functions.PortableBandHashes(sig, b)
        case _ => throw new IllegalArgumentException(
          "graft_portable_band_hashes(sig[, bands]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hashed_bucket_counts"),
      new ExpressionInfo(
        classOf[graft.functions.HashedBucketCounts].getName,
        "graft_hashed_bucket_counts"),
      (args: Seq[Expression]) => args match {
        case Seq(el) => graft.functions.HashedBucketCounts(el, 64)
        case Seq(el, Literal(b: Int, _)) =>
          graft.functions.HashedBucketCounts(el, b)
        case _ => throw new IllegalArgumentException(
          "graft_hashed_bucket_counts(elems[, buckets]) expects 1 or 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[graft.functions.CosineSim].getName, "graft_cosine"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.functions.CosineSim(a, b)
        case _ => throw new IllegalArgumentException(
          "graft_cosine(a, b) expects 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[graft.functions.JaccardSim].getName, "graft_jaccard"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.functions.JaccardSim(a, b)
        case _ => throw new IllegalArgumentException(
          "graft_jaccard(a, b) expects 2 args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sig_agreement"),
      new ExpressionInfo(classOf[graft.functions.SigAgreement].getName, "graft_sig_agreement"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.functions.SigAgreement(a, b)
        case _ => throw new IllegalArgumentException(
          "graft_sig_agreement(a, b) expects 2 args")
      }))
    // charset sniff + decode for raw web payload bytes (WHATWG-shaped:
    // BOM, strict UTF-8 scan, windows-1252 fallback)
    ext.injectFunction((
      new FunctionIdentifier("graft_sniff_decode"),
      new ExpressionInfo(
        classOf[graft.functions.SniffDecode].getName, "graft_sniff_decode"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => graft.functions.SniffDecode(bin)
        case _ => throw new IllegalArgumentException(
          "graft_sniff_decode(content) expects 1 arg")
      }))
    // multimodal header decoders (pure-JVM container parsing; null on
    // unrecognized bytes) — SQL surface for the binary media columns
    ext.injectFunction((
      new FunctionIdentifier("graft_image_dims"),
      new ExpressionInfo(
        classOf[graft.multimodal.ImageDims].getName, "graft_image_dims"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => graft.multimodal.ImageDims(bin)
        case _ => throw new IllegalArgumentException(
          "graft_image_dims(content) expects 1 arg")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_audio_meta"),
      new ExpressionInfo(
        classOf[graft.multimodal.AudioMeta].getName, "graft_audio_meta"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => graft.multimodal.AudioMeta(bin)
        case _ => throw new IllegalArgumentException(
          "graft_audio_meta(content) expects 1 arg")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_video_meta"),
      new ExpressionInfo(
        classOf[graft.multimodal.VideoMeta].getName, "graft_video_meta"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => graft.multimodal.VideoMeta(bin)
        case _ => throw new IllegalArgumentException(
          "graft_video_meta(content) expects 1 arg")
      }))
  }
}
