package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import graft.etl.NexusFixtures

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test sees only what these write. */
object Gen {

  // ---- NeXus run files -------------------------------------------------

  /** Run-index offset for a seed. Multiples of 12 keep every run's pulse
    * and event counts (they cycle with r mod 4 and r mod 3), so each seed
    * has the same input size with different run numbers and contents. */
  def runOffset(seed: Long): Int = 12 * Math.floorMod(seed, 997L).toInt

  def runIndices(seed: Long, nRuns: Int): Seq[Int] =
    (0 until nRuns).map(_ + runOffset(seed))

  /** Write the runs as `.nxs.h5` files; returns the bytes written. */
  def writeRuns(dir: Path, runs: Seq[Int], pulseScale: Int): Long = {
    Files.createDirectories(dir)
    runs.map { r =>
      val bytes = NexusFixtures.runFileBytes(r, pulseScale)
      Files.write(dir.resolve(s"run_${1000 + r}.nxs.h5"), bytes)
      bytes.length.toLong
    }.sum
  }

  def expectedEvents(runs: Seq[Int], pulseScale: Int): Long =
    runs.map(NexusFixtures.totalCounts(_) * pulseScale).sum

  // ---- documents -------------------------------------------------------

  /** One sf0.1 document: its text and the language label the table ships
    * with (a property of the data, not a decision of the program). */
  final case class Source(text: String, lang: String)

  /** How a document was made; `src` is the id of the document a planted
    * case was made from (-1 for originals). */
  final case class Doc(id: Long, text: String, kind: String, src: Long = -1L)

  /** Word order of `words` sorted by a hash of (word, position, salt), as
    * `graft.BenchScale.amplifyDocs` shuffles with md5. Identical texts
    * shuffle identically, so duplicates in the source table stay
    * duplicates; different salts share vocabulary but almost no word
    * n-grams. */
  def shuffle(words: Array[String], salt: Long): Array[String] =
    words.zipWithIndex.sortBy { case (w, i) =>
      (scala.util.hashing.MurmurHash3.stringHash(s"$w:$i:$salt"), i)
    }.map(_._1)

  /** Every source document in `variants` word-shuffled forms salted by the
    * seed, then `planted` cases with ids above every original, a third of
    * each kind:
    *  - `exact`: a copy of an original's text;
    *  - `near`: an original with one middle word replaced by another word
    *    of the same document, made only from documents labelled `en` with
    *    at least 60 words, where one edited word keeps the 5-shingle
    *    Jaccard similarity above curation's 0.8 near-duplicate threshold;
    *  - `short`: the first 6 words of an original, under curation's
    *    10-word floor.
    * Each original is the source of at most one planted case. */
  def docs(sources: IndexedSeq[Source], seed: Long, variants: Int,
           planted: Int): Seq[Doc] = {
    val rnd = new Random(seed)
    val originals = sources.indices.flatMap { b =>
      val ws = sources(b).text.split(" ")
      (0 until variants).map { v =>
        Doc(b.toLong * variants + v, shuffle(ws, seed * 1009 + v).mkString(" "), "original")
      }
    }
    val n = originals.size.toLong
    def isLongEn(d: Doc) = sources((d.id / variants).toInt).lang == "en" &&
      d.text.split(" ").length >= 60
    val order = rnd.shuffle(originals.indices.toVector)
    val nearSrc = order.filter(i => isLongEn(originals(i))).take(planted / 3 + 1)
    val otherSrc = order.filterNot(nearSrc.toSet).filter(i => originals(i).text.split(" ").length >= 6)
    val exactSrc = otherSrc.take(planted / 3 + 1)
    val shortSrc = otherSrc.drop(planted / 3 + 1)
    (originals ++ (0 until planted).map { i =>
      val id = n + i
      i % 3 match {
        case 0 =>
          val src = originals(exactSrc(i / 3))
          Doc(id, src.text, "exact", src.id)
        case 1 =>
          val src = originals(nearSrc(i / 3))
          val ws = src.text.split(" ")
          val k = ws.length / 2
          ws(k) = Iterator.continually(ws(rnd.nextInt(ws.length))).find(_ != ws(k)).get
          Doc(id, ws.mkString(" "), "near", src.id)
        case _ =>
          val src = originals(shortSrc(i / 3))
          Doc(id, src.text.split(" ").take(6).mkString(" "), "short", src.id)
      }
    })
  }

  // ---- vectors ---------------------------------------------------------

  /** Split the sf0.1 embeddings into a corpus and `nProbes` seeded probes
    * held out of it: (corpus ids, corpus, probes). Corpus ids are the
    * table's `vec_id`. */
  def holdOut(ids: Array[Long], vecs: Array[Array[Float]], seed: Long,
              nProbes: Int): (Array[Long], Array[Array[Float]], Array[Array[Float]]) = {
    val probeIdx = new Random(seed).shuffle(vecs.indices.toVector).take(nProbes).toSet
    val keep = vecs.indices.filterNot(probeIdx).toArray
    (keep.map(ids), keep.map(vecs), probeIdx.toArray.sorted.map(vecs))
  }

  /** Brute-force top-k neighbour ids by dot product (ties to lower id). */
  def topK(ids: Array[Long], corpus: Array[Array[Float]], q: Array[Float],
           k: Int): Seq[Long] =
    corpus.indices.map { i =>
      var s = 0.0
      var j = 0
      while (j < q.length) { s += corpus(i)(j).toDouble * q(j); j += 1 }
      (s, ids(i))
    }.sortBy(t => (-t._1, t._2)).take(k).map(_._2)
}
