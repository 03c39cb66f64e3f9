package graftbench

import scala.util.Random

/** Seeded input generators. The program only ever sees what these
  * return; the same seed gives byte-identical inputs. */
object Gen {
  /** A fixed pronounceable vocabulary (independent of the seed, so the
    * seed changes which words a document uses, not the language). */
  val vocab: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v")
    val nu = Array("a", "e", "i", "o", "u")
    val r = new Random(7L)
    Array.fill(600)((1 to 2 + r.nextInt(2)).map(_ =>
      on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString).distinct
  }
  private val English = Array("the", "and", "of", "is", "to", "in", "for", "with")
  private val French = Array("le", "la", "et", "les", "des", "une", "pour", "dans")

  def words(r: Random, n: Int, glue: Array[String] = English): String =
    (0 until n).map(i =>
      if (i % 4 == 3) glue(r.nextInt(glue.length)) else vocab(r.nextInt(vocab.length)))
      .mkString(" ")

  // ---- coach_live -------------------------------------------------------

  /** Knowledge-base markdown: `n` docs of `sections` `###` sections. */
  def knowledge(seed: Long, n: Int, sections: Int): Seq[(String, String, String, String)] = {
    val r = new Random(seed * 31 + 1)
    (0 until n).map { i =>
      val cat = s"topic-${i % 12}"
      val id = f"kb/$cat/doc-$i%04d.md"
      val text = (0 until sections).map(s =>
        s"### Section $s of ${vocab(r.nextInt(vocab.length))}\n" +
          words(r, 28 + r.nextInt(10)) + ".").mkString("\n")
      (id, s"Doc $i", cat, text)
    }
  }

  /** Cached Q&A rows: (question, response). */
  def cacheRows(seed: Long, n: Int): Seq[(String, String)] = {
    val r = new Random(seed * 31 + 2)
    (0 until n).map(i =>
      (s"cached question $i about ${words(r, 5)}",
        s"cached answer $i: ${words(r, 12)}"))
  }

  /** A message never sent before: its index makes it unique. */
  def freshMessage(r: Random, i: Long): String =
    s"prospect message $i ${words(r, 9)}"

  // ---- curate_kb: knowledge base -----------------------------------------

  /** Document body for (doc, version): the version is in the text, so a
    * new version embeds to a new vector. */
  def kbText(seed: Long, doc: Long, version: Int): String = {
    val r = new Random(seed * 1000003L + doc * 131L + version)
    s"doc $doc version $version ${words(r, 24)}"
  }

  // ---- curate_kb: curation -----------------------------------------------

  /** A web-like corpus with planted structure. Returns the rows
    * (doc_id, text) and, per planted duplicate cluster, its member ids.
    * A near-duplicate cluster is a doc, its re-formatted copy (3-shingle
    * Jaccard 1) and the doc with one word appended (Jaccard n/(n+1) with
    * n >= 78 shingles, so >= 0.987: the default 4 x 3 LSH bands miss
    * such a pair with probability (1 - J^3)^4 <= 2.1e-6). Every other
    * doc is unique (3-shingle Jaccard far below the dedup threshold
    * against every other doc). */
  final case class Corpus(rows: Seq[(Long, String)], clusters: Seq[Seq[Long]]) {
    def uniqueIds: Set[Long] = rows.map(_._1).toSet -- clusters.flatten
  }

  /** The same words re-cased and re-punctuated: the 3-shingles of the
    * dedup tokenizer (lower-cased `[a-z0-9]+` runs) are unchanged. */
  private def reformat(r: Random, text: String): String =
    text.split(' ').map { w =>
      r.nextInt(6) match {
        case 0 => w.capitalize
        case 1 => w + ","
        case 2 => w.toUpperCase
        case _ => w
      }
    }.mkString("  ") + "!"

  def corpus(seed: Long, n: Int): Corpus = {
    val r = new Random(seed * 31 + 3)
    val boiler = "Subscribe to our newsletter for the latest news and offers"
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    var id = 0L
    def add(t: String): Long = { rows += ((id, t)); id += 1; id - 1 }
    while (id < n) {
      r.nextInt(100) match {
        case k if k < 6 => // exact duplicate pair
          val t = words(r, 60 + r.nextInt(40)) + "."
          clusters += Seq(add(t), add(t))
        case k if k < 14 => // near duplicates: re-formatted, and extended
          val base = words(r, 80 + r.nextInt(50))
          val ids = Seq(add(base + "."), add(reformat(r, base)),
            add(base + " " + vocab(r.nextInt(vocab.length)) + "."))
          clusters += ids
        case k if k < 20 => add(words(r, 50 + r.nextInt(30), French) + ".")
        case k if k < 26 => add(words(r, 3 + r.nextInt(5)))
        case k if k < 40 => add(words(r, 60 + r.nextInt(40)) + ". " + boiler)
        case _ => add(words(r, 60 + r.nextInt(60)) + ".")
      }
    }
    Corpus(rows.toSeq, clusters.toSeq)
  }
}
