package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** What [[CorpusGen.write]] produced: file names, document counts per
  * class, and the batch ids the curation pipeline must keep. */
case class CorpusManifest(
    seed: Long,
    files: Map[String, String],
    counts: Map[String, Long],
    survivors: Seq[String]) {
  def incoming: Long = counts("batch")
}

/**
 * Seeded training-corpus generator: an existing corpus, a probe
 * (benchmark) set and an incoming batch, as JSON lines `{"id", "text"}`.
 *
 * The batch mixes five document classes whose fate under
 * dedup → quality gate → decontamination is fixed by construction:
 *
 *  - `fresh`: new text from a vocabulary disjoint from the corpus and the
 *    probes — kept;
 *  - `augmented`: fresh text with a spliced tail and inserted words — kept;
 *  - `recrawl`: an exact copy of a corpus document — removed by the
 *    cross-corpus near-dup pass (identical MinHash signatures, so LSH recall
 *    is 1 whatever the banding);
 *  - `truncated`: the first few words of a corpus document, below the
 *    quality gate's token floor — removed by the gate;
 *  - `contaminated`: a probe document copied into the batch, with a short
 *    fresh prefix — removed by n-gram decontamination (most of its
 *    trigrams are probe trigrams).
 *
 * Disjoint vocabularies make every decision margin wide: a kept document
 * shares no token with the corpus or the probes, so no hash collision or
 * banding choice can flip it.
 */
object CorpusGen {

  val MinTokens = 20

  case class Size(corpus: Int, batch: Int, probes: Int)

  def write(dir: Path, seed: Long, size: Size): CorpusManifest = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    // three disjoint vocabularies: word stems tagged by source
    def vocab(tag: String, n: Int) = (0 until n).map(i => s"$tag${Integer.toString(i * 7919 + 17, 36)}")
    val corpusVocab = vocab("ka", 4000)
    val freshVocab = vocab("mo", 4000)
    val probeVocab = vocab("zu", 2000)
    def words(v: IndexedSeq[String], k: Int) = (0 until k).map(_ => v(rnd.nextInt(v.size)))
    def doc(v: IndexedSeq[String]) = words(v, 40 + rnd.nextInt(80))

    val corpus = (0 until size.corpus).map(i => f"c$i%06d" -> doc(corpusVocab))
    val probes = (0 until size.probes).map(i => f"p$i%05d" -> doc(probeVocab))

    // class mix of the incoming batch (fractions of `batch`)
    val nRecrawl = size.batch / 5
    val nTrunc = size.batch / 10
    val nContam = size.batch / 10
    val nAug = size.batch / 5
    val nFresh = size.batch - nRecrawl - nTrunc - nContam - nAug
    val batch = Seq.newBuilder[(String, String, Seq[String])] // (class, id, words)
    (0 until nFresh).foreach(_ => batch += (("fresh", "", doc(freshVocab))))
    (0 until nAug).foreach { _ =>
      val base = doc(freshVocab)
      val spliced = base.take(base.size / 2) ++ words(freshVocab, 10) ++ base.drop(base.size / 2)
      batch += (("augmented", "", spliced))
    }
    (0 until nRecrawl).foreach(_ => batch += (("recrawl", "", corpus(rnd.nextInt(corpus.size))._2)))
    (0 until nTrunc).foreach(_ =>
      batch += (("truncated", "", corpus(rnd.nextInt(corpus.size))._2.take(3 + rnd.nextInt(MinTokens - 5)))))
    (0 until nContam).foreach { _ =>
      val probe = probes(rnd.nextInt(probes.size))._2
      batch += (("contaminated", "", words(freshVocab, 2 + rnd.nextInt(4)) ++ probe))
    }
    // shuffle so classes interleave across partitions, then assign ids
    val shuffled = {
      val a = batch.result().toArray
      var i = a.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toSeq.zipWithIndex.map { case ((cls, _, w), k) => (cls, f"b$k%06d", w) }
    }

    writeJsonl(dir.resolve("corpus.jsonl"), corpus.map { case (id, w) => id -> w.mkString(" ") })
    writeJsonl(dir.resolve("probes.jsonl"), probes.map { case (id, w) => id -> w.mkString(" ") })
    writeJsonl(dir.resolve("batch.jsonl"), shuffled.map { case (_, id, w) => id -> w.mkString(" ") })

    val byClass = shuffled.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    CorpusManifest(seed,
      Map("corpus" -> "corpus.jsonl", "probes" -> "probes.jsonl", "batch" -> "batch.jsonl"),
      byClass ++ Map("corpus" -> corpus.size.toLong, "probes" -> probes.size.toLong,
        "batch" -> shuffled.size.toLong),
      shuffled.collect { case (cls, id, _) if cls == "fresh" || cls == "augmented" => id }.sorted)
  }

  private def writeJsonl(path: Path, docs: Seq[(String, String)]): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try docs.foreach { case (id, text) => w.write(s"""{"id":"$id","text":"$text"}\n""") }
    finally w.close()
  }
}
