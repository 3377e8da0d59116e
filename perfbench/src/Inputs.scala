package graft.perfbench

import graft.pipeline.{Doc, DocGen, Span}
import java.util.SplittableRandom

/** Seeded input generators. Everything a run feeds the program is made
  * here from `--seed` before the first timed job; the same seed gives
  * byte-identical inputs. */
object Inputs {

  /** Whitespace tokens of the DocGen GT lines: the vocabulary every
    * generated line draws from, so the trained lexicon covers it. */
  val vocab: IndexedSeq[String] =
    DocGen.gtLines.flatMap(_.split("\\s+")).filter(_.nonEmpty).distinct

  /** Seed of the doc layout, the same for every run. */
  val LayoutSeed = 7L

  /** Inverse-CDF sampler over ranks 0..n-1 with P(k) ~ 1/(k+1). */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / (k + 1.0))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    /** The rank at cumulative probability `u`. */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
    def apply(rnd: SplittableRandom): Int = at(rnd.nextDouble())
  }

  /** (OCR, GT) line pairs, the correction model's training input: a
    * DocGen GT line and its `DocGen.perturb` rendering. */
  def trainPairs(n: Int, seed: Long): Array[(String, String)] = {
    val rnd = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17L)
    Array.fill(n) {
      val gt = DocGen.gtLines(rnd.nextInt(DocGen.gtLines.length))
      (DocGen.perturb(gt, rnd.nextLong()), gt)
    }
  }

  /** A `DocGen.diverseLine`-style line kept with its clean GT: 6-10
    * vocabulary tokens, ~40% of them with one random letter
    * substituted, so almost every window is new. */
  def diverseLine(rnd: SplittableRandom): (String, String) = {
    val n = 6 + rnd.nextInt(5)
    val ocr = new StringBuilder
    val gt = new StringBuilder
    var k = 0
    while (k < n) {
      val tok = vocab(rnd.nextInt(vocab.length))
      var bad = tok
      if (rnd.nextInt(5) < 2 && tok.length > 1) {
        val pos = rnd.nextInt(tok.length)
        bad = tok.substring(0, pos) + ('a' + rnd.nextInt(26)).toChar +
          tok.substring(pos + 1)
      }
      if (k > 0) { ocr.append(' '); gt.append(' ') }
      ocr.append(bad); gt.append(tok)
      k += 1
    }
    (ocr.result(), gt.result())
  }

  /** Input docs plus the GT of every text span, keyed by
    * (doc_id, offset). */
  final case class Corpus(docs: Array[Doc], gt: Array[(String, Int, String)]) {
    def textSpans: Int = gt.length
  }

  /** Interleaved docs with a Zipf(1..32) length shape; with `megaDocs`,
    * every 100th doc is instead a mega-doc of 150-249 spans. Every fifth
    * span is media. The layout (each doc's length and media positions)
    * comes from a fixed seed, and pool line k is a perturbed rendering
    * of GT line k mod `gtLines.length`, so a seed varies the OCR errors
    * and which lines are drawn, not the input size or its spread over
    * tasks. `lines` is
    * "zipf" (Zipf draws from a bounded pool of perturbed GT lines) or
    * "diverse" (a fresh diverse line per span). */
  def corpus(lines: String, nDocs: Int, poolSize: Int, megaDocs: Boolean,
      seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed * 0xbf58476d1ce4e5b9L + lines.hashCode)
    val pool = Array.tabulate(poolSize) { k =>
      val gt = DocGen.gtLines(k % DocGen.gtLines.length)
      (DocGen.perturb(gt, rnd.nextLong()), gt)
    }
    val poolRank = new Zipf(poolSize)
    def line(): (String, String) = lines match {
      case "zipf"    => pool(poolRank(rnd))
      case "diverse" => diverseLine(rnd)
    }
    val layout = new SplittableRandom(LayoutSeed)
    val megaPhase = if (megaDocs) layout.nextInt(100) else -1
    val nMega = (0 until nDocs).count(_ % 100 == megaPhase)
    val mega = Array.tabulate(nMega)(k => 150 + 100 * (2 * k + 1) / (2 * nMega))
    val docLen = new Zipf(32)
    val regular = Array.tabulate(nDocs - nMega)(j =>
      1 + docLen.at((j + 0.5) / (nDocs - nMega)))
    for (i <- regular.indices.reverse) {
      val j = layout.nextInt(i + 1)
      val t = regular(i); regular(i) = regular(j); regular(j) = t
    }
    var nextMega = 0
    var nextRegular = 0
    val gt = Array.newBuilder[(String, Int, String)]
    val docs = Array.tabulate(nDocs) { d =>
      val id = f"doc-$d%08d"
      val n =
        if (d % 100 == megaPhase) { nextMega += 1; mega(nextMega - 1) }
        else { nextRegular += 1; regular(nextRegular - 1) }
      val mediaPhase = layout.nextInt(5)
      Doc(id, (0 until n).map { i =>
        if ((i + mediaPhase) % 5 == 0) {
          Span(Seq("image", "table", "formula")(rnd.nextInt(3)), "",
            s"media://$id/$i", i)
        } else {
          val (ocr, g) = line()
          gt += ((id, i, g))
          Span("text", ocr, "", i)
        }
      })
    }
    Corpus(docs, gt.result())
  }
}
