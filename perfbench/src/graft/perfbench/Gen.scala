package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One ontology class as the generator writes it; the parquet columns are the
  * ones `OntologyTables` carries (class_iri, ont, pref_label, synonyms, tuis,
  * cui). */
final case class GenConcept(iri: String, ont: String, pref: String,
                            syns: Vector[String], tuis: Vector[String], cui: String)

final case class GenDoc(id: Long, text: String, lang: String, source: String)

/** A generated workload: the v1 ontology, its dict-only v2 update (about
  * `deltaFrac` of the classes touched: synonyms dropped, labels renamed,
  * classes added), and the corpus. */
final case class Generated(shape: Shape, concepts: Vector[GenConcept],
                           v2: Vector[GenConcept], edges: Vector[(String, String)],
                           mappings: Vector[(String, String, String)],
                           docs: Vector[GenDoc]) {
  def textBytes: Long = docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
}

/** Shape parameters of a workload. Doc lengths are log-normal (heavy tail,
  * capped; rescaled to a fixed corpus total); each token is a dictionary label with probability
  * `termTokenFrac`, a non-ASCII word with `nonAsciiFrac`, a not-yet-known
  * ("emerging") word with `emergingFrac` — the words the v2 update adds as
  * classes — and filler otherwise. Dictionary labels are drawn Zipf(`zipf`)
  * over the base classes. Every base class lives in ONT1; each other
  * ontology copies it (same label, same CUI) with probability
  * `ontCoverage`, which is what makes CUI mappings and multi-class terms.
  * Each ontology's hierarchy is a two-level tree. */
final case class Shape(
    name: String,
    why: String,
    docs: Int,
    medianTokens: Int,
    sigma: Double,
    maxTokens: Int,
    termTokenFrac: Double,
    nonAsciiFrac: Double,
    emergingFrac: Double,
    baseConcepts: Int,
    ontologies: Int,
    ontCoverage: Double,
    synonymProb: Double,
    zipf: Double,
    deltaFrac: Double = 0.005)

object Gen {

  /** Dictionary words alternate these consonants with vowels; filler words
    * use a disjoint consonant set, so filler never matches a label and the
    * hit density is the one the shape asks for. */
  private val DictCons = "bdfgklmnprstvz"
  private val FillCons = "chjqwxy"
  private val Vowels = "aeiou"

  /** Multi-byte words; none upper-cases into ASCII, so they never take part
    * in a match (non-ASCII chars are non-word chars for the scan). */
  private val NonAscii = Vector("café", "naïve", "zürich", "東京", "данные",
    "ελληνικά", "niño", "façade", "smörgåsbord", "日本語", "köln", "até")

  private val Langs = Vector("en", "de", "fr", "es", "zh", "ja")

  private def word(r: SplittableRandom, cons: String, minSyl: Int, maxSyl: Int): String = {
    val n = minSyl + r.nextInt(maxSyl - minSyl + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb += cons.charAt(r.nextInt(cons.length))
      sb += Vowels.charAt(r.nextInt(Vowels.length))
      i += 1
    }
    sb.result()
  }

  private def distinctWords(r: SplittableRandom, n: Int, cons: String,
                            minSyl: Int, maxSyl: Int): Vector[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r, cons, minSyl, maxSyl)
    seen.toVector
  }

  /** Cumulative Zipf weights over `n` ranks. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); cdf(i) = acc; i += 1 }
    i = 0
    while (i < n) { cdf(i) /= acc; i += 1 }
    cdf
  }

  private def draw(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private def shuffle[T](r: SplittableRandom, v: Vector[T]): Vector[T] = {
    val a = v.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  private def iri(ont: Int, k: Int): String = s"http://bench.onto/ONT$ont#C$k"

  def apply(shape: Shape, seed: Long): Generated = {
    val r = new SplittableRandom(seed * 1000003L + shape.name.hashCode)
    val k = shape.baseConcepts

    // labels: 1-3 dictionary words, all distinct
    val vocab = distinctWords(r, math.max(500, k / 2), DictCons, 2, 4)
    val labelSet = mutable.LinkedHashSet.empty[String]
    def freshLabel(): String = {
      var l: String = null
      while (l == null || labelSet.contains(l)) {
        val u = r.nextDouble()
        val n = if (u < 0.3) 1 else if (u < 0.8) 2 else 3
        l = Vector.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
      }
      labelSet += l
      l
    }
    case class Base(pref: String, syns: Vector[String])
    val base = Vector.tabulate(k) { _ =>
      val pref = freshLabel()
      val nSyn = if (r.nextDouble() < shape.synonymProb) 1 + r.nextInt(2) else 0
      Base(pref, Vector.fill(nSyn)(freshLabel()))
    }

    // ontology membership: ONT1 holds every base class
    val members: Vector[Vector[Int]] = Vector.tabulate(shape.ontologies) { o =>
      if (o == 0) (0 until k).toVector
      else (0 until k).filter(_ => r.nextDouble() < shape.ontCoverage).toVector
    }
    val concepts = for {
      (ms, o) <- members.zipWithIndex
      b <- ms
    } yield GenConcept(iri(o + 1, b), s"ONT${o + 1}", base(b).pref, base(b).syns,
      Vector(f"T${b % 50}%03d"), f"C$b%08d")

    val edges = members.zipWithIndex.flatMap { case (ms, o) =>
      val n = ms.size
      def e(c: Int, p: Int) = (iri(o + 1, ms(c)), iri(o + 1, ms(p)))
      // two-level tree: 1 % roots, 9 % mid-level, the rest leaves
      val roots = math.max(1, n / 100)
      val mids = math.max(roots + 1, n / 10)
      (roots until n).map { c =>
        if (c < mids) e(c, r.nextInt(roots)) else e(c, roots + r.nextInt(mids - roots))
      }
    }

    val memberSets = members.map { ms =>
      val bs = new java.util.BitSet(k); ms.foreach(b => bs.set(b)); bs
    }
    val mappings = (0 until k).flatMap { b =>
      val copies = members.indices.filter(o => memberSets(o).get(b)).map(o => iri(o + 1, b))
      for (a <- copies; c <- copies if a != c) yield (a, c, "CUI")
    }.toVector

    // corpus frequency rank of each base class (Zipf over ranks)
    val rankToBase = shuffle(r, (0 until k).toVector)

    // dict-only v2 update over ONT1 classes, one pick per equal slice of the
    // frequency ranks: every seed touches as many frequent classes as rare
    // ones, so the affected share of the corpus does not swing with the seed
    val nDelta = math.max(3, math.round(shape.deltaFrac * concepts.size).toInt)
    val nAdd = math.max(1, nDelta / 3)
    val nPicks = nDelta - nAdd
    val picks = (0 until nPicks).map { i =>
      val lo = i * k / nPicks
      rankToBase(lo + r.nextInt(math.max(1, (i + 1) * k / nPicks - lo)))
    }.toVector
    val dropSyn = picks.indices.filter(_ % 2 == 0).map(picks)
    val rename = picks.indices.filter(_ % 2 == 1).map(picks)
    val emerging = distinctWords(r, nAdd, FillCons, 3, 4).map(_ + "zz")
    val renamed = rename.map(b => b -> freshLabel()).toMap
    val dropped = dropSyn.toSet
    val v2 = concepts.map { c =>
      val b = c.cui.drop(1).toInt
      if (c.ont != "ONT1") c
      else if (dropped(b)) c.copy(syns = Vector.empty)
      else renamed.get(b).fold(c)(l => c.copy(pref = l))
    } ++ emerging.zipWithIndex.map { case (w, j) =>
      GenConcept(s"http://bench.onto/ONT1#N$j", "ONT1", w, Vector.empty,
        Vector("T000"), f"N$j%08d")
    }

    // corpus
    // filler length alternates with the Zipf rank (3, 4, 3, ... syllables),
    // so the few most frequent words cannot make one seed's corpus longer
    val filler = {
      val seen = mutable.LinkedHashSet.empty[String]
      (0 until 5000).foreach { i =>
        var w = word(r, FillCons, 3 + i % 2, 3 + i % 2)
        while (seen(w)) w = word(r, FillCons, 3 + i % 2, 3 + i % 2)
        seen += w
      }
      seen.toVector
    }
    val fillCdf = zipfCdf(filler.size, 1.0)
    val termCdf = zipfCdf(k, shape.zipf)
    // log-normal lengths, rescaled so the corpus always holds the expected
    // total (docs × the log-normal mean): seeds then differ in which docs
    // are long, not in how much text there is
    val mu = math.log(shape.medianTokens.toDouble)
    val raw = Array.fill(shape.docs)(math.exp(mu + shape.sigma * gaussian(r)))
    val total = shape.docs * math.exp(mu + shape.sigma * shape.sigma / 2)
    var scale = total / raw.sum
    for (_ <- 1 to 8) { // the capped docs keep the cap; the rest share what is left
      val (capped, free) = raw.partition(_ * scale >= shape.maxTokens)
      scale = (total - capped.length.toDouble * shape.maxTokens) / free.sum
    }
    val lengths = raw.map(x =>
      math.max(5, math.min(shape.maxTokens, math.round(x * scale).toInt)))
    val docs = Vector.tabulate(shape.docs) { d =>
      val n = lengths(d)
      val sb = new StringBuilder(n * 8)
      var t = 0
      while (t < n) {
        if (t > 0) sb += ' '
        val u = r.nextDouble()
        if (u < shape.termTokenFrac) {
          val b = base(rankToBase(draw(r, termCdf)))
          sb ++= (if (b.syns.isEmpty || r.nextDouble() < 0.7) b.pref
                  else b.syns(r.nextInt(b.syns.size)))
        } else if (u < shape.termTokenFrac + shape.nonAsciiFrac)
          sb ++= NonAscii(r.nextInt(NonAscii.size))
        else if (u < shape.termTokenFrac + shape.nonAsciiFrac + shape.emergingFrac)
          sb ++= emerging(r.nextInt(emerging.size))
        else sb ++= filler(draw(r, fillCdf))
        val p = r.nextDouble()
        if (p < 0.03) sb += ',' else if (p < 0.05) sb += '.'
        t += 1
      }
      GenDoc(d.toLong, sb.result(), Langs(r.nextInt(Langs.size)), s"src${d % 8}")
    }
    Generated(shape, concepts, v2, edges, mappings, docs)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
