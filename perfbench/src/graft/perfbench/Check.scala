package graft.perfbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output checks. A triple table is summarised by its row count, its
  * distinct (subj, pred, obj) count and two order-free content hashes; a
  * seeded sample of documents is compared triple by triple with
  * [[Reference]], an independent driver-side derivation. */
object Check {

  final case class Summary(rows: Long, spo: Long, spoHash: Long, rowHash: Long)

  private val Cols = Seq("subj", "pred", "obj", "match_type", "distance", "score")

  def summarize(spark: SparkSession, dir: String): Summary = {
    def h(cs: Seq[String]) = pmod(xxhash64(cs.map(col): _*), lit(2147483647L))
    val r = spark.read.parquet(dir)
      .groupBy("subj", "pred", "obj")
      .agg(count(lit(1)).as("n"), sum(h(Cols)).as("row_hash"))
      .agg(count(lit(1)), coalesce(sum("n"), lit(0L)),
        coalesce(sum(h(Seq("subj", "pred", "obj"))), lit(0L)),
        coalesce(sum("row_hash"), lit(0L)))
      .head()
    Summary(rows = r.getLong(1), spo = r.getLong(0), spoHash = r.getLong(2),
      rowHash = r.getLong(3))
  }

  type Row6 = (String, String, String, String, Int, String)

  private def fmt(score: Double): String = f"$score%.6f"

  /** The table's rows for the sampled urls, sorted. */
  def observed(spark: SparkSession, dir: String, urls: Seq[String]): Vector[Row6] =
    spark.read.parquet(dir).filter(col("subj").isin(urls: _*))
      .select(Cols.map(col): _*).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getInt(4), fmt(r.getDouble(5))))
      .toVector.sorted

  /** Empty when the sampled triples equal the derivation; else a few
    * differing rows for the log. */
  def sampleDiff(spark: SparkSession, dir: String, ref: Reference,
                 sample: Seq[GenDoc]): Seq[String] = {
    val urls = sample.map(d => Reference.url(d.id))
    val want = sample.flatMap(d => ref.triples(d)).toVector.sorted
    val got = observed(spark, dir, urls)
    if (want == got) Nil
    else {
      val missing = want.diff(got).take(3).map(r => s"missing $r")
      val extra = got.diff(want).take(3).map(r => s"unexpected $r")
      (s"sample of ${sample.size} docs: expected ${want.size} triples, got ${got.size}" +:
        (missing ++ extra))
    }
  }

  def sample(docs: Vector[GenDoc], seed: Long, n: Int): Vector[GenDoc] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Vector.fill(n)(docs(r.nextInt(docs.size))).distinctBy(_.id)
  }
}

/** Triples an annotation run must produce for one document, derived without
  * the program's dictionary, automaton or joins: labels are normalised into
  * a hash map; every run of consecutive word tokens (up to the longest label)
  * is looked up verbatim; the hierarchy is walked breadth-first to
  * `maxLevel`; mappings come straight from the mapping table. Scores follow
  * the `old` mode: PREF 10, SYN 8, ancestor 7/distance, mapping 5. */
final class Reference(concepts: Seq[GenConcept], edges: Seq[(String, String)],
                      mappings: Seq[(String, String, String)], maxLevel: Int,
                      minTermSize: Int = 3) {

  private def norm(s: String) = s.trim.replaceAll("\\s+", " ").toUpperCase(Locale.ROOT)

  /** term -> distinct (class, isPref) */
  private val terms: Map[String, Vector[(String, Boolean)]] =
    concepts.flatMap(c => ((c.pref, true) +: c.syns.map((_, false)))
        .map { case (l, p) => (norm(l), (c.iri, p)) })
      .filter(_._1.length >= minTermSize)
      .groupMap(_._1)(_._2).view.mapValues(_.distinct.toVector).toMap

  def termCount: Int = terms.size

  private val maxWords = terms.keys.map(_.split(' ').length).maxOption.getOrElse(1)
  private val parents = edges.groupMap(_._1)(_._2)
  private val mapped = mappings.groupMap(_._1)(_._2)

  private def isWord(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
    (c >= '0' && c <= '9') || c == '_'

  /** (start, endExclusive) of every maximal word-char run. */
  private def runs(t: String): Vector[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < t.length) {
      if (isWord(t.charAt(i))) {
        val s = i
        while (i < t.length && isWord(t.charAt(i))) i += 1
        out += ((s, i))
      } else i += 1
    }
    out.result()
  }

  def triples(d: GenDoc): Seq[Check.Row6] = {
    val url = Reference.url(d.id)
    val rs = runs(d.text)
    val score = mutable.HashMap.empty[String, Double]
    val best = mutable.HashMap.empty[String, String]
    for (i <- rs.indices; n <- 1 to maxWords if i + n - 1 < rs.size) {
      val cand = d.text.substring(rs(i)._1, rs(i + n - 1)._2).toUpperCase(Locale.ROOT)
      terms.get(cand).foreach(_.foreach { case (cls, pref) =>
        score(cls) = score.getOrElse(cls, 0.0) + (if (pref) 10.0 else 8.0)
        val mt = if (pref) "PREF" else "SYN"
        best(cls) = best.get(cls).fold(mt)(o => if (mt < o) mt else o)
      })
    }
    val direct = score.keys.toSeq
    val anc = mutable.HashMap.empty[String, Int]
    for (c <- direct) {
      var frontier = Seq(c)
      val seen = mutable.HashSet(c)
      var dist = 1
      while (dist <= maxLevel && frontier.nonEmpty) {
        frontier = frontier.flatMap(x => parents.getOrElse(x, Nil)).distinct.filterNot(seen)
        frontier.foreach { a =>
          seen += a
          anc(a) = math.min(anc.getOrElse(a, Int.MaxValue), dist)
        }
        dist += 1
      }
    }
    val maps = direct.flatMap(c => mapped.getOrElse(c, Nil)).distinct
    direct.map(c => (url, "hasAnnotation", c, best(c), 0, f"${score(c)}%.6f")) ++
      anc.toSeq.map { case (a, dd) =>
        (url, "hasExpandedAnnotation", a, "HIER", dd, f"${7.0 / math.max(dd, 1)}%.6f")
      } ++
      maps.map(m => (url, "hasMappedAnnotation", m, "MAP", 1, f"${5.0}%.6f"))
  }
}

object Reference {
  /** The url `Corpus.fromDriverTable` gives a document. */
  def url(docId: Long): String = s"doc://$docId"
}
