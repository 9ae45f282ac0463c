package graft.annotate

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.MatchType
import graft.dict.AnnotatorModel

/** Annotator+ clinical-context detection (Tchechmedjiev et al. 2018: the
  * LIRMM fork wraps each annotation with NegEx/ConText-style attributes —
  * negation, experiencer, temporality). The reference delegates to the
  * ConText library over the request text; this engine runs the same
  * trigger-window algorithm inside the scan pass while the document text is
  * in hand — no extra join, no shuffle.
  *
  * Algorithm (ConText-lite, deterministic): look at up to [[Context.Window]]
  * tokens immediately BEFORE the match (and one token after for post-hoc
  * negation). Pre-negation triggers mark `negated`; "family history"-type
  * triggers mark `experiencer=OTHER`; "history of" marks
  * `temporality=HISTORICAL`. Trigger scope is cut by conjunction breakers
  * ("but", "however"). All trigger sets are ASCII, matched on uppercased
  * tokens — same normalization contract as the automaton.
  */
object Context {

  val Window = 5

  private val preNegation = Set("NO", "NOT", "WITHOUT", "DENIES", "DENIED",
    "NEVER", "ABSENT", "NEGATIVE")
  // two-token pre-negation phrases, checked as (prev2, prev1)
  private val preNegationPairs = Set(("ABSENCE", "OF"), ("NEGATIVE", "FOR"),
    ("RULED", "OUT"), ("FREE", "OF"))
  private val postNegation = Set("UNLIKELY")
  private val experiencerPairs = Set(("FAMILY", "HISTORY"), ("MOTHER", "HAD"),
    ("FATHER", "HAD"))
  private val temporalityPairs = Set(("HISTORY", "OF"), ("PAST", "HISTORY"))
  private val breakers = Set("BUT", "HOWEVER", "EXCEPT", "ALTHOUGH")

  final case class Attrs(negated: Boolean, experiencer: String, temporality: String)
  val Affirmed = Attrs(negated = false, experiencer = "PATIENT", temporality = "RECENT")

  /** Classify the context of a match spanning `[from, to]` (1-based
    * inclusive) in `text`. Pure scalar — unit-tested against golden cases;
    * runs per match inside the scan partition. */
  def classify(text: String, from: Int, to: Int): Attrs = {
    // collect up to Window uppercased word tokens before the match, nearest
    // first, stopping at sentence punctuation
    val toks = new Array[String](Window)
    var nToks = 0
    var i = from - 2 // 0-based index of the char before the match
    while (i >= 0 && nToks < Window) {
      val c = text.charAt(i)
      if (c == '.' || c == ';' || c == '!' || c == '?') i = -1 // sentence edge
      else if (graft.dict.Automaton.isWordChar(c)) {
        var j = i
        while (j > 0 && graft.dict.Automaton.isWordChar(text.charAt(j - 1))) j -= 1
        val sb = new java.lang.StringBuilder(i - j + 1)
        var k = j
        while (k <= i) { sb.append(graft.dict.Automaton.normChar(text.charAt(k))); k += 1 }
        toks(nToks) = sb.toString
        nToks += 1
        i = j - 1
      } else i -= 1
    }
    var negated = false
    var experiencer = "PATIENT"
    var temporality = "RECENT"
    var t = 0
    var blocked = false
    while (t < nToks && !blocked) {
      val tok = toks(t)
      if (breakers.contains(tok)) blocked = true // scope cut between trigger and match
      else {
        if (preNegation.contains(tok)) negated = true
        if (t + 1 < nToks) {
          val pair = (toks(t + 1), tok) // toks is nearest-first → (earlier, later)
          if (preNegationPairs.contains(pair)) negated = true
          if (experiencerPairs.contains(pair)) experiencer = "OTHER"
          if (temporalityPairs.contains(pair)) temporality = "HISTORICAL"
        }
      }
      t += 1
    }
    // one token after the match (post-hoc negation: "fracture unlikely")
    if (!negated) {
      var p = to // 0-based index just after the match
      val n = text.length
      while (p < n && !graft.dict.Automaton.isWordChar(text.charAt(p)) &&
        text.charAt(p) != '.' && text.charAt(p) != ';' &&
        text.charAt(p) != '!' && text.charAt(p) != '?') p += 1
      if (p < n && graft.dict.Automaton.isWordChar(text.charAt(p))) {
        var q = p
        val sb = new java.lang.StringBuilder()
        while (q < n && graft.dict.Automaton.isWordChar(text.charAt(q))) {
          sb.append(graft.dict.Automaton.normChar(text.charAt(q))); q += 1
        }
        if (postNegation.contains(sb.toString)) negated = true
      }
    }
    if (!negated && experiencer == "PATIENT" && temporality == "RECENT") Affirmed
    else Attrs(negated, experiencer, temporality)
  }
}

/** Match + context attributes, the Annotator+ annotation shape. */
case class ContextMatch(url: String, from: Int, to: Int, text: String,
                        classIri: String, ont: String, matchType: String,
                        negated: Boolean, experiencer: String, temporality: String)

object ContextScan {

  /** Direct annotation with clinical-context attributes — the dictionary
    * scan plus per-hit [[Context.classify]] while the document text is in
    * hand (zero extra shuffles). */
  def annotateWithContext(extracted: DataFrame,
                          model: Broadcast[AnnotatorModel],
                          longestOnly: Boolean = false,
                          wholeWord: Boolean = true): Dataset[ContextMatch] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted.select(col("url"), col("text")).as[(String, String)]
      .mapPartitions { it =>
        val m = model.value
        val automaton = m.automaton
        val payload = m.payload
        val buf = new graft.dict.HitBuffer()
        it.filter(_._2 != null).flatMap { case (url, text) =>
          automaton.scanInto(text, buf, longestOnly, wholeWord)
          val out = new scala.collection.mutable.ArrayBuffer[ContextMatch](buf.size)
          var i = 0
          while (i < buf.size) {
            val from = buf.from(i)
            val to = buf.to(i)
            val attrs = Context.classify(text, from, to)
            val matched = text.substring(from - 1, to)
            payload(buf.termId(i)).foreach { p =>
              out += ContextMatch(url, from, to, matched, p.classIri, p.ont,
                if (p.pref) MatchType.Pref else MatchType.Syn,
                attrs.negated, attrs.experiencer, attrs.temporality)
            }
            i += 1
          }
          out
        }
      }
  }
}
