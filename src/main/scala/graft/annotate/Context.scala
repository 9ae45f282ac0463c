package graft.annotate

/** Annotator+ clinical-context detection (Tchechmedjiev et al. 2018: the
  * LIRMM fork wraps each annotation with NegEx/ConText-style attributes —
  * negation, experiencer, temporality). The reference delegates to the
  * ConText library over the request text; this engine runs the same
  * trigger-window algorithm per hit inside the match Generator
  * (`NativeAnnotate.annotateMatches(context = true)`) while the document
  * text is in hand — no extra join, no shuffle.
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
