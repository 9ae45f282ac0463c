package graft.annotate

import scala.collection.mutable

/** Annotator+ lemmatized matching (Tchechmedjiev et al. 2018: the LIRMM fork
  * optionally lemmatizes BOTH the dictionary terms and the request text
  * before mgrep matching, so "biopsies of tumours" hits "biopsy of tumour").
  * The reference shells out to an external lemmatizer binary; this engine
  * uses a deterministic, self-contained suffix stripper — a stand-in with
  * the same pipeline shape (normalize both sides with the SAME function,
  * match in lemma space, report ORIGINAL-text offsets). Swapping in a real
  * lemma table is a broadcast-map change, not an architecture change. The
  * scan is `NativeAnnotate.annotateMatches(lemmatize = true)` with a
  * [[graft.dict.DictBuild.buildLemmatized]] model.
  *
  * Offset mapping: the lemmatized text preserves every non-word separator
  * byte verbatim and replaces each word run by its lemma, so lemma-space
  * word boundaries correspond 1:1 to original word boundaries. mgrep's
  * word-boundary contract guarantees every hit starts at a token start and
  * ends at a token end, so hits map exactly onto original token spans.
  */
object Lemma {

  /** Deterministic token lemmatizer (uppercase in, uppercase out — applied
    * AFTER D3 normalization). Conservative English inflection stripping:
    * plural -IES/-ES/-S, past -ED, progressive -ING, with length guards so
    * short/irregular tokens pass through unchanged. Pure function — the
    * same code runs at dictionary build and at scan time (the invariant the
    * reference gets from calling one lemmatizer binary on both sides). */
  def lemmaToken(t: String): String = {
    val n = t.length
    if (n <= 3) return t
    if (t.endsWith("IES") && n > 4) return t.substring(0, n - 3) + "Y"
    if (t.endsWith("SSES")) return t.substring(0, n - 2)
    if (t.endsWith("XES") || t.endsWith("CHES") || t.endsWith("SHES"))
      return t.substring(0, n - 2)
    if (t.endsWith("ING") && n > 5) {
      val stem = t.substring(0, n - 3)
      // doubled final consonant (RUNNING → RUN)
      return if (stem.length > 2 && stem(stem.length - 1) == stem(stem.length - 2) &&
        !isVowel(stem(stem.length - 1))) stem.substring(0, stem.length - 1)
      else stem
    }
    if (t.endsWith("ED") && n > 4) {
      val stem = t.substring(0, n - 2)
      return if (stem.length > 2 && stem(stem.length - 1) == stem(stem.length - 2) &&
        !isVowel(stem(stem.length - 1))) stem.substring(0, stem.length - 1)
      else stem
    }
    if (t.endsWith("S") && !t.endsWith("SS") && !t.endsWith("US") && !t.endsWith("IS"))
      return t.substring(0, n - 1)
    t
  }

  @inline private def isVowel(c: Char): Boolean =
    c == 'A' || c == 'E' || c == 'I' || c == 'O' || c == 'U'

  /** Lemmatize a whole normalized term: per word-run, separators verbatim. */
  def lemmaTerm(term: String): String = {
    val sb = new java.lang.StringBuilder(term.length)
    var i = 0
    val n = term.length
    while (i < n) {
      if (graft.dict.Automaton.isWordChar(term.charAt(i))) {
        var j = i + 1
        while (j < n && graft.dict.Automaton.isWordChar(term.charAt(j))) j += 1
        sb.append(lemmaToken(term.substring(i, j)))
        i = j
      } else {
        sb.append(term.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** Lemma-space text + token maps for one document. `lemmaText` is the
    * uppercased, token-lemmatized text; `tokStartL/tokEndL` are 0-based
    * lemma-space token bounds (end exclusive) and `tokStartO/tokEndO` the
    * original-text bounds of the same token. */
  final case class LemmaDoc(lemmaText: String,
                            tokStartL: Array[Int], tokEndL: Array[Int],
                            tokStartO: Array[Int], tokEndO: Array[Int]) {
    def numTokens: Int = tokStartL.length

    /** Token index whose lemma-space span contains position `p` (which the
      * word-boundary contract guarantees is a token start/end): the last
      * token with `tokStartL(t) <= p`. */
    def tokenAtL(p: Int): Int = {
      var lo = 0
      var hi = tokStartL.length - 1
      var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (tokStartL(mid) <= p) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      ans
    }
  }

  /** Build the lemma-space view of an (original, not yet uppercased) text.
    * Uppercasing happens here (same per-char rule as the automaton), so the
    * scan runs case-sensitively over an already-normalized string. */
  def lemmatizeDoc(text: String): LemmaDoc = {
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    val sL = new mutable.ArrayBuffer[Int]()
    val eL = new mutable.ArrayBuffer[Int]()
    val sO = new mutable.ArrayBuffer[Int]()
    val eO = new mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (graft.dict.Automaton.isWordChar(c)) {
        var j = i + 1
        while (j < n && graft.dict.Automaton.isWordChar(text.charAt(j))) j += 1
        val up = new java.lang.StringBuilder(j - i)
        var k = i
        while (k < j) { up.append(graft.dict.Automaton.normChar(text.charAt(k))); k += 1 }
        val lemma = lemmaToken(up.toString)
        sL += sb.length; sO += i
        sb.append(lemma)
        eL += sb.length; eO += j
        i = j
      } else {
        sb.append(graft.dict.Automaton.normChar(c))
        i += 1
      }
    }
    LemmaDoc(sb.toString, sL.toArray, eL.toArray, sO.toArray, eO.toArray)
  }

  /** Map a lemma-space hit `[fromL, toL]` (1-based inclusive, the automaton
    * convention) back to original-text 1-based inclusive offsets. Hits start
    * at token starts and end at token ends (word-boundary contract +
    * word-char-delimited terms, enforced at lemma-dict build), so the
    * mapping is exact span composition. */
  def mapHit(d: LemmaDoc, fromL: Int, toL: Int): (Int, Int) = {
    val tFrom = d.tokenAtL(fromL - 1)
    val tTo = d.tokenAtL(toL - 1)
    (d.tokStartO(tFrom) + 1, d.tokEndO(tTo)) // end exclusive → 1-based inclusive
  }
}
